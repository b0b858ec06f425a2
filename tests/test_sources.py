"""Typed file sources (CSV/JSON with CQL-derived schemas)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sample_keyspaces_cdc_streams_connectors_spark.sources import load_table
from sample_keyspaces_cdc_streams_connectors_spark.sources.files import (
    load_csv,
    load_json,
    write_csv,
    write_json,
)

EVENT_COLS = {
    "event_id": "bigint",
    "ts": "timestamp",
    "user_id": "bigint",
    "event_type": "text",
    "value": "double",
    "props": "text",
}


def _rows(df):
    return sorted(
        tuple(r) for r in df.select(*EVENT_COLS).collect()
    )


def test_csv_roundtrip_exact(spark, sf_dir, tmp_path):
    """bigint / µs-timestamp / double / quoted-json-text survive a
    CSV write→read cycle bit-exactly."""
    # every frame plans in the caller's session, so frames join freely
    assert load_table(spark, sf_dir, "events").sparkSession is spark
    ev = load_table(spark, sf_dir, "events").limit(200)
    path = str(tmp_path / "ev_csv")
    write_csv(ev, path)
    back = load_csv(spark, path, EVENT_COLS)
    assert back.schema == spark.createDataFrame([], back.schema).schema
    assert _rows(back) == _rows(ev)


def test_json_roundtrip_exact(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").limit(200)
    path = str(tmp_path / "ev_json")
    write_json(ev, path)
    back = load_json(spark, path, EVENT_COLS)
    assert _rows(back) == _rows(ev)


def test_csv_malformed_rows_dropped(spark, tmp_path):
    """DROPMALFORMED mirrors the filter layer's error-drops-record
    rule (JexlFilterService.java:76-79): a row whose cells can't
    decode disappears instead of failing the scan."""
    p = tmp_path / "bad.csv"
    p.write_text(
        "event_id,ts,user_id,event_type,value,props\n"
        "1,2024-01-01 00:00:00.000000,7,click,1.5,ok\n"
        "not_a_number,also_bad,x,oops,nan?,\n"
        "2,2024-01-02 00:00:00.000000,8,view,2.5,ok\n"
    )
    got = load_csv(spark, str(p), EVENT_COLS)
    assert [r.event_id for r in got.orderBy("event_id").collect()] == [1, 2]


def test_csv_projection_prunes_columns(spark, sf_dir, tmp_path):
    """A 2-column projection over the CSV scan reads a 2-column
    schema (column pruning reaches the file source)."""
    ev = load_table(spark, sf_dir, "events").limit(50)
    path = str(tmp_path / "ev_csv2")
    write_csv(ev, path)
    scan = load_csv(spark, path, EVENT_COLS).select("event_id", "value")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<event_id:bigint,value:double>" in plan
    assert scan.count() == 50


def test_unknown_cql_type_falls_back_to_text(spark, tmp_path):
    """Unknown scalar CQL types decode as text — the reference's
    unknown-type fallback (StreamHelpers.java:112-115)."""
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,xyz\n")
    got = load_csv(spark, str(p), {"a": "int", "b": "duration"})
    row = got.collect()[0]
    assert (row.a, row.b) == (1, "xyz")

