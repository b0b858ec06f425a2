"""MV apply: last-writer-wins reconstruction
(KeyspacesViewTargetMapper.java:81-154) — upsert binds newImage,
delete binds the key from oldImage, latest sequence wins per key."""

from __future__ import annotations

import re

from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from sample_keyspaces_cdc_streams_connectors_spark.operators import mv
from sample_keyspaces_cdc_streams_connectors_spark.operators.mv import mv_apply

IMG = StructType(
    [
        StructField("k", IntegerType(), True),
        StructField("v", StringType(), True),
    ]
)
SCHEMA = StructType(
    [
        StructField(
            "metadata",
            StructType(
                [
                    StructField("stream_operation_type", StringType(), True),
                    StructField("stream_sequence_number", StringType(), True),
                ]
            ),
            False,
        ),
        StructField("newImage", IMG, True),
        StructField("oldImage", IMG, True),
    ]
)


def _env(spark, events, schema=SCHEMA):
    """events: (seq, op, new(k,v)|None, old(k,v)|None)"""
    rows = [
        ((op, f"{seq:06d}"), new, old) for seq, op, new, old in events
    ]
    return spark.createDataFrame(rows, schema)


def _state(spark, events):
    out = mv_apply(_env(spark, events), pk=["k"], fields=["v"])
    return {r.k: r.v for r in out.collect()}


def test_insert_then_update(spark):
    assert _state(
        spark,
        [
            (1, "INSERT", (1, "a"), None),
            (2, "UPDATE", (1, "b"), (1, "a")),
        ],
    ) == {1: "b"}


def test_delete_wins_when_last(spark):
    assert (
        _state(
            spark,
            [
                (1, "INSERT", (1, "a"), None),
                (2, "DELETE", None, (1, "a")),
            ],
        )
        == {}
    )


def test_reinsert_after_delete(spark):
    assert _state(
        spark,
        [
            (1, "INSERT", (1, "a"), None),
            (2, "DELETE", None, (1, "a")),
            (3, "REPLICATED_INSERT", (1, "c"), None),
        ],
    ) == {1: "c"}


def test_sequence_order_not_arrival_order(spark):
    # events listed out of order; seq decides
    assert _state(
        spark,
        [
            (5, "UPDATE", (1, "late"), (1, "x")),
            (2, "INSERT", (1, "early"), None),
        ],
    ) == {1: "late"}


def test_unknown_ops_ignored(spark):
    assert _state(
        spark,
        [
            (1, "INSERT", (1, "a"), None),
            (2, "UNKNOWN", None, None),
        ],
    ) == {1: "a"}


def test_ttl_is_delete_class(spark):
    assert (
        _state(
            spark,
            [
                (1, "INSERT", (1, "a"), None),
                (2, "TTL", None, (1, "a")),
            ],
        )
        == {}
    )


def test_unbindable_key_dropped(spark):
    # a delete with no oldImage cannot bind its key -> dropped, and the
    # prior insert survives
    assert _state(
        spark,
        [
            (1, "INSERT", (1, "a"), None),
            (2, "DELETE", None, None),
        ],
    ) == {1: "a"}


def test_hot_key_shrinks_map_side(spark):
    """A pk that dominates the log (skew) must not funnel every event
    into one task: the combinable max_by reduces each map task's
    slice of the hot key to ONE candidate before the exchange
    (partial_max_by in the plan), so shuffle volume is bounded by
    distinct keys x tasks, not by events."""
    hot = [
        (i, "INSERT" if i == 0 else "UPDATE", (1, f"v{i}"), (1, "x"))
        for i in range(5000)
    ]
    cold = [(10_000 + k, "INSERT", (100 + k, "c"), None) for k in range(10)]
    env = _env(spark, hot + cold).repartition(8)
    out = mv_apply(env, pk=["k"], fields=["v"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan
    assert "Window" not in plan
    state = {r.k: r.v for r in out.collect()}
    assert state[1] == "v4999"
    assert all(state[100 + k] == "c" for k in range(10))


def test_independent_keys(spark):
    assert _state(
        spark,
        [
            (1, "INSERT", (1, "a"), None),
            (2, "INSERT", (2, "b"), None),
            (3, "DELETE", None, (1, "a")),
        ],
    ) == {2: "b"}


def test_narrow_image_matches_pass_through(spark, monkeypatch):
    """A 2-of-8-field request carries only those fields through the
    max_by exchange (the narrowed ``__img`` struct) and yields the same
    rows as the whole-image pass-through."""
    img8 = StructType(
        [StructField("k", IntegerType(), True)]
        + [StructField(f"f{i}", StringType(), True) for i in range(1, 8)]
    )
    schema = StructType(
        [
            SCHEMA["metadata"],
            StructField("newImage", img8, True),
            StructField("oldImage", img8, True),
        ]
    )

    def img(k, tag):
        return (k, *[f"{tag}{i}" for i in range(1, 8)])

    env = _env(
        spark,
        [
            (1, "INSERT", img(1, "a"), None),
            (2, "UPDATE", img(1, "b"), img(1, "a")),
            (3, "INSERT", img(2, "c"), None),
            (4, "DELETE", None, img(2, "c")),
            (5, "INSERT", img(3, "d"), None),
        ],
        schema,
    )

    def run():
        out = mv_apply(env, pk=["k"], fields=["f2", "f5"])
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        return plan, sorted(tuple(r) for r in out.collect())

    narrow_plan, narrow_rows = run()
    monkeypatch.setattr(mv, "_NARROW_MIN_DROP", 1.01)
    whole_plan, whole_rows = run()
    narrowed_img = re.compile(
        r"struct\(f2, newImage#\d+\.f2, f5, newImage#\d+\.f5\) AS __img#"
    )
    assert narrowed_img.search(narrow_plan)
    assert not narrowed_img.search(whole_plan)
    assert narrow_rows == whole_rows == [(1, "b2", "b5"), (3, "d2", "d5")]
