"""Relational parity layer (SURVEY §2.2).

The reference implements no joins/aggregations/windows/sorts/set ops
(SURVEY §2 — its surface is source → row-transform → sink); an
analytics engine needs them, so they are declared here directly over
the TPC-H-ish fixtures and proven against the DuckDB oracle.

Scale notes (100 TB posture):
- dimension joins (`nation`, `region`, `customer` at fixture scale)
  are explicitly ``broadcast()`` — no shuffle of the fact table;
- fact-fact joins rely on AQE (enabled in ``session.tune``) for
  runtime strategy + skew splitting;
- double aggregation goes through DECIMAL so results are exact and
  order-independent (shuffle-order-proof), then is cast back to
  DOUBLE in the final projection — DECIMAL output types hash-diverge
  in the driver's normalizer (r1 lesson), DOUBLE re-representations
  of the identical decimal value do not;
- every ordered output carries a total-order tiebreaker.

Registry budget note (round 2, ≤50 driver-checked queries):
``type_cast`` merged into :func:`scan_cast_project`; ``agg_rollup``
folded into ``agg_cube`` (CUBE's grouping sets strictly contain
ROLLUP's); ``window_moving_sum`` folded into :func:`window_rank`;
``topk_orders`` covered by :func:`revenue_topk`; ``regional_revenue``
dropped (same shape family as revenue_topk); ``agg_distinct`` folded
into :func:`agg_percentiles`; ``agg_collect_list`` folded into
the left arm of :func:`join_basic`; ``date_funcs`` folded into :func:`json_roundtrip`;
``join_semi_anti`` + ``exists_subquery`` → ``exists_semi_anti``
(which round 7 merged with ``scalar_subquery_avg`` into
:func:`subquery_ops`, freeing a slot for the ``mixture_split`` gate).
Round 5 (registry 59 > the 50-row driver window — VERDICT r4 #1):
``scan_csv_roundtrip`` + ``scan_avro_roundtrip`` →
:func:`scan_format_roundtrip` (tagged union), ``rollup_time`` →
:func:`agg_cube` (tagged union), ``window_distribution`` →
:func:`window_rank` (second window spec), and ``agg_approx_distinct``
→ queries/llm.py:udaf_grouped_sum (same events/event_type grouping).
Late round 5 (one slot freed for the ``dedup_semantic`` gate):
``join_inner`` + ``join_left`` → :func:`join_basic` (tagged union;
each arm keeps its own independently-planned subtree).
Every retired query's output columns survive in the merged result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_keyspaces_cdc_streams_connectors_spark.queries import register
from sample_keyspaces_cdc_streams_connectors_spark.sources import load_table


def _dec(col: str, scale: int = 6) -> F.Column:
    return F.col(col).cast(f"decimal(28,{scale})")


def _dbl(col: F.Column, scale: int = 6) -> F.Column:
    """Decimal-exact rounding, DOUBLE representation (both engines
    convert the identical decimal to the identical nearest double)."""
    return col.cast(f"decimal(28,{scale})").cast("double")


# --- scans -----------------------------------------------------------------


@register(
    "scan_cast_project",
    oracle="""
    SELECT l_orderkey,
           CAST(l_linenumber AS BIGINT) AS lineno_big,
           CAST(l_shipdate AS DATE) AS ship_date,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
           (l_returnflag = 'R') AS is_return,
           CAST(l_orderkey AS VARCHAR) AS okey_str
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    """,
)
def scan_cast_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection+filter scan fused with the CQL->Spark type-mapping
    surface (StreamHelpers.java:76-178): int widening, date
    extraction, decimal(p,s) rounding (emitted as DOUBLE), boolean,
    string casts.  The shipdate predicate and the 5-column ReadSchema
    both reach the parquet reader (pinned in tests/test_plans.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")
    ).select(
        F.col("l_orderkey"),
        F.col("l_linenumber").cast("bigint").alias("lineno_big"),
        F.to_date("l_shipdate").alias("ship_date"),
        F.col("l_extendedprice").cast("decimal(18,2)").cast("double").alias("price"),
        (F.col("l_returnflag") == "R").alias("is_return"),
        F.col("l_orderkey").cast("string").alias("okey_str"),
    )


_FMT_ARM = """
    SELECT '{fmt}' AS fmt, event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
                AS DOUBLE) AS total_value,
           MIN(epoch_ms(ts)) AS first_ms,
           MAX(epoch_ms(ts)) AS last_ms
    FROM events
    GROUP BY event_type
"""


@register(
    "scan_format_roundtrip",
    # both arms aggregate the ORIGINAL parquet — any loss in either
    # file-format write/read cycle fails the hash check on that arm
    oracle=_FMT_ARM.format(fmt="csv")
    + " UNION ALL "
    + _FMT_ARM.format(fmt="avro"),
)
def scan_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed file-format round-trips, one tagged arm per format (r5
    registry consolidation — ``scan_csv_roundtrip`` +
    ``scan_avro_roundtrip`` merged; both arms keep their full
    aggregate coverage):

    Arm ``csv`` — events → CSV files → CQL-schema read-back →
    aggregate: proves the file source preserves bigint /
    timestamp(µs) / double / text exactly (reference analog: the CSV
    loader at example/data_loader.py:243-262, made declarative).

    Arm ``avro`` — events → reference value conversions (timestamp →
    epoch-millis long, the Avro mapping) → REAL ``.avro``
    object-container files written from executors → distributed
    binaryFile+decode scan → aggregate: exercises the engine's
    dependency-free Avro writer AND reader (streaming/avro_io.py,
    byte-validated against the Avro Java implementation).  Avro is
    the S3 connector's default object format
    (S3TargetMapper.java:70-76, AbstractAvroConverter.java)."""
    import hashlib
    import os
    import tempfile

    from sample_keyspaces_cdc_streams_connectors_spark.sources.files import load_csv, write_csv
    from sample_keyspaces_cdc_streams_connectors_spark.streaming.avro import to_avro_compatible
    from sample_keyspaces_cdc_streams_connectors_spark.streaming.avro_io import (
        read_avro_dir,
        write_avro_dir,
    )

    ev = load_table(spark, sf_dir, "events")
    # per-(sf, application) fixture paths: repeated gate runs in one
    # session reuse the directories (the measured operator is the
    # typed scan, not the fixture materialization); concurrent
    # sessions cannot collide
    tag = hashlib.md5(
        f"{sf_dir}:{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:12]

    csv_tmp = os.path.join(tempfile.gettempdir(), f"engine_csv_src_{tag}")
    if not os.path.exists(os.path.join(csv_tmp, "_SUCCESS")):
        write_csv(ev, csv_tmp)
    csv_back = load_csv(
        spark,
        csv_tmp,
        {
            "event_id": "bigint",
            "ts": "timestamp",
            "user_id": "bigint",
            "event_type": "text",
            "value": "double",
            "props": "text",
        },
    )
    csv_arm = csv_back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        _dbl(F.sum(_dec("value"))).alias("total_value"),
        F.unix_millis(F.min("ts")).alias("first_ms"),
        F.unix_millis(F.max("ts")).alias("last_ms"),
    )

    avro_tmp = os.path.join(tempfile.gettempdir(), f"engine_avro_src_{tag}")
    # the avro fixture spreads over one file per core (a single
    # parquet input file would otherwise yield ONE container = one
    # decode task; container files are the read-parallelism unit)
    if not os.path.isdir(avro_tmp) or not any(
        f.endswith(".avro") for f in os.listdir(avro_tmp)
    ):
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        write_avro_dir(to_avro_compatible(ev).repartition(nparts), avro_tmp)
    avro_back = read_avro_dir(spark, avro_tmp)
    avro_arm = avro_back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        _dbl(F.sum(_dec("value"))).alias("total_value"),
        F.min("ts").alias("first_ms"),
        F.max("ts").alias("last_ms"),
    )

    tagged_csv = csv_arm.select(F.lit("csv").alias("fmt"), "*")
    tagged_avro = avro_arm.select(F.lit("avro").alias("fmt"), "*")
    return tagged_csv.unionAll(tagged_avro)


# --- joins -----------------------------------------------------------------


@register(
    "join_basic",
    oracle="""
    SELECT 'chain' AS arm, o.o_orderkey AS id, c.c_name AS name,
           n.n_name AS detail,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
             AS amount,
           CAST(NULL AS BIGINT) AS n
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    UNION ALL
    SELECT 'left' AS arm, c.c_custkey AS id, c.c_mktsegment AS name,
           COALESCE(array_to_string(list_sort(
               list(o.o_orderstatus) FILTER (o.o_orderstatus IS NOT NULL)
             ), ','), '') AS detail,
           CAST(CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))), 0)
                     AS DECIMAL(28,6)) AS DOUBLE) AS amount,
           COUNT(o.o_orderkey) AS n
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def join_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join surface as a two-arm tagged union (r5 consolidation
    of ``join_inner`` + ``join_left``; both arms' plans and output
    columns are preserved inside the union — a union of two
    independently-planned subtrees, so neither arm's physical shape
    changes).

    ``chain`` arm — fact→dim chain join; both dims broadcast (no
    fact shuffle).

    ``left`` arm — left outer join preserving customers with no
    orders; decimal-exact sums (emitted as DOUBLE) plus a sorted
    collect_list serialized to a string (the only safe way to expose
    a shuffle-order-nondeterministic array aggregate to a hash gate).
    Plan: orders pre-aggregate per custkey BEFORE the join (map-side
    partial combine shrinks the fact side from |orders| to
    |active customers|), then customer left-joins the aggregate —
    AQE broadcasts it at small SFs; at 100 TB the join reuses the
    aggregate's hash partitioning so only customer shuffles.  The
    join-then-regroup shape costs a second full-width shuffle."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    chain = (
        o.filter(F.col("o_orderstatus") == "F")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.lit("chain").alias("arm"),
            F.col("o_orderkey").alias("id"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("detail"),
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("amount"),
            F.lit(None).cast("long").alias("n"),
        )
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("__n"),
        F.sum(_dec("o_totalprice")).alias("__spend"),
        F.array_join(
            F.array_sort(F.collect_list("o_orderstatus")), ","
        ).alias("__statuses"),
    )
    left = c.join(per_cust, per_cust.o_custkey == c.c_custkey, "left").select(
        F.lit("left").alias("arm"),
        F.col("c_custkey").alias("id"),
        F.col("c_mktsegment").alias("name"),
        F.coalesce(F.col("__statuses"), F.lit("")).alias("detail"),
        _dbl(F.coalesce(F.col("__spend"), F.lit(0))).alias("amount"),
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n"),
    )
    return chain.unionByName(left)


@register(
    "subquery_ops",
    oracle="""
    SELECT 'exists' AS arm, o_orderpriority AS key, 'late' AS cohort,
           COUNT(*) AS n, CAST(0 AS DOUBLE) AS amount
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'exists' AS arm, o_orderpriority AS key, 'clean' AS cohort,
           COUNT(*) AS n, CAST(0 AS DOUBLE) AS amount
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'scalar_avg' AS arm, p.p_brand AS key, '' AS cohort,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6)))
                AS DECIMAL(28,6)) AS DOUBLE) AS amount
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p.p_brand
    """,
)
def subquery_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged-union subquery gate (r7 merge of ``exists_semi_anti`` +
    ``scalar_subquery_avg`` — every retired column survives in the
    union):

    - ``exists`` arm — TPC-H Q4 shape, both polarities: correlated
      EXISTS / NOT EXISTS with a non-equi residual (l_shipdate >
      o_orderdate), decorrelated (r14) into ONE per-orderkey
      ``max(l_shipdate)`` aggregate left-joined to orders — the max
      decides both polarities at once;
    - ``scalar_avg`` arm — TPC-H Q17 shape: correlated scalar-AVG
      subquery decorrelated into a per-part aggregate joined back.

    Scale: lineitem pre-aggregates map-side to |orders| rows before
    its one shuffle and orders shuffles once (the pre-r14 shape paid
    a semi AND an anti join — both tables scanned and shuffled
    twice); the scalar arm shuffles lineitem on l_partkey once,
    co-partitioned for build and join-back, with `part` broadcast.  Float parity: l_quantity is integer-valued so
    AVG is exact in any summation order, and 0.5* is a power of two —
    the < cutoff is bit-identical on both engines."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")

    # r14: ONE pre-aggregated join replaces the semi+anti join pair.
    # EXISTS(l: l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    # ⇔ max(l_shipdate) over the order's lineitems > o_orderdate
    # (NULL max — no lineitems — is NOT EXISTS), so both cohorts fall
    # out of one left join against the per-orderkey max: lineitem
    # aggregates map-side to |orders| rows before its single shuffle
    # (guide §2.3 aggregate-before-shuffle), and orders crosses once
    # instead of twice (the old shape scanned and shuffled BOTH
    # tables per polarity — 2 joins, 4 scans).  Counts are identical:
    # the join is 1:1 (the aggregate is unique per l_orderkey), and
    # groupBy(priority, cohort) emits exactly the non-empty groups
    # each polarity's groupBy emitted.  Measured 1.21→1.09 s total
    # (exec 1.00→0.76) at sf0.1 — the remaining cost is the scalar
    # arm; plan 2 joins → 1 (plans/r14/subquery_ops_*.txt).
    li_max = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("__max_ship")
    )
    cohort = F.when(
        F.col("__max_ship") > F.col("o_orderdate"), F.lit("late")
    ).otherwise(F.lit("clean"))
    exists_arms = (
        o.join(li_max, o.o_orderkey == li_max.l_orderkey, "left")
        .groupBy("o_orderpriority", cohort.alias("cohort"))
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("exists").alias("arm"),
            F.col("o_orderpriority").alias("key"),
            "cohort",
            "n",
            F.lit(0.0).alias("amount"),
        )
    )

    li2 = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    qty_cap = li2.groupBy("l_partkey").agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("qty_cap")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    scalar = (
        li2.join(qty_cap, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            _dbl(F.sum(_dec("l_extendedprice"))).alias("amount"),
        )
        .select(
            F.lit("scalar_avg").alias("arm"),
            F.col("p_brand").alias("key"),
            F.lit("").alias("cohort"),
            "n",
            "amount",
        )
    )
    return exists_arms.unionAll(scalar)


# --- aggregations ----------------------------------------------------------


@register(
    "agg_sums",
    oracle="""
    SELECT 'q1' AS arm, l_returnflag AS k1, l_linestatus AS k2,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DECIMAL(28,6))
             AS DOUBLE) AS sum_qty,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6)))
             AS DECIMAL(28,6)) AS DOUBLE) AS sum_base_price,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))
                 * (1 - CAST(l_discount AS DECIMAL(28,6)))) AS DECIMAL(28,6))
             AS DOUBLE) AS sum_disc_price,
        COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    UNION ALL
    SELECT 'salted' AS arm, CAST(l_suppkey AS VARCHAR) AS k1, '' AS k2,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DECIMAL(28,6))
                AS DOUBLE) AS sum_qty,
           CAST(0 AS DOUBLE) AS sum_base_price,
           CAST(0 AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def agg_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged-union grouped-sum gate (r7 merge of ``agg_sum_by_key`` +
    ``agg_salted_sum`` — every retired column survives):

    - ``q1`` arm — TPC-H Q1-shaped grouped aggregation; Catalyst does
      partial (map-side) aggregation before the shuffle automatically;
    - ``salted`` arm — two-phase SALTED aggregation
      (operators/skew.py): per-supplier quantity totals where phase 1
      groups by (key, salt) to spread a hot key over 8 reducers and
      phase 2 merges partials.  The oracle arm is the PLAIN group-by —
      salting must never change results."""
    from sample_keyspaces_cdc_streams_connectors_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    q1 = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dbl(F.sum(_dec("l_quantity"))).alias("sum_qty"),
            _dbl(F.sum(_dec("l_extendedprice"))).alias("sum_base_price"),
            _dbl(
                F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            ).alias("sum_disc_price"),
            F.count("*").alias("n"),
        )
        .select(
            F.lit("q1").alias("arm"),
            F.col("l_returnflag").alias("k1"),
            F.col("l_linestatus").alias("k2"),
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            "n",
        )
    )
    salted = (
        salted_agg(
            li,
            keys=["l_suppkey"],
            aggs={
                "sum_qty": ("sum", _dec("l_quantity")),
                "n": ("count", F.lit(1)),
            },
            n_salts=8,
            salt_cols=["l_suppkey", "l_quantity"],
        )
        .select(
            F.lit("salted").alias("arm"),
            F.col("l_suppkey").cast("string").alias("k1"),
            F.lit("").alias("k2"),
            _dbl(F.col("sum_qty")).alias("sum_qty"),
            F.lit(0.0).alias("sum_base_price"),
            F.lit(0.0).alias("sum_disc_price"),
            "n",
        )
    )
    return q1.unionAll(salted)


@register(
    "agg_cube",
    oracle="""
    SELECT 'cube' AS grp,
           o_orderstatus AS k1, o_orderpriority AS k2,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g1,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g2,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                AS DECIMAL(28,6)) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT 'rollup' AS grp,
           CAST(y AS VARCHAR) AS k1, CAST(m AS VARCHAR) AS k2,
           CAST(GROUPING(y) AS INTEGER) AS g1,
           CAST(GROUPING(m) AS INTEGER) AS g2,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
                AS DOUBLE) AS total
    FROM (SELECT CAST(year(ts) AS INTEGER) AS y,
                 CAST(month(ts) AS INTEGER) AS m, value FROM events)
    GROUP BY ROLLUP (y, m)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets coverage as a tagged union (r5 registry
    consolidation — ``rollup_time`` folded in; both arms keep GROUPING
    flags so subtotal rows are distinguishable from genuine NULL keys):

    Arm ``cube`` — full cube over orders (status, priority).  CUBE's
    grouping sets strictly contain ROLLUP's (r1's separate agg_rollup
    folded in here).

    Arm ``rollup`` — the time-hierarchy rollup (the hypertable
    continuous-aggregate shape): per-month, per-year, and grand-total
    event stats in ONE pass via ROLLUP grouping sets.

    Scale: each arm = one shuffle producing all its grouping sets via
    Expand (map-side partial agg per set) — no extra passes over
    either fact table."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        "o_totalprice",
    )
    cube_arm = o.cube("status", "priority").agg(
        F.grouping("status").cast("int").alias("g1"),
        F.grouping("priority").cast("int").alias("g2"),
        F.count("*").alias("n"),
        _dbl(F.sum(_dec("o_totalprice"))).alias("total"),
    ).select(
        F.lit("cube").alias("grp"),
        F.col("status").alias("k1"),
        F.col("priority").alias("k2"),
        "g1", "g2", "n", "total",
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.year("ts").cast("int").alias("y"),
        F.month("ts").cast("int").alias("m"),
        "value",
    )
    rollup_arm = ev.rollup("y", "m").agg(
        F.grouping("y").cast("int").alias("g1"),
        F.grouping("m").cast("int").alias("g2"),
        F.count("*").alias("n"),
        _dbl(F.sum(_dec("value"))).alias("total"),
    ).select(
        F.lit("rollup").alias("grp"),
        F.col("y").cast("string").alias("k1"),
        F.col("m").cast("string").alias("k2"),
        "g1", "g2", "n", "total",
    )
    return cube_arm.unionAll(rollup_arm)


# --- window functions ------------------------------------------------------


@register(
    "window_rank",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
               AS totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(28,6)) AS DOUBLE) AS running_spend,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
               AS DECIMAL(28,6)) AS DOUBLE) AS trailing4,
             ntile(4) OVER wp AS quartile,
             percent_rank() OVER wp AS pct_rank,
             cume_dist() OVER wp AS cum_dist,
             lead(o_orderkey) OVER wp AS next_key
      FROM orders
      WINDOW wp AS (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice, o_orderkey))
    WHERE rn <= 3
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-function surface over two window specs (r5 registry
    consolidation — ``window_distribution`` folded in; its four
    functions survive as columns computed over the per-priority
    window BEFORE the rank filter, so their values cover full
    partitions):

    - ranking + running-frame + bounded-frame windows sharing
      PARTITION BY o_custkey → one exchange (r1's separate
      window_moving_sum folded in as the trailing4 column);
    - distribution functions (ntile / percent_rank / cume_dist) plus
      lead over PARTITION BY o_orderpriority → a second exchange.

    Float parity: percent_rank = (rank-1)/(n-1) and cume_dist = k/n
    are single integer divisions — bit-identical across engines; the
    ORDER BY carries o_orderkey as tiebreaker so every rank is
    deterministic."""
    o = load_table(spark, sf_dir, "orders")
    by_price = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    by_date = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = by_date.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    trailing = by_date.rowsBetween(-3, Window.currentRow)
    by_priority = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("totalprice"),
            F.row_number().over(by_price).alias("rn"),
            _dbl(F.sum(_dec("o_totalprice")).over(running)).alias("running_spend"),
            _dbl(F.sum(_dec("o_totalprice")).over(trailing)).alias("trailing4"),
            F.ntile(4).over(by_priority).alias("quartile"),
            F.percent_rank().over(by_priority).alias("pct_rank"),
            F.cume_dist().over(by_priority).alias("cum_dist"),
            F.lead("o_orderkey").over(by_priority).alias("next_key"),
        )
        .filter(F.col("rn") <= 3)
    )


# --- set operations --------------------------------------------------------


@register(
    "set_union_except",
    oracle="""
    WITH big_parts AS (SELECT p_partkey AS k FROM part WHERE p_size >= 25),
         cheap_parts AS (SELECT p_partkey AS k FROM part
                         WHERE p_retailprice < 1200)
    SELECT k, 'union' AS src FROM (SELECT k FROM big_parts
                                   UNION SELECT k FROM cheap_parts)
    UNION ALL
    SELECT k, 'except' AS src FROM (SELECT k FROM big_parts
                                    EXCEPT SELECT k FROM cheap_parts)
    UNION ALL
    SELECT k, 'intersect' AS src FROM (SELECT k FROM big_parts
                                       INTERSECT SELECT k FROM cheap_parts)
    """,
)
def set_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union/distinct, exceptAll→distinct, intersect over key sets."""
    p = load_table(spark, sf_dir, "part")
    big = p.filter(F.col("p_size") >= 25).select(F.col("p_partkey").alias("k"))
    cheap = p.filter(F.col("p_retailprice") < 1200).select(
        F.col("p_partkey").alias("k")
    )
    u = big.union(cheap).distinct().select("k", F.lit("union").alias("src"))
    e = big.exceptAll(cheap).distinct().select("k", F.lit("except").alias("src"))
    i = big.intersect(cheap).select("k", F.lit("intersect").alias("src"))
    return u.unionAll(e).unionAll(i)


# --- scalar functions ------------------------------------------------------


#: the scalar_funcs URL arm's synthetic messy-URL generator, written
#: once as SQL (valid in BOTH engines' dialects) so the two sides
#: cannot drift: per-part tracking params, default ports, casefolded
#: scheme/host, fragments, trailing slashes, a blocked ad host, and a
#: non-URL string
_URL_GEN_SQL = """CASE CAST(p_partkey % 5 AS INT)
      WHEN 0 THEN 'HTTPS://WWW.Shop.COM:443/Item/' || CAST(p_partkey AS STRING)
                  || '/?utm_source=x&id=' || CAST(p_partkey AS STRING)
                  || '&fbclid=f#frag'
      WHEN 1 THEN 'http://news.bbc.co.uk:80/story/'
                  || CAST(p_partkey AS STRING) || '/'
      WHEN 2 THEN 'https://ads.tracker.net/banner?id='
                  || CAST(p_partkey AS STRING)
      WHEN 3 THEN 'item description ' || CAST(p_partkey AS STRING)
      ELSE 'https://Sub.Shop.COM.AU/p/' || CAST(p_partkey AS STRING)
           || '?gclid=1&q=x'
    END"""

_URL_SUFFIXES_SQL = (
    "'co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au',"
    "'co.jp','ne.jp','or.jp','ac.jp','com.br','com.cn','com.mx',"
    "'com.tr','com.ar','co.in','co.kr','co.za','co.nz'"
)


@register(
    "scalar_funcs",
    oracle=f"""
    WITH urls AS (
      SELECT *, {_URL_GEN_SQL} AS u FROM part
    ), parsed AS (
      SELECT *,
        lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
          AS scheme,
        lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1))
          AS auth0,
        regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1)
          AS rest0,
        regexp_replace(lower(regexp_extract(u,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)),
          '^www\\.', '') AS hst
      FROM urls
    ), normed AS (
      SELECT *,
        CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
             WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
             ELSE auth0 END AS auth,
        CASE WHEN strpos(rest0, '?') > 0
             THEN substr(rest0, 1, strpos(rest0, '?') - 1)
             ELSE rest0 END AS pth,
        CASE WHEN strpos(rest0, '?') > 0
             THEN list_filter(
                    string_split(substr(rest0, strpos(rest0, '?') + 1), '&'),
                    p -> p <> '' AND NOT regexp_matches(p,
                      '^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|igshid)='))
             ELSE [] END AS params
      FROM parsed
    ), built AS (
      SELECT *,
        regexp_replace(
          pth || CASE WHEN len(params) = 0 THEN ''
                      ELSE '?' || array_to_string(params, '&') END,
          '^(/.+)/$', '\\1') AS final_rest,
        string_split(hst, '.') AS parts
      FROM normed
    )
    SELECT p_partkey,
           upper(p_brand) AS brand_up,
           substr(p_name, 1, 8) AS name_prefix,
           length(p_name) AS name_len,
           concat(p_brand, ':', p_type) AS brand_type,
           abs(p_size - 25) AS size_dist,
           CAST(floor(p_retailprice / 100) AS BIGINT) AS price_bucket,
           CAST(CAST(round(CAST(p_retailprice AS DECIMAL(18,4)) * 1.1, 2)
                AS DECIMAL(18,2)) AS DOUBLE) AS price_taxed,
           CASE WHEN p_size % 2 = 0 THEN 'even' ELSE 'odd' END AS parity,
           CASE WHEN scheme = '' THEN u
                ELSE scheme || '://' || auth || final_rest END AS url_norm,
           hst AS url_host,
           CASE WHEN hst = '' THEN ''
                WHEN regexp_matches(hst, '^\\d{{1,3}}(\\.\\d{{1,3}}){{3}}$')
                     OR len(parts) <= 2 THEN hst
                WHEN (parts[-2] || '.' || parts[-1])
                       IN ({_URL_SUFFIXES_SQL})
                     AND len(parts) >= 3
                THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
                ELSE parts[-2] || '.' || parts[-1] END AS url_domain
    FROM built
    WHERE NOT coalesce(len(parts) >= 2
               AND (parts[-2] || '.' || parts[-1]) = 'tracker.net', false)
    """,
)
def scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math scalar function parity (reference #4/#5/#7/#14
    analogs) — all JVM built-ins, zero Python in the data path.

    r8 folds in the URL-curation surface (functions/urls.py, promoted
    from pytest-only): a synthetic messy URL per part (tracking
    params, default ports, casefolded authority, fragments, trailing
    slashes, a blocked ad host, a non-URL string — the SAME SQL CASE
    generator evaluated by both engines) flows through the PRODUCTION
    ``normalize_url`` / ``url_host`` / ``registered_domain`` columns
    and the subdomain-aware ``filter_blocked_hosts`` drop
    (blocklist = tracker.net, so every ads.tracker.net row must
    vanish).  The oracle re-derives normalization by an INDEPENDENT
    construction (path/query split + param-list filter, not the
    engine's regex surgery) — agreement pins semantics, not the
    implementation."""
    from sample_keyspaces_cdc_streams_connectors_spark.functions.urls import (
        filter_blocked_hosts,
        normalize_url,
        registered_domain,
        url_host,
    )

    # r14: the single-row-group part fixture scans as ONE task, so the
    # URL regex battery (generate + normalize + host + domain) ran
    # serialized on one core; the RoundRobin spread (text_analysis
    # idiom — a real table arrives already partitioned) fans the
    # regex-heavy projection across cores.  The shuffle moves only
    # 20k narrow rows; measured 0.99→0.61 s at sf0.1 (guide §2.5
    # input skew).  r15: gated on the scan's estimated split count so
    # an already-parallel input skips the exchange (spread_scan).
    from sample_keyspaces_cdc_streams_connectors_spark.sources import spread_scan, table_path

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    p = spread_scan(
        load_table(spark, sf_dir, "part"),
        nparts,
        table_path(sf_dir, "part"),
    ).withColumn("u", F.expr(_URL_GEN_SQL))
    kept = filter_blocked_hosts(p, "u", ["tracker.net"])
    # r14: stage the host ONCE below the output projection —
    # registered_domain's CASE referenced url_host ~12×, and each
    # reference re-ran the host regexes per row (codegen CSE did not
    # cover it; measured 1.24→0.88 s at sf0.1).  CollapseProject keeps
    # the staging Project because a non-cheap alias is referenced
    # more than once (guide §1.2 per-task work).
    kept = kept.withColumn("__host", url_host(F.col("u")))
    return kept.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_up"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        F.floor(F.col("p_retailprice") / 100).cast("bigint").alias("price_bucket"),
        F.round(F.col("p_retailprice").cast("decimal(18,4)") * F.lit(1.1), 2)
        .cast("decimal(18,2)")
        .cast("double")
        .alias("price_taxed"),
        F.when(F.col("p_size") % 2 == 0, "even").otherwise("odd").alias("parity"),
        F.coalesce(normalize_url(F.col("u")), F.col("u")).alias("url_norm"),
        F.col("__host").alias("url_host"),
        registered_domain(host=F.col("__host")).alias("url_domain"),
    )


# --- JSON + date/time scalars ----------------------------------------------


@register(
    "json_roundtrip",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           json_object('id', event_id, 'type', event_type) AS packed,
           CAST(year(ts) AS INTEGER) AS yr,
           CAST(month(ts) AS INTEGER) AS mo,
           CAST(dayofmonth(ts) AS INTEGER) AS dom,
           CAST(date_trunc('month', ts) AS DATE) AS month_start,
           CAST(CAST(ts AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
           CAST(datediff('day', TIMESTAMP '1995-01-01', ts)
                AS INTEGER) AS days_since_95
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
    """,
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object extraction + to_json construction (reference
    JSON envelope build, AbstractJSONConverter.java:93-183), plus the
    date/time component surface (r1's date_funcs folded in): the S3
    sink's time-partition components (S3TargetMapper.java:84-136) as
    built-in functions over the event timestamp."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    d = F.col("ts")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k") > 50)
        .select(
            "event_id",
            "k",
            F.to_json(
                F.struct(
                    F.col("event_id").alias("id"),
                    F.col("event_type").alias("type"),
                )
            ).alias("packed"),
            F.year(d).cast("int").alias("yr"),
            F.month(d).cast("int").alias("mo"),
            F.dayofmonth(d).cast("int").alias("dom"),
            F.date_trunc("month", d).cast("date").alias("month_start"),
            F.date_add(d.cast("date"), 30).alias("due_date"),
            F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date"))
            .cast("int")
            .alias("days_since_95"),
        )
    )


# --- pivot ------------------------------------------------------------------

_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


@register(
    "pivot_op_counts",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day,
           {", ".join(
               f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}"
               for t in _EVENT_TYPES
           )}
    FROM events
    GROUP BY day
    """,
)
def pivot_op_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot coverage: per-day event counts spread into one column per
    event type (explicit value list keeps the plan single-pass —
    Spark's pivot with known values is one partial+final aggregate,
    no second job to discover categories)."""
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    return piv.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    )


# --- as-of / range joins ----------------------------------------------------


@register(
    "asof_join_purchase",
    oracle="""
    WITH r0 AS (
      SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id, ts
                                ORDER BY event_id DESC) AS rn
      FROM events WHERE event_type = 'purchase'
    ),
    rd AS (SELECT user_id, ts, value FROM r0 WHERE rn = 1),
    l AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click')
    SELECT l.event_id, l.user_id,
           rd.ts AS asof_ts,
           CAST(CAST(rd.value AS DECIMAL(18,6)) AS DOUBLE) AS asof_value
    FROM l ASOF LEFT JOIN rd
      ON l.user_id = rd.user_id AND l.ts >= rd.ts
    """,
)
def asof_join_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gets the user's latest at-or-before
    purchase (DuckDB native ASOF JOIN as the oracle).  Union +
    carry-forward window — one shuffle, no pair explosion (see
    operators/asof.py)."""
    from sample_keyspaces_cdc_streams_connectors_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    dedup = (
        purchases.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "ts", "value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        clicks, dedup, on=["user_id"], right_cols=["value"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_ts"),
        F.col("asof_value").cast("decimal(18,6)").cast("double").alias("asof_value"),
    )


@register(
    "range_join_shipments",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey, o_orderdate AS lo,
             o_orderdate + (o_orderkey % 30 + 1) * INTERVAL 1 DAY AS hi
      FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT iv.o_orderkey, COUNT(*) AS n_ship
    FROM iv JOIN lineitem l
      ON l.l_shipdate >= iv.lo AND l.l_shipdate <= iv.hi
    GROUP BY iv.o_orderkey
    """,
)
def range_join_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless point-in-interval range join: shipment events counted
    into sampled order activity windows.  Bucketed plan (equi-join on
    a 16-day bucket, exact BETWEEN filter after) — never the
    nested-loop join Spark would pick for a bare range predicate; see
    operators/range_join.py."""
    from sample_keyspaces_cdc_streams_connectors_spark.operators.range_join import range_join

    epoch = F.lit("1970-01-01").cast("timestamp")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 100 == 0
    )
    iv = o.select(
        "o_orderkey",
        F.datediff("o_orderdate", epoch).alias("lo"),
        (
            F.datediff("o_orderdate", epoch)
            + F.col("o_orderkey") % 30
            + 1
        ).alias("hi"),
    )
    pts = load_table(spark, sf_dir, "lineitem").select(
        F.datediff("l_shipdate", epoch).alias("ship_day")
    )
    joined = range_join(
        pts, iv, point_col="ship_day", lo_col="lo", hi_col="hi",
        bucket_width=16,
    )
    return joined.groupBy("o_orderkey").agg(F.count("*").alias("n_ship"))


# (agg_salted_sum merged into agg_sums above, r7)


# --- multi-join analytics (TPC-H Q3 shape) ----------------------------------


@register(
    "revenue_topk",
    oracle="""
    SELECT l.l_orderkey,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6))
                    * (1 - CAST(l.l_discount AS DECIMAL(28,6))))
                AS DECIMAL(28,6)) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, selective dim filters pushed to
    scans, grouped decimal-exact revenue (emitted as DOUBLE — at
    ≤13 significant digits the decimal→double map is injective, so
    the ordering is unchanged), global top-10 via partial heaps
    (TakeOrderedAndProject).  customer broadcasts; orders⋈lineitem is
    the only real shuffle."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_dbl(F.sum(rev)).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# --- subqueries ------------------------------------------------------------


# (scalar_subquery_avg merged into subquery_ops above, r7)


# --- ordered-statistics and array aggregates -------------------------------


@register(
    "agg_percentiles",
    oracle="""
    SELECT o_orderpriority,
           median(o_totalprice) AS med,
           quantile_cont(o_totalprice, 0.95) AS p95,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / continuous percentile per group (both engines
    use the same sorted-neighbors linear interpolation), plus
    COUNT(DISTINCT) over the same grouping (r1's agg_distinct folded
    in — Spark expands it to a two-phase aggregate).

    Scale: exact percentile sorts within each group — fine for
    bounded group counts; the sketch path for wide cardinalities is
    approx_percentile (same API shape, no global sort)."""
    o = load_table(spark, sf_dir, "orders")
    # one percentile aggregate with BOTH percentages: a single
    # sort/accumulation per group instead of two (median == p50)
    pcts = F.percentile(
        "o_totalprice", F.array(F.lit(0.5), F.lit(0.95))
    ).alias("__pcts")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            pcts,
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count("*").alias("n"),
        )
        .select(
            "o_orderpriority",
            F.element_at("__pcts", 1).alias("med"),
            F.element_at("__pcts", 2).alias("p95"),
            "n_custs",
            "n",
        )
    )


@register(
    "explode_wordcount",
    oracle="""
    SELECT term, COUNT(*) AS n
    FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
          FROM documents)
    WHERE term <> ''
    GROUP BY term
    ORDER BY n DESC, term
    LIMIT 50
    """,
)
def explode_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode: tokenize documents and count terms, top-50
    with a total-order tiebreaker.

    Scale: explode multiplies rows ~|tokens| but stays pipelined
    (no shuffle) until the partial-agg combine; the only shuffle
    carries already-combined (term, count) pairs, and the top-50 is a
    per-partition TakeOrdered, never a global sort."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(50)
    )


# ``agg_approx_distinct`` folded into queries/llm.py:udaf_grouped_sum
# and ``window_distribution`` into :func:`window_rank` (r5 registry
# consolidation — see the module docstring).
