"""Physical-plan regression tests — the SCALE.md audit, pinned.

These assert the plan SHAPE (broadcast vs shuffle, pushdown, top-k
heaps, exchange counts), not timings: a regression that silently
turns a broadcast join into a sort-merge join or drops a pushed
filter would pass correctness and still be a 100 TB disaster.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    import __spark_entry__ as e

    qs = e.queries()

    def get(name: str) -> str:
        df = qs[name](spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    return get


def test_dim_joins_broadcast(plans):
    # the chain arm of the join_basic union: both dims broadcast,
    # never a sort-merge join anywhere in the union
    plan = plans("join_basic")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_scan_pushdown_and_pruning(plans):
    plan = plans("scan_cast_project")
    assert "PushedFilters: [" in plan
    assert "IsNotNull" in plan or "GreaterThanOrEqual" in plan
    # column pruning: the 16-column lineitem scan reads only 5
    scan = [l for l in plan.splitlines() if "FileScan parquet [" in l][0]
    cols = scan.split("FileScan parquet [", 1)[1].split("]", 1)[0]
    assert len(cols.split(",")) == 5


def test_topk_uses_partial_heaps(plans):
    for q in ("revenue_topk", "vector_topk"):
        assert "TakeOrderedAndProject" in plans(q), q


def test_mv_apply_single_exchange(plans):
    plan = plans("mv_apply")
    assert plan.count("Exchange") == 1
    # last-writer-wins must be a COMBINABLE aggregate (map-side
    # partial_max_by before the exchange), not a row_number window:
    # a window funnels every event of a hot key into one sorting
    # task, the partial aggregate shrinks it to one row per task.
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_window_rank_single_exchange(plans):
    assert plans("window_rank").count("Exchange") <= 2


def test_simhash_is_narrow_zero_shuffle(plans):
    """SimHash (folded into text_analysis in r5) must stay a per-row
    projection: the whole text-analysis stack including the SimHash
    fingerprint is ZERO exchanges, no hash-aggregate, no explode —
    the round-2 explode+groupBy simhash form would reintroduce
    both."""
    plan = plans("text_analysis")
    # the ONLY exchange is the declared fixture repartition
    # (RoundRobin) — never a hash-aggregate shuffle
    assert plan.count("Exchange") == 1
    assert "roundrobin" in plan.lower()
    assert "HashAggregate" not in plan
    assert "Generate" not in plan  # no explode
    assert "Python" not in plan  # pure JVM column program


def test_cdc_shape_no_python_no_shuffle(plans):
    plan = plans("project_enrich")
    assert "Exchange" not in plan  # pure map-side pipeline
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_no_cartesian_anywhere(plans):
    for q in (
        "join_basic",
        "subquery_ops",
        "asof_join_purchase",
        "range_join_shipments",
        "dedup_embedding",
        "dedup_ngram",
        "dedup_minhash",
    ):
        plan = plans(q)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_ngram_posting_list_shape(plans):
    """Round-5 posting-list candidate generation, pinned:

    - the index aggregates into per-shingle posting lists
      (collect_list) keyed by the 60-bit hash — a LongType attribute
      (#nL in the plan), never the shingle string — and pairs explode
      from within-list combinations, NOT an index self-join (the old
      shape shuffled every index row twice through a SortMergeJoin);
    - the hot-shingle verify joins stay broadcast (tiny by
      construction), so the only non-broadcast shuffles are the
      posting aggregate and the pair-count groupBy."""
    plan = plans("dedup_ngram")
    assert "collect_list" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # hot-array verify joins
    import re

    m = re.search(r"hashpartitioning\(shingle#(\d+)(L?)", plan)
    assert m is not None, "expected a shuffle keyed by the shingle column"
    assert m.group(2) == "L", "shingle shuffle key must be int64, not string"


def test_lm_fluency_scoring_map_only(plans):
    """The lm_fluency gate's SCORING plan (training runs eagerly
    before it) is one Arrow pass with the bounded gram tables
    broadcast by closure — the CCNet-filter shape that holds at any
    corpus size.  r14: the single exchange is the fixture's
    RoundRobin spread (the one-row-group fixture scans as ONE task,
    serializing the Arrow scorer — a real table arrives already
    partitioned, same idiom as text_analysis); the scoring itself
    stays map-only."""
    plan = plans("lm_fluency")
    assert plan.count("Exchange") == plan.count(
        "Exchange RoundRobinPartitioning"
    ) == 1
    assert "ArrowEvalPython" in plan


def test_semdedup_gate_single_exchange(plans):
    """The dedup_semantic gate (late r5) keeps SemDeDup's scale shape:
    broadcast-codebook Arrow assignment (no join to meet centroids),
    ONE exchange into the per-cluster grouped pass."""
    plan = plans("dedup_semantic")
    assert plan.count("Exchange") == 1
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan  # codebook is a broadcast var, not a join


def test_partitioned_layout_prunes_scan(spark, sf_dir, tmp_path):
    """The time-partitioned sink layout actually buys partition
    pruning on read: a day-filter scan touches only that day's
    directories (PartitionFilters, not a full scan + filter)."""
    from pyspark.sql import functions as F

    from sample_keyspaces_cdc_streams_connectors_spark.operators.batching import time_partition_columns
    from sample_keyspaces_cdc_streams_connectors_spark.sources import load_table

    out = str(tmp_path / "parts")
    ev = load_table(spark, sf_dir, "events").limit(2000)
    time_partition_columns(ev, "ts").write.partitionBy("y", "m", "d").parquet(
        out
    )
    day = spark.read.parquet(out).select("y", "m", "d").first()
    scan = spark.read.parquet(out).filter(
        (F.col("y") == day.y) & (F.col("m") == day.m) & (F.col("d") == day.d)
    )
    import re

    plan = scan._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "day filter must prune partitions"
    # and the pruned read returns exactly that day's subset
    n_day = scan.count()
    n_all = spark.read.parquet(out).count()
    assert 0 < n_day < n_all


def test_aggregates_partial_then_final(plans):
    plan = plans("agg_sums")
    # q1 arm: partial (map-side) + final HashAggregate pair around one
    # exchange; salted arm adds its two-phase (key,salt)->key pair —
    # never more than 3 exchanges total for the union
    assert plan.count("HashAggregate") >= 4
    assert 1 <= plan.count("Exchange") <= 3


def test_subquery_ops_semi_join_no_duplication_and_broadcast(plans):
    """r14 shape: both EXISTS polarities fall out of ONE left join
    against the per-orderkey max(l_shipdate) aggregate — lineitem
    pre-aggregates map-side before its single shuffle and orders
    crosses once (the pre-r14 shape paid a LeftSemi AND a LeftAnti
    join: both tables scanned and shuffled twice)."""
    plan = plans("subquery_ops")
    assert "LeftOuter" in plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # part lookup never shuffles facts


def test_explode_wordcount_topk_heap(plans):
    plan = plans("explode_wordcount")
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT 50
    assert plan.count("Exchange") <= 2  # combine-side partial agg first


def test_global_sort_uses_range_partitioning(spark, sf_dir):
    """A total ORDER BY goes through one sampled range exchange (each
    task sorts its range; no single-node sort) — the shape a 100 TB
    ordered export depends on."""
    from pyspark.sql import functions as F

    from sample_keyspaces_cdc_streams_connectors_spark.sources import load_table

    df = load_table(spark, sf_dir, "orders").orderBy(F.desc("o_totalprice"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    assert plan.count("Exchange") == 1


def test_mixture_split_map_only(plans):
    """The data-mix gate (r7) is three md5-ticket filters unioned plus
    a CASE-ladder label — never a shuffle, never a Python boundary."""
    plan = plans("mixture_split")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scalar_funcs_url_arm_pure_filter(plans):
    """The r8 URL arm, r14 shape: a LITERAL blocklist compiles to a
    pure INSET filter predicate — zero joins, zero exchanges, zero
    broadcast builds (the r8 shape paid one broadcast anti-join per
    blocklist depth; a DataFrame blocklist still takes that path —
    pinned in tests/test_urls.py).  The URL normalization columns
    stay pure codegen — no Python; the ONE exchange is the declared
    RoundRobin spread of the single-row-group part fixture across
    cores before the regex battery (same idiom as text_analysis —
    a real table arrives already partitioned)."""
    plan = plans("scalar_funcs")
    assert "Join" not in plan
    assert plan.count("Exchange") == plan.count(
        "Exchange RoundRobinPartitioning"
    ) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_index_write_single_exchange(spark, sf_dir):
    """The r10 standing-index write layout (write_semantic_index /
    append_to_semantic_index): codebook assignment is a map-only
    Arrow pass and the cell-keyed `_cell_layout` shuffle is the ONE
    exchange in the pre-write plan — hashpartitioning on `cell`, so
    each write emits files_per_cell files per cell instead of
    shuffle_partitions x k (the r9 fragmentation failure mode)."""
    from pyspark.sql import functions as F

    from sample_keyspaces_cdc_streams_connectors_spark.llm import semdedup as sd
    from sample_keyspaces_cdc_streams_connectors_spark.llm.ivf_index import _cell_layout
    from sample_keyspaces_cdc_streams_connectors_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = sd.kmeans_fit(emb, k=8, n_iter=2)
    unit = [sd._unit(c) for c in cents]
    members = sd._assign_cells(emb, unit).select(
        "vec_id", F.col("__nv").alias("nv"), "cell"
    )
    plan = (
        _cell_layout(members, len(unit), 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(cell" in plan
    assert "MapInPandas" in plan  # assignment stays Arrow map-only
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_compact_dedup_scan_prunes_partitions(spark, sf_dir, tmp_path):
    """compact_dedup_index's rewrite scan shape: `bucket IN (...)`
    must land as a PartitionFilter (directory pruning — untouched
    buckets never read), with the replay-duplicate collapse as a
    partial+final HashAggregate pair and a final bucket-keyed layout
    exchange."""
    from pyspark.sql import functions as F

    from sample_keyspaces_cdc_streams_connectors_spark.llm.dedup_index import build_dedup_index
    from sample_keyspaces_cdc_streams_connectors_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "didx")
    build_dedup_index(docs, path)
    scan = spark.read.parquet(f"{path}/exact")
    some = [
        r["bucket"]
        for r in scan.select("bucket").distinct().limit(4).collect()
    ]
    df = (
        scan.filter(F.col("bucket").isin(some))
        .select("bucket", "fp")
        .distinct()
        .repartition(len(some), "bucket")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan.replace("\n", " ") or (
        "PartitionFilters" in plan and "bucket" in plan
    )
    assert plan.count("HashAggregate") == 2  # partial + final distinct
    assert "hashpartitioning(bucket" in plan


def test_media_duration_profile_fused_map_only(spark, sf_dir):
    # r13: the 7-container metadata pass (library operator; its gate
    # columns ride inside multimodal_geom under the 50-query registry
    # budget) is ONE MapInPandas — zero joins/aggregates; the only
    # exchange is the conditional id spread (RoundRobin, a no-op at
    # real scale) — the same fused shape multimodal_geom was audited
    # to (VERDICT r11 wrong #1)
    from sample_keyspaces_cdc_streams_connectors_spark.llm.multimodal import media_duration_profile
    from sample_keyspaces_cdc_streams_connectors_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = media_duration_profile(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan and "HashAggregate" not in plan
    assert plan.count("Exchange") <= 1


def test_spread_scan_gates_on_input_parallelism(spark, sf_dir, tmp_path, monkeypatch):
    """r15 (VERDICT r14 #5): the RoundRobin spreads that fan a
    single-row-group fixture across cores must SKIP the exchange when
    the scan is already parallel — at 100 TB an unconditional
    repartition would shuffle the whole corpus for zero added
    parallelism.  Single small file -> spread; a directory with
    >= nparts decent files -> pass-through (no Exchange)."""
    from pyspark.sql import functions as F

    from sample_keyspaces_cdc_streams_connectors_spark.sources import spread_scan, table_path, tables
    from sample_keyspaces_cdc_streams_connectors_spark.sources.tables import (
        _SCAN_SPLITS_CACHE,
        parquet_scan_splits,
    )

    # the bench fixtures are single-row-group files: estimate 1 split
    single = table_path(sf_dir, "documents")
    assert parquet_scan_splits(single) == 1
    docs = spark.read.parquet(single)
    spread = spread_scan(docs, 8, single)
    plan = spread._jdf.queryExecution().executedPlan().toString()
    assert "Exchange RoundRobinPartitioning" in plan

    # a multi-file input estimated >= nparts skips the exchange; the
    # estimate is metadata-only, so fake the split count rather than
    # write gigabytes
    multi = str(tmp_path / "multi")
    spark.range(100).withColumn("text", F.lit("x")).repartition(
        4
    ).write.parquet(multi)
    _SCAN_SPLITS_CACHE[multi] = 64
    big = spread_scan(spark.read.parquet(multi), 8, multi)
    plan2 = big._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2

    # unstatable path (object-store URI): presumed large -> no spread
    assert parquet_scan_splits("s3a://bucket/table") is None
    big2 = spread_scan(spark.read.parquet(multi), 8, "s3a://bucket/table")
    assert (
        "Exchange"
        not in big2._jdf.queryExecution().executedPlan().toString()
    )

    # directory estimate: real multi-file dir uses file-size packing
    est = parquet_scan_splits(multi)
    assert est is not None and est >= 1

    # the directory walk is capped: past the cap the input is presumed
    # large without statting the rest
    monkeypatch.setattr(tables, "_MAX_WALK_FILES", 3)
    capped = str(tmp_path / "capped")
    spark.range(100).repartition(4).write.parquet(capped)
    assert parquet_scan_splits(capped) is None
