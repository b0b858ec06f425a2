"""BM25 lexical retrieval over a persisted inverted index.

The lexical complement to the dense ANN stack (``llm.similarity`` /
``llm.ivf_index`` / ``llm.pq``): Okapi BM25 (Robertson & Zaragoza,
FnTIR'09) top-k over term-hashed posting lists.  A curation pipeline
uses it for targeted data selection ("find the documents about X"),
eval-set leakage forensics beyond exact k-grams, and boosted
retrieval-quality corpora — the operations a paraphrase-level dense
index is too blunt for when the query is a handful of keywords.

Reference tie-in: the reference ships text to a remote vector store
and delegates all search to it (S3VectorTargetMapper.java:87-177); a
native engine owns both search modalities.

Index layout (``write_text_index``), built for 100 TB posture:

- ``postings/`` — one row per (term, doc): ``(term int64 md5-hash,
  tb partition bucket, doc id, tf, dl)``, written
  ``partitionBy(tb)`` with ``tb = term % n_buckets``.  A query's
  terms touch at most |query| buckets — directory-level partition
  pruning, the same discipline as the IVF cell layout.  Document
  LENGTH rides in the posting row, so scoring never joins a separate
  doc-stats table.
- ``terms/`` — ``(term, df)`` document frequencies (one row per
  distinct term — vocabulary-sized, broadcast at query time).
- ``_stats.json`` — corpus size N and average document length.

Query path (``bm25_topk``): the query string tokenizes DRIVER-side
(tiny), its term hashes become pushed-down partition+value filters on
the postings scan, per-(term, doc) scores are one narrow projection
over the surviving postings (idf and corpus stats fold in as
literals; df joins from the broadcast vocabulary slice), and the
per-doc sum feeds a ``TakeOrderedAndProject`` heap.  Nothing the
query does not mention is ever read.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_keyspaces_cdc_streams_connectors_spark.functions.text import normalize_text, tokens
from sample_keyspaces_cdc_streams_connectors_spark.llm.dedup import md5_int

__all__ = [
    "write_text_index",
    "append_to_text_index",
    "bm25_topk",
    "bm25_topk_many",
    "bm25_score_table",
    "rrf_fuse",
]

STATS_FILE = "_stats.json"
POSTINGS_DIR = "postings"
TERMS_DIR = "terms"


def _hash60(word: str) -> int:
    """Driver-side twin of :func:`md5_int` (pinned equivalent in
    tests; same construction as llm.ngram_lm's scorer)."""
    import hashlib

    return int(hashlib.md5(word.encode("utf-8")).hexdigest()[:15], 16)


def _py_words(text: str) -> list[str]:
    """Driver-side twin of ``tokens(normalize_text(...))``: lower +
    ASCII-\\s split (Java \\s, NOT python str.split()/unicode \\s —
    the llm.ngram_lm / llm.bpe discipline), empties dropped."""
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    return [w for w in ws.split(text.lower()) if w]


def _build_postings(
    docs: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> DataFrame:
    """The shared posting derivation: one exploded map-side-combined
    aggregate → ((term, doc) tf with the doc length attached) plus
    the term-hash partition bucket."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        tokens(normalize_text(F.col(text_col))).alias("__t"),
    ).select("doc", F.size("__t").alias("dl"), F.explode("__t").alias("__w"))
    return (
        toks.groupBy("doc", "dl", md5_int(F.col("__w")).alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "tb", F.pmod(F.col("term"), F.lit(int(n_buckets))).cast("int")
        )
    )


def _bucket_layout(
    postings: DataFrame, n_buckets: int, files_per_bucket: int
) -> DataFrame:
    """One shuffle keyed by the partition column before partitionBy —
    WITHOUT this, every writing task emits a file into every bucket it
    happens to hold (shuffle_partitions × n_buckets files per write;
    r9 stress measured 20 appends degrading the probe 0.7→4.7 s on
    listing/footer cost alone).  files_per_bucket=1 puts each bucket
    wholly in one task; >1 salts by doc for bounded file sizes at
    100 TB."""
    if files_per_bucket == 1:
        return postings.repartition(n_buckets, "tb")
    return (
        postings.withColumn(
            "__salt", F.pmod(F.xxhash64("doc"), F.lit(files_per_bucket))
        )
        .repartition(n_buckets * files_per_bucket, "tb", "__salt")
        .drop("__salt")
    )


def write_text_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    files_per_bucket: int = 1,
) -> None:
    """Persist the inverted index for ``docs``.

    One exploded map-side-combined aggregate produces the postings
    ((term, doc) tf counts with the doc length attached); document
    frequencies reduce the same frame by term; a final narrow shuffle
    keyed by the term bucket lays out ``files_per_bucket`` file(s)
    per bucket directory (r9 — see :func:`_bucket_layout`).  The text
    itself never moves past the tokenize projection.  ``n_buckets``
    persists into the stats file (r8) so every probe and
    :func:`append_to_text_index` derive the layout's bucket count
    from the index itself.
    """
    from sample_keyspaces_cdc_streams_connectors_spark.llm.ivf_index import _write_text

    base = path.rstrip("/")
    postings = _bucket_layout(
        _build_postings(docs, text_col, id_col, n_buckets),
        n_buckets,
        files_per_bucket,
    )
    postings.write.mode("overwrite").partitionBy("tb").parquet(
        f"{base}/{POSTINGS_DIR}"
    )
    # df + corpus stats from the WRITTEN postings (self-consistent
    # even if docs is nondeterministic upstream)
    written = docs.sparkSession.read.parquet(f"{base}/{POSTINGS_DIR}")
    written.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    ).write.mode("overwrite").parquet(f"{base}/{TERMS_DIR}")
    stats = (
        written.select("doc", "dl")
        .distinct()
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col("dl").cast("double")).alias("avgdl"),
        )
        .first()
    )
    _write_text(
        docs.sparkSession,
        f"{base}/{STATS_FILE}",
        json.dumps(
            {
                "n_docs": int(stats["n"]),
                "avgdl": float(stats["avgdl"]),
                "n_buckets": int(n_buckets),
            }
        ),
    )


def append_to_text_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incrementally add documents to an existing text index — the
    streaming-ingest counterpart the vector (``append_to_ivf_index``)
    and semantic (``append_to_semantic_index``) standing indexes
    already have; r8 completes the triple.

    New postings append into their term-bucket directories (untouched
    buckets gain no files); the vocabulary dir gains the NEW docs'
    (term, df) delta rows — probes aggregate df per term over the
    segments (a ≤|query-terms| groupBy, free), so the index never
    needs a read-modify-write of the full vocabulary; the stats file
    updates by the exact streaming-mean rule
    ``avgdl' = (n·avgdl + Σ new dl) / (n + n_new)``.  The bucket
    count comes from the persisted stats (layout-locked).

    Caveats, same contract as the other appends: doc ids must be NEW
    (a re-appended doc double-counts its terms — dedup at ingest,
    e.g. ``llm.dedup_index``, is the upstream guard), and a query
    built before the append keeps its pre-append file listing.
    Periodic :func:`~sample_keyspaces_cdc_streams_connectors_spark.llm.maintenance.compact_text_index`
    (r9) merges the accumulated posting fragments and collapses the
    vocabulary segments in place — O(fragmented buckets), probes
    bit-identical; a full ``write_text_index`` re-build is only
    needed to change ``n_buckets``."""
    from sample_keyspaces_cdc_streams_connectors_spark.llm.ivf_index import _write_text

    spark = docs.sparkSession
    base = path.rstrip("/")
    stats = _load_stats(spark, path)
    if "n_buckets" not in stats:
        # A pre-r8 stats file doesn't record its bucket count; guessing
        # one would append postings into tb partitions that probes using
        # the real count never scan — silently dropping the new docs.
        raise ValueError(
            f"text index at {path} has no n_buckets in its stats file "
            "(built before incremental appends existed); rebuild it with "
            "write_text_index before appending"
        )
    n_buckets = int(stats["n_buckets"])
    # the bucket-keyed layout shuffle matters MORE on the append path:
    # without it every append adds shuffle_partitions files per touched
    # bucket, and after N appends probes and compaction drown in file
    # listings (r9 stress: 20 naive appends took the probe 0.7→4.7 s)
    postings = _bucket_layout(
        _build_postings(docs, text_col, id_col, n_buckets), n_buckets, 1
    ).persist()
    try:
        new_stats = (
            postings.select("doc", "dl")
            .distinct()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("dl").cast("double")).alias("sum_dl"),
            )
            .first()
        )
        n_new = int(new_stats["n"])
        if n_new == 0:
            return
        postings.write.mode("append").partitionBy("tb").parquet(
            f"{base}/{POSTINGS_DIR}"
        )
        # one vocabulary delta segment per append (not one per shuffle
        # task) — segment count growth is what compaction collapses
        postings.groupBy("term").agg(
            F.count(F.lit(1)).alias("df")
        ).coalesce(1).write.mode("append").parquet(f"{base}/{TERMS_DIR}")
        n_old, avgdl_old = int(stats["n_docs"]), float(stats["avgdl"])
        n_total = n_old + n_new
        avgdl = (n_old * avgdl_old + float(new_stats["sum_dl"])) / n_total
        _write_text(
            spark,
            f"{base}/{STATS_FILE}",
            json.dumps(
                {
                    "n_docs": n_total,
                    "avgdl": avgdl,
                    "n_buckets": n_buckets,
                }
            ),
        )
    finally:
        postings.unpersist()


def _load_stats(spark: SparkSession, path: str) -> dict:
    from sample_keyspaces_cdc_streams_connectors_spark.llm.ivf_index import (
        _read_text,
        check_no_pending_swap,
    )

    # refuse to probe mid-maintenance-swap (r10): a bucket whose old
    # directory was renamed aside but whose replacement is not yet in
    # place would silently return no postings for its terms
    check_no_pending_swap(path, spark)
    return json.loads(_read_text(spark, f"{path.rstrip('/')}/{STATS_FILE}"))


def bm25_score_table(
    spark: SparkSession,
    path: str,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
    exact_sum: bool = False,
) -> DataFrame:
    """Per-document BM25 scores for ``query`` — every document that
    shares at least one term with it, scored exactly.

    Plan shape (pinned in tests/test_retrieval.py): the postings scan
    carries BOTH a partition filter on the query's term buckets AND a
    pushed value filter on the term hashes, so only the query's
    posting lists are read; idf folds in via a tiny broadcast of the
    matching vocabulary rows; the per-doc sum is one aggregate.

    ``exact_sum=True`` routes the per-doc sum through
    DECIMAL(28,12): the per-TERM scores are already bit-identical
    double arithmetic on any engine, but a plain double SUM depends
    on aggregation order — the decimal detour makes the total
    order-independent so cross-engine replays (the ``bm25_rank``
    oracle gate) hash-match.  Scores differ from the plain sum by
    at most |query terms|·5e-13 (per-term decimal rounding);
    retrieval order is unaffected at any realistic score spread, so
    the default stays the cheaper native double sum."""
    q_terms = sorted({_hash60(w) for w in _py_words(query)})
    if not q_terms:
        raise ValueError("query has no tokens")
    stats = _load_stats(spark, path)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    # layout-locked bucket count (r8): an index written with a
    # different n_buckets than the caller's default must still prune
    # correctly, so the persisted value wins when present
    n_buckets = int(stats.get("n_buckets", n_buckets))
    base = path.rstrip("/")
    buckets = sorted({t % n_buckets for t in q_terms})
    from sample_keyspaces_cdc_streams_connectors_spark.sources.tables import read_parquet_cached

    # r14: the whole scoring pipeline is composed as SQL TEXT (one JVM
    # parse per fragment) instead of per-node py4j Column construction
    # — the Column form cost ~0.15-0.25 s of driver round trips per
    # invocation (each `isin` alone ships its literal list through a
    # _to_seq).  Expressions are token-for-token identical: every
    # float literal is the `repr` of the SAME Python double the old
    # `F.lit` carried with a `D` (DOUBLE) suffix, so the parsed
    # constants — including the Catalyst-folded `(k1 + 1.0)` — are
    # bit-equal and the oracle gate stays hash-identical (re-verified
    # at sf0.01/sf0.001; float-parity pinned in tests).
    k1, b = float(k1), float(b)
    # non-finite constants would render as unparseable literals
    # (infD / nanD) in the SQL text the r14 composition emits — the
    # old Column form tolerated them; fail loudly instead (r15,
    # ADVICE r14)
    import math

    for _nm, _v in (
        ("k1", k1),
        ("b", b),
        ("avgdl", float(avgdl)),
        ("n_docs", float(n_docs)),
    ):
        if not math.isfinite(_v):
            raise ValueError(
                f"bm25_score_table: {_nm} must be finite, got {_v!r}"
            )
    bucket_list = ", ".join(str(v) for v in buckets)
    term_list = ", ".join(f"{t}L" for t in q_terms)
    postings = (
        read_parquet_cached(spark, f"{base}/{POSTINGS_DIR}")
        .where(f"tb IN ({bucket_list})")
        .where(f"term IN ({term_list})")
    )
    dfreq = (
        read_parquet_cached(spark, f"{base}/{TERMS_DIR}")
        .where(f"term IN ({term_list})")
        # segment-safe df (r8): after append_to_text_index the
        # vocabulary holds delta rows per term — sum them (≤ |query
        # terms| groups, free)
        .groupBy("term")
        .agg(F.expr("sum(df)").alias("df"))
        .selectExpr(
            "term",
            "df",
            f"ln(((CAST({float(n_docs)!r} AS DOUBLE) - df) + 0.5D)"
            f" / (df + 0.5D) + 1.0D) AS idf",
        )
    )
    okapi = (
        f"((idf * CAST(tf AS DOUBLE)) * ({k1!r}D + 1.0D))"
        f" / (CAST(tf AS DOUBLE) + ({k1!r}D * ({(1.0 - b)!r}D"
        f" + (({b!r}D * CAST(dl AS DOUBLE)) / {float(avgdl)!r}D))))"
    )
    per_term = postings.join(F.broadcast(dfreq), "term").selectExpr(
        "doc", f"{okapi} AS __s"
    )
    total = (
        F.expr("CAST(sum(CAST(__s AS DECIMAL(28,12))) AS DOUBLE)")
        if exact_sum
        else F.expr("sum(__s)")
    )
    return per_term.groupBy("doc").agg(total.alias("score"))


def bm25_topk(
    spark: SparkSession,
    path: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
    exact_sum: bool = False,
) -> DataFrame:
    """Top-k documents for ``query`` by BM25, ties to the lower doc
    id (total order).  Executes as per-partition heaps
    (TakeOrderedAndProject) over the pruned posting scan."""
    scored = bm25_score_table(
        spark, path, query, k1=k1, b=b, n_buckets=n_buckets,
        exact_sum=exact_sum,
    )
    return scored.orderBy(F.desc("score"), F.asc("doc")).limit(k)


def bm25_topk_many(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
    query_col: str = "query",
    id_col: str = "query_id",
    broadcast_queries: bool = True,
    exact_sum: bool = False,
    check_unique_ids: bool = True,
    max_queries: int | None = 65_536,
) -> DataFrame:
    """BULK BM25: top-k documents for EVERY row of a query table, in
    ONE pass over the pruned postings.

    The single-query path (:func:`bm25_topk`) tokenizes driver-side
    and launches a job per query — targeted data selection at scale
    means thousands of queries, which must not mean thousands of
    jobs.  Here the query terms become a COLUMN: tokenize/hash the
    query table distributively (same ``tokens(normalize_text(...))``
    + md5 term identity as the index build, so scores are identical
    to the per-query path), join term→idf from the vocabulary table,
    then join the postings ONCE on (tb, term) and top-k per query
    with one grouped heap.

    Scale shape:
    - Partition pruning survives bulk mode: the DISTINCT term buckets
      of the whole query table collect driver-side (bounded at
      ``n_buckets`` values — 64 ints, not a data-sized funnel) and
      push into the postings scan as a static partition filter, so a
      query load that touches 9 of 64 buckets reads 9 directories.
    - ``broadcast_queries=True`` (default) broadcasts the hashed
      (query, term, idf) side into a map-side postings join — right
      whenever queries × terms fits in a broadcast (tens of MB =
      millions of query terms).  Set False for truly huge query
      tables: the join becomes a regular shuffle on term, still one
      pass over the postings.
    - Per-query top-k is rank-over-window — one shuffle of the
      (query, doc) score rows, heap-bounded per partition by the
      window's running rank filter.

    Returns ``(id_col, doc, score, rank)`` with rank 1..k per query,
    ties to the lower doc id (the single-query total order).
    Queries with no indexed terms yield no rows (same as the
    single-query path scoring nothing).

    ``id_col`` must be UNIQUE: a duplicated id with different texts
    would merge the two term sets into scores that correspond to no
    actual query, so the table is checked up front (one cheap
    aggregate over the query table — always tiny next to the
    postings) and a duplicate raises ``ValueError``.

    ``exact_sum`` has the same cross-engine-determinism meaning as on
    :func:`bm25_score_table` (per-doc sum through DECIMAL(28,12)).
    ``check_unique_ids=False`` skips the eager uniqueness job for
    callers whose ids are unique by construction (e.g. enumerate())
    — the check re-evaluates a computed query frame once.

    ``max_queries`` (r10) makes the bounded-query-table contract
    executable: unlike the dense bulk kernels the query table never
    collects driver-side here, but ``broadcast_queries=True`` ships
    queries × terms as a broadcast, so a corpus passed as the query
    table would OOM the broadcast instead of failing fast.  The check
    is one ``limit(max+1)`` count; ``None`` disables (with
    ``broadcast_queries=False`` the plan is shuffle-safe at any query
    count)."""
    from pyspark.sql import Window

    if max_queries is not None:
        if max_queries < 1:
            raise ValueError(
                f"max_queries must be >= 1 or None, got {max_queries}"
            )
        if queries.limit(int(max_queries) + 1).count() > max_queries:
            raise ValueError(
                f"bm25_topk_many: query table exceeds max_queries="
                f"{int(max_queries)} rows — split it, raise "
                "max_queries explicitly, or pass max_queries=None "
                "with broadcast_queries=False for a shuffle-safe plan"
            )
    dup = (
        queries.groupBy(id_col)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
        if check_unique_ids
        else []
    )
    if dup:
        raise ValueError(
            f"bm25_topk_many requires unique {id_col!r} values; "
            f"{dup[0][id_col]!r} appears {dup[0]['count']} times"
        )
    stats = _load_stats(spark, path)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    n_buckets = int(stats.get("n_buckets", n_buckets))
    base = path.rstrip("/")
    qterms = (
        queries.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(tokens(normalize_text(F.col(query_col))))
            ).alias("__w"),
        )
        .select(F.col(id_col), md5_int(F.col("__w")).alias("term"))
        .distinct()
    )
    # vocabulary join first: (query, term) pairs that exist in the
    # index, each carrying its idf — the inner join drops unindexed
    # terms exactly as the single-query path's isin() does.
    # Segment-safe df (r8): restrict the vocabulary to the query
    # terms FIRST (semi-join against the bounded query-term set),
    # then sum the per-segment delta rows — the aggregate only ever
    # sees query-term groups, never the full vocabulary
    qt_distinct = qterms.select("term").distinct()
    dfreq = (
        spark.read.parquet(f"{base}/{TERMS_DIR}")
        .join(
            F.broadcast(qt_distinct) if broadcast_queries else qt_distinct,
            "term",
            "left_semi",
        )
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .withColumn(
            "idf",
            F.log(
                (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
    )
    q_with_idf = (
        (F.broadcast(qterms) if broadcast_queries else qterms)
        .join(dfreq, "term")
        .select(id_col, "term", "idf")
    )
    # bucket pruning: the distinct tb set is bounded at n_buckets
    # values however many queries there are — a legitimate
    # driver-side collect (the same directory-pruning discipline as
    # the single-query path, just computed from data)
    buckets = sorted(
        r["tb"]
        for r in q_with_idf.select(
            F.pmod(F.col("term"), F.lit(int(n_buckets)))
            .cast("int")
            .alias("tb")
        )
        .distinct()
        .collect()
    )
    if not buckets:
        return spark.createDataFrame(
            [],
            f"{id_col} {queries.schema[id_col].dataType.simpleString()}, "
            "doc long, score double, rank int",
        )
    postings = spark.read.parquet(f"{base}/{POSTINGS_DIR}").filter(
        F.col("tb").isin(buckets)
    )
    q_side = (
        F.broadcast(q_with_idf) if broadcast_queries else q_with_idf
    )
    tf = F.col("tf").cast("double")
    per_term = postings.join(q_side, "term").select(
        id_col,
        "doc",
        (
            F.col("idf")
            * tf
            * (F.lit(k1) + 1.0)
            / (
                tf
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
                )
            )
        ).alias("__s"),
    )
    bulk_total = (
        F.sum(F.col("__s").cast("decimal(28,12)")).cast("double")
        if exact_sum
        else F.sum("__s")
    )
    scored = per_term.groupBy(id_col, "doc").agg(bulk_total.alias("score"))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "doc", "score", "rank")
    )


def bm25_reference(
    rows: list[tuple],
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
) -> dict:
    """Sequential reference implementation over (id, text) rows —
    test-only twin kept here so its tokenization provably shares the
    engine's discipline (ASCII whitespace, lower-case, md5 term
    identity)."""
    # documents with no tokens are not indexed and do not count
    # toward N/avgdl (they can never match a query) — same contract
    # as write_text_index
    doc_terms = {
        i: [_hash60(w) for w in _py_words(t)]
        for i, t in rows
        if _py_words(t)
    }
    n = len(doc_terms)
    avgdl = sum(len(ts) for ts in doc_terms.values()) / max(1, n)
    q = sorted({_hash60(w) for w in _py_words(query)})
    df: dict[int, int] = {}
    for ts in doc_terms.values():
        for t in set(ts):
            if t in q:
                df[t] = df.get(t, 0) + 1
    out: dict = {}
    for i, ts in doc_terms.items():
        s = 0.0
        for t in q:
            tf = ts.count(t)
            if not tf:
                continue
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += idf * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * len(ts) / avgdl)
            )
        if s > 0.0:
            out[i] = s
    return out


def rrf_fuse(
    rankings: list,
    k_rrf: int = 60,
    id_col: str = "doc",
    score_col: str = "score",
    query_col: str | None = None,
    topk: int | None = None,
    max_input_rows: int | None = 100_000,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR'09)
    of N retrieval rankings — the standard HYBRID-search combiner:
    ``rrf(d) = Σ_r 1/(k_rrf + rank_r(d))`` over every ranking that
    returned ``d``.  Ranking-source-agnostic: fuse BM25 with a dense
    vector top-k (the lexical+semantic hybrid — pinned in
    tests/test_retrieval.py), or any number of per-field rankings.

    ``rankings`` are frames of ``(id_col, score_col)`` — by contract
    already top-k lists (bounded, so the rank windows never see
    corpus-sized partitions).  Ranks are 1-based by ``(score desc,
    id asc)``.  With ``query_col`` the inputs are per-query bulk
    rankings (e.g. :func:`bm25_topk_many` output) and fusion
    partitions by query.

    Determinism: each reciprocal term goes through DECIMAL(28,12)
    before the sum (12 decimals ≪ double precision at the 1/(k+r)
    magnitudes, and the exact decimal sum is shuffle-order-proof for
    ANY number of rankings), emitted back as DOUBLE — the engine's
    standard exact-sum discipline.  Returns ``([query_col,] id_col,
    rrf_score, n_rankings)``, top-``topk`` per query when given.

    ``max_input_rows`` enforces the bounded-input contract at
    EXECUTION time: if any input ranking exceeds it per query, the
    triggering ACTION on the returned frame fails with a
    ``SparkException`` whose message names this function and the
    bound (not a driver-side ``ValueError`` — the check is lazy by
    design, because an eager pre-count would re-evaluate every input
    ranking, i.e. re-run the upstream retrievals, before fusing
    them).  r9 note: the 100k default was a behavior change — calls
    that fused larger rankings and previously succeeded now fail at
    that bound; pass ``None`` to restore the unchecked behavior, or
    a larger bound if your rankings are legitimately bigger."""
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("rankings must be non-empty")
    if not isinstance(k_rrf, int) or isinstance(k_rrf, bool):
        # the SQL text interpolates int(k_rrf): a float (e.g. 60.5)
        # would silently truncate and change every score (the old
        # F.lit(k_rrf) honored it) — reject instead (r15, ADVICE r14)
        raise TypeError(
            f"k_rrf must be an int, got {type(k_rrf).__name__} {k_rrf!r}"
        )
    if k_rrf < 1:
        raise ValueError(f"k_rrf must be >= 1, got {k_rrf}")
    keys = ([query_col] if query_col else []) + [id_col]
    # tag each ranking with its source index and rank ONCE over the
    # union, partitioned by ([query,] __src) — a real (non-foldable)
    # partition key, so WindowExec never degenerates to the
    # single-partition no-key form it warns about (F.lit(0) used to be
    # constant-folded away); one shuffle of k·n_rankings bounded rows
    # instead of one window per input
    # r14: the tag/rank/assert/fuse expressions are composed as SQL
    # TEXT (one JVM parse per projection) instead of per-node py4j
    # Column construction — this builder ran twice per bm25_rank
    # invocation at ~0.15 s of driver round trips each.  Token-level
    # equivalents of the old Column forms (desc = DESC NULLS LAST,
    # asc = ASC NULLS FIRST, 1.0D = the F.lit(1.0) double); executed
    # plans pinned byte-identical modulo expression ids.
    def _qid(c: str) -> str:
        # escape embedded backticks so a hostile/unusual column name
        # cannot break out of the quoted identifier (r15, ADVICE r14)
        return "`" + c.replace("`", "``") + "`"

    parts = [
        r.selectExpr(
            *[_qid(c) for c in keys],
            f"{_qid(score_col)} AS __s",
            f"{int(i)} AS __src",
        )
        for i, r in enumerate(rankings)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    part_cols = ", ".join(
        _qid(c) for c in ([query_col] if query_col else []) + ["__src"]
    )
    ranked = u.selectExpr(
        *[_qid(c) for c in keys],
        f"row_number() OVER (PARTITION BY {part_cols}"
        f" ORDER BY __s DESC, {_qid(id_col)} ASC) AS __rank",
    )
    if max_input_rows is not None:
        # bounded-input contract made executable: inputs are top-k
        # lists, so a rank past the bound means someone fused a
        # corpus-sized frame — fail the job instead of silently
        # shuffling it (coalesce keeps the assert un-prunable; it
        # passes every row when the bound holds)
        msg = (
            "rrf_fuse: an input ranking exceeds "
            f"max_input_rows={int(max_input_rows)} rows per "
            "query — inputs must be bounded top-k lists"
        )
        ranked = ranked.where(
            f"coalesce(assert_true(__rank <= {int(max_input_rows)}, "
            f"'{msg}'), true)"
        )
    fused = ranked.groupBy(*keys).agg(
        F.expr(
            f"CAST(sum(CAST(1.0D / ({int(k_rrf)} + __rank) AS "
            "DECIMAL(28,12))) AS DOUBLE)"
        ).alias("rrf_score"),
        F.expr("CAST(count(1) AS INT)").alias("n_rankings"),
    )
    if topk is None:
        return fused
    if query_col:
        wq = Window.partitionBy(query_col).orderBy(
            F.desc("rrf_score"), F.asc(id_col)
        )
        return (
            fused.withColumn("__rn", F.row_number().over(wq))
            .filter(F.col("__rn") <= topk)
            .drop("__rn")
        )
    # single-query top-k executes as TakeOrderedAndProject heaps
    return fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(topk)
