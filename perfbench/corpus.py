"""The ``corpus_query`` workload: the curation-ingest loop (``llm``)
and a set of headline queries (``queries``) over seeded generated
tables.

One run, in order:

1. set-up, timed from process start: session, the ingest sink
   (``curation_ingest_sink`` with the dedup, semantic and BM25 text
   standing indexes and in-loop compaction of both compactable ones)
   and the query registry;
2. data prep (unmeasured): seeded documents and events written as
   parquet, and the three standing indexes seeded from a document
   slice; seeding also warms the index write paths;
3. the ingest loop, closed: each batch is handed to the sink after
   the previous one committed; ``throughput_per_s`` is documents over
   the loop's wall time;
4. the queries: ``WARM_PASSES`` unmeasured passes, then measured passes of every
   query into the ``noop`` sink for ``--seconds`` (at least
   ``MIN_PASSES``); the latency metrics are percentiles over every
   measured (query, pass) time;
5. the correctness check: survivors (no text of an earlier batch or
   the seed slice comes back, every original document is kept), BM25
   top-k for fixed probe terms against the sequential reference over
   the indexed rows, and each query's rows against its DuckDB oracle.

The traced run wraps the ``llm`` index calls by module attribute (the
ingest sink imports them at call time) and splits each query into
build, plan and execute spans.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time

from perfbench import checks, engine
from perfbench.engine import pct
from perfbench.trace import layer_counters

#: unmeasured passes over the queries; the first collects the rows
#: for the check.  Pass times fall by about a quarter over the first
#: six passes as the JIT compiles, then level off.
WARM_PASSES = 6
#: fewest measured passes over the queries
MIN_PASSES = 2
#: results kept per BM25 probe
BM25_K = 10
#: hash-embedding width of the semantic index
SEMANTIC_DIMS = 64

#: the ingest loop's index calls, wrapped in the traced run:
#: (module under the package's ``llm``, attribute, span name)
LLM_CALLS = (
    ("dedup_index", "append_to_dedup_index", "llm.dedup_append"),
    ("maintenance", "compact_dedup_index", "llm.dedup_compact"),
    ("semdedup", "append_to_semantic_index", "llm.semantic_append"),
    ("retrieval", "append_to_text_index", "llm.text_append"),
    ("maintenance", "compact_text_index", "llm.text_compact"),
)

_BASE_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge order part "
    "query row scan slow small sort spark stream table the value vector window"
).split()
_SYL = ("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "ve", "zu", "bo", "de")
#: 31 base words plus 144 two-syllable words
VOCAB = _BASE_WORDS + [a + b for a in _SYL for b in _SYL]
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randrange(10, 90)))


def make_docs(seed: int, spec: dict) -> dict:
    """Seeded documents: a seed slice and ``spec['batches']`` ingest
    batches.  In each batch an ``exact_dup_share`` of documents copies
    the text of a seed or earlier-batch original, a ``near_dup_share``
    copies one with a word changed, and a ``pii_share`` of originals
    carries an e-mail address and a phone number.  Returns the rows
    ``(doc_id, text, lang, source, n_chars)`` per part and the role of
    every batch document (``original``, ``exact``, ``near``)."""
    rng = random.Random(seed)

    def row(doc_id: int, text: str):
        return (doc_id, text, rng.choice(_LANGS), f"src{rng.randrange(20)}", len(text))

    seed_rows = [row(i, _text(rng)) for i in range(spec["seed_docs"])]
    pool = [r[1] for r in seed_rows]  # texts a later batch may copy
    batches, roles = [], {}
    for b in range(1, spec["batches"] + 1):
        rows, fresh = [], []
        for i in range(spec["batch_docs"]):
            doc_id = b * 100_000 + i
            u = rng.random()
            if u < spec["exact_dup_share"]:
                text, role = rng.choice(pool), "exact"
            elif u < spec["exact_dup_share"] + spec["near_dup_share"]:
                words = rng.choice(pool).split()
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
                text, role = " ".join(words), "near"
            else:
                text, role = _text(rng), "original"
                if rng.random() < spec["pii_share"]:
                    text += f" mail user{doc_id}@example.com or call 555-{rng.randrange(100, 999)}-{doc_id % 10000:04d}"
                fresh.append(text)
            rows.append(row(doc_id, text))
            roles[doc_id] = role
        batches.append(rows)
        pool += fresh  # copies only ever reach back to earlier batches
    return {"seed": seed_rows, "batches": batches, "roles": roles}


def write_tables(tables_dir: str, docs: dict, seed: int, n_events: int) -> None:
    """``documents.parquet`` (every generated document) and
    ``events.parquet`` in the layout the package's ``load_table``
    reads: microsecond timestamps without a time zone."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(tables_dir, exist_ok=True)
    rows = docs["seed"] + [r for b in docs["batches"] for r in b]
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(cols[0], pa.int64()),
                "text": pa.array(cols[1], pa.string()),
                "lang": pa.array(cols[2], pa.string()),
                "source": pa.array(cols[3], pa.string()),
                "n_chars": pa.array(cols[4], pa.int64()),
            }
        ),
        os.path.join(tables_dir, "documents.parquet"),
    )
    rng = random.Random(seed * 7 + 1)
    t0 = datetime.datetime(2024, 1, 1)
    ts = sorted(t0 + datetime.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6)) for _ in range(n_events))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n_events), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([rng.randrange(150) for _ in range(n_events)], pa.int64()),
                "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(n_events)], pa.string()),
                "value": pa.array([round(rng.uniform(0.01, 490.0), 2) for _ in range(n_events)], pa.float64()),
                "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)], pa.string()),
            }
        ),
        os.path.join(tables_dir, "events.parquet"),
    )


@contextlib.contextmanager
def wrapped_llm_calls(tracer):
    """Replace each of :data:`LLM_CALLS` by a spanned wrapper for the
    duration of the block, then put the originals back."""
    import importlib

    saved = []
    for mod_name, attr, span in LLM_CALLS:
        mod = importlib.import_module(f"{engine.PACKAGE}.llm.{mod_name}")
        fn = getattr(mod, attr)

        def wrapper(*a, _fn=fn, _span=span, **kw):
            with tracer.span(_span):
                return _fn(*a, **kw)

        saved.append((mod, attr, fn))
        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


class CorpusRun:
    def __init__(self, spec: dict, common: dict, seed: int, seconds: int, work: str, tracer):
        self.spec, self.common, self.seed, self.work, self.tracer = spec, common, seed, work, tracer
        self.seconds = seconds
        self.tables = os.path.join(work, "tables")
        self.didx, self.tidx, self.sidx = (os.path.join(work, n) for n in ("didx", "tidx", "sidx"))
        self.out = os.path.join(work, "ingest_out")
        self.spark = None

    def setup(self, t_process: float) -> dict:
        """Session, ingest sink and query registry, timed from process
        start."""
        from sample_keyspaces_cdc_streams_connectors_spark.config import load_config
        from sample_keyspaces_cdc_streams_connectors_spark.queries import load_all
        from sample_keyspaces_cdc_streams_connectors_spark.streaming.ingest import curation_ingest_sink

        tr = self.tracer
        with tr.span("setup"):
            t0 = time.time()
            with tr.span("session.start"):
                self.spark = engine.start_session(self.common["engine_cores"])
            session_s = time.time() - t0
            with tr.span("llm.sink_build"):
                keys = {
                    "scrub-pii": "true",
                    "dedup-index-path": self.didx,
                    "dedup-index-compact-every": str(self.spec["compact_every"]),
                    "text-index-path": self.tidx,
                    "text-index-compact-every": str(self.spec["compact_every"]),
                    "semantic-index-path": self.sidx,
                    "semantic-dims": str(SEMANTIC_DIMS),
                }
                cfg = load_config({"keyspaces-cdc-streams": {"corpus": keys}})
                self.sink = curation_ingest_sink(cfg, self.out)
            with tr.span("queries.registry"):
                registry = load_all()
                self.queries = {n: registry[n].fn for n in self.spec["queries"]}
                self.oracles = {n: registry[n].oracle for n in self.spec["queries"]}
        return {"setup_s": time.time() - t_process, "session_s": session_s}

    def prepare(self) -> None:
        """Generated tables and the seeded standing indexes."""
        from pyspark.sql import functions as F

        from sample_keyspaces_cdc_streams_connectors_spark.llm.dedup_index import build_dedup_index
        from sample_keyspaces_cdc_streams_connectors_spark.llm.embedding import hash_embed
        from sample_keyspaces_cdc_streams_connectors_spark.llm.retrieval import write_text_index
        from sample_keyspaces_cdc_streams_connectors_spark.llm.semdedup import write_semantic_index

        with self.tracer.span("prep"):
            self.docs = make_docs(self.seed, self.spec)
            write_tables(self.tables, self.docs, self.seed, self.spec["events"])
            seed_df = self.frame(self.docs["seed"])
            with self.tracer.span("prep.dedup_index"):
                build_dedup_index(seed_df, self.didx, mode="exact")
            with self.tracer.span("prep.text_index"):
                write_text_index(seed_df, self.tidx)
            with self.tracer.span("prep.semantic_index"):
                write_semantic_index(
                    seed_df.select(
                        F.col("doc_id").alias("vec_id"),
                        hash_embed(F.col("text"), dims=SEMANTIC_DIMS).alias("embedding"),
                    ),
                    self.sidx,
                    centroids=self.codebook(),
                )

    def codebook(self) -> list[list[float]]:
        """Seeded random cell centroids: the codebook only routes
        vectors to cells, so fitting one on the seed slice is left
        out of data prep."""
        rng = random.Random(self.seed)
        return [[rng.gauss(0.0, 1.0) for _ in range(SEMANTIC_DIMS)] for _ in range(self.spec["semantic_cells"])]

    def frame(self, rows):
        return self.spark.createDataFrame(rows, "doc_id bigint, text string, lang string, source string, n_chars bigint")

    def ingest(self) -> dict:
        """The closed ingest loop; per-batch wall seconds."""
        tr = self.tracer
        frames = [self.frame(rows) for rows in self.docs["batches"]]
        times = []
        wrap = wrapped_llm_calls(tr) if tr.enabled else contextlib.nullcontext()
        with wrap, tr.span("llm.ingest"):
            for batch_id, df in enumerate(frames, start=1):
                t0 = time.time()
                with tr.span("llm.ingest_batch", batch=batch_id):
                    self.sink(df, batch_id)
                times.append(time.time() - t0)
        return {"batch_s": times, "docs": sum(len(b) for b in self.docs["batches"])}

    def run_queries(self) -> dict:
        """:data:`WARM_PASSES` unmeasured passes, then measured passes
        into ``noop`` until ``seconds`` have gone by; per query, the
        pass times split into build, plan and execute."""
        tr = self.tracer
        times: dict[str, list[dict]] = {n: [] for n in self.queries}
        self.results = {}
        p, end = 0, None
        while p < WARM_PASSES + MIN_PASSES or time.perf_counter() < end:
            if p == WARM_PASSES:
                end = time.perf_counter() + self.seconds
            for name, fn in self.queries.items():
                with tr.span(f"queries.{name}", passes=p):
                    t0 = time.perf_counter()
                    with tr.span("queries.build"):
                        df = fn(self.spark, self.tables)
                    t1 = time.perf_counter()
                    with tr.span("queries.plan"):
                        df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    with tr.span("queries.exec"):
                        if p == 0:
                            self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
                        else:
                            df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
                times[name].append({"build": t1 - t0, "plan": t2 - t1, "exec": t3 - t2, "total": t3 - t0})
            p += 1
        self.passes = p
        return times

    def check(self) -> dict:
        from sample_keyspaces_cdc_streams_connectors_spark.llm.retrieval import bm25_reference, bm25_topk

        with self.tracer.span("check"):
            kept = [tuple(r) for r in self.spark.read.parquet(self.out).select("doc_id", "text").collect()]
            ingest = checks.check_ingest(self.docs, kept)
            indexed = [(r[0], r[1]) for r in self.docs["seed"]] + kept
            bm25 = {}
            for term in self.spec["probe_terms"]:
                got = [(r["doc"], r["score"]) for r in bm25_topk(self.spark, self.tidx, term, k=BM25_K).collect()]
                bm25[term] = checks.check_topk(got, bm25_reference(indexed, term), BM25_K)
            queries = {
                name: checks.check_query(*self.results[name], self.oracle(name)) for name in self.queries
            }
        failed = (
            len(ingest["wrong_ids"])
            + sum(not r["ok"] for r in bm25.values())
            + sum(not r["ok"] for r in queries.values())
        )
        return {"ok": failed == 0, "failed": failed, "ingest": ingest, "bm25": bm25, "queries": queries}

    def oracle(self, name: str):
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.tables, t)}.parquet'")
            res = con.execute(self.oracles[name])
            return [d[0] for d in res.description], res.fetchall()
        finally:
            con.close()


def run(spec: dict, common: dict, seed: int, seconds: int, work: str, tracer, t_process: float) -> dict:
    r = CorpusRun(spec, common, seed, seconds, work, tracer)
    s = r.setup(t_process)
    phases = {"setup": time.time()}
    r.prepare()
    phases["prep"] = time.time()
    cpu0 = engine.cpu_times()
    ing = r.ingest()
    phases["ingest"] = time.time()
    qt = r.run_queries()
    phases["queries"] = time.time()
    steal = engine.steal_ratio(cpu0, engine.cpu_times())
    chk = r.check()
    phases["check"] = time.time()
    warm = [t["total"] * 1000.0 for ts in qt.values() for t in ts[WARM_PASSES:]]
    metrics = {
        "setup_s": s["setup_s"],
        "throughput_per_s": ing["docs"] / sum(ing["batch_s"]),
        "latency_p50_ms": pct(warm, 50),
        "latency_p90_ms": pct(warm, 90),
    }
    rss = engine.peak_rss_mb()
    layers = {}
    if tracer.enabled:
        tracer.attribute_jobs(engine.spark_jobs(r.spark))
        layers = {"session.start_s": s["session_s"], "host.steal_ratio": steal, "host.peak_rss_mb": rss["total"]}
        layers.update(llm_layers(r, tracer, ing, chk["ingest"]["kept"]))
        layers.update(query_layers(qt))
        for layer in ("llm", "queries"):
            layers.update(layer_counters(tracer, layer, common["engine_cores"]))
    return {
        "correct": bool(chk["ok"]),
        "attempted": ing["docs"] + len(r.spec["probe_terms"]) + len(r.queries) * r.passes,
        "failed": chk["failed"],
        "metrics": metrics,
        "layers": layers,
        "check": chk,
        "extra": {
            "phases_s": {k: v - t_process for k, v in phases.items()},
            "peak_rss_mb": rss,
            "batch_s": ing["batch_s"],
            "query_samples": len(warm),
            "host_steal_ratio": steal,
            "query_warm_ms": {n: [t["total"] * 1000.0 for t in ts[WARM_PASSES:]] for n, ts in qt.items()},
        },
    }


def llm_layers(r: CorpusRun, tracer, ing: dict, kept: int) -> dict:
    roles = r.docs["roles"]
    m = {f"llm.{name.split('.', 1)[1]}_s": tracer.total(name) for _m, _a, name in LLM_CALLS}
    m["llm.curate_probe_s"] = sum(tracer.self_time(s) for s in tracer.spans if s["name"] == "llm.ingest_batch")
    m.update(
        {
            "llm.docs_in": float(len(roles)),
            "llm.docs_kept": float(kept),
            "llm.keep_ratio": kept / len(roles),
            "llm.batch_p50_s": statistics.median(ing["batch_s"]),
            "llm.dedup_index_files": float(engine.count_files(r.didx, ".parquet")),
            "llm.text_index_files": float(engine.count_files(r.tidx, ".parquet")),
        }
    )
    return m


def query_layers(qt: dict) -> dict:
    """Per query its median measured time; build, plan and execute
    summed over the queries' medians; the first pass's excess over a
    measured pass."""
    m = {}
    med = {n: {k: statistics.median(t[k] for t in ts[WARM_PASSES:]) for k in ("build", "plan", "exec", "total")} for n, ts in qt.items()}
    for name, v in med.items():
        m[f"queries.{name}_s"] = v["total"]
    for k in ("build", "plan", "exec"):
        m[f"queries.{k}_s"] = sum(v[k] for v in med.values())
    m["queries.suite_s"] = sum(v["total"] for v in med.values())
    m["queries.first_pass_extra_s"] = sum(ts[0]["total"] for ts in qt.values()) - m["queries.suite_s"]
    return m
