"""The CDC workload ``cdc_fanout``: Kinesis-wire records from a file
stream, through the CDC pipeline, into the object-store and queue
sinks.

One run, in order:

1. set-up, timed from process start: session, source and transform
   construction, sink construction, and the streaming query started
   and stopped;
2. an unmeasured warm-up drain of a small pre-queued backlog, one
   file per micro-batch;
3. the measured drain of a fixed pre-queued backlog (``availableNow``);
4. the open-loop phase: once the query is up and idle, the generator
   offers a fixed rate for ``--seconds`` while the query triggers back
   to back; each event's latency runs from its due time to the return
   of the sink call that committed it, both on the host's monotonic
   clock;
5. the correctness check over every event of the run.

The generator writes both backlogs on its own core during set-up.
The traced run adds spans, Spark counters, streaming phase times and,
last, a drain of the same backlog on a one-core session as the
single-threaded baseline.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import subprocess
import sys
import time

from sample_keyspaces_cdc_streams_connectors_spark.metrics import MetricsRegistry

from perfbench import checks, engine
from perfbench.engine import dir_bytes, pct
from perfbench.trace import layer_counters

HERE = os.path.dirname(os.path.abspath(__file__))
RAW_DDL = (
    "data binary, streamName string, partitionKey string, "
    "sequenceNumber string, approximateArrivalTimestamp timestamp"
)
#: sequence-number offset per generator phase, so phases never collide
PHASE_SEQ = {"warmup": 1, "backlog": 2, "rate": 3, "basewarm": 4, "base": 5}
#: events per landing file of the measured backlogs
FILE_EVENTS = 5000
#: events per landing file of the warm-up backlog (one file per batch)
WARMUP_FILE_EVENTS = 2500
#: landing files per micro-batch when draining a backlog
MAX_FILES_PER_TRIGGER = 2


def drop_filter(drop_ops) -> str | None:
    """The pipeline's filter expression dropping ``drop_ops``."""
    if not drop_ops:
        return None
    return "metadata.stream_operation_type NOT IN (" + ", ".join(f"'{op}'" for op in drop_ops) + ")"


def source_log(ckpt: str) -> dict[str, int]:
    """Landing file name -> micro-batch id, from the file source's
    metadata log in the query checkpoint."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        try:
            with open(path, encoding="utf-8") as fh:
                lines = fh.read().splitlines()[1:]
        except OSError:
            continue  # replaced by a compaction mid-read
        for line in lines:
            if line:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def wait_idle(q) -> None:
    """Block until the streaming query is up and has found no new data,
    so the open-loop schedule starts after query start-up."""
    end = time.monotonic() + 120.0
    while q.status["message"] != "Waiting for data to arrive":
        if not q.isActive or time.monotonic() > end:
            raise RuntimeError(f"streaming query not idle: {q.status} {q.exception()}")
        time.sleep(0.01)


class CdcRun:
    def __init__(self, name: str, spec: dict, common: dict, seed: int, seconds: int, work: str, tracer, gen_cpu: int):
        self.name, self.spec, self.common = name, spec, common
        self.seed, self.seconds, self.work = seed, seconds, work
        self.tracer, self.gen_cpu = tracer, gen_cpu
        self.landing = os.path.join(work, "landing")
        self.manifest = os.path.join(work, "manifest.jsonl")
        self.commits: dict[int, float] = {}  # batch id -> sink return, monotonic s
        self.rate_t0 = 0.0  # open-loop schedule start, monotonic s
        self.failed_batches = 0
        self.progress: list = []
        self.attempted = 0
        self.procs: list[subprocess.Popen] = []
        self.spark = None
        self.registry = MetricsRegistry()
        self.phase_span = None  # parent of the spans foreachBatch opens

    # --- generator ---------------------------------------------------

    def gen(self, phase: str, count: int, rate: float = 0.0, landing=None,
            file_events: int = FILE_EVENTS):
        cmd = [
            sys.executable, os.path.join(HERE, "gen.py"),
            "--landing", landing or self.landing,
            "--stage", os.path.join(self.work, "stage"),
            "--manifest", self.manifest,
            "--profile", json.dumps(self.spec["profile"]),
            "--seed", str(self.seed),
            "--first-seq", str(PHASE_SEQ[phase] * 10**12),
            "--count", str(count),
            "--file-events", str(file_events),
            "--prefix", phase,
            "--cpu", str(self.gen_cpu),
        ]
        if rate:
            cmd += ["--rate", str(rate)]
        # an open-loop generator prints its schedule start on stdout
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE if rate else None, text=True)
        self.procs.append(proc)
        return proc

    def gen_wait(self, phase: str, count: int, landing=None, file_events: int = FILE_EVENTS) -> None:
        with self.tracer.span(f"gen.{phase}"):
            rc = self.gen(phase, count, landing=landing, file_events=file_events).wait()
        if rc != 0:
            raise RuntimeError(f"generator failed in phase {phase} (exit {rc})")

    # --- engine ------------------------------------------------------

    def build(self, ckpt: str, landing: str, out_root: str, registry=None, max_files=None):
        """Source, transform and sinks (writing under ``out_root``,
        counting into ``registry``) for one streaming query.  Drains cap
        each micro-batch at ``max_files`` landing files; the open-loop
        phase reads everything that has landed."""
        from pyspark.sql import types as T

        from sample_keyspaces_cdc_streams_connectors_spark.sources.kinesis import parse_wire_records
        from sample_keyspaces_cdc_streams_connectors_spark.streaming import (
            CdcPipeline,
            PipelineConfig,
            local_dir_transport,
            object_store_sink,
            queue_sink,
        )

        from perfbench.gen import IMAGE_FIELDS

        tr = self.tracer
        spark = self.spark
        image = T.StructType.fromDDL(", ".join(f"{n} {t}" for n, t in IMAGE_FIELDS))
        with tr.span("sources.build"):
            reader = spark.readStream.schema(RAW_DDL)
            if max_files:
                reader = reader.option("maxFilesPerTrigger", max_files)
            raw = reader.parquet(landing)
            env = parse_wire_records(raw, image, self.common["keyspace"], self.common["table"])
        t0 = time.perf_counter()
        with tr.span("operators.build"):
            out = CdcPipeline(PipelineConfig(filter_expression=drop_filter(self.spec["drop_ops"]))).transform(env)
        self.build_ms = (time.perf_counter() - t0) * 1000.0
        registry = registry if registry is not None else self.registry
        with tr.span("streaming.sink_build"):
            sinks = [
                ("object_sink", object_store_sink(os.path.join(out_root, "out"), output_format="json")),
                ("queue_sink", queue_sink(
                    functools.partial(local_dir_transport, os.path.join(out_root, "queue")),
                    registry=registry,
                )),
            ]
        return out, sinks

    def start(self, out, sinks, ckpt: str, trigger: str | None):
        tr = self.tracer

        def sink(batch_df, batch_id):
            # runs on a Spark callback thread: parent it to the phase
            with tr.span("streaming.batch", parent=self.phase_span, batch=batch_id):
                try:
                    for name, fn in sinks:
                        with tr.span(f"streaming.{name}"):
                            fn(batch_df, batch_id)
                except Exception:
                    self.failed_batches += 1
                    raise
            self.commits[batch_id] = time.monotonic()

        w = out.writeStream.queryName(self.name).foreachBatch(sink).outputMode("append")
        w = w.option("checkpointLocation", ckpt)
        w = w.trigger(processingTime=trigger) if trigger else w.trigger(availableNow=True)
        return w.start()

    def setup(self, t_process: float) -> dict:
        """Set-up from process start until the pipeline's streaming
        query is up: session, source/transform/sink construction and
        query start (then stop)."""
        tr = self.tracer
        with tr.span("setup"):
            t_sess = time.time()
            with tr.span("session.start"):
                self.spark = engine.start_session(self.common["engine_cores"])
            session_s = time.time() - t_sess
            root = os.path.join(self.work, "setup")
            landing, ckpt = os.path.join(root, "landing"), os.path.join(root, "ckpt")
            os.makedirs(landing)
            out, sinks = self.build(ckpt, landing, root, MetricsRegistry())
            with tr.span("streaming.start"):
                self.start(out, sinks, ckpt, "0 seconds").stop()
        return {"setup_s": time.time() - t_process, "session_s": session_s, "build_ms": self.build_ms}

    def run_query(self, trigger: str | None, max_files=None):
        ckpt = os.path.join(self.work, "ckpt")
        self.last_query = self.start(
            *self.build(ckpt, self.landing, self.work, max_files=max_files), ckpt, trigger
        )
        return self.last_query

    def collect_progress(self, q, phase: str) -> None:
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                self.progress.append((phase, p))

    def pregenerate(self, phase: str, count: int, file_events: int = FILE_EVENTS):
        """Start writing a backlog into a holding dir while set-up runs;
        :meth:`drain` moves it into the landing dir."""
        held = os.path.join(self.work, f"held_{phase}")
        return held, self.gen(phase, count, landing=held, file_events=file_events)

    def drain(self, phase: str, count: int, held: str, proc, max_files: int = MAX_FILES_PER_TRIGGER) -> float:
        with self.tracer.span(f"gen.{phase}"):
            if proc.wait() != 0:
                raise RuntimeError(f"generator failed in phase {phase}")
        os.makedirs(self.landing, exist_ok=True)
        for f in sorted(os.listdir(held)):
            os.rename(os.path.join(held, f), os.path.join(self.landing, f))
        self.attempted += count
        with self.tracer.span(f"streaming.drain_{phase}") as sp:
            self.phase_span = sp and sp["id"]
            t0 = time.time()
            self.run_query(None, max_files).awaitTermination()
            dt = time.time() - t0
        self.collect_progress(self.last_query, phase)
        return dt

    def rate_phase(self) -> dict:
        rate = float(self.spec["offered_rate"])
        limit_s = self.spec["latency_limit_ms"] / 1000.0
        count = int(rate * self.seconds)
        self.attempted += count
        with self.tracer.span("streaming.rate_phase") as sp:
            self.phase_span = sp and sp["id"]
            q = self.run_query("0 seconds")
            wait_idle(q)
            proc = self.gen("rate", count, rate=rate)
            line = proc.stdout.readline()
            rc = proc.wait()
            if rc != 0 or not line:
                q.stop()
                raise RuntimeError(f"generator failed in the rate phase (exit {rc})")
            self.rate_t0 = float(line)
            files = self.rate_files()
            deadline = self.rate_t0 + self.seconds + limit_s
            ckpt = os.path.join(self.work, "ckpt")
            seen, batches = -1, set()
            while time.monotonic() < deadline and q.isActive:
                if len(self.commits) != seen:  # re-read the log only after a commit
                    seen = len(self.commits)
                    batches = {source_log(ckpt).get(f["file"]) for f in files}
                    if batches <= set(self.commits):
                        break
                time.sleep(0.05)
            # stop only once the engine has logged the last batch as
            # committed; stopping earlier replays it on the next start
            while time.monotonic() < deadline and q.isActive and not all(
                os.path.exists(os.path.join(ckpt, "commits", str(b))) for b in batches
            ):
                time.sleep(0.01)
            q.stop()
        self.collect_progress(q, "rate")
        return self.latencies(files, count, limit_s)

    def rate_files(self) -> list[dict]:
        with open(self.manifest, encoding="utf-8") as fh:
            rows = [json.loads(line) for line in fh]
        return [r for r in rows if r["file"].startswith("rate-")]

    def latencies(self, files, count: int, limit_s: float) -> dict:
        """Per-event latency from due time to commit; the sequence
        numbers of events committed past the limit or never."""
        import pyarrow.parquet as pq

        log = source_log(os.path.join(self.work, "ckpt"))
        lat, late, batches = [], set(), set()
        for f in files:
            commit = self.commits.get(log.get(f["file"]))
            seqs = pq.read_table(os.path.join(self.landing, f["file"]), columns=["sequenceNumber"])
            for seq, due in zip(seqs.column(0).to_pylist(), f["due_ms"]):
                ms = None if commit is None else commit * 1000.0 - due
                if ms is not None:
                    lat.append(ms)
                if ms is None or ms > limit_s * 1000.0:
                    late.add(seq)
            batches.add(log.get(f["file"]))
        if sum(f["n"] for f in files) != count:
            raise RuntimeError("the generator wrote fewer events than scheduled")
        # the longest wait for a commit, from the schedule start on
        stamps = sorted([self.rate_t0] + [self.commits[b] for b in batches if b in self.commits])
        return {
            "latency_p50_ms": pct(lat, 50),
            "latency_p90_ms": pct(lat, 90),
            "late_seqs": late,
            "gen_late_ms_p90": pct([f["late_ms"] for f in files], 90),
            "gen_late_ms_max": max(f["late_ms"] for f in files),
            "commit_gap_ms_max": max((b - a for a, b in zip(stamps, stamps[1:])), default=0.0) * 1000.0,
            "rate_batches": len(batches - {None}),
            "rate_events": len(lat),
        }

    # --- checks ------------------------------------------------------

    def check(self) -> dict:
        with self.tracer.span("check"):
            return checks.check_fanout(
                self.landing, os.path.join(self.work, "out"), os.path.join(self.work, "queue"),
                self.common["keyspace"], self.common["table"], self.spec["drop_ops"],
            )

    # --- per-layer metrics --------------------------------------------

    def stream_metrics(self) -> dict:
        """Phase times from ``recentProgress`` plus source lag/backlog
        for the open-loop phase."""
        def dur(key):
            return [p["durationMs"].get(key, 0) for _, p in self.progress]

        trig = dur("triggerExecution")
        commit = [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]
        m = {
            "sources.latest_offset_ms_p50": pct(dur("latestOffset"), 50),
            "sources.get_batch_ms_p50": pct(dur("getBatch"), 50),
            "sources.input_rows": float(sum(p["numInputRows"] for _, p in self.progress)),
            "operators.plan_ms_p50": pct(dur("queryPlanning"), 50),
            "streaming.trigger_ms_p50": pct(trig, 50),
            "streaming.trigger_ms_p90": pct(trig, 90),
            "streaming.commit_ms_p50": pct(commit, 50),
            "streaming.add_batch_ms_p50": pct(dur("addBatch"), 50),
            "streaming.batches": float(len(self.progress)),
        }
        m.update(self.read_lag())
        return m

    def read_lag(self) -> dict:
        """Per open-loop trigger: the newest event due at trigger start
        minus the newest event the trigger read, and the events written
        but not yet read at trigger start."""
        from datetime import datetime

        files = self.rate_files()
        log = source_log(os.path.join(self.work, "ckpt"))
        by_batch: dict[int, list] = {}
        for f in files:
            if f["file"] in log:
                by_batch.setdefault(log[f["file"]], []).append(f)
        last_due = max(f["stamps_ms"][-1] for f in files)
        lags, backlog, read_n = [], [], 0
        for ph, p in self.progress:
            if ph != "rate":
                continue
            t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            batch = by_batch.get(p["batchId"], [])
            if batch:
                lags.append(max(0.0, min(t * 1000.0, last_due) - max(f["stamps_ms"][-1] for f in batch)))
            backlog.append(max(0, sum(f["n"] for f in files if f["written"] <= t) - read_n))
            read_n += sum(f["n"] for f in batch)
        return {
            "sources.read_lag_ms_p90": pct(lags, 90),
            "sources.backlog_events_max": float(max(backlog, default=0)),
        }

    def baseline_1core(self, multi_rate: float) -> float:
        """Drain the same backlog on a one-core session, after a one-file
        warm-up drain; return the multi-core over one-core rate ratio."""
        with self.tracer.span("baseline_1core") as sp:
            self.phase_span = sp["id"]
            self.spark.stop()
            self.spark = engine.start_session(1)
            base = os.path.join(self.work, "base")
            land, ckpt = os.path.join(base, "landing"), os.path.join(base, "ckpt")
            scratch = MetricsRegistry()  # keep the main run's sink counters clean
            mf = MAX_FILES_PER_TRIGGER
            self.gen_wait("basewarm", WARMUP_FILE_EVENTS, landing=land, file_events=WARMUP_FILE_EVENTS)
            self.start(*self.build(ckpt, land, base, scratch, mf), ckpt, None).awaitTermination()
            self.gen_wait("base", self.spec["backlog_events"], landing=land)
            t0 = time.time()
            self.start(*self.build(ckpt, land, base, scratch, mf), ckpt, None).awaitTermination()
            dt = time.time() - t0
        return multi_rate / (self.spec["backlog_events"] / dt)


def run(name: str, spec: dict, common: dict, seed: int, seconds: int, work: str,
        tracer, gen_cpu: int, t_process: float) -> dict:
    """One run of a CDC workload; returns the result, the per-layer
    metrics (traced runs) and the check's report."""
    r = CdcRun(name, spec, common, seed, seconds, work, tracer, gen_cpu)
    try:
        return _run(r, spec, common, seconds, work, tracer, t_process)
    finally:
        for p in r.procs:
            if p.poll() is None:
                p.kill()
            p.wait()


def _run(r: CdcRun, spec, common, seconds, work, tracer, t_process) -> dict:
    # the generator writes both backlogs on its own core during set-up
    warm = r.pregenerate("warmup", spec["warmup_events"], WARMUP_FILE_EVENTS)
    back = r.pregenerate("backlog", spec["backlog_events"])
    setup = r.setup(t_process)
    phases = {"setup": time.time()}
    cpu0 = engine.cpu_times()
    # small warm-up batches run the per-trigger code paths several times
    r.drain("warmup", spec["warmup_events"], *warm, max_files=1)
    phases["warmup"] = time.time()
    drain_s = r.drain("backlog", spec["backlog_events"], *back)
    drain_rate = spec["backlog_events"] / drain_s
    phases["drain"] = time.time()
    lat = r.rate_phase()
    phases["rate"] = time.time()
    steal = engine.steal_ratio(cpu0, engine.cpu_times())
    chk = r.check()
    phases["check"] = time.time()
    # a failed batch stops the query, so its events show up as lost
    failed = len(lat.pop("late_seqs") | chk.pop("wrong_seqs"))
    metrics = {
        "setup_s": setup["setup_s"],
        "throughput_per_s": drain_rate,
        "latency_p50_ms": lat["latency_p50_ms"],
        "latency_p90_ms": lat["latency_p90_ms"],
    }
    rss = engine.peak_rss_mb()
    layers = {}
    if tracer.enabled:
        layers = r.stream_metrics()
        layers.update(
            {
                "session.start_s": setup["session_s"],
                "operators.build_ms": setup["build_ms"],
                "operators.filter_keep_ratio": chk["output_rows"] / r.attempted,
                "streaming.failed_batches": float(r.failed_batches),
                "streaming.object_sink_s": tracer.total("streaming.object_sink"),
                "streaming.queue_sink_s": tracer.total("streaming.queue_sink"),
                "streaming.queue_messages_out": r.registry.get("sink.queue.messages_out"),
                "streaming.queue_bytes_out": r.registry.get("sink.queue.bytes_out"),
                "streaming.output_bytes": float(
                    dir_bytes(os.path.join(work, "out")) + dir_bytes(os.path.join(work, "queue"))
                ),
                "gen.late_ms_p90": lat["gen_late_ms_p90"],
                "host.steal_ratio": steal,
                "host.peak_rss_mb": rss["total"],
            }
        )
        tracer.attribute_jobs(engine.spark_jobs(r.spark))
        layers.update(layer_counters(tracer, "streaming", common["engine_cores"]))
        layers["streaming.drain_speedup_vs_1core"] = r.baseline_1core(drain_rate)
    return {
        "correct": bool(chk["ok"]) and failed == 0,
        "attempted": r.attempted,
        "failed": failed,
        "metrics": metrics,
        "layers": layers,
        "check": chk,
        "extra": {
            "phases_s": {k: v - t_process for k, v in phases.items()},
            "peak_rss_mb": rss,
            "rate_batches": lat["rate_batches"],
            "gen_late_ms_max": lat["gen_late_ms_max"],
            "commit_gap_ms_max": lat["commit_gap_ms_max"],
            "rate_events": lat["rate_events"],
            "host_steal_ratio": steal,
        },
    }
