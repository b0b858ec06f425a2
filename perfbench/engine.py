"""Engine lifecycle for one benchmark run: environment, core pinning,
session start/stop, JVM shutdown, peak RSS and Spark's job/stage
counters.

Everything here wraps the package's public API
(``session.get_spark``) or public Spark interfaces; nothing edits the
package.
"""

from __future__ import annotations

import os

PACKAGE = "sample_keyspaces_cdc_streams_connectors_spark"


def configure_env(root: str, work: str, cores: int, driver_memory: str) -> None:
    """Point every Spark and Python scratch path inside ``work`` and size
    the local session.  Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = root + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]
    )


def generator_core(engine_cores: int) -> int:
    """The core the generator is pinned to: the last allowed core, when
    there are more than ``engine_cores`` of them; else -1 (unpinned).
    The engine keeps every core for its JIT, GC and Python workers next
    to its ``engine_cores`` task threads."""
    if not hasattr(os, "sched_getaffinity"):
        return -1
    allowed = sorted(os.sched_getaffinity(0))
    return allowed[-1] if len(allowed) > engine_cores else -1


def start_session(cores: int):
    """A tuned ``local[cores]`` session through the package's ``get_spark``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    from sample_keyspaces_cdc_streams_connectors_spark.session import get_spark

    return get_spark("keystream-bench")


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) in MB of this Python driver, of the JVM, and
    their sum."""
    pid = jvm_pid()
    py, jvm = _vm_hwm_kb("self") / 1024.0, (_vm_hwm_kb(pid) if pid is not None else 0) / 1024.0
    return {"python": py, "jvm": jvm, "total": py + jvm}


def shutdown() -> None:
    """Stop the session and the JVM and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - gateway already closed
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when stdin closes
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 - force it down
            proc.kill()
            proc.wait(timeout=20)
    SparkContext._gateway = None
    SparkContext._jvm = None


def spark_jobs(spark) -> list[dict]:
    """Every job the status store still holds, with its stages'
    executor counters (public ``statusStore`` API; works with the UI
    disabled)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = j.submissionTime()
        if not sub.isDefined():
            continue
        stage_ids = j.stageIds()
        stages = []
        for k in range(stage_ids.size()):
            try:
                st = store.lastStageAttempt(stage_ids.apply(k))
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            stages.append(
                {
                    "tasks": st.numTasks(),
                    "run_ms": st.executorRunTime(),
                    "cpu_ns": st.executorCpuTime(),
                    "gc_ms": st.jvmGcTime(),
                    "shuffle_bytes": st.shuffleReadBytes() + st.shuffleWriteBytes(),
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                }
            )
        out.append({"job": j.jobId(), "submitted": sub.get().getTime() / 1000.0, "stages": stages})
    return out


def cpu_times() -> list[int]:
    """Host-wide CPU tick counters from ``/proc/stat``."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings (field 8 of ``/proc/stat`` is steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    if not s:
        return 0.0
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def count_files(path: str, suffix: str) -> int:
    return sum(f.endswith(suffix) for _root, _dirs, files in os.walk(path) for f in files)
