"""keystream end-to-end benchmark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload cdc_fanout --seed 1 --seconds 10 --trace 0

Prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics,
and the run's spans are written as JSON lines under
``.perfbench_out/``.  Workload parameters, the offered rates, latency
limits and the layer-to-metric map live in ``perfbench/workloads.json``.
All scratch data goes under ``.perfbench_work/`` and is removed at the
end of the run.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # set-up is timed from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="keystream end-to-end benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import engine

    if not os.path.isdir(os.path.join(ROOT, engine.PACKAGE)):
        print(f"error: package {engine.PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as fh:
        cfg = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    if a.workload not in cfg["workloads"]:
        print(f"error: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    spec, common = cfg["workloads"][a.workload], cfg["engine"]

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(work)
    gen_cpu = engine.generator_core(common["engine_cores"])
    engine.configure_env(ROOT, work, common["engine_cores"], common["driver_memory"])

    from perfbench import cdc, corpus
    from perfbench.trace import Tracer

    tracer = Tracer(run_id, enabled=bool(a.trace))
    # a terminated run still stops the JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if spec["kind"] == "corpus":
            res = corpus.run(spec, common, a.seed, a.seconds, work, tracer, T_PROCESS)
        else:
            res = cdc.run(a.workload, spec, common, a.seed, a.seconds, work, tracer, gen_cpu, T_PROCESS)
    finally:
        engine.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it

    names = bench["per_layer" if a.trace else "end_to_end"]
    values = res["layers"] if a.trace else res["metrics"]
    if a.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        values = dict(values, **{"trace.overhead_s": tracer.self_cost_s, "trace.spans": float(len(tracer.spans))})
        values.update({f"traced.{k}": v for k, v in res["metrics"].items()})
        tracer.write_jsonl(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
        # a metric of another workload's layers reads 0 here; one of
        # this workload's must have been measured
        mine = {m for m, v in cfg["layer_map"].items() if a.workload in v["on"]}
        missing = sorted(mine - set(values))
        if missing:
            print(f"error: per-layer metrics not measured: {missing}", file=sys.stderr)
            return 1
        values = {m["name"]: values.get(m["name"], 0.0) for m in names}
    print(json.dumps({"check": res["check"], "extra": res["extra"]}, default=str), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in names},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
