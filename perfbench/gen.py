"""Seeded CDC load generator, run as its own process.

Writes Kinesis-wire CDC records (the connector's record envelope:
``data`` JSON payload, ``streamName``, ``partitionKey``,
``sequenceNumber``, ``approximateArrivalTimestamp``) as parquet files
into a landing directory that the engine reads as a file stream.
Each file is written under a staging directory and renamed into the
landing directory, so the file source never lists a partial file.

Two modes:

* backlog (no ``--rate``): write ``--count`` events as fast as
  possible; each event is stamped with its creation time.
* open loop (``--rate``): once the records are built and pyarrow is
  loaded, the generator picks ``t0`` and prints it (seconds on the
  host's monotonic clock, which every process shares and no clock
  step moves) as its first line of standard output.  Event ``i`` is
  due at ``t0 + i / rate``; a file holds the events due in one
  ``1 / FILES_PER_S`` window and is written when its window closes.
  Each event is stamped with its due time (wall clock in the data,
  monotonic in the manifest), so a generator or engine stall counts
  against latency.

Content depends only on ``--seed``, the profile and ``--first-seq``;
only the stamps come from the clock.  A JSON-lines manifest records,
per file, its name, event stamps and how late the write finished
against its schedule.

Usage::

    python3 perfbench/gen.py --landing L --stage S --manifest M.jsonl \
        --profile '{"keys": 1000000, ...}' --seed 7 --first-seq 0 \
        --count 20000 --file-events 5000 --prefix backlog --cpu 3 \
        [--rate 800]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import sys
import time

SEQ_WIDTH = 20
STREAM_NAME = "keystream-bench"
#: landing files written per second in open-loop mode
FILES_PER_S = 10
#: open loop: ``t0`` lies this many seconds after the generator prints
#: it, so the reader has it before the first event is due
LEAD_S = 0.2

#: the typed row image: (name, Spark SQL type)
IMAGE_FIELDS = (
    ("id", "bigint"),
    ("name", "string"),
    ("category", "string"),
    ("qty", "int"),
    ("price", "double"),
    ("score", "double"),
    ("active", "boolean"),
    ("day", "date"),
    ("updated_at", "timestamp"),
    ("note", "string"),
)

#: op -> (origin, has new image, has old image)
OP_SHAPE = {
    "INSERT": ("USER", True, False),
    "UPDATE": ("USER", True, True),
    "DELETE": ("USER", False, True),
    "TTL": ("TTL", False, True),
    "REPLICATED_INSERT": ("REPLICATION", True, False),
    "REPLICATED_UPDATE": ("REPLICATION", True, True),
    "REPLICATED_DELETE": ("REPLICATION", False, True),
}

_CATEGORIES = ("books", "music", "film", "games", "garden", "tools", "toys")
_WORDS = (
    "alpha", "bravo", "delta", "echo", "golf", "hotel", "india", "kilo",
    "lima", "mike", "oscar", "papa", "romeo", "sierra", "tango", "victor",
)


def seq_str(n: int) -> str:
    """Fixed-width sequence number: string order equals numeric order."""
    return str(n).zfill(SEQ_WIDTH)


def _image(rng: random.Random, key: int, base_ms: int) -> dict:
    day = 19000 + rng.randrange(700)
    return {
        "id": key,
        "name": f"{_WORDS[rng.randrange(16)]}-{key}",
        "category": _CATEGORIES[rng.randrange(len(_CATEGORIES))],
        "qty": rng.randrange(1000),
        "price": round(rng.uniform(0.5, 500.0), 2),
        "score": rng.random(),
        "active": rng.random() < 0.8,
        "day": time.strftime("%Y-%m-%d", time.gmtime(day * 86400)),
        "updated_at": time.strftime(
            "%Y-%m-%dT%H:%M:%S", time.gmtime(base_ms // 1000 - rng.randrange(86400))
        )
        + "Z",
        "note": " ".join(_WORDS[rng.randrange(16)] for _ in range(rng.randrange(1, 6))),
    }


def generate(profile: dict, seed: int, first_seq: int, count: int) -> list[tuple[str, str, bytes]]:
    """``count`` records as (sequenceNumber, partitionKey, data), keys
    uniform over ``1..profile['keys']``."""
    rng = random.Random(seed * 1_000_003 + first_seq)
    keys = int(profile["keys"])
    ops = list(profile["ops"])
    weights = [float(profile["ops"][o]) for o in ops]
    base_ms = 1_790_000_000_000  # fixed: image content never reads the clock
    recs = []
    for i in range(count):
        seq = seq_str(first_seq + i)
        key = rng.randrange(1, keys + 1)
        op = rng.choices(ops, weights)[0]
        origin, has_new, has_old = OP_SHAPE[op]
        payload = {
            "eventVersion": "1",
            "origin": origin,
            "sequenceNumber": seq,
            "newImage": _image(rng, key, base_ms) if has_new else None,
            "oldImage": _image(rng, key, base_ms) if has_old else None,
        }
        recs.append((seq, str(key), json.dumps(payload, separators=(",", ":")).encode()))
    return recs


def write_file(landing: str, stage: str, name: str, recs, stamps_ms) -> None:
    """One landing file: staged write, then an atomic rename."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "data": pa.array([r[2] for r in recs], pa.binary()),
            "streamName": pa.array([STREAM_NAME] * len(recs), pa.string()),
            "partitionKey": pa.array([r[1] for r in recs], pa.string()),
            "sequenceNumber": pa.array([r[0] for r in recs], pa.string()),
            # tz-aware, so Spark reads a session timestamp (not NTZ),
            # which unix_millis in parse_wire_records requires
            "approximateArrivalTimestamp": pa.array(
                stamps_ms, pa.timestamp("ms", tz="UTC")
            ),
        }
    )
    tmp = os.path.join(stage, name)
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, os.path.join(landing, name))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--landing", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--profile", required=True, help="workload profile as JSON")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first-seq", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--file-events", type=int, required=True, help="events per file in backlog mode")
    ap.add_argument("--prefix", required=True, help="landing file name prefix")
    ap.add_argument("--cpu", type=int, required=True, help="pin to this core; -1 = unpinned")
    ap.add_argument("--rate", type=float, default=0.0, help="events/s; 0 = backlog")
    a = ap.parse_args(argv)

    if a.cpu >= 0 and hasattr(os, "sched_setaffinity"):
        os.sched_setaffinity(0, {a.cpu})
    recs = generate(json.loads(a.profile), a.seed, a.first_seq, a.count)
    os.makedirs(a.landing, exist_ok=True)
    os.makedirs(a.stage, exist_ok=True)
    with open(a.manifest, "a", encoding="utf-8") as man:
        if a.rate <= 0:
            for n, lo in enumerate(range(0, len(recs), a.file_events)):
                chunk = recs[lo : lo + a.file_events]
                now = int(time.time() * 1000)
                name = f"{a.prefix}-{n:06d}.parquet"
                write_file(a.landing, a.stage, name, chunk, [now] * len(chunk))
                man.write(json.dumps({"file": name, "n": len(chunk), "late_ms": 0.0}) + "\n")
            return 0
        # one throwaway write first: the first parquet write in a process
        # costs about 0.3 s, which would make the first file late
        warm = ".warm.parquet"
        write_file(a.stage, a.stage, warm, recs[:1], [0])
        os.remove(os.path.join(a.stage, warm))
        t0, wall0 = time.monotonic() + LEAD_S, time.time() + LEAD_S
        print(repr(t0), flush=True)
        window = 1.0 / FILES_PER_S
        n_files = math.ceil(len(recs) / (a.rate * window))
        i = 0
        for f in range(n_files):
            close = t0 + (f + 1) * window
            hi = min(len(recs), round((f + 1) * window * a.rate))
            chunk = recs[i:hi]
            due = [t0 + j / a.rate for j in range(i, hi)]
            stamps = [int((wall0 + j / a.rate) * 1000) for j in range(i, hi)]
            i = hi
            delay = close - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            if not chunk:
                continue
            name = f"{a.prefix}-{f:06d}.parquet"
            write_file(a.landing, a.stage, name, chunk, stamps)
            late_ms = (time.monotonic() - close) * 1000.0
            man.write(json.dumps({"file": name, "n": len(chunk), "late_ms": late_ms,
                                  "written": time.time(), "stamps_ms": stamps,
                                  "due_ms": [d * 1000.0 for d in due]}) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
