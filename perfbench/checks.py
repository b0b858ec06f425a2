"""Correctness checks for the workloads.

Each check compares the engine's output with an independent
computation and returns the number of wrong records, so a run can
count them as failures.

* ``cdc_fanout``: the object-store files and the queue messages are
  each decoded and compared with a pandas computation over the
  generated landing files: per-op record counts and an
  order-insensitive content hash.
* ``corpus_query``: every original document survives ingest, no text
  of the seed slice or an earlier batch comes back, BM25 top-k equals
  the sequential reference, and each query's rows equal its DuckDB
  oracle's (row count, columns and an order-insensitive value hash).
"""

from __future__ import annotations

import collections
import glob
import json
import math
import os

IMAGE_COLS = ("id", "name", "category", "qty", "price", "score", "active", "day", "updated_at", "note")
META_COLS = (
    "stream_keyspace_name",
    "stream_table_name",
    "stream_operation_type",
    "stream_arrival_timestamp",
    "stream_sequence_number",
    "origin",
)
CANON_COLS = META_COLS + IMAGE_COLS


def classify(origin, has_new: bool, has_old: bool) -> str:
    """The reference's operation truth table, written out separately
    from the engine's column expression."""
    if origin is None:
        return "UNKNOWN"
    if origin == "TTL":
        return "TTL"
    repl = origin == "REPLICATION"
    if has_old and not has_new:
        return "REPLICATED_DELETE" if repl else "DELETE"
    if has_new and not has_old:
        return "REPLICATED_INSERT" if repl else "INSERT"
    return "REPLICATED_UPDATE" if repl else "UPDATE"


def canon(rec: dict) -> tuple:
    """One output record as a comparable tuple (missing fields are
    null; JSON writers omit null fields)."""
    return tuple(map(rec.get, CANON_COLS))


def expected_fanout(landing: str, keyspace: str, table: str, drop_ops: set[str]) -> list[tuple]:
    """The shaped records the pipeline should emit for every generated
    event: classify, drop the filtered ops, take newImage else
    oldImage, add the stream metadata."""
    import pandas as pd

    files = sorted(glob.glob(os.path.join(landing, "*.parquet")))
    if not files:
        return []
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    payload = df["data"].map(json.loads)
    arrival = (df["approximateArrivalTimestamp"] - pd.Timestamp(0, tz="UTC")) // pd.Timedelta(milliseconds=1)
    out = []
    for p, seq, ms in zip(payload, df["sequenceNumber"], arrival):
        op = classify(p["origin"], p["newImage"] is not None, p["oldImage"] is not None)
        if op in drop_ops:
            continue
        image = dict(p["newImage"] if p["newImage"] is not None else p["oldImage"])
        # whole seconds in; Spark's JSON writer prints milliseconds
        image["updated_at"] = image["updated_at"].replace("Z", ".000Z")
        rec = {
            "stream_keyspace_name": keyspace,
            "stream_table_name": table,
            "stream_operation_type": op,
            "stream_arrival_timestamp": int(ms),
            "stream_sequence_number": seq,
            "origin": p["origin"],
            **image,
        }
        out.append(canon(rec))
    return out


def read_json_lines(pattern: str) -> list[dict]:
    recs = []
    for path in sorted(glob.glob(pattern, recursive=True)):
        with open(path, encoding="utf-8") as fh:
            recs.extend(json.loads(line) for line in fh if line.strip())
    return recs


def multiset_hash(rows) -> str:
    """Order-insensitive content hash: sum of row hashes mod 2**64
    (comparable within one process)."""
    return f"{sum(map(hash, rows)) % (1 << 64):016x}"


def compare(expected: collections.Counter, got: list[tuple], op_index: int | None = None) -> dict:
    """Per-op counts, content hashes, the number of wrong records
    (missing plus unexpected, as multisets) and the wrong records."""
    e, g = expected, collections.Counter(got)
    bad = list((e - g).elements()) + list((g - e).elements())
    wrong = len(bad)
    res = {
        "expected": e.total(),
        "got": len(got),
        "wrong": wrong,
        "hash_expected": multiset_hash(e.elements()),
        "hash_got": multiset_hash(got),
    }
    if op_index is not None:
        res["ops_expected"] = dict(collections.Counter(r[op_index] for r in e.elements()))
        res["ops_got"] = dict(collections.Counter(r[op_index] for r in got))
    res["bad"] = bad
    res["ok"] = (
        wrong == 0
        and res["hash_expected"] == res["hash_got"]
        and res.get("ops_expected") == res.get("ops_got")
    )
    return res


def check_fanout(landing: str, out_dir: str, queue_dir: str, keyspace: str, table: str, drop_ops) -> dict:
    expected = collections.Counter(expected_fanout(landing, keyspace, table, set(drop_ops)))
    op_i = CANON_COLS.index("stream_operation_type")
    objects = [canon(r) for r in read_json_lines(os.path.join(out_dir, "**", "*.json"))]
    queue = [canon(r) for r in read_json_lines(os.path.join(queue_dir, "*.jsonl"))]
    res_o = compare(expected, objects, op_i)
    res_q = compare(expected, queue, op_i)
    seq_i = CANON_COLS.index("stream_sequence_number")
    return {
        "ok": res_o["ok"] and res_q["ok"],
        "wrong_seqs": {r[seq_i] for r in res_o.pop("bad") + res_q.pop("bad")},
        "output_rows": len(objects),
        "object_store": res_o,
        "queue": res_q,
    }


def check_ingest(docs: dict, kept: list[tuple]) -> dict:
    """Survivors ``(doc_id, text)`` of the ingest loop against the
    generated roles: every original is kept, no exact copy is kept, no
    kept text repeats a seed text or a text kept from an earlier batch,
    and no id is unknown or kept twice.  ``wrong_ids`` holds the ids
    breaking any of these."""
    roles = docs["roles"]
    ids = collections.Counter(i for i, _ in kept)
    wrong = {i for i, n in ids.items() if n > 1 or i not in roles}
    wrong |= {i for i, role in roles.items() if (role == "original") != (i in ids) and role != "near"}
    seen = {r[1] for r in docs["seed"]}
    for b in sorted({i // 100_000 for i in ids}):
        batch = [(i, t) for i, t in kept if i // 100_000 == b]
        wrong |= {i for i, t in batch if t in seen}
        seen |= {t for _, t in batch}
    return {
        "ok": not wrong,
        "kept": len(kept),
        "roles": dict(collections.Counter(roles.values())),
        "wrong_ids": wrong,
    }


def check_topk(got: list[tuple], reference: dict, k: int, rel: float = 1e-6) -> dict:
    """Engine top-k ``(doc, score)`` against reference scores
    ``{doc: score}``: same length, and at every rank the engine's doc
    and score match the reference's score at that rank (so docs whose
    scores tie within ``rel`` may swap)."""
    ref = sorted(reference.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def close(a, b):
        return abs(a - b) <= rel * max(1.0, abs(b))

    ok = len(got) == len(ref) and all(
        close(reference.get(doc, math.nan), rs) and close(score, rs)
        for (doc, score), (_rd, rs) in zip(got, ref)
    )
    return {"ok": ok, "got": [d for d, _ in got], "expected": [d for d, _ in ref]}


def check_query(cols: list[str], rows: list[tuple], oracle: tuple[list[str], list[tuple]]) -> dict:
    """A query's rows against its oracle's ``(columns, rows)``, hashed
    the way the repository's local correctness gate hashes them."""
    from tools.verify_local import table_hash

    ocols, orows = oracle
    res = {"rows": len(rows), "oracle_rows": len(orows), "hash": table_hash(cols, rows)}
    res["oracle_hash"] = table_hash(ocols, orows) if sorted(cols) == sorted(ocols) else None
    res["ok"] = len(rows) == len(orows) and res["hash"] == res["oracle_hash"]
    return res
