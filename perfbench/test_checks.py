"""Each correctness check passes on a faithful output and fails on a
corrupted one.  Run from the repository root::

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import checks, corpus, gen

PROFILE = {"keys": 50, "ops": {op: 1 for op in gen.OP_SHAPE}}
CORPUS_SPEC = {
    "seed_docs": 10,
    "batch_docs": 30,
    "batches": 3,
    "exact_dup_share": 0.2,
    "near_dup_share": 0.1,
    "pii_share": 0.2,
}


def _write_outputs(tmp_path, records):
    """Write shaped records the way the sinks do: JSON lines with null
    fields left out, objects under a partition dir, one queue file."""
    out = tmp_path / "out" / "__part=2026%2F01%2F01%2F00"
    queue = tmp_path / "queue"
    out.mkdir(parents=True)
    queue.mkdir()
    lines = [
        json.dumps({k: v for k, v in zip(checks.CANON_COLS, r) if v is not None}) for r in records
    ]
    (out / "part-00000.json").write_text("\n".join(lines) + "\n")
    (queue / "batch-0.jsonl").write_text("\n".join(lines) + "\n")
    return str(tmp_path / "out"), str(queue)


@pytest.fixture
def landing(tmp_path):
    land, stage = tmp_path / "landing", tmp_path / "stage"
    land.mkdir()
    stage.mkdir()
    recs = gen.generate(PROFILE, seed=5, first_seq=0, count=200)
    gen.write_file(str(land), str(stage), "f-000000.parquet", recs[:120], [1_790_000_000_000] * 120)
    gen.write_file(str(land), str(stage), "f-000001.parquet", recs[120:], [1_790_000_001_000] * 80)
    return str(land)


def _fanout(landing, out, queue):
    return checks.check_fanout(landing, out, queue, "media", "items", ["TTL"])


def test_fanout_check_accepts_faithful_output(landing, tmp_path):
    expected = checks.expected_fanout(landing, "media", "items", {"TTL"})
    assert 0 < len(expected) < 200  # TTL records were filtered
    res = _fanout(landing, *_write_outputs(tmp_path, expected))
    assert res["ok"] and not res["wrong_seqs"]


@pytest.mark.parametrize("corruption", ["value", "drop", "duplicate", "op"])
def test_fanout_check_rejects_corrupted_output(landing, tmp_path, corruption):
    expected = checks.expected_fanout(landing, "media", "items", {"TTL"})
    bad = list(expected)
    victim = bad[7]
    if corruption == "value":
        qty = checks.CANON_COLS.index("qty")
        bad[7] = victim[:qty] + ((victim[qty] or 0) + 1,) + victim[qty + 1 :]
    elif corruption == "drop":
        del bad[7]
    elif corruption == "duplicate":
        bad.append(victim)
    else:
        op = checks.CANON_COLS.index("stream_operation_type")
        bad[7] = victim[:op] + ("UNKNOWN",) + victim[op + 1 :]
    res = _fanout(landing, *_write_outputs(tmp_path, bad))
    assert not res["ok"]
    assert victim[checks.CANON_COLS.index("stream_sequence_number")] in res["wrong_seqs"]


@pytest.fixture
def docs():
    return corpus.make_docs(3, CORPUS_SPEC)


def _faithful_survivors(docs):
    """What a correct ingest keeps: every original, no exact copy, and
    the near copies whose text is new."""
    seen = {r[1] for r in docs["seed"]}
    kept = []
    for batch in docs["batches"]:
        rows = [(r[0], r[1]) for r in batch if docs["roles"][r[0]] != "exact" and r[1] not in seen]
        seen |= {t for _, t in rows}
        kept += rows
    return kept


def test_ingest_check_accepts_faithful_survivors(docs):
    roles = set(docs["roles"].values())
    assert roles == {"original", "exact", "near"}
    res = checks.check_ingest(docs, _faithful_survivors(docs))
    assert res["ok"] and not res["wrong_ids"]


@pytest.mark.parametrize("corruption", ["drop_original", "keep_exact", "repeat_text", "duplicate_id"])
def test_ingest_check_rejects_corrupted_survivors(docs, corruption):
    kept = _faithful_survivors(docs)
    by_id = {r[0]: r for b in docs["batches"] for r in b}
    if corruption == "drop_original":
        victim = next(i for i, _ in kept if docs["roles"][i] == "original")
        kept = [r for r in kept if r[0] != victim]
    elif corruption == "keep_exact":
        victim = next(i for i, role in docs["roles"].items() if role == "exact")
        kept.append((victim, by_id[victim][1]))
    elif corruption == "repeat_text":
        # a later batch's document comes back with a seed document's text
        victim = kept[-1][0]
        kept[-1] = (victim, docs["seed"][0][1])
    else:
        victim = kept[0][0]
        kept.append(kept[0])
    res = checks.check_ingest(docs, kept)
    assert not res["ok"] and victim in res["wrong_ids"]


def test_topk_check_rejects_wrong_ranking():
    ref = {1: 3.0, 2: 2.0, 3: 2.0, 4: 1.0}
    assert checks.check_topk([(1, 3.0), (2, 2.0), (3, 2.0)], ref, 3)["ok"]
    assert checks.check_topk([(1, 3.0), (3, 2.0), (2, 2.0)], ref, 3)["ok"]  # a tie may swap
    assert not checks.check_topk([(1, 3.0), (2, 2.0), (4, 1.0)], ref, 3)["ok"]
    assert not checks.check_topk([(1, 3.0), (2, 2.5), (3, 2.0)], ref, 3)["ok"]
    assert not checks.check_topk([(1, 3.0), (2, 2.0)], ref, 3)["ok"]


def test_query_check_rejects_corrupted_rows():
    cols, rows = ["k", "n"], [("a", 1), ("b", 2.5), ("c", None)]
    oracle = (["n", "k"], [(n, k) for k, n in reversed(rows)])
    assert checks.check_query(cols, rows, oracle)["ok"]
    assert not checks.check_query(cols, rows[:-1], oracle)["ok"]
    assert not checks.check_query(cols, [("a", 1), ("b", 2.5), ("c", 0)], oracle)["ok"]
    assert not checks.check_query(["k", "m"], rows, oracle)["ok"]


def test_classify_matches_generator_shapes():
    for op, (origin, has_new, has_old) in gen.OP_SHAPE.items():
        assert checks.classify(origin, has_new, has_old) == op
    assert checks.classify(None, True, False) == "UNKNOWN"


def test_generator_is_seeded():
    a = gen.generate(PROFILE, seed=9, first_seq=0, count=50)
    assert a == gen.generate(PROFILE, seed=9, first_seq=0, count=50)
    assert a != gen.generate(PROFILE, seed=10, first_seq=0, count=50)
    assert all(len(r[0]) == gen.SEQ_WIDTH for r in a)
    assert corpus.make_docs(4, CORPUS_SPEC) == corpus.make_docs(4, CORPUS_SPEC)
    assert corpus.make_docs(4, CORPUS_SPEC) != corpus.make_docs(5, CORPUS_SPEC)
