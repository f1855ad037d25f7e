"""Tests of the benchmark's own parts (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_pq_cdc_elasticsearch_spark.sources import pgoutput as PG  # noqa: E402

from perfbench import workload as W  # noqa: E402
from perfbench.walsender import build  # noqa: E402

MIX = {"insert": 0.25, "update": 0.60, "delete": 0.15}
SPEC = {
    "rate": 100, "seed": 7, "txns": 300, "keys": 500,
    "op_mix": MIX, "changes_per_txn": [1, 4],
    "warm_seed": 0, "warm_txns": 20, "warm_changes_per_txn": [2, 2],
    "lead_txns": 40,
}


def _frames(spec: dict) -> bytes:
    warm, lead, txns = build(spec)
    return W.relation_frame() + b"".join(
        W.encode_txn(t) for t in warm + lead + txns)


def test_same_seed_gives_identical_frames():
    assert _frames(SPEC) == _frames(dict(SPEC))
    assert _frames(SPEC) != _frames(dict(SPEC, seed=8))


def test_frames_decode_to_the_generated_changes():
    _warm, _lead, txns = build(SPEC)
    dec = PG.PgOutputDecoder()
    dec.decode(PG.encode_relation(W.RELID, "public", "users", W.COLUMNS), 0)
    for t in txns[:50]:
        got = []
        buf = W.encode_txn(t)
        pos = 0
        while pos < len(buf):
            n = int.from_bytes(buf[pos + 1:pos + 5], "big")
            body = buf[pos + 5:pos + 1 + n]
            pos += 1 + n
            out = dec.decode(body[25:], int.from_bytes(body[1:9], "big"))
            if isinstance(out, dict):
                got.append((out["op"], (out["after"] or out["before"])["user_id"]))
        assert got == [(c.op.upper(), str(c.key)) for c in t.changes]


def test_mix_and_key_pools():
    warm, lead, txns = build(dict(SPEC, txns=2000))
    ops = [c.op for t in txns for c in t.changes]
    for op, share in MIX.items():
        assert abs(ops.count(op) / len(ops) - share) < 0.03
    assert all(1 <= len(t.changes) <= 4 for t in txns)
    lsns = [t.end_lsn for t in warm + lead + txns]
    assert lsns == sorted(set(lsns))


def test_expected_state_hand_computed():
    C = W.Change
    txns = [
        W.Txn(1, (C("insert", 1, "a", "1.00"), C("insert", 2, "b", "2.00")), 0, 0, 0),
        W.Txn(2, (C("update", 1, "a2", "1.50"), C("delete", 2, None, None)), 0, 0, 0),
        W.Txn(3, (C("insert", 3, "c", "3.00"), C("update", 3, "c2", "3.50"),
                  C("insert", 2, "b2", "2.50")), 0, 0, 0),
        W.Txn(4, (C("delete", 3, None, None),), 0, 0, 0),
    ]
    assert W.expected_state(txns) == {
        "1": {"user_id": "1", "name": "a2", "balance": "1.50"},
        "2": {"user_id": "2", "name": "b2", "balance": "2.50"},
    }
