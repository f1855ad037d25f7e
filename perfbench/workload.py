"""Seeded CDC workload: transactions, their WAL frames and the expected view.

Both the benchmark process and the walsender process build the same
transaction list from the same seed, so only the seed and the sizes cross
the process boundary. Frames are encoded with the engine's public
``sources.pgoutput`` helpers, so the bytes on the wire are the ones a real
walsender sends for a ``public.users(user_id, name, balance)`` table.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from go_pq_cdc_elasticsearch_spark.sources import pgoutput as PG

RELID = 16384
COLUMNS = ["user_id", "name", "balance"]
# each WAL message advances the position by this many bytes, so every
# change gets its own LSN (the engine's stamp for it)
LSN_STEP = 64
FIRST_LSN = 0x1000000


@dataclass(frozen=True)
class Change:
    op: str  # insert | update | delete
    key: int
    name: str | None
    balance: str | None


@dataclass(frozen=True)
class Txn:
    xid: int
    changes: tuple[Change, ...]
    begin_lsn: int
    last_change_lsn: int  # the stamp the view's commit log must cover
    end_lsn: int  # commit-record end: what the slot ack must reach


def _row_values(c: Change) -> list[str | None]:
    return [str(c.key), c.name, c.balance]


def make_txns(
    seed: int,
    n_txns: int,
    keys: int,
    op_mix: dict[str, float],
    alive: list[int] | None = None,
    first_lsn: int = FIRST_LSN,
    first_xid: int = 1000,
    min_changes: int = 1,
    max_changes: int = 4,
) -> list[Txn]:
    """``n_txns`` transactions of ``min..max`` changes, drawn with the
    ``op_mix`` shares over the key space ``[0, keys)``. Inserts take a key that is
    not alive, updates and deletes one that is, so every change is one a
    real table could produce. ``alive`` seeds the live key set; it is not
    modified."""
    rng = random.Random(seed)
    p_insert = op_mix["insert"]
    p_update = p_insert + op_mix["update"]
    live = list(alive) if alive is not None else []
    pos = {k: i for i, k in enumerate(live)}
    dead = [k for k in range(keys) if k not in pos]
    dead_pos = {k: i for i, k in enumerate(dead)}

    def take(pool: list[int], index: dict[int, int]) -> int:
        i = rng.randrange(len(pool))
        k = pool[i]
        last = pool.pop()
        if last != k:
            pool[i] = last
            index[last] = i
        del index[k]
        return k

    def put(pool: list[int], index: dict[int, int], k: int) -> None:
        index[k] = len(pool)
        pool.append(k)

    txns = []
    lsn = first_lsn
    for t in range(n_txns):
        changes = []
        for _ in range(rng.randint(min_changes, max_changes)):
            r = rng.random()
            op = "insert" if r < p_insert else (
                "update" if r < p_update else "delete"
            )
            if op != "insert" and not live:
                op = "insert"
            if op == "insert" and not dead:
                op = "update"
            if op == "insert":
                k = take(dead, dead_pos)
                put(live, pos, k)
            elif op == "update":
                k = live[rng.randrange(len(live))]
            else:
                k = take(live, pos)
                put(dead, dead_pos, k)
            if op == "delete":
                changes.append(Change(op, k, None, None))
            else:
                changes.append(
                    Change(
                        op,
                        k,
                        f"user-{k}-{t}",
                        f"{rng.randrange(10**7) / 100:.2f}",
                    )
                )
        begin = lsn
        last_change = begin + LSN_STEP * len(changes)
        end = last_change + 2 * LSN_STEP
        txns.append(
            Txn(first_xid + t, tuple(changes), begin, last_change, end)
        )
        lsn = end
    return txns


def encode_txn(txn: Txn, commit_ts_us: int = 0) -> bytes:
    """One transaction as CopyData(XLogData) frames, ready to send."""
    out = [
        PG.copy_data(
            PG.xlog_data(
                txn.begin_lsn,
                txn.begin_lsn,
                0,
                PG.encode_begin(txn.end_lsn, commit_ts_us, txn.xid),
            )
        )
    ]
    lsn = txn.begin_lsn
    for c in txn.changes:
        lsn += LSN_STEP
        vals = _row_values(c)
        if c.op == "insert":
            payload = PG.encode_insert(RELID, vals)
        elif c.op == "update":
            payload = PG.encode_update(RELID, vals)
        else:
            payload = PG.encode_delete(RELID, [str(c.key), None, None])
        out.append(PG.copy_data(PG.xlog_data(lsn, lsn, 0, payload)))
    commit_lsn = lsn + LSN_STEP
    out.append(
        PG.copy_data(
            PG.xlog_data(
                commit_lsn,
                commit_lsn,
                0,
                PG.encode_commit(commit_lsn, txn.end_lsn, commit_ts_us),
            )
        )
    )
    return b"".join(out)


def relation_frame() -> bytes:
    return PG.copy_data(
        PG.xlog_data(
            FIRST_LSN, FIRST_LSN, 0,
            PG.encode_relation(RELID, "public", "users", COLUMNS),
        )
    )


def expected_state(txns: list[Txn]) -> dict[str, dict[str, str]]:
    """Last write wins per key, deleted keys removed: the rows the view
    must hold after every transaction is applied, keyed by the string key
    with the row image the view stores as ``payload``."""
    state: dict[int, tuple[str, str]] = {}
    for t in txns:
        for c in t.changes:
            if c.op == "delete":
                state.pop(c.key, None)
            else:
                state[c.key] = (c.name, c.balance)
    return {
        str(k): {"user_id": str(k), "name": n, "balance": b}
        for k, (n, b) in state.items()
    }
