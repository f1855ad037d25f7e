"""Paced fake walsender, run as its own process.

    python3 perfbench/walsender.py SPEC.json

SPEC names the seed and sizes (see ``build``). The process builds the
transactions from the seed, encodes every frame before it listens, then
prints ``PORT <n>`` on stdout. It serves one replication connection with
the real handshake (startup, CREATE_REPLICATION_SLOT, START_REPLICATION
→ CopyBoth) and sends the relation and the warm-up burst at once.
After the parent writes ``GO`` on stdin it sends the lead-in and then the
measured transactions, one every ``1 / rate`` seconds on one fixed
schedule: a late send never shifts later due times, so a stalled engine
faces a growing queue (an open loop).

It records each transaction's due and sent time and every
StandbyStatusUpdate with its arrival time. ``STOP`` on
stdin writes them to ``SPEC["out"]`` as JSON and exits. It runs two
threads: the sender and the ack reader.
"""

from __future__ import annotations

import json
import os
import socket
import struct
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_pq_cdc_elasticsearch_spark.sources import pgoutput as PG  # noqa: E402

from perfbench import workload as W  # noqa: E402


def build(spec: dict) -> tuple[list[W.Txn], list[W.Txn], list[W.Txn]]:
    """(warm-up burst, lead-in, measured transactions) for a spec; the
    benchmark process calls the same function to know what to expect. The
    burst and the lead-in come from ``warm_seed`` alone, so set-up feeds
    the same input in every run; each list continues the key state and
    the LSNs of the one before."""
    wlo, whi = spec["warm_changes_per_txn"]
    lo, hi = spec["changes_per_txn"]
    parts = [
        (spec["warm_seed"], spec["warm_txns"], wlo, whi),
        (spec["warm_seed"] + 1, spec["lead_txns"], lo, hi),
        (spec["seed"], spec["txns"], lo, hi),
    ]
    out: list[list[W.Txn]] = []
    alive: list[int] = []
    lsn, xid = W.FIRST_LSN, 1000
    for seed, n, a, b in parts:
        txns = W.make_txns(
            seed, n, spec["keys"], spec["op_mix"], alive=alive,
            first_lsn=lsn, first_xid=xid, min_changes=a, max_changes=b,
        )
        out.append(txns)
        if txns:
            alive = [int(k) for k in W.expected_state(
                [t for part in out for t in part])]
            lsn, xid = txns[-1].end_lsn, txns[-1].xid + 1
    return out[0], out[1], out[2]


class Walsender:
    def __init__(self, spec: dict):
        self.spec = spec
        warm, lead, txns = build(spec)
        # pre-encode everything: sending must cost a socket write only
        self.warm_bytes = W.relation_frame() + b"".join(
            W.encode_txn(t) for t in warm
        )
        self.frames = [W.encode_txn(t) for t in lead + txns]
        self.last_end = (warm + lead + txns)[-1].end_lsn
        self.acks: list[tuple[float, int]] = []
        self.due: list[float] = []
        self.sent: list[float] = []
        self.go = threading.Event()
        self.stop = threading.Event()
        self.lock = threading.Lock()
        self.server = socket.create_server(("127.0.0.1", 0))
        self.port = self.server.getsockname()[1]

    # -- handshake ---------------------------------------------------------

    def _handshake(self, conn, f) -> None:
        (n,) = struct.unpack("!I", conn.recv(4, socket.MSG_WAITALL))
        conn.recv(n - 4, socket.MSG_WAITALL)  # StartupMessage parameters
        conn.sendall(
            PG.frame(b"R", struct.pack("!I", 0))
            + PG.frame(b"S", b"server_version\x0016.3\x00")
            + PG.frame(b"Z", b"I")
        )
        while True:
            t, body = PG.read_frame(f)
            if not t:
                raise ConnectionError("client left during handshake")
            if t != b"Q":
                continue
            sql = body.rstrip(b"\x00").decode()
            if sql.startswith("START_REPLICATION"):
                conn.sendall(PG.copy_both_response())
                return
            if sql.startswith("CREATE_REPLICATION_SLOT"):
                slot = sql.split()[1].encode()
                reply = (
                    PG.frame(b"T", b"\x00\x01slot_name\x00" + b"\x00" * 18)
                    + PG.frame(b"D", b"\x00\x01" + struct.pack("!I", len(slot)) + slot)
                    + PG.frame(b"C", b"CREATE_REPLICATION_SLOT\x00")
                )
            else:
                reply = PG.frame(b"C", b"OK\x00")
            conn.sendall(reply + PG.frame(b"Z", b"I"))

    def _read_acks(self, f) -> None:
        try:
            while True:
                t, body = PG.read_frame(f)
                if not t:
                    return
                if t == b"d" and body[:1] == b"r":
                    flushed = PG.parse_standby_status(body)["flushed"]
                    with self.lock:
                        self.acks.append((time.time(), flushed))
        except (OSError, ValueError, struct.error):
            return

    # -- streaming ---------------------------------------------------------

    def serve(self) -> None:
        conn, _ = self.server.accept()
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        # unbuffered, so reads never park bytes the other reader needs
        f = conn.makefile("rb", buffering=0)
        try:
            self._handshake(conn, f)
            threading.Thread(target=self._read_acks, args=(f,), daemon=True).start()
            conn.sendall(self.warm_bytes)
            self.go.wait()
            self._paced(conn)
            # idle stream until STOP: keepalives keep the link alive
            while not self.stop.wait(2.0):
                conn.sendall(PG.copy_data(PG.keepalive(self.last_end, 0, False)))
        except (OSError, ValueError):
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def _paced(self, conn) -> None:
        period = 1.0 / self.spec["rate"]
        t0 = time.time()
        for i, frames in enumerate(self.frames):
            due = t0 + i * period
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            if self.stop.is_set():
                return
            conn.sendall(frames)
            self.due.append(due)
            self.sent.append(time.time())

    def result(self) -> dict:
        with self.lock:
            acks = list(self.acks)
        return {
            "due": self.due,
            "sent": self.sent,
            "acks": acks,
        }


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    ws = Walsender(spec)
    sender = threading.Thread(target=ws.serve, daemon=True)
    sender.start()
    print(f"PORT {ws.port}", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "GO":
            ws.go.set()
        elif cmd == "STOP":
            break
    ws.stop.set()
    ws.go.set()
    sender.join(timeout=5)
    with open(spec["out"], "w") as f:
        json.dump(ws.result(), f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
