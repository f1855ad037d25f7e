"""pgoutput live-replication path (U2, VERDICT round 1 item 4): frame
codecs, pgoutput decode, and the full slot-consumer handshake against a
scripted fake replication server over a real TCP socket — slot create,
CopyBoth start, keepalive reply, StandbyStatusUpdate ack progression, and
the socket -> wal-segment -> Spark pgwal path acked from the checkpoint."""

import io
import json
import os
import socket
import struct
import tempfile
import threading

import pytest

from go_pq_cdc_elasticsearch_spark.sources import pgoutput as PG

# ---- pure codec tests ------------------------------------------------------


def test_libpq_frame_roundtrip():
    buf = io.BytesIO(PG.frame(b"Q", b"hello\x00") + PG.frame(b"d", b"xyz"))
    t, body = PG.read_frame(buf)
    assert (t, body) == (b"Q", b"hello\x00")
    t, body = PG.read_frame(buf)
    assert (t, body) == (b"d", b"xyz")
    assert PG.read_frame(buf) == (b"", b"")


def test_standby_status_roundtrip():
    payload = PG.standby_status_update(100, 90, 80, clock_us=7, reply=True)
    got = PG.parse_standby_status(payload)
    assert got == {"written": 100, "flushed": 90, "applied": 80, "clock_us": 7, "reply": True}


def test_lsn_str():
    assert PG.lsn_str(0) == "0/0"
    assert PG.lsn_str((0x16 << 32) | 0xB374D848) == "16/B374D848"


def test_pgoutput_decode_insert_update_delete():
    dec = PG.PgOutputDecoder()
    assert dec.decode(PG.encode_relation(1, "public", "users", ["id", "name"]), 0) is None
    assert dec.decode(PG.encode_begin(500, 12345, xid=9), 0) is None
    ins = dec.decode(PG.encode_insert(1, ["1", "ada"]), 101)
    assert ins["op"] == "INSERT" and ins["after"] == {"id": "1", "name": "ada"}
    assert ins["table_schema"] == "public" and ins["table_name"] == "users"
    assert ins["lsn"] == 101 and ins["before"] is None
    upd = dec.decode(PG.encode_update(1, ["1", "lovelace"], old_values=["1", "ada"]), 102)
    assert upd["op"] == "UPDATE"
    assert upd["before"] == {"id": "1", "name": "ada"}
    assert upd["after"] == {"id": "1", "name": "lovelace"}
    dele = dec.decode(PG.encode_delete(1, ["1", None]), 103)
    assert dele["op"] == "DELETE" and dele["after"] is None
    assert dele["before"] == {"id": "1", "name": None}
    assert dec.decode(PG.encode_commit(500, 501, 12345), 104) is None


def test_tuple_null_and_unchanged_columns():
    dec = PG.PgOutputDecoder()
    dec.decode(PG.encode_relation(2, "s", "t", ["a", "b"]), 0)
    dec.decode(PG.encode_begin(1, 0, 1), 0)
    row = dec.decode(PG.encode_insert(2, [None, "x"]), 5)
    assert row["after"] == {"a": None, "b": "x"}
    # 'u' (unchanged TOASTed value) must stay distinguishable from 'n'
    # (NULL): the column is OMITTED from the row — conflating it with
    # None would null a large column on every non-covering UPDATE
    upd = dec.decode(PG.encode_update(2, [ "1", PG.UNCHANGED]), 6)
    assert upd["after"] == {"a": "1"}
    assert "b" not in upd["after"]


# ---- scripted fake replication server (shared with examples/connector) -----

from go_pq_cdc_elasticsearch_spark.testing_utils import FakeReplicationServer


def _txn(relid, cols, start_lsn, rows, table=("public", "events")):
    msgs = [
        (start_lsn, PG.encode_relation(relid, table[0], table[1], cols)),
        (start_lsn, PG.encode_begin(start_lsn + len(rows) + 1, 777_000_000, xid=1)),
    ]
    lsn = start_lsn
    for op, vals in rows:
        lsn += 1
        if op == "I":
            msgs.append((lsn, PG.encode_insert(relid, vals)))
        elif op == "U":
            msgs.append((lsn, PG.encode_update(relid, vals)))
        elif op == "D":
            msgs.append((lsn, PG.encode_delete(relid, vals)))
    msgs.append((lsn + 1, PG.encode_commit(lsn + 1, lsn + 2, 777_000_000)))
    return msgs


def test_replication_client_against_fake_server():
    cols = ["user_id", "value"]
    server = FakeReplicationServer(
        [
            _txn(16385, cols, 100, [("I", ["1", "10"]), ("I", ["2", "20"])]),
            _txn(16385, cols, 200, [("U", ["1", "11"]), ("D", ["2", None])]),
        ]
    )
    sock = socket.create_connection(("127.0.0.1", server.port))
    client = PG.ReplicationClient(sock, slot="cdc_slot", publication="pub")
    client.create_slot()
    client.start(start_lsn=0)

    changes = []
    for ch in client.poll():
        changes.append(ch)
        client.ack(ch["lsn"])  # flush-then-ack per change

    assert server.slots == ["cdc_slot"]
    assert [c["op"] for c in changes] == ["INSERT", "INSERT", "UPDATE", "DELETE"]
    assert changes[0]["after"] == {"user_id": "1", "value": "10"}
    assert changes[3]["before"] == {"user_id": "2", "value": None}
    client.close()
    server.done.wait(5)
    # ack progression: monotonic flushed LSNs, ending at the last change,
    # and the forced keepalive replies arrived (>= one per transaction)
    flushed = [a["flushed"] for a in server.acks]
    assert flushed == sorted(flushed)
    assert flushed[-1] == changes[-1]["lsn"]
    assert len(server.acks) >= len(changes) + 2


# ---- decode fuzz: random interleavings + mid-stream restarts ---------------
# (r2 verdict item 8: the pgoutput consumer has no oracle and no real
# endpoint — property tests against the scripted server are the hardening.)

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_VALS = st.one_of(
    st.none(),
    st.text(max_size=12),  # incl. "" and unicode from the general alphabet
    st.integers(-10**6, 10**6).map(str),
)


@st.composite
def _scripts(draw):
    """A random replication script: 1-3 relations with distinct column
    layouts, 1-5 transactions (possibly row-less == keepalive-only
    segments), rows mixing INSERT/UPDATE/DELETE with NULL/empty/unicode
    values; every txn re-announces its relation (Postgres sends Relation
    per connection / on change — decoders must tolerate repeats)."""
    rels = {
        16384 + i: [f"c{j}" for j in range(draw(st.integers(1, 4)))]
        for i in range(draw(st.integers(1, 3)))
    }
    txns, expected = [], []
    lsn = 100
    for _ in range(draw(st.integers(1, 5))):
        relid = draw(st.sampled_from(sorted(rels)))
        cols = rels[relid]
        msgs = [
            (lsn, PG.encode_relation(relid, "public", f"t{relid}", cols)),
            (lsn, PG.encode_begin(lsn + 10, 777_000_000, xid=1)),
        ]
        for _ in range(draw(st.integers(0, 4))):
            lsn += 1
            op = draw(st.sampled_from("IUD"))
            vals = [draw(_VALS) for _ in cols]
            if op == "I":
                msgs.append((lsn, PG.encode_insert(relid, vals)))
                exp = ("INSERT", None, tuple(vals))
            elif op == "U":
                old = [draw(_VALS) for _ in cols]
                msgs.append((lsn, PG.encode_update(relid, vals, old_values=old)))
                exp = ("UPDATE", tuple(old), tuple(vals))
            else:
                msgs.append((lsn, PG.encode_delete(relid, vals)))
                exp = ("DELETE", tuple(vals), None)
            expected.append((lsn, f"t{relid}", cols, *exp))
        lsn += 1
        msgs.append((lsn, PG.encode_commit(lsn, lsn + 1, 777_000_000)))
        txns.append(msgs)
        lsn += 10
    return txns, expected


def _row(cols, vals):
    return dict(zip(cols, vals)) if vals is not None else None


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(data=st.data())
def test_fuzz_decode_with_restart(data):
    """Contract fuzz: whatever valid interleaving the server emits —
    keepalive-only txns, repeated Relation announcements, NULL/empty/
    unicode values — the client decodes exactly the expected changes; and
    a mid-stream kill + resume from the acked LSN re-delivers a suffix
    that, deduped by LSN (the at-least-once + idempotent-apply contract,
    R12), reconstructs the same change list."""
    txns, expected = data.draw(_scripts())
    cut = data.draw(st.integers(0, len(expected)))

    server = FakeReplicationServer(txns, max_connections=2)
    sock = socket.create_connection(("127.0.0.1", server.port))
    client = PG.ReplicationClient(sock, slot="fz", publication="pub")
    client.create_slot()
    client.start(start_lsn=0)

    got: dict[int, dict] = {}
    n = 0
    for ch in client.poll():
        got[ch["lsn"]] = ch
        client.ack(ch["lsn"])
        n += 1
        if n >= cut:
            break
    client.close()  # mid-stream kill (possibly mid-transaction)

    sock2 = socket.create_connection(("127.0.0.1", server.port))
    client2 = PG.ReplicationClient(sock2, slot="fz", publication="pub")
    client2.start(start_lsn=client.flushed_lsn)
    for ch in client2.poll():
        got[ch["lsn"]] = ch  # LSN-keyed upsert == idempotent re-apply
        client2.ack(ch["lsn"])
    client2.close()

    assert sorted(got) == [e[0] for e in expected]
    for lsn, table, cols, op, before, after in expected:
        ch = got[lsn]
        assert ch["op"] == op and ch["table_name"] == table
        assert ch["before"] == _row(cols, before)
        assert ch["after"] == _row(cols, after)


def test_socket_to_segments_to_spark_pgwal(spark):
    # full live path: socket -> run_live_consumer -> pgwal DataSource ->
    # micro-batches -> checkpoint commit log -> forward_checkpoint_acks
    cols = ["user_id", "value"]
    server = FakeReplicationServer(
        [
            _txn(1, cols, 1000, [("I", ["1", "1.5"]), ("I", ["2", "2.5"])]),
            _txn(1, cols, 2000, [("U", ["1", "9.9"])]),
        ]
    )
    sock = socket.create_connection(("127.0.0.1", server.port))
    client = PG.ReplicationClient(sock, slot="s2", publication="pub")
    client.create_slot()
    client.start()

    work = tempfile.mkdtemp(prefix="pgwal_live_")
    seg_dir = os.path.join(work, "segments")
    ckpt = os.path.join(work, "ckpt")
    # returns when the server ends the stream; nothing is committed yet
    assert PG.run_live_consumer(client, seg_dir, ckpt, batch_size=2) == -1
    from go_pq_cdc_elasticsearch_spark.sources.wal import list_segments, register

    staged = [json.loads(ln) for _, p in list_segments(seg_dir) for ln in open(p)]
    assert len(staged) == 3

    register(spark)
    q = (
        spark.readStream.format("pgwal")
        .option("path", seg_dir)
        .load()
        .writeStream.format("parquet")
        .option("path", os.path.join(work, "out"))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["lsn"]: r for r in spark.read.parquet(os.path.join(work, "out")).collect()}
    assert sorted(rows) == [1001, 1002, 2001]
    assert {r["op"] for r in rows.values()} == {"INSERT", "UPDATE"}
    assert rows[1001]["after"]["user_id"] == "1"
    assert rows[2001]["after"]["value"] == "9.9"

    # the checkpoint's commit log covers the final batch; the consumer
    # loop forwards it as the ack
    before = len(server.acks)
    last = PG.forward_checkpoint_acks(client, ckpt)
    assert last == PG.committed_checkpoint_lsn(ckpt) == 2001
    server.done.wait(5)
    assert len(server.acks) > before
    # the ack on the wire is NOT the raw stamp frontier: ack_frontier
    # translates it to the commit-record END lsn of the newest fully-
    # delivered txn covered by the frontier (acking row stamps could
    # over-ack under interleaved delivery; acking commit ends is exact).
    # _txn(..., 2000, [1 row]) scripts row 2001, commit 2002, end 2003.
    assert server.acks[-1]["flushed"] == 2003
    client.close()


def test_startup_handshake_and_realistic_slot_create():
    """The live path against a realistic server: StartupMessage handshake
    (AuthenticationOk/ParameterStatus/ReadyForQuery), then
    CREATE_REPLICATION_SLOT answered with a one-row RESULT SET
    (RowDescription/DataRow/CommandComplete/ReadyForQuery) — consuming
    only one frame desynced the subsequent START_REPLICATION. Re-creating
    the same slot gets ErrorResponse 42710 and must be idempotent."""
    import socket

    relid, cols = 7, ["id", "v"]
    txns = [_txn(relid, cols, 0, [("I", ["1", "x"])])]
    srv = FakeReplicationServer(txns, keepalive_each_txn=False, max_connections=2)
    for _round in range(2):  # second round: slot already exists (42710)
        sock = socket.create_connection(("127.0.0.1", srv.port))
        c = PG.ReplicationClient(sock, slot="s1")
        c.startup(user="app", database="appdb")
        c.create_slot()
        c.start()
        changes = [ch for ch in c.poll() if ch is not None]
        assert [ch["after"]["id"] for ch in changes] == ["1"]
        sock.close()
    assert srv.slots == ["s1"]
    assert srv.startups[0]["user"] == "app"
    assert srv.startups[0]["replication"] == "database"


def test_poll_raises_on_error_response():
    """A mid-stream ErrorResponse (slot invalidation, wal_sender_timeout)
    must surface, not read as a clean end of stream."""
    import io

    c = PG.ReplicationClient.__new__(PG.ReplicationClient)
    c.decoder = PG.PgOutputDecoder()
    c.flushed_lsn = 0
    c.last_wal_end = 0
    c.frames_seen = 0
    c._pending_stream = None
    buf = PG.frame(b"E", b"SERROR\x00C57P01\x00Mterminating connection\x00\x00")
    c.file = io.BytesIO(buf)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="57P01"):
        list(c.poll())


def test_read_frame_truncated_is_eof():
    # ADVICE r3: a peer dying mid-frame (short header or short body) is
    # end-of-stream, not a struct.error — so run_live_consumer's trailing
    # segment flush still runs on an abrupt server crash.
    import io

    # truncated length header
    assert PG.read_frame(io.BytesIO(b"d\x00\x00")) == (b"", b"")
    # truncated body: header promises 16 payload bytes, 3 arrive
    frame = b"d" + __import__("struct").pack("!I", 20) + b"abc"
    assert PG.read_frame(io.BytesIO(frame)) == (b"", b"")


def test_parse_error_response_truncated_field():
    # ADVICE r3: a malformed ErrorResponse (no NUL terminator on the last
    # field) must not raise from the error-REPORTING path — the partial
    # diagnostic is returned instead.
    body = b"SFATAL\x00Mterminating conn"  # M field lost its terminator
    fields = PG.parse_error_response(body)
    assert fields["S"] == "FATAL"
    assert fields["M"] == "terminating conn"


def test_read_frame_corrupt_length_header_is_eof():
    # a length header below the protocol minimum (4) would make the body
    # read a NEGATIVE size — on a file object that slurps the remaining
    # stream into one "frame" and desyncs the protocol; must report EOF
    import io
    import struct as _struct

    frame = b"d" + _struct.pack("!I", 2) + b"garbage-that-follows"
    assert PG.read_frame(io.BytesIO(frame)) == (b"", b"")
    assert PG.read_frame(io.BytesIO(b"d" + _struct.pack("!I", 0))) == (b"", b"")


def test_read_frame_exact_reads_on_chunked_stream():
    # an unbuffered socket file may return SHORT reads on any syscall
    # boundary; read_frame must reassemble the frame exactly
    class OneByte:
        def __init__(self, data):
            self.data = data
            self.pos = 0

        def read(self, n):
            if self.pos >= len(self.data):
                return b""
            b = self.data[self.pos : self.pos + 1]  # always short
            self.pos += 1
            return b

    body = b"k" + b"\x01" * 17
    framed = PG.frame(b"d", body)
    assert PG.read_frame(OneByte(framed)) == (b"d", body)


def test_poll_idle_timeout_yields_heartbeats():
    # a silent socket must not starve the consumer loop: with
    # idle_timeout set, poll yields None heartbeats at that cadence
    # (keepalives alone arrive only every ~wal_sender_timeout/2)
    import socket
    import time

    a, b = socket.socketpair()
    try:
        client = PG.ReplicationClient(a, slot="s")
        gen = client.poll(heartbeat=True, idle_timeout=0.05)
        t0 = time.time()
        assert next(gen) is None  # nothing on the wire -> idle heartbeat
        assert next(gen) is None
        assert time.time() - t0 < 2.0
        # real data still flows after idle ticks: send one keepalive
        ka = PG.copy_data(b"k" + __import__("struct").pack("!QQB", 7, 0, 0))
        b.sendall(ka)  # copy_data already frames the payload
        # the next few yields may be idle ticks racing the send — drain
        # until the keepalive is decoded (bounded)
        for _ in range(50):
            assert next(gen) is None
            if client.last_wal_end == 7:
                break
        assert client.last_wal_end == 7
    finally:
        a.close()
        b.close()


def test_client_close_wakes_blocked_reader():
    # close() must shutdown() the socket so a consumer thread blocked in
    # read_frame wakes with EOF instead of holding the connection open
    import socket
    import threading
    import time

    a, b = socket.socketpair()
    client = PG.ReplicationClient(a, slot="s")
    done = threading.Event()

    def consume():
        for _ in client.poll():
            pass
        done.set()

    t = threading.Thread(target=consume, daemon=True)
    t.start()
    time.sleep(0.2)  # let the reader block in recv
    client.close()
    assert done.wait(5.0), "blocked reader was not woken by close()"
    b.close()


def test_interleaved_txns_get_monotone_stamps_and_safe_acks():
    """pgoutput delivers TRANSACTIONS in commit order, so an interleaved
    txn's rows can carry wal_start positions BELOW already-delivered rows.
    Unclamped, those rows would be stamped below the stream frontier and
    silently dropped by the (start, end] filter (permanent data loss) —
    review finding r5. The client must (a) stamp monotonically while
    keeping true positions when already monotone, and (b) ack via commit
    ends, never via possibly-clamped stamps."""
    cols = ["id", "v"]
    relid = 1
    # txn A: rows at wal 100,101, commit record 200 (end 205)
    # txn B: rows at wal 50,51 (WRITTEN EARLIER, commits later) — delivered
    # second with commit record 300 (end 305)
    txn_a = [
        (10, PG.encode_relation(relid, "public", "t", cols)),
        (100, PG.encode_begin(200, 777_000_000, xid=1)),
        (100, PG.encode_insert(relid, ["1", "a"])),
        (101, PG.encode_insert(relid, ["2", "b"])),
        (200, PG.encode_commit(200, 205, 777_000_000)),
    ]
    txn_b = [
        (50, PG.encode_begin(300, 777_000_000, xid=2)),
        (50, PG.encode_insert(relid, ["3", "c"])),
        (51, PG.encode_insert(relid, ["4", "d"])),
        (300, PG.encode_commit(300, 305, 777_000_000)),
    ]
    server = FakeReplicationServer([txn_a, txn_b], keepalive_each_txn=False)
    sock = socket.create_connection(("127.0.0.1", server.port))
    client = PG.ReplicationClient(sock, slot="s_il")
    client.create_slot()
    client.start()
    changes = [ch for ch in client.poll() if ch is not None]
    stamps = [ch["lsn"] for ch in changes]
    # A keeps true positions; B is clamped past A's stamps
    assert stamps == [100, 101, 102, 103]
    assert [ch["after"]["id"] for ch in changes] == ["1", "2", "3", "4"]
    assert list(client.txn_bounds) == [(101, 205), (103, 305)]

    # frontier covering only txn A acks A's commit END (205), not stamp 101
    assert client.ack_frontier(101) == 205
    # frontier mid-txn-B acks nothing more (at-least-once direction)
    assert client.ack_frontier(102) == -1
    # full frontier acks B's commit end
    assert client.ack_frontier(103) == 305
    server.done.wait(5)
    assert [a["flushed"] for a in server.acks][-2:] == [205, 305]
    client.close()


def test_truncate_frames_counted_not_dropped_silently():
    """VERDICT r6 item 7: pgoutput Truncate frames are skipped (reference
    parity — truncation is NOT replicated as deletes) but must be
    observable: counter + per-table record + warning, so a truncated
    source table's now-stale view rows don't vanish without a trace."""
    import logging

    dec = PG.PgOutputDecoder()
    dec.decode(PG.encode_relation(7, "public", "users", ["id"]), 10)
    dec.decode(PG.encode_relation(9, "public", "books", ["id"]), 11)
    assert dec.truncate_skipped == 0

    rec = []
    h = logging.Handler()
    h.emit = lambda r: rec.append(r.getMessage())
    logging.getLogger("go_pq_cdc_elasticsearch_spark.sources.pgoutput").addHandler(h)
    try:
        out = dec.decode(PG.encode_truncate([7, 9], flags=2), 20)
    finally:
        logging.getLogger(
            "go_pq_cdc_elasticsearch_spark.sources.pgoutput"
        ).removeHandler(h)
    assert out is None  # skipped, like the reference
    assert dec.truncate_skipped == 2
    assert dec.truncated_tables == ["public.users", "public.books"]
    assert rec and "public.users" in rec[0] and "stale" in rec[0]

    # unknown relid (Truncate before its Relation frame): still counted
    dec.decode(PG.encode_truncate([42]), 21)
    assert dec.truncate_skipped == 3
    assert dec.truncated_tables[-1] == "relid=42"

    # the record list is bounded; the counter is not
    for _ in range(400):
        dec.decode(PG.encode_truncate([7]), 22)
    assert dec.truncate_skipped == 403
    assert len(dec.truncated_tables) == dec._TRUNCATED_TABLES_CAP


def test_truncate_tombstone_mode_emits_positioned_changes():
    """on_truncate='tombstone_table' (r10, VERDICT r9 item 4): a Truncate
    frame yields one synthetic change per KNOWN relation — op TRUNCATE,
    no row images, positioned at the frame's lsn — while the
    observability counter still fires. Unknown relids emit nothing."""
    dec = PG.PgOutputDecoder(on_truncate="tombstone_table")
    dec.decode(PG.encode_relation(7, "public", "users", ["id"]), 10)
    dec.decode(PG.encode_relation(9, "public", "books", ["id"]), 11)
    dec.decode(PG.encode_begin(500, 777_000_000, 42), 12)
    out = dec.decode(PG.encode_truncate([7, 9], flags=2), 20)
    assert isinstance(out, list) and len(out) == 2
    assert [c["table_name"] for c in out] == ["users", "books"]
    for c in out:
        assert c["op"] == "TRUNCATE"
        assert c["before"] is None and c["after"] is None
        assert c["lsn"] == 20 and c["ts"] is not None
    assert dec.truncate_skipped == 2
    # unknown relid: counted, no tombstone
    assert dec.decode(PG.encode_truncate([42]), 21) is None
    assert dec.truncate_skipped == 3


def test_truncate_tombstone_v2_is_transactional():
    """In-stream (v2) TRUNCATE tombstones are buffered with the streamed
    txn: delivered in position at Stream Commit, DROPPED on Stream Abort
    — a view must never empty for a rolled-back TRUNCATE."""
    dec = PG.PgOutputDecoder(on_truncate="tombstone_table")
    relid = 7
    dec.decode(PG.encode_relation(relid, "public", "users", ["id"]), 5)
    # committed stream: insert, truncate, insert
    dec.decode(PG.encode_stream_start(900), 10)
    dec.decode(
        PG.in_stream(900, PG.encode_relation(relid, "public", "users", ["id"])),
        10,
    )
    dec.decode(PG.in_stream(900, PG.encode_insert(relid, ["1"])), 11)
    assert dec.decode(PG.in_stream(900, PG.encode_truncate([relid])), 12) is None
    dec.decode(PG.in_stream(900, PG.encode_insert(relid, ["2"])), 13)
    sc = dec.decode(PG.encode_stream_commit(900, 90, 91, 777_000_000), 20)
    ops = [(c["op"], c["lsn"]) for c in sc.changes]
    assert ops == [("INSERT", 11), ("TRUNCATE", 12), ("INSERT", 13)]
    assert dec.truncate_skipped == 1

    # aborted stream: the tombstone must vanish with the txn
    dec.decode(PG.encode_stream_start(901), 30)
    assert dec.decode(PG.in_stream(901, PG.encode_truncate([relid])), 31) is None
    dec.decode(PG.encode_stream_abort(901, 901), 32)
    assert 901 not in dec.streamed
    # counter still fired (over-alerting on aborts is the documented
    # safe direction)
    assert dec.truncate_skipped == 2


def test_truncate_tombstones_flow_through_poll(tmp_path):
    """v1 path end-to-end over a socket: tombstones arrive through
    poll() with monotone stamps interleaved with ordinary rows, and the
    txn's commit bound still acks (ack_frontier covers the tombstone)."""
    import socket

    relid, cols = 7, ["id"]
    txn = [
        (100, PG.encode_relation(relid, "public", "users", cols)),
        (100, PG.encode_begin(105, 777_000_000, 42)),
        (101, PG.encode_insert(relid, ["1"])),
        (102, PG.encode_truncate([relid])),
        (103, PG.encode_insert(relid, ["2"])),
        (104, PG.encode_commit(104, 105, 777_000_000)),
    ]
    srv = FakeReplicationServer([txn])
    sock = socket.create_connection(("127.0.0.1", srv.port))
    c = PG.ReplicationClient(sock, slot="s_t", on_truncate="tombstone_table")
    c.create_slot()
    c.start()
    got = [ch for ch in c.poll() if ch is not None]
    assert [ch["op"] for ch in got] == ["INSERT", "TRUNCATE", "INSERT"]
    lsns = [ch["lsn"] for ch in got]
    assert lsns == sorted(lsns)
    # the ack frontier covering all stamps resolves to the commit end lsn
    c.ack_frontier(lsns[-1])
    assert c.flushed_lsn > 0
    c.close()


def test_ack_frontier_failed_send_keeps_bounds_for_retry():
    """ADVICE r6: ack_frontier must not pop txn_bounds before the
    StandbyStatusUpdate actually goes out — a send failure (socket error
    mid-close/reconnect) that discards the popped bounds would make that
    frontier permanently un-ackable on this connection, stalling
    restart_lsn advance until newer commits arrive."""
    import collections

    a, b = socket.socketpair()
    client = PG.ReplicationClient(a, slot="s_retry")
    client.txn_bounds = collections.deque([(101, 205), (103, 305)])

    real_ack = client.ack
    calls = {"n": 0}

    def flaky_ack(lsn):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("connection reset mid-ack")
        return real_ack(lsn)

    client.ack = flaky_ack
    try:
        client.ack_frontier(101)
        raise AssertionError("expected the flaky ack to raise")
    except OSError:
        pass
    # bounds intact: the failed frontier is still re-ackable
    assert list(client.txn_bounds) == [(101, 205), (103, 305)]
    assert client.ack_frontier(101) == 205
    assert list(client.txn_bounds) == [(103, 305)]
    client.close()
    b.close()


def test_txn_bounds_cap_coalesces_without_over_acking():
    """ADVICE r6: with the Spark side not committing (no ack_frontier
    drains) while the walsender keeps delivering, txn_bounds must stay
    bounded. The pairwise merge may only COARSEN acks (a frontier acks an
    older-or-equal commit end, never a newer one)."""
    import collections

    a, b = socket.socketpair()
    client = PG.ReplicationClient(a, slot="s_cap")
    client.TXN_BOUNDS_CAP = 8
    # simulate the Commit-frame handler's append+merge for 100 txns:
    # txn i has last stamp 10*i and commit end 10*i + 5
    for i in range(1, 101):
        with client._ack_lock:
            client.txn_bounds.append((10 * i, 10 * i + 5))
            if len(client.txn_bounds) >= client.TXN_BOUNDS_CAP:
                merged = collections.deque()
                bounds = list(client.txn_bounds)
                for j in range(1, len(bounds), 2):
                    merged.append(bounds[j])
                if len(bounds) % 2:
                    merged.append(bounds[-1])
                client.txn_bounds = merged
    assert len(client.txn_bounds) < client.TXN_BOUNDS_CAP
    stamps = [s for s, _ in client.txn_bounds]
    ends = [e for _, e in client.txn_bounds]
    # monotone ascending preserved, newest txn always retained exactly
    assert stamps == sorted(stamps) and ends == sorted(ends)
    assert client.txn_bounds[-1] == (1000, 1005)
    # every surviving entry is a REAL (stamp, end) pair from the stream,
    # and a frontier never acks past the commit end it fully covers
    for s, e in client.txn_bounds:
        assert e == s + 5
    sent = []
    client.ack = lambda lsn: sent.append(lsn)
    # a frontier may land between surviving (merged-away) entries: the ack
    # is coarsened DOWN — either an older covered end or nothing (-1),
    # never a commit end past the frontier
    got = client.ack_frontier(555)
    assert got == -1 or (got in ends and got <= 555 + 5)
    # the newest entry is always retained exactly, so a full frontier
    # acks the true newest commit end
    assert client.ack_frontier(1000) == 1005
    assert sent == [1005]
    client.close()
    b.close()


def test_txn_bounds_merge_in_poll_path():
    """End-to-end: the cap engages inside poll()'s Commit handler (not just
    the simulated merge above) and the stream still acks correctly."""
    cols = ["id"]
    relid = 1
    txns = []
    for i in range(1, 13):
        base = 100 * i
        txns.append([
            (base, PG.encode_begin(base + 50, 777_000_000, xid=i)),
            (base, PG.encode_insert(relid, [str(i)])),
            (base + 50, PG.encode_commit(base + 50, base + 55, 777_000_000)),
        ])
    txns[0].insert(0, (10, PG.encode_relation(relid, "public", "t", cols)))
    server = FakeReplicationServer(txns, keepalive_each_txn=False)
    sock = socket.create_connection(("127.0.0.1", server.port))
    client = PG.ReplicationClient(sock, slot="s_cap_poll")
    client.TXN_BOUNDS_CAP = 4
    client.create_slot()
    client.start()
    changes = [ch for ch in client.poll() if ch is not None]
    assert len(changes) == 12
    assert len(client.txn_bounds) < 8  # merged at least once
    # full frontier still acks the NEWEST commit end exactly
    newest = changes[-1]["lsn"]
    assert client.ack_frontier(newest) == 1255
    server.done.wait(5)
    assert server.acks[-1]["flushed"] == 1255
    client.close()


def test_prune_segments_respects_frontier_and_keeps_newest():
    from go_pq_cdc_elasticsearch_spark.sources import wal as W

    d = tempfile.mkdtemp(prefix="prune_")

    def seg(lsns):
        W.write_wal_segment(
            d,
            [{"lsn": n, "op": "INSERT", "table_schema": "public",
              "table_name": "t", "before": None, "after": {"id": str(n)},
              "ts": "t"} for n in lsns],
        )

    seg(range(1, 11))
    seg(range(11, 21))
    seg(range(21, 31))
    # frontier 15: only the first segment is exhausted (second's range
    # runs to successor.start-1 = 20 > 15)
    assert W.prune_segments(d, 15) == 1
    assert [s for s, _ in W.list_segments(d)] == [11, 21]
    # frontier 30: second goes too; the newest is ALWAYS kept
    assert W.prune_segments(d, 30) == 1
    assert [s for s, _ in W.list_segments(d)] == [21]
    assert W.max_segment_lsn(d) == 30


def test_run_live_consumer_seeds_stamps_above_existing_segments():
    """After a crash/reconnect, redelivered (unacked) txns must be stamped
    ABOVE every stamp already flushed by the previous consumer — else the
    Spark checkpoint frontier filters them out forever."""
    from go_pq_cdc_elasticsearch_spark.sources import wal as W

    d = tempfile.mkdtemp(prefix="seed_")
    W.write_wal_segment(
        d,
        [{"lsn": 500, "op": "INSERT", "table_schema": "public",
          "table_name": "t", "before": None, "after": {"id": "old"},
          "ts": "t"}],
    )
    cols = ["id", "v"]
    server = FakeReplicationServer(
        [_txn(1, cols, 100, [("I", ["9", "x"])])], keepalive_each_txn=False
    )
    sock = socket.create_connection(("127.0.0.1", server.port))
    client = PG.ReplicationClient(sock, slot="s_seed")
    client.create_slot()
    client.start()
    PG.run_live_consumer(
        client, d, os.path.join(d, "ckpt"),
        batch_size=1, ack_interval_sec=9, flush_interval_sec=9,
    )
    stamps = sorted(
        json.loads(line)["lsn"]
        for s, p in W.list_segments(d)
        for line in open(p)
    )
    # the redelivered row (true wal 101) is stamped past the on-disk 500
    assert stamps == [500, 501]
    client.close()


def test_graceful_copy_done_is_answered(spark=None):
    """Review r6: server CopyDone is a TOP-LEVEL frame (WalSndDone), and
    the server waits for the client's CopyDone reply before finishing —
    a skipped frame hung the consumer until wal_sender_timeout. The fake
    now frames CopyDone correctly and records the client's answer."""
    cols = ["id"]
    relid = 1
    txns = [[
        (10, PG.encode_relation(relid, "public", "t", cols)),
        (100, PG.encode_begin(200, 777_000_000, xid=1)),
        (100, PG.encode_insert(relid, ["1"])),
        (200, PG.encode_commit(200, 205, 777_000_000)),
    ]]
    server = FakeReplicationServer(txns, keepalive_each_txn=False)
    sock = socket.create_connection(("127.0.0.1", server.port))
    client = PG.ReplicationClient(sock, slot="s_cdone")
    client.create_slot()
    client.start()
    changes = [ch for ch in client.poll() if ch is not None]
    assert len(changes) == 1  # stream drained, then ended gracefully
    deadline = __import__("time").time() + 5
    while server.copy_done_replies < 1 and __import__("time").time() < deadline:
        __import__("time").sleep(0.05)
    assert server.copy_done_replies == 1
    client.close()


def test_idle_ack_sweep_drains_filtered_txn_bounds():
    """Review r6 (WAL-retention pinning): with the Spark frontier STATIC
    (no new rows reach the stream — unpublished-table or TRUNCATE-only
    upstream traffic), newly delivered empty/filtered transactions'
    commit ends must still ack, or confirmed_flush pins forever."""
    import collections
    import tempfile

    a, b = socket.socketpair()
    client = PG.ReplicationClient(a, slot="s_idle")
    sent = []
    client.ack = lambda lsn: sent.append(lsn)

    # frontier stamp 5 already acked once; two empty txns arrive later
    # with the SAME last stamp (no rows) but newer commit ends
    client.txn_bounds = collections.deque([(5, 300), (5, 400)])
    ckpt = tempfile.mkdtemp(prefix="idle_ckpt_")
    import json as _json
    import os as _os

    _os.makedirs(_os.path.join(ckpt, "commits"))
    _os.makedirs(_os.path.join(ckpt, "offsets"))
    with open(_os.path.join(ckpt, "commits", "0"), "w") as f:
        f.write("{}")
    with open(_os.path.join(ckpt, "offsets", "0"), "w") as f:
        f.write('{"lsn": 5}\n')
    last = PG.forward_checkpoint_acks(client, ckpt, last_acked=5)
    assert last == 5 and sent == [400]  # newest covered commit end acked
    assert not client.txn_bounds
    client.close()
    b.close()


def test_committed_checkpoint_lsn_degrades_on_partial_files():
    """Review r6: a zero-byte offsets file (IndexError) or a non-dict
    last line must return -1, not escape as a 'non-reconnectable' error
    that permanently halts the supervised consumer."""
    import os as _os
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="part_ckpt_")
    _os.makedirs(_os.path.join(ckpt, "commits"))
    _os.makedirs(_os.path.join(ckpt, "offsets"))
    with open(_os.path.join(ckpt, "commits", "3"), "w") as f:
        f.write("{}")
    # zero-byte offsets file: transient mid-write state
    open(_os.path.join(ckpt, "offsets", "3"), "w").close()
    assert PG.committed_checkpoint_lsn(ckpt) == -1
    # non-dict last line
    with open(_os.path.join(ckpt, "offsets", "3"), "w") as f:
        f.write("3\n")
    assert PG.committed_checkpoint_lsn(ckpt) == -1
    # healthy record still parses
    with open(_os.path.join(ckpt, "offsets", "3"), "w") as f:
        f.write('{"lsn": 42}\n')
    assert PG.committed_checkpoint_lsn(ckpt) == 42


def test_idle_keepalive_ack_extends_frontier_when_caught_up():
    """WAL-retention fix (round 7, proven live by the soak storm test
    before the fix existed): PG >= 15 skips empty transactions wholesale —
    publication-filtered traffic arrives as NOTHING but keepalives whose
    wal_end (walsender sentPtr) advances. A caught-up consumer must
    confirm that progress or confirmed_flush/restart_lsn pin at the last
    published commit and the primary retains WAL without bound.

    Safety gates under test:
      (a) keepalive wal_end is recorded into idle_wal_end only when NOT
          mid-transaction (frames are ordered, so such a position is
          strictly below any unread commit record);
      (b) the extension is acked only with zero pending txn_bounds AND a
          frontier covering every delivered stamp;
      (c) an unchanged idle position is not re-acked.
    """
    a, b = socket.socketpair()
    try:
        client = PG.ReplicationClient(a, slot="s_idle")
        gen = client.poll(heartbeat=True, idle_timeout=0.05)
        sent = []

        def fake_ack(lsn):
            # capture instead of wire, but keep the production flushed_lsn
            # monotone update — the re-ack guard depends on it
            sent.append(lsn)
            client.flushed_lsn = max(client.flushed_lsn, lsn)

        client.ack = fake_ack

        def drive(frames: bytes, until):
            b.sendall(frames)
            for _ in range(400):
                next(gen)
                if until():
                    return
            raise AssertionError("condition never reached")

        def w(wal_start: int, payload: bytes) -> bytes:
            return PG.copy_data(
                b"w" + struct.pack("!QQQ", wal_start, wal_start, 0) + payload
            )

        def ka(wal_end: int) -> bytes:
            return PG.copy_data(b"k" + struct.pack("!QQB", wal_end, 0, 0))

        relid = 99
        # txn1 delivered in full: one insert at 100, commit end 205
        drive(
            w(10, PG.encode_relation(relid, "public", "t", ["id"]))
            + w(100, PG.encode_begin(200, 777_000_000, xid=1))
            + w(100, PG.encode_insert(relid, ["1"]))
            + w(200, PG.encode_commit(200, 205, 777_000_000)),
            lambda: len(client.txn_bounds) == 1,
        )

        # gate (a): a keepalive INSIDE txn2 must not be recorded — its
        # wal_end can exceed txn2's still-unread commit record
        drive(
            w(300, PG.encode_begin(400, 777_000_000, xid=2)) + ka(400),
            lambda: client.last_wal_end >= 400,
        )
        assert client.idle_wal_end == 0
        # frontier covers txn1 -> its commit end is acked; no idle
        # extension (mid-txn keepalive was gated out)
        assert client.ack_frontier(100) == 205
        assert sent == [205]

        # txn2 completes; its commit end acks normally
        drive(
            w(300, PG.encode_insert(relid, ["2"]))
            + w(400, PG.encode_commit(400, 405, 777_000_000)),
            lambda: len(client.txn_bounds) == 1,
        )
        assert client.ack_frontier(300) == 405
        assert sent == [205, 405]

        # between-txn keepalive IS recorded, and gate (b) passes: bounds
        # empty + frontier covers everything delivered -> extension acked
        drive(ka(500), lambda: client.idle_wal_end >= 500)
        assert client.ack_frontier(300) == 500
        assert sent == [205, 405, 500]
        # gate (c): unchanged idle position is not re-acked
        assert client.ack_frontier(300) == -1
        assert sent == [205, 405, 500]

        # gate (b) again: a newer keepalive lands, but txn3 is delivered
        # and NOT yet covered by the frontier -> no extension past it
        drive(
            w(600, PG.encode_begin(700, 777_000_000, xid=3))
            + w(600, PG.encode_insert(relid, ["3"]))
            + w(700, PG.encode_commit(700, 705, 777_000_000))
            + ka(800),
            lambda: client.idle_wal_end >= 800,
        )
        assert client.ack_frontier(300) == -1  # frontier below txn3
        assert sent == [205, 405, 500]
        # full frontier: txn3's commit end goes out, then the idle
        # extension rides the same sweep
        assert client.ack_frontier(600) == 800
        assert sent == [205, 405, 500, 705, 800]
    finally:
        a.close()
        b.close()


def test_fresh_slot_idle_drain_without_any_committed_frontier():
    """Review r7: on a FRESH slot whose published tables are quiet while
    unpublished ones are busy, no Spark batch ever commits — the ack
    sweeps must still reach ack_frontier (with the stamp-0 frontier) so
    the idle keepalive extension can advance the slot, with no commits/
    dir in the checkpoint at all."""
    import tempfile as _tf

    a, b = socket.socketpair()
    try:
        client = PG.ReplicationClient(a, slot="s_fresh")
        sent = []

        def fake_ack(lsn):
            sent.append(lsn)
            client.flushed_lsn = max(client.flushed_lsn, lsn)

        client.ack = fake_ack
        # caught up by construction: nothing delivered, no bounds; a
        # between-txn keepalive recorded decode progress at 12345
        client.idle_wal_end = 12345

        ckpt = _tf.mkdtemp(prefix="fresh_ckpt_")  # no commits/ inside
        assert PG.committed_checkpoint_lsn(ckpt) == -1
        PG.forward_checkpoint_acks(client, ckpt, last_acked=-1)
        assert sent == [12345]

        # and NOT when something was delivered but never committed
        # downstream: the frontier (0) no longer covers last_stamp
        client.last_stamp = 99
        client.idle_wal_end = 34567
        PG.forward_checkpoint_acks(client, ckpt, last_acked=-1)
        assert sent == [12345]
    finally:
        a.close()
        b.close()


def test_receiver_timeout_ends_consumer_on_silent_link(tmp_path):
    """Review r7 (wal_receiver_timeout analog): a connection that dies
    without FIN/RST never wakes select(), so poll() heartbeats forever
    and the supervisor never gets to reconnect. run_live_consumer must
    treat a stretch with NO frame at all as a dead link and return."""
    import threading
    import time as _time

    a, b = socket.socketpair()
    try:
        client = PG.ReplicationClient(a, slot="s_liveness")
        done = threading.Event()

        def run():
            PG.run_live_consumer(
                client, str(tmp_path / "seg"), str(tmp_path / "ckpt"),
                ack_interval_sec=0.1, flush_interval_sec=0.1,
                receiver_timeout_sec=1.0,
            )
            done.set()

        t = threading.Thread(target=run, daemon=True)
        t0 = _time.time()
        t.start()
        # total silence on the socket: the consumer must give up on its
        # own (no stop_event, no socket error)
        assert done.wait(15), "consumer never detected the dead link"
        assert _time.time() - t0 >= 0.9  # not a spurious instant exit
    finally:
        a.close()
        b.close()


def test_receiver_timeout_not_tripped_by_keepalives(tmp_path):
    """The inverse: a link carrying only keepalives (healthy idle stream)
    must NOT be treated as dead — frames reset the liveness clock."""
    import threading
    import time as _time

    a, b = socket.socketpair()
    stop = threading.Event()
    try:
        client = PG.ReplicationClient(a, slot="s_live2")
        done = threading.Event()

        def run():
            PG.run_live_consumer(
                client, str(tmp_path / "seg2"), str(tmp_path / "ckpt2"),
                stop_event=stop,
                ack_interval_sec=0.1, flush_interval_sec=0.1,
                receiver_timeout_sec=1.0,
            )
            done.set()

        t = threading.Thread(target=run, daemon=True)
        t.start()
        # keepalives every 0.4 s for 2.5 s — well past the 1 s timeout,
        # but each frame resets the clock
        for _ in range(6):
            b.sendall(PG.copy_data(PG.keepalive(100, 0, False)))
            _time.sleep(0.4)
        assert not done.is_set(), "healthy keepalive-only link declared dead"
        stop.set()
        assert done.wait(10)
    finally:
        a.close()
        b.close()


# ---- pgoutput protocol v2: streamed in-progress transactions ----------------
# (round-8: closes the "What's missing" v2 gap — large txns arrive while
# still open; the client buffers per xid, spills past a threshold, discards
# on abort, and releases at Stream Commit so delivery stays commit-ordered.)


def test_v2_streamed_txn_interleaved_with_normal_txn():
    cols = ["id", "v"]
    relid = 500
    # streamed txn 900: segment 1, then a NORMAL txn commits in between,
    # then segment 2 and the stream commit — the walsender's actual
    # interleaving shape for a large in-progress txn
    seg1 = [
        (1000, PG.encode_stream_start(900)),
        (1000, PG.in_stream(900, PG.encode_relation(relid, "public", "events", cols))),
        (1001, PG.in_stream(900, PG.encode_insert(relid, ["1", "a"]))),
        (1002, PG.in_stream(900, PG.encode_insert(relid, ["2", "b"]))),
        (1003, PG.encode_stream_stop()),
    ]
    normal = _txn(relid, cols, 2000, [("I", ["9", "z"])])
    seg2 = [
        (3000, PG.encode_stream_start(900, first_segment=False)),
        (3001, PG.in_stream(900, PG.encode_insert(relid, ["3", "c"]))),
        (3002, PG.encode_stream_stop()),
        (3100, PG.encode_stream_commit(900, 3100, 3101, 777_000_000)),
    ]
    server = FakeReplicationServer(
        [seg1, normal, seg2], keepalive_each_txn=False
    )
    sock = socket.create_connection(("127.0.0.1", server.port))
    client = PG.ReplicationClient(
        sock, slot="v2_slot", publication="pub", proto_version=2
    )
    client.create_slot()
    client.start(start_lsn=0)
    changes = list(client.poll())

    # START_REPLICATION asked for v2 + streaming
    assert server.start_queries, "no START_REPLICATION captured"
    assert "proto_version '2'" in server.start_queries[0]
    assert "streaming 'on'" in server.start_queries[0]

    # the NORMAL txn is delivered first (it committed first); the
    # streamed txn's rows are all held until Stream Commit
    assert [c["after"]["id"] for c in changes] == ["9", "1", "2", "3"]
    # stamps strictly increasing despite the streamed rows' older
    # decode-time wal positions
    stamps = [c["lsn"] for c in changes]
    assert stamps == sorted(stamps) and len(set(stamps)) == len(stamps)
    # streamed rows carry the STREAM COMMIT's timestamp, not a stale one
    streamed_ts = {c["ts"] for c in changes[1:]}
    assert len(streamed_ts) == 1 and None not in streamed_ts
    # counters
    assert client.decoder.stream_txns_started == 1
    assert client.decoder.stream_txns_committed == 1
    assert client.decoder.stream_txns_aborted == 0
    assert not client.decoder.streamed  # buffer drained
    # ack translation: the frontier covering every delivered stamp acks
    # the stream commit's end_lsn (commit-bounded, like v1)
    acked = client.ack_frontier(stamps[-1])
    assert acked == 3101
    client.close()
    server.done.wait(5)


def test_v2_stream_abort_discards_txn_and_subtxn_changes():
    cols = ["id", "v"]
    relid = 501
    # txn 910 aborts entirely; txn 920 commits but its subtxn 921 aborts
    script = [
        [
            (100, PG.encode_stream_start(910)),
            (100, PG.in_stream(910, PG.encode_relation(relid, "public", "t", cols))),
            (101, PG.in_stream(910, PG.encode_insert(relid, ["doomed", "x"]))),
            (102, PG.encode_stream_stop()),
            (103, PG.encode_stream_abort(910)),  # subxid == xid: whole txn
        ],
        [
            (200, PG.encode_stream_start(920)),
            (201, PG.in_stream(920, PG.encode_insert(relid, ["keep1", "a"]))),
            (202, PG.in_stream(921, PG.encode_insert(relid, ["sub", "b"]))),
            (203, PG.encode_stream_stop()),
            (204, PG.encode_stream_abort(920, 921)),  # subtxn only
            (205, PG.encode_stream_start(920, first_segment=False)),
            (206, PG.in_stream(920, PG.encode_insert(relid, ["keep2", "c"]))),
            (207, PG.encode_stream_stop()),
            (300, PG.encode_stream_commit(920, 300, 301, 777_000_000)),
        ],
    ]
    server = FakeReplicationServer(script, keepalive_each_txn=False)
    sock = socket.create_connection(("127.0.0.1", server.port))
    client = PG.ReplicationClient(
        sock, slot="v2_abort", publication="pub", proto_version=2
    )
    client.create_slot()
    client.start(start_lsn=0)
    changes = list(client.poll())
    assert [c["after"]["id"] for c in changes] == ["keep1", "keep2"]
    assert client.decoder.stream_txns_aborted == 1
    assert client.decoder.stream_subtxns_aborted == 1
    assert client.decoder.stream_txns_committed == 1
    # the aborted txn left no bound: the only ackable position is 920's
    assert client.ack_frontier(changes[-1]["lsn"]) == 301
    client.close()
    server.done.wait(5)


def test_v2_spill_to_disk_and_cleanup(tmp_path):
    d = PG.PgOutputDecoder(
        stream_spill_dir=str(tmp_path), stream_spill_threshold=3
    )
    relid = 502
    d.decode(PG.encode_stream_start(930), 10)
    d.decode(PG.in_stream(930, PG.encode_relation(relid, "public", "t", ["id"])), 10)
    for i in range(10):
        d.decode(PG.in_stream(930, PG.encode_insert(relid, [str(i)])), 11 + i)
    buf = d.streamed[930]
    assert buf.spilled == 10 and not buf.mem  # all overflowed to the spool
    spools = list(tmp_path.glob("pgstream-*.jsonl"))
    assert len(spools) == 1
    sc = d.decode(PG.encode_stream_commit(930, 900, 901, 777_000_000), 50)
    got = [c["after"]["id"] for c in sc.changes]
    assert got == [str(i) for i in range(10)]  # arrival order preserved
    assert not list(tmp_path.glob("pgstream-*.jsonl"))  # spool removed


def test_v2_spill_subtxn_abort_filters_spooled_rows(tmp_path):
    d = PG.PgOutputDecoder(
        stream_spill_dir=str(tmp_path), stream_spill_threshold=2
    )
    relid = 503
    d.decode(PG.encode_stream_start(940), 10)
    d.decode(PG.in_stream(940, PG.encode_relation(relid, "public", "t", ["id"])), 10)
    # alternate toplevel / subtxn rows so doomed entries sit IN the spool
    for i in range(8):
        xid = 941 if i % 2 else 940
        d.decode(PG.in_stream(xid, PG.encode_insert(relid, [str(i)])), 11 + i)
    d.decode(PG.encode_stream_stop(), 20)
    d.decode(PG.encode_stream_abort(940, 941), 21)
    sc = d.decode(PG.encode_stream_commit(940, 900, 901, 777_000_000), 50)
    assert [c["after"]["id"] for c in sc.changes] == ["0", "2", "4", "6"]
    assert not list(tmp_path.glob("pgstream-*.jsonl"))


def test_v2_discard_streams_removes_inflight_spools(tmp_path):
    d = PG.PgOutputDecoder(
        stream_spill_dir=str(tmp_path), stream_spill_threshold=1
    )
    relid = 504
    d.decode(PG.encode_stream_start(950), 10)
    d.decode(PG.in_stream(950, PG.encode_relation(relid, "public", "t", ["id"])), 10)
    for i in range(4):
        d.decode(PG.in_stream(950, PG.encode_insert(relid, [str(i)])), 11 + i)
    assert list(tmp_path.glob("pgstream-*.jsonl"))
    d.discard_streams()  # client close / reconnect teardown
    assert not list(tmp_path.glob("pgstream-*.jsonl"))
    assert not d.streamed and d.stream_xid is None


def test_v2_stream_abort_without_commit_leaves_no_deliverables():
    # an abort mid-segment (no Stream Stop yet) must also clean up
    d = PG.PgOutputDecoder()
    relid = 505
    d.decode(PG.encode_stream_start(960), 10)
    d.decode(PG.in_stream(960, PG.encode_relation(relid, "public", "t", ["id"])), 10)
    d.decode(PG.in_stream(960, PG.encode_insert(relid, ["1"])), 11)
    d.decode(PG.encode_stream_stop(), 12)
    d.decode(PG.encode_stream_abort(960), 13)
    # a later commit frame for the same xid (cannot happen on a real wire,
    # but the decoder must not crash) releases nothing
    sc = d.decode(PG.encode_stream_commit(960, 900, 901, 777_000_000), 50)
    assert list(sc.changes) == []


def test_proto_version_validation():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="proto_version"):
        PG.ReplicationClient(_DummySock(), slot="s", proto_version=3)


class _DummySock:
    def makefile(self, *a, **k):
        return io.BytesIO()


def test_v2_break_mid_burst_then_new_poll_loses_nothing():
    """A consumer that breaks out of poll() mid-release (collect-n loops)
    must get the REST of the streamed transaction from a subsequent
    poll() call: the release is held in client state, not in the
    abandoned generator's locals. (In v1 the analogous undelivered rows
    sit in the socket where the next poll() finds them.)"""
    cols = ["id"]
    relid = 510
    seg = [
        (100, PG.encode_stream_start(970)),
        (100, PG.in_stream(970, PG.encode_relation(relid, "public", "t", cols))),
    ]
    for i in range(6):
        seg.append((101 + i, PG.in_stream(970, PG.encode_insert(relid, [str(i)]))))
    seg += [
        (110, PG.encode_stream_stop()),
        (200, PG.encode_stream_commit(970, 200, 201, 777_000_000)),
    ]
    server = FakeReplicationServer([seg], keepalive_each_txn=False)
    sock = socket.create_connection(("127.0.0.1", server.port))
    client = PG.ReplicationClient(
        sock, slot="v2_break", publication="pub", proto_version=2
    )
    client.create_slot()
    client.start(start_lsn=0)
    first = []
    for ch in client.poll():
        first.append(ch)
        if len(first) == 2:
            break  # abandon this generator mid-burst
    rest = list(client.poll())  # a brand-new poll() call
    ids = [c["after"]["id"] for c in first + rest]
    assert ids == [str(i) for i in range(6)]
    stamps = [c["lsn"] for c in first + rest]
    assert stamps == sorted(stamps) and len(set(stamps)) == len(stamps)
    # the commit bound landed exactly once, after the full drain
    assert [e for _, e in client.txn_bounds] == [201]
    client.close()
    server.done.wait(5)


def test_v2_close_mid_burst_removes_spool(tmp_path):
    """client.close() during a half-drained release must delete the spool
    file: the buffer was already popped from decoder.streamed at Stream
    Commit, so only closing the pending iterator reaches release()'s
    cleanup."""
    cols = ["id"]
    relid = 511
    seg = [
        (100, PG.encode_stream_start(980)),
        (100, PG.in_stream(980, PG.encode_relation(relid, "public", "t", cols))),
    ]
    for i in range(8):
        seg.append((101 + i, PG.in_stream(980, PG.encode_insert(relid, [str(i)]))))
    seg += [
        (110, PG.encode_stream_stop()),
        (200, PG.encode_stream_commit(980, 200, 201, 777_000_000)),
    ]
    server = FakeReplicationServer([seg], keepalive_each_txn=False)
    sock = socket.create_connection(("127.0.0.1", server.port))
    client = PG.ReplicationClient(
        sock,
        slot="v2_close",
        publication="pub",
        proto_version=2,
        stream_spill_dir=str(tmp_path),
    )
    client.decoder.stream_spill_threshold = 2  # force the spool
    client.create_slot()
    client.start(start_lsn=0)
    got = 0
    for ch in client.poll():
        got += 1
        if got == 3:
            break  # mid-burst: spool still holds undelivered rows
    assert list(tmp_path.glob("pgstream-*.jsonl")), "expected a live spool"
    client.close()
    assert not list(tmp_path.glob("pgstream-*.jsonl"))
    server.done.wait(5)


def test_v2_delivery_is_semantically_identical_to_v1():
    """The upgrade contract in one test: the SAME logical transaction
    delivered the v1 way (Begin..Commit burst) and the v2 way (streamed
    segments + Stream Commit) produces identical change dicts — same ops,
    images, commit timestamp — and the same ackable commit end position.
    Only the monotone stamps may differ (delivery ordinals, not WAL
    truth)."""
    cols = ["id", "v"]
    relid = 600
    ts_us = 777_000_000
    rows = [(["1", "a"],), (["2", None],), (["3", "c"],)]

    def run(script, slot):
        server = FakeReplicationServer([script], keepalive_each_txn=False)
        sock = socket.create_connection(("127.0.0.1", server.port))
        client = PG.ReplicationClient(
            sock, slot=slot, publication="pub", proto_version=2
        )
        client.create_slot()
        client.start(start_lsn=0)
        changes = list(client.poll())
        acked = client.ack_frontier(changes[-1]["lsn"]) if changes else -1
        client.close()
        server.done.wait(5)
        return changes, acked

    v1_script = [
        (100, PG.encode_relation(relid, "public", "t", cols)),
        (100, PG.encode_begin(104, ts_us, xid=700)),
    ] + [
        (101 + i, PG.encode_insert(relid, vals)) for i, (vals,) in enumerate(rows)
    ] + [(104, PG.encode_commit(104, 105, ts_us))]

    v2_script = [
        (100, PG.encode_stream_start(700)),
        (100, PG.in_stream(700, PG.encode_relation(relid, "public", "t", cols))),
    ] + [
        (101 + i, PG.in_stream(700, PG.encode_insert(relid, vals)))
        for i, (vals,) in enumerate(rows)
    ] + [
        (104, PG.encode_stream_stop()),
        (104, PG.encode_stream_commit(700, 104, 105, ts_us)),
    ]

    v1_changes, v1_acked = run(v1_script, "eq_v1")
    v2_changes, v2_acked = run(v2_script, "eq_v2")

    def canon(changes):
        return [
            {k: v for k, v in c.items() if k != "lsn"} for c in changes
        ]

    assert canon(v1_changes) == canon(v2_changes)
    assert v1_acked == v2_acked == 105
    for got in (v1_changes, v2_changes):
        stamps = [c["lsn"] for c in got]
        assert stamps == sorted(stamps) and len(set(stamps)) == len(stamps)


# ---- v2 fuzz: every txn randomly delivered as v1 burst or v2 stream --------


def _txn_streamed(relid, cols, start_lsn, rows, table=("public", "events")):
    """The same logical transaction _txn() builds, delivered the protocol-v2
    way: Stream Start / xid-prefixed content / Stream Stop / Stream Commit.
    Row lsns are identical to the v1 form so the fuzz's expected list is
    delivery-form-independent."""
    xid = start_lsn  # unique per txn in these scripts
    msgs = [
        (start_lsn, PG.encode_stream_start(xid)),
        (start_lsn, PG.in_stream(xid, PG.encode_relation(relid, table[0], table[1], cols))),
    ]
    lsn = start_lsn
    for row in rows:
        op, vals = row[0], row[1]
        old = row[2] if len(row) > 2 else None
        lsn += 1
        if op == "I":
            m = PG.encode_insert(relid, vals)
        elif op == "U":
            m = PG.encode_update(relid, vals, old_values=old)
        else:
            m = PG.encode_delete(relid, vals)
        msgs.append((lsn, PG.in_stream(xid, m)))
    msgs.append((lsn + 1, PG.encode_stream_stop()))
    msgs.append((lsn + 1, PG.encode_stream_commit(xid, lsn + 1, lsn + 2, 777_000_000)))
    return msgs


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(data=st.data())
def test_fuzz_v2_mixed_delivery_with_restart(data):
    """The v1 fuzz contract extended to protocol v2: each scripted
    transaction is INDEPENDENTLY delivered as a v1 Begin..Commit burst or
    a v2 streamed block (drawn per txn), with a mid-stream kill + resume
    from the acked LSN. Whatever the mix, the LSN-deduped change set is
    exactly the expected one — the delivery form must be invisible."""
    txns, expected = data.draw(_scripts())
    # re-express a random subset of txns in streamed form. _scripts built
    # each txn as [Relation, Begin, rows..., Commit] with known lsns —
    # rebuild from the expected rows for the chosen ones.
    by_txn: list[list] = []
    for msgs in txns:
        if data.draw(st.booleans()):
            by_txn.append(msgs)  # keep v1 form
            continue
        # recover (relid, cols, start_lsn, rows) from the v1 script
        rel_payload = msgs[0][1]
        relid = struct.unpack_from("!I", rel_payload, 1)[0]
        start_lsn = msgs[0][0]
        # decode the row messages back to (op, vals) via a scratch decoder
        scratch = PG.PgOutputDecoder()
        scratch.decode(rel_payload, 0)
        scratch.decode(PG.encode_begin(1, 0, 1), 0)
        cols = scratch.relations[relid]["cols"]
        table = (
            scratch.relations[relid]["ns"],
            scratch.relations[relid]["name"],
        )
        rows = []
        for _lsn, payload in msgs[2:-1]:
            ch = scratch.decode(payload, 0)
            if ch["op"] == "INSERT":
                rows.append(("I", [ch["after"].get(c) for c in cols]))
            elif ch["op"] == "UPDATE":
                rows.append((
                    "U",
                    [ch["after"].get(c) for c in cols],
                    [ch["before"].get(c) for c in cols]
                    if ch["before"] is not None
                    else None,
                ))
            else:
                rows.append(("D", [ch["before"].get(c) for c in cols]))
        by_txn.append(_txn_streamed(relid, cols, start_lsn, rows, table))
    cut = data.draw(st.integers(0, len(expected)))

    server = FakeReplicationServer(by_txn, max_connections=2)
    sock = socket.create_connection(("127.0.0.1", server.port))
    client = PG.ReplicationClient(sock, slot="fz2", publication="pub",
                                  proto_version=2)
    client.create_slot()
    client.start(start_lsn=0)
    got: dict[int, dict] = {}
    n = 0
    for ch in client.poll():
        got[ch["lsn"]] = ch
        client.ack(ch["lsn"])
        n += 1
        if n >= cut:
            break
    client.close()

    sock2 = socket.create_connection(("127.0.0.1", server.port))
    client2 = PG.ReplicationClient(sock2, slot="fz2", publication="pub",
                                   proto_version=2)
    client2.start(start_lsn=client.flushed_lsn)
    for ch in client2.poll():
        got[ch["lsn"]] = ch
        client2.ack(ch["lsn"])
    client2.close()

    assert sorted(got) == [e[0] for e in expected]
    for lsn, table, cols, op, before, after in expected:
        ch = got[lsn]
        assert ch["op"] == op and ch["table_name"] == table
        assert ch["before"] == _row(cols, before)
        assert ch["after"] == _row(cols, after)


def test_v2_keepalive_idle_gate_excludes_buffered_streams():
    """The idle-frontier extension must NOT record a keepalive position
    while a streamed transaction is buffered-but-uncommitted (conservative
    gate: 'idle' means actually idle) nor mid-segment."""
    c = PG.ReplicationClient.__new__(PG.ReplicationClient)
    c.decoder = PG.PgOutputDecoder()
    c.flushed_lsn = 0
    c.last_wal_end = 0
    c.frames_seen = 0
    c._pending_stream = None
    c.idle_wal_end = 0
    c.last_stamp = 0
    import collections
    import threading

    c.txn_bounds = collections.deque()
    c.TXN_BOUNDS_CAP = 65536
    c._send_lock = threading.Lock()
    c._ack_lock = threading.Lock()
    c.sock = None

    def feed(frames: bytes):
        c.file = io.BytesIO(frames)
        return list(c.poll())

    ka = PG.frame(b"d", PG.keepalive(500, 0, False))
    # mid-segment keepalive: not recorded
    feed(
        PG.frame(b"d", PG.xlog_data(10, 10, 0, PG.encode_stream_start(9)))
        + ka
    )
    assert c.idle_wal_end == 0
    # segment closed but txn 9 still buffered: still not recorded
    feed(PG.frame(b"d", PG.xlog_data(11, 11, 0, PG.encode_stream_stop())) + ka)
    assert c.idle_wal_end == 0
    # committed: buffer drained -> the next keepalive records
    feed(
        PG.frame(
            b"d", PG.xlog_data(12, 12, 0, PG.encode_stream_commit(9, 12, 13, 0))
        )
        + ka
    )
    assert c.idle_wal_end == 500


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_v2_stream_buffer_matches_list_model(data, tmp_path_factory):
    """_StreamBuffer (mem + spool + subtxn-abort filtering) against a plain
    list model: any interleaving of adds (random producing xids) and
    subtransaction aborts, at any spill threshold, must release exactly
    the model's surviving changes in arrival order — and leave no spool
    file behind."""
    tmp = tmp_path_factory.mktemp("sbuf")
    threshold = data.draw(st.integers(1, 6))
    # r9: the byte bound joins the model — drawn small enough (or None)
    # that either bound can be the one that trips, including mid-run
    byte_threshold = data.draw(
        st.one_of(st.none(), st.integers(1, 400))
    )
    buf = PG._StreamBuffer(str(tmp))
    model = []
    aborted = set()
    n_ops = data.draw(st.integers(0, 40))
    for i in range(n_ops):
        if data.draw(st.booleans()):
            xid = data.draw(st.integers(900, 904))
            # variable-width payload so the byte accounting is exercised
            # on non-uniform rows, not a constant per-line size
            change = {"lsn": i, "op": "INSERT",
                      "after": {"i": "x" * data.draw(st.integers(0, 60))}}
            buf.add(xid, change, threshold, byte_threshold)
            model.append((xid, change))
        else:
            sub = data.draw(st.integers(900, 904))
            buf.abort_sub(sub)
            aborted.add(sub)
    released = list(buf.release())
    expected = [c for x, c in model if x not in aborted]
    assert released == expected
    assert not list(tmp.glob("pgstream-*.jsonl"))


def test_run_live_consumer_seeds_stamps_above_segments_v2_stream():
    """The v2 twin of the seeding test: a REDELIVERED STREAMED transaction's
    released rows carry their original (low) decode-time wal positions —
    the monotone clamp in the release drain must bump them above every
    stamp already flushed by the previous consumer, or the Spark
    checkpoint frontier filters them out forever (the r5 interleaved-txn
    bug class, v2 edition)."""
    from go_pq_cdc_elasticsearch_spark.sources import wal as W

    d = tempfile.mkdtemp(prefix="seed_v2_")
    W.write_wal_segment(
        d,
        [{"lsn": 500, "op": "INSERT", "table_schema": "public",
          "table_name": "t", "before": None, "after": {"id": "old"},
          "ts": "t"}],
    )
    cols = ["id", "v"]
    relid = 620
    seg = [
        (100, PG.encode_stream_start(990)),
        (100, PG.in_stream(990, PG.encode_relation(relid, "public", "t", cols))),
        (101, PG.in_stream(990, PG.encode_insert(relid, ["9", "x"]))),
        (102, PG.in_stream(990, PG.encode_insert(relid, ["10", "y"]))),
        (103, PG.encode_stream_stop()),
        (200, PG.encode_stream_commit(990, 200, 201, 777_000_000)),
    ]
    server = FakeReplicationServer([seg], keepalive_each_txn=False)
    sock = socket.create_connection(("127.0.0.1", server.port))
    client = PG.ReplicationClient(
        sock, slot="s_seed_v2", publication="pub", proto_version=2
    )
    client.create_slot()
    client.start()
    PG.run_live_consumer(
        client, d, os.path.join(d, "ckpt"),
        batch_size=1, ack_interval_sec=9, flush_interval_sec=9,
    )
    stamps = sorted(
        json.loads(line)["lsn"]
        for s, p in W.list_segments(d)
        for line in open(p)
    )
    # released rows (true wal 101/102) stamped past the on-disk 500
    assert stamps == [500, 501, 502]
    client.close()


def test_stale_spool_sweep_on_client_construction(tmp_path):
    """VERDICT r9 item 4: a SIGKILL mid-streamed-txn orphans
    pgstream-*.jsonl spool files (every SOFT path deletes them; a hard
    crash can't) — constructing a ReplicationClient over the same
    client-owned spill dir must sweep them, or repeated crash cycles
    fill the spill volume. Non-matching files are untouched, and the
    shared system temp dir (spill_dir=None) is never swept."""
    import io

    stale1 = tmp_path / "pgstream-dead1.jsonl"
    stale2 = tmp_path / "pgstream-dead2.jsonl"
    other = tmp_path / "not-a-spool.jsonl"
    for f in (stale1, stale2, other):
        f.write_text('{"x": 1, "c": {}}\n')

    class _S:
        def makefile(self, *a, **k):
            return io.BytesIO()

    PG.ReplicationClient(
        _S(), slot="s", proto_version=2, stream_spill_dir=str(tmp_path)
    )
    assert not stale1.exists() and not stale2.exists()
    assert other.exists()  # only the spool naming pattern is swept
    # None (system temp dir) is out of the ownership contract: no-op
    assert PG.sweep_stale_spools(None) == 0


def test_stale_spool_sweep_errors_are_best_effort(tmp_path, monkeypatch):
    """A file another process races us for (or a permission oddity) must
    not block client construction — unlink errors are swallowed
    per-file and the rest of the sweep proceeds."""
    import os as _os

    a = tmp_path / "pgstream-a.jsonl"
    b = tmp_path / "pgstream-b.jsonl"
    a.write_text("x")
    b.write_text("x")
    real_unlink = _os.unlink

    def flaky(path, *args, **kw):
        if str(path).endswith("pgstream-a.jsonl"):
            raise OSError("simulated EACCES")
        return real_unlink(path, *args, **kw)

    monkeypatch.setattr(_os, "unlink", flaky)
    assert PG.sweep_stale_spools(str(tmp_path)) == 1
    assert a.exists() and not b.exists()


def test_v2_byte_threshold_spills_wide_rows_before_count(tmp_path):
    """ADVICE r9: stream_spill_threshold bounds buffered changes by COUNT
    only — a streamed txn of very WIDE rows (large text/TOAST values)
    could hold multi-GB in client RAM before the 8192-row default
    tripped. The byte bound must spill first for wide rows: 4 rows of
    ~1 KB each against a 2 KB byte bound spool from the 3rd row on,
    long before the count threshold (100) would."""
    d = PG.PgOutputDecoder(
        stream_spill_dir=str(tmp_path),
        stream_spill_threshold=100,
        stream_spill_threshold_bytes=2048,
    )
    relid = 601
    d.decode(PG.encode_stream_start(970), 10)
    d.decode(
        PG.in_stream(970, PG.encode_relation(relid, "public", "t", ["id", "v"])),
        10,
    )
    wide = "w" * 1024
    for i in range(4):
        d.decode(PG.in_stream(970, PG.encode_insert(relid, [str(i), wide])), 11 + i)
    buf = d.streamed[970]
    assert buf.spilled > 0, "byte bound never tripped for wide rows"
    assert buf.mem_bytes <= 2048
    assert list(tmp_path.glob("pgstream-*.jsonl"))
    # delivery is unchanged: all 4 rows, arrival order, spool removed
    sc = d.decode(PG.encode_stream_commit(970, 900, 901, 777_000_000), 50)
    got = [c["after"]["id"] for c in sc.changes]
    assert got == ["0", "1", "2", "3"]
    assert not list(tmp_path.glob("pgstream-*.jsonl"))


def test_v2_byte_threshold_default_is_bounded():
    """The decoder default must actually carry a byte bound (16 MiB) —
    a None default would reintroduce the count-only hole."""
    d = PG.PgOutputDecoder()
    assert d.stream_spill_threshold_bytes == 16 << 20


def test_scram_sha256_rfc7677_test_vector():
    """ScramSha256Client against the PUBLISHED RFC 7677 §3 exchange
    (user=user pass=pencil, fixed client nonce): every derived message
    and the server-signature check must match the spec byte for byte —
    a deterministic pin on the whole derivation (PBKDF2 -> ClientKey ->
    StoredKey -> AuthMessage -> proof -> ServerSignature)."""
    c = PG.ScramSha256Client(
        "pencil", username="user", nonce="rOprNGfwEbeRWgbNEkqO"
    )
    assert c.client_first() == b"n,,n=user,r=rOprNGfwEbeRWgbNEkqO"
    server_first = (
        b"r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    )
    assert c.client_final(server_first) == (
        b"c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
        b"p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ="
    )
    # the matching server signature verifies...
    c.verify_server_final(b"v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")
    # ...and a tampered one is rejected (server must PROVE the verifier)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="server signature"):
        c.verify_server_final(b"v=AAAATRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")


def test_scram_rejects_non_extending_server_nonce():
    """A server-first whose nonce does not EXTEND the client nonce is a
    spliced/replayed exchange — the client must abort before sending any
    proof material."""
    import pytest as _pytest

    c = PG.ScramSha256Client("pw", nonce="clientnonce")
    with _pytest.raises(RuntimeError, match="nonce"):
        c.client_final(b"r=somethingelse,s=V2hhdA==,i=4096")


def test_scram_server_skipping_sasl_final_fails_closed():
    """ADVICE r9: a server that STARTS a SCRAM exchange but jumps straight
    to AuthenticationOk (skipping AuthenticationSASLFinal, message 12)
    never proved it holds the stored verifier — the mutual-auth promise in
    ScramSha256Client's docstring. startup() must abort, not fail open.
    Both escape hatches are pinned: AuthenticationOk and a ReadyForQuery
    arriving with the exchange still unverified."""
    import base64

    import pytest as _pytest

    for skip_auth_ok in (False, True):
        srv = socket.socket()
        srv.bind(("127.0.0.1", 0))
        srv.listen(1)

        def run(server=srv, skip=skip_auth_ok):
            conn, _ = server.accept()
            f = conn.makefile("rb")
            (ln,) = struct.unpack("!I", f.read(4))
            f.read(ln - 4)  # startup payload
            conn.sendall(
                PG.frame(b"R", struct.pack("!I", 10) + b"SCRAM-SHA-256\x00\x00")
            )
            t, body = PG.read_frame(f)  # SASLInitialResponse
            assert t == b"p"
            mech_end = body.index(b"\x00")
            (flen,) = struct.unpack_from("!I", body, mech_end + 1)
            client_first = body[mech_end + 5 : mech_end + 5 + flen]
            attrs = dict(
                p.split(b"=", 1) for p in client_first.split(b",")[2:]
            )
            server_first = (
                b"r=" + attrs[b"r"] + b"EXT,s="
                + base64.b64encode(b"salt1234") + b",i=4096"
            )
            conn.sendall(PG.frame(b"R", struct.pack("!I", 11) + server_first))
            PG.read_frame(f)  # client-final (proof) — discarded on purpose
            if not skip:
                # fail-open attempt #1: AuthenticationOk without SASLFinal
                conn.sendall(PG.frame(b"R", struct.pack("!I", 0)))
            # fail-open attempt #2: straight to ReadyForQuery
            conn.sendall(PG.frame(b"Z", b"I"))
            conn.close()

        th = threading.Thread(target=run, daemon=True)
        th.start()
        sock = socket.create_connection(srv.getsockname(), timeout=10)
        c = PG.ReplicationClient(sock, slot="s")
        try:
            with _pytest.raises(RuntimeError, match="SCRAM"):
                c.startup(user="u", database="d", password="pw")
        finally:
            sock.close()
            srv.close()
            th.join(timeout=10)


def test_negotiate_ssl_refusal_and_bad_mode():
    """A server answering 'N' to SSLRequest must fail LOUDLY when the
    caller asked for TLS — silently continuing in cleartext is a
    downgrade attack surface; and unknown modes are rejected before any
    bytes move."""
    import socket
    import struct as _struct
    import threading

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported ssl mode"):
        PG.negotiate_ssl(None, "h", mode="prefer")

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)

    def refuse():
        conn, _ = srv.accept()
        req = conn.recv(8)
        # the dance's first bytes must be a well-formed SSLRequest
        assert _struct.unpack("!II", req) == (8, 80877103)
        conn.sendall(b"N")
        conn.close()

    t = threading.Thread(target=refuse, daemon=True)
    t.start()
    cli = socket.create_connection(srv.getsockname(), timeout=10)
    try:
        with _pytest.raises(RuntimeError, match="refused SSL"):
            PG.negotiate_ssl(cli, "127.0.0.1", mode="require")
    finally:
        cli.close()
        srv.close()
        t.join(timeout=10)


def test_message_frames_dropped_by_default_counted():
    """on_message default ('ignore') is reference parity: the frame is
    dropped like Origin/Type, but counted so an operator can see that
    in-band signals are flowing past an unconfigured consumer."""
    dec = PG.PgOutputDecoder()
    assert dec.messages_skipped == 0
    assert dec.decode(PG.encode_message("wm", b"123", lsn=55), 60) is None
    assert dec.decode(
        PG.encode_message("wm", b"456", lsn=56, transactional=False), 61
    ) is None
    assert dec.messages_skipped == 2


def test_message_envelope_mode_decodes_frames():
    """on_message='envelope' (r11): pg_logical_emit_message frames become
    synthetic changes — op MESSAGE, no table identity, content base64 in
    the after map. Transactional frames inside a normal txn carry the
    commit_ts; non-transactional ones arrive outside any txn (ts None)."""
    import base64

    dec = PG.PgOutputDecoder(on_message="envelope")
    # non-transactional: immediate, outside any txn
    out = dec.decode(
        PG.encode_message("ddl", b"\x00\xffbin", lsn=77, transactional=False), 80
    )
    assert out["op"] == "MESSAGE"
    assert out["table_schema"] is None and out["table_name"] is None
    assert out["lsn"] == 80
    assert out["after"]["prefix"] == "ddl"
    assert base64.b64decode(out["after"]["content_b64"]) == b"\x00\xffbin"
    assert out["after"]["transactional"] == "false"
    assert out["after"]["message_lsn"] == "77"
    assert out["ts"] is None

    # transactional: positioned inside its Begin..Commit, stamped
    dec.decode(PG.encode_begin(500, 12_345_000_000, xid=9), 0)
    out = dec.decode(PG.encode_message("wm", b"2026-08-16", lsn=90), 91)
    assert out["op"] == "MESSAGE"
    assert out["after"]["transactional"] == "true"
    assert out["ts"] is not None
    assert dec.decode(PG.encode_commit(500, 501, 12_345_000_000), 92) is None
    assert dec.messages_skipped == 0


def test_message_envelope_streamed_txn_buffered_and_aborted():
    """v2: an in-stream Message frame (leading xid like every content
    frame) is buffered with its transaction — delivered at Stream Commit,
    dropped on Stream Abort."""
    import struct

    def in_stream(frame: bytes, xid: int) -> bytes:
        return frame[:1] + struct.pack("!I", xid) + frame[1:]

    dec = PG.PgOutputDecoder(on_message="envelope")
    dec.decode(PG.encode_stream_start(40), 0)
    assert dec.decode(
        in_stream(PG.encode_message("wm", b"a", lsn=5), 40), 10
    ) is None  # buffered, not returned
    dec.decode(PG.encode_stream_stop(), 11)
    commit = dec.decode(
        PG.encode_stream_commit(40, 98, 99, 12_345_000_000), 12
    )
    released = list(commit.changes)
    assert [c["op"] for c in released] == ["MESSAGE"]
    assert released[0]["after"]["prefix"] == "wm"
    assert released[0]["ts"] is not None  # stamped at Stream Commit

    # aborted stream: the buffered message vanishes with its txn
    dec.decode(PG.encode_stream_start(41), 20)
    dec.decode(in_stream(PG.encode_message("wm", b"b", lsn=6), 41), 21)
    dec.decode(PG.encode_stream_stop(), 22)
    dec.decode(PG.encode_stream_abort(41), 23)
    assert 41 not in dec.streamed


def test_replication_client_rejects_unknown_on_message():
    import socket

    import pytest

    a, b = socket.socketpair()
    try:
        with pytest.raises(ValueError, match="on_message"):
            PG.ReplicationClient(a, slot="s1", on_message="bogus")
    finally:
        a.close()
        b.close()


def test_message_frame_roundtrip_property():
    """Fuzz the Message frame codec: any NUL-free prefix and ANY byte
    content (incl. empty, NULs, astral unicode encodings) must survive
    encode -> decode -> base64 losslessly, in both policy modes."""
    import base64

    from hypothesis import given, settings
    from hypothesis import strategies as st

    prefixes = st.text(min_size=1, max_size=40).filter(lambda s: "\x00" not in s)
    contents = st.binary(min_size=0, max_size=2048)
    lsns = st.integers(min_value=0, max_value=2**63 - 1)

    @settings(max_examples=80, deadline=None)
    @given(prefixes, contents, lsns, st.booleans())
    def check(prefix, content, lsn, transactional):
        frame = PG.encode_message(
            prefix, content, lsn=lsn, transactional=transactional
        )
        dec = PG.PgOutputDecoder(on_message="envelope")
        out = dec.decode(frame, 7)
        assert out["op"] == "MESSAGE"
        assert out["after"]["prefix"] == prefix
        assert base64.b64decode(out["after"]["content_b64"]) == content
        assert out["after"]["message_lsn"] == str(lsn)
        assert out["after"]["transactional"] == (
            "true" if transactional else "false"
        )
        drop = PG.PgOutputDecoder()
        assert drop.decode(frame, 7) is None
        assert drop.messages_skipped == 1

    check()
