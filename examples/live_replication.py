"""The reference's real-world deployment shape, end-to-end and live:

    Postgres logical replication (pgoutput over a socket)
      -> slot consumer (CREATE_REPLICATION_SLOT / START_REPLICATION /
         keepalive replies)                         [sources/pgoutput.py]
      -> wal segments -> pgwal streaming DataSource [sources/wal.py]
      -> envelope -> route -> handler -> in-batch dedup
      -> NDJSON _bulk over HTTP (version-detected _type gating)
      -> checkpoint commit -> StandbyStatusUpdate ack

The sandbox has no Postgres or Elasticsearch, so both ends are played by
in-process servers speaking the real wire protocols: a scripted
replication server (same frames a real PG sends) and an HTTP bulk
endpoint (same NDJSON a real ES receives). Swap the two endpoints for real
hosts and every line in between is unchanged — that is the point.

Run: python examples/live_replication.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import socket
import sys
import tempfile
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from go_pq_cdc_elasticsearch_spark.session import get_spark
from go_pq_cdc_elasticsearch_spark.sources import pgoutput as PG
from go_pq_cdc_elasticsearch_spark.sources.wal import list_segments, register

# ---- a scripted "Postgres" -------------------------------------------------


def start_fake_postgres(transactions):
    """Minimal replication server: answers slot create, streams the
    scripted transactions as XLogData CopyData frames, records acks."""
    acks = []
    server = socket.create_server(("127.0.0.1", 0))

    def serve():
        conn, _ = server.accept()
        f = conn.makefile("rwb")
        try:
            while True:
                t, body = PG.read_frame(f)
                if not t:
                    return
                if t == b"Q":
                    sql = body.rstrip(b"\x00").decode()
                    if sql.startswith("CREATE_REPLICATION_SLOT"):
                        # real servers answer with a result set ending in
                        # ReadyForQuery; the client drains to 'Z'
                        f.write(PG.frame(b"C", b"CREATE_REPLICATION_SLOT\x00"))
                        f.write(PG.frame(b"Z", b"I"))
                    elif sql.startswith("START_REPLICATION"):
                        f.write(PG.copy_both_response())
                        for txn in transactions:
                            for lsn, payload in txn:
                                f.write(PG.copy_data(PG.xlog_data(lsn, lsn, 0, payload)))
                        # CopyDone is a TOP-LEVEL frame on the real wire
                        # (WalSndDone) — the client answers with its own
                        # CopyDone (review r6)
                        f.write(PG.frame(b"c", b""))
                    f.flush()
                elif t == b"d" and body[:1] == b"r":
                    acks.append(PG.parse_standby_status(body))
        except (OSError, ValueError):
            pass

    threading.Thread(target=serve, daemon=True).start()
    return server.getsockname()[1], acks


# ---- a recording "Elasticsearch" -------------------------------------------


def start_fake_es():
    received = []

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # Info API for version detection
            out = json.dumps({"version": {"number": "6.8.23"}}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append(body)
            items = []
            for line in body.decode().splitlines():
                d = json.loads(line)
                for verb in ("index", "delete", "update"):
                    if verb in d and "_id" in d[verb]:
                        items.append({verb: {"_id": d[verb]["_id"],
                                             "_index": d[verb]["_index"], "status": 200}})
            out = json.dumps({"errors": False, "items": items}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return f"http://127.0.0.1:{server.server_port}", received


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:  # noqa: ARG001
    spark = get_spark("example-live-replication", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="ex_live_")
    seg_dir = os.path.join(work, "segments")
    ckpt = os.path.join(work, "ckpt")

    # 1. "Postgres": two transactions on public.users
    cols = ["user_id", "name"]
    txns = []
    rel = PG.encode_relation(1, "public", "users", cols)
    txns.append([
        (100, rel),
        (100, PG.encode_begin(104, 0, 1)),
        (101, PG.encode_insert(1, ["1", "ada"])),
        (102, PG.encode_insert(1, ["2", "alan"])),
        (103, PG.encode_commit(103, 104, 0)),
    ])
    txns.append([
        (200, PG.encode_begin(203, 0, 2)),
        (201, PG.encode_update(1, ["1", "lovelace"])),
        (202, PG.encode_delete(1, ["2", None])),
        (203, PG.encode_commit(203, 204, 0)),
    ])
    # a transaction delivered the PROTOCOL V2 way (PG14+ streamed
    # in-progress txn: Stream Start / xid-prefixed content / Stream Stop /
    # Stream Commit) — the client buffers it and releases at commit, so
    # downstream sees ordinary changes; proto_version=2 below opts in
    txns.append([
        (300, PG.encode_stream_start(3)),
        (300, PG.in_stream(3, rel)),
        (301, PG.in_stream(3, PG.encode_insert(1, ["4", "hopper"]))),
        (302, PG.encode_stream_stop()),
        (303, PG.encode_stream_commit(3, 303, 304, 0)),
    ])
    pg_port, pg_acks = start_fake_postgres(txns)

    # 2. slot consumer -> wal segments
    sock = socket.create_connection(("127.0.0.1", pg_port))
    client = PG.ReplicationClient(sock, slot="cdc", publication="pub",
                                  proto_version=2)
    client.create_slot()
    client.start()
    # the production consumer loop; it returns when the server ends the
    # stream (a Connector runs it in a supervised thread instead)
    PG.run_live_consumer(client, seg_dir, ckpt, batch_size=2)
    n = sum(1 for _, p in list_segments(seg_dir) for _ in open(p))
    print(f"consumed {n} changes from the replication socket")

    # 3. "Elasticsearch" with version auto-detect (ES6 => _type emitted)
    es_url, es_received = start_fake_es()
    from go_pq_cdc_elasticsearch_spark.sink.es_bulk import (
        detect_es_version,
        http_info_transport,
        http_transport,
        write_bulk,
    )

    es_version = detect_es_version(http_info_transport(es_url))
    print(f"detected ES version: {es_version}")

    # 4. pgwal stream -> actions -> bulk (availableNow drain)
    register(spark)
    from pyspark.sql import functions as F

    stream = spark.readStream.format("pgwal").option("path", seg_dir).load()

    def ship(batch_df, epoch_id):  # noqa: ARG001
        img = F.coalesce(batch_df["after"], batch_df["before"])
        actions = batch_df.select(
            F.when(F.col("op") == "DELETE", "delete").otherwise("index").alias("action"),
            img.getItem("user_id").alias("doc_id"),
            F.lit("users-idx").alias("index"),
            F.lit(None).cast("string").alias("routing"),
            F.to_json(F.struct(img.getItem("name").alias("name"))).alias("source"),
            F.col("lsn").alias("seq"),
        )
        from go_pq_cdc_elasticsearch_spark.operators.cdc import cdc_dedup

        compact = cdc_dedup(actions, keys=("doc_id", "index", "routing"), seq_col="seq")
        write_bulk(
            compact.drop("seq"),
            http_transport(es_url),
            type_name="_doc",
            es_version=es_version,
        )

    def drain():
        q = (
            stream.writeStream.foreachBatch(ship)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()

    # 5. more WAL arrives; the next drain picks up ONLY lsn > frontier.
    # The ack is the checkpoint's commit log: once a batch's sink
    # completes, its end offset is the consumed frontier (flush-then-ack,
    # like the reference bulk/bulk.go:271-276), which the consumer loop
    # forwards to the slot as a StandbyStatusUpdate. The staged dir holds
    # only the segments.
    from go_pq_cdc_elasticsearch_spark.sources.wal import write_wal_segment

    write_wal_segment(seg_dir, [{
        "lsn": 401, "op": "INSERT", "table_schema": "public",
        "table_name": "users", "before": None,
        "after": {"user_id": "3", "name": "grace"}, "ts": None,
    }])
    drain()
    seen = len(pg_acks)
    last = PG.forward_checkpoint_acks(client, ckpt)
    import time

    for _ in range(50):  # let the server thread register the ack frame
        if len(pg_acks) > seen:
            break
        time.sleep(0.1)
    print(f"acked restart LSN: {last} (server saw {len(pg_acks)} status updates, "
          f"flushed={pg_acks[-1]['flushed'] if pg_acks else None})")
    client.close()

    lines = [ln for b in es_received for ln in b.decode().splitlines()]
    print(f"ES received {len(lines)} NDJSON lines over {len(es_received)} bulk requests:")
    for ln in lines:
        print("  " + ln)
    print("user_id column shipped as doc ids:",
          sorted({json.loads(ln)[v]["_id"] for ln in lines
                  for v in ("index", "delete") if v in json.loads(ln)}))


if __name__ == "__main__":
    main(*sys.argv[1:2])
