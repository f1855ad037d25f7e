"""Time an availableNow drain of a staged pgwal backlog.

Stages SEGMENTS segment files of CHANGES changes each (inserts and
updates over 20k keys), then drains them with the Connector's pieces: the
default ``wal_to_view_transform``, ``_read_once`` (persist) and one count
per batch, on local[<usable cores>]. Prints one JSON line with the
drain time. The staging is not timed, and a warm-up drain of one
segment runs first so the session's lazy set-up is paid before the
clock starts.

Usage: python tools/wal_catchup.py SEGMENTS CHANGES
  e.g. python tools/wal_catchup.py 300 500
       python tools/wal_catchup.py 8 20000
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_pq_cdc_elasticsearch_spark.connector import (  # noqa: E402
    ConnectorConfig,
    _read_once,
    wal_to_view_transform,
)
from go_pq_cdc_elasticsearch_spark.session import get_spark  # noqa: E402
from go_pq_cdc_elasticsearch_spark.sources import wal as W  # noqa: E402


def stage(path: str, segments: int, changes: int) -> int:
    lsn = 0
    for _ in range(segments):
        msgs = []
        for _ in range(changes):
            lsn += 1
            key = str(lsn * 7919 % 20000)
            msgs.append({
                "lsn": lsn,
                "op": "INSERT" if lsn % 4 == 0 else "UPDATE",
                "table_schema": "public",
                "table_name": "users",
                "before": None,
                "after": {"user_id": key, "name": f"n{lsn}", "balance": str(lsn % 997)},
                "ts": "2024-01-01T00:00:00",
            })
        W.write_wal_segment(path, msgs)
    return lsn


def drain(spark, work: str, staged: str) -> tuple[float, int]:
    cfg = ConnectorConfig(
        staged_dir=staged,
        view_path=os.path.join(work, "view"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        seq_col="lsn",
        op_col="op",
    )
    counted = []

    def count(df, epoch_id):
        counted.append(df.count())

    stream = spark.readStream.format("pgwal").option("path", staged).load()
    t0 = time.perf_counter()
    q = (
        wal_to_view_transform(cfg)(stream)
        .writeStream.foreachBatch(_read_once(count))
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return time.perf_counter() - t0, sum(counted)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("segments", type=int)
    ap.add_argument("changes", type=int)
    args = ap.parse_args()

    spark = get_spark("wal-catchup", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    W.register(spark)
    with tempfile.TemporaryDirectory(prefix="wal_catchup_") as work:
        warm = os.path.join(work, "warm")
        stage(os.path.join(warm, "staged"), 1, 10)
        drain(spark, warm, os.path.join(warm, "staged"))

        run = os.path.join(work, "run")
        staged = os.path.join(run, "staged")
        n = stage(staged, args.segments, args.changes)
        secs, rows = drain(spark, run, staged)
    if rows != n:
        raise SystemExit(f"drained {rows} rows, staged {n}")
    print(json.dumps({
        "segments": args.segments,
        "changes": args.changes,
        "rows": rows,
        "drain_s": round(secs, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
