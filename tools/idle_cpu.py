"""CPU cost of an idle live pgwal stream.

Stages one segment, starts the Connector's stream shape on it (the
``pgwal`` source, the default ``wal_to_view_transform``, a persisted
foreachBatch merge into a view) with the given processing-time trigger,
waits for the first batch to commit, and then stages nothing more. Over
the next SECONDS it measures the CPU time (user + system, from
``/proc/<pid>/stat``) of this process and every process below it: the
JVM, the Python streaming-source runner that polls the source on each
trigger, and any Python workers. Prints one JSON line with the CPU
seconds and the share of one core. Spark runs on local[2].

Usage: python tools/idle_cpu.py TRIGGER [SECONDS]
  e.g. python tools/idle_cpu.py "100 milliseconds" 20
       python tools/idle_cpu.py "0 seconds"
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
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
from go_pq_cdc_elasticsearch_spark.sink.materialized import MaterializedView  # noqa: E402
from go_pq_cdc_elasticsearch_spark.sources import wal as W  # noqa: E402


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants,
    plus what they collected from reaped children."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += [c for c, p in parent.items() if p == pid]
    return total / os.sysconf("SC_CLK_TCK")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trigger")
    ap.add_argument("seconds", type=float, nargs="?", default=20.0)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="idle_cpu_")
    cfg = ConnectorConfig(
        staged_dir=os.path.join(work, "staged"),
        view_path=os.path.join(work, "view"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    W.write_wal_segment(cfg.staged_dir, [{
        "lsn": 1, "op": "INSERT", "table_schema": "public", "table_name": "users",
        "before": None, "after": {"user_id": "1"}, "ts": "2024-01-01T00:00:00",
    }])
    spark = get_spark("idle_cpu", cpus=2)
    spark.sparkContext.setLogLevel("ERROR")
    W.register(spark)
    view = MaterializedView(spark, cfg.view_path, keys=cfg.keys,
                            seq_col=cfg.seq_col, op_col=cfg.op_col,
                            delete_op=cfg.delete_op)
    stream = spark.readStream.format("pgwal").option("path", cfg.staged_dir).load()
    q = (
        wal_to_view_transform(cfg)(stream)
        .writeStream.foreachBatch(_read_once(view.foreach_batch_writer()))
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(processingTime=args.trigger)
        .start()
    )
    try:
        while not os.path.exists(os.path.join(cfg.checkpoint_dir, "commits", "0")):
            if not q.isActive:
                raise RuntimeError(f"stream ended: {q.exception()}")
            time.sleep(0.1)
        time.sleep(2.0)  # let the first batch's stragglers finish
        c0, t0 = tree_cpu_s(os.getpid()), time.time()
        time.sleep(args.seconds)
        c1, t1 = tree_cpu_s(os.getpid()), time.time()
    finally:
        q.stop()
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "trigger": args.trigger,
        "seconds": round(t1 - t0, 2),
        "cpu_s": round(c1 - c0, 3),
        "core_share": round((c1 - c0) / (t1 - t0), 4),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
