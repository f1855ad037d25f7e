"""Round-13 probe (VERDICT r11 item 1c): per-batch wall must stay FLAT
over >=50 streaming micro-batches with NO manual compact() call — the
auto-compaction wired into foreach_batch_writer is the only maintenance.

60 synthetic batches of 40 docs each (some cross-batch near-dups) are
driven through IncrementalDeduper.foreach_batch_writer(auto_compact_batches
=16). Without compaction, per-batch probe cost grows with the segment-file
and corpus-file counts (the r11 finding: 3072 files -> 5.57 s probes);
with it, both stay bounded. Writes probe_compact_r13.json.

Usage: python tools/probe_compact_r13.py  [n_batches]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_pq_cdc_elasticsearch_spark.session import get_spark  # noqa: E402


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 60
    spark = get_spark("probe_compact_r13")
    spark.sparkContext.setLogLevel("ERROR")

    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    work = tempfile.mkdtemp(prefix="probe_compact_r13_")
    d = IncrementalDeduper(
        spark, os.path.join(work, "idx"), jaccard_threshold=0.7
    )
    write = d.foreach_batch_writer(auto_compact_batches=16)

    def batch_df(i: int):
        # 40 docs per batch; every 4th doc repeats the previous batch's
        # text (cross-batch near-dups keep the probe path honest)
        rows = []
        for j in range(40):
            base = i - 1 if (j % 4 == 0 and i > 0) else i
            rows.append(
                (
                    i * 1000 + j,
                    f"batch {base} doc {j} lorem ipsum dolor sit amet "
                    f"consectetur adipiscing elit sed do eiusmod tempor "
                    f"incididunt ut labore et dolore magna aliqua uid "
                    f"{base}_{j % 8}",
                )
            )
        return spark.createDataFrame(rows, "doc_id long, text string")

    walls = []
    for i in range(n_batches):
        t0 = time.perf_counter()
        write(batch_df(i), epoch_id=i)
        walls.append(round(time.perf_counter() - t0, 3))
        if (i + 1) % 10 == 0:
            print(f"batch {i + 1}/{n_batches}: {walls[-1]}s", flush=True)

    seg = d.view.segment_counts()
    first10 = sum(walls[2:12]) / 10  # skip the 2 cold batches
    last10 = sum(walls[-10:]) / 10
    out = {
        "n_batches": n_batches,
        "auto_compact_batches": 16,
        "per_batch_wall_sec": walls,
        "warm_first10_avg": round(first10, 3),
        "last10_avg": round(last10, 3),
        "last_over_first": round(last10 / first10, 3) if first10 else None,
        "final_max_segments_per_bucket": max(seg.values()) if seg else 0,
        "final_corpus_epochs": len(d.kept.store.latest()["corpus"]),
    }
    dst = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "probe_compact_r13.json"
    )
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "per_batch_wall_sec"}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
