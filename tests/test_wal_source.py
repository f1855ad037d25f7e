"""Custom pgwal streaming DataSource: LSN offsets, prefetched reads and
replay after a restart, checkpoint-frontier acks, end-to-end into the
materialized view."""

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from go_pq_cdc_elasticsearch_spark.sink.materialized import MaterializedView
from go_pq_cdc_elasticsearch_spark.sources import wal as W
from go_pq_cdc_elasticsearch_spark.sources.pgoutput import committed_checkpoint_lsn


def _msg(lsn, op, key, val):
    return {
        "lsn": lsn,
        "op": op,
        "table_schema": "public",
        "table_name": "users",
        "before": {"id": str(key)} if op == "DELETE" else None,
        "after": None if op == "DELETE" else {"id": str(key), "v": str(val)},
        "ts": "2024-01-01T00:00:00",
    }


def test_wal_stream_end_to_end_with_ack(spark):
    work = tempfile.mkdtemp(prefix="wal_t_")
    wal_dir = os.path.join(work, "wal")
    W.write_wal_segment(wal_dir, [_msg(1, "INSERT", 1, "a"), _msg(2, "INSERT", 2, "b")])
    W.write_wal_segment(wal_dir, [_msg(3, "UPDATE", 1, "a2"), _msg(4, "DELETE", 2, 0)])

    ckpt = os.path.join(work, "ckpt")
    W.register(spark)
    stream = spark.readStream.format("pgwal").option("path", wal_dir).load()

    view = MaterializedView(
        spark,
        os.path.join(work, "view"),
        keys=("key",),
        seq_col="lsn",
        op_col="op",
        delete_op="DELETE",
    )

    def xform(df):
        img = F.coalesce(df["after"], df["before"])
        return df.select(
            "lsn", "op", img.getItem("id").alias("key"), img.getItem("v").alias("v")
        )

    q = (
        xform(stream)
        .writeStream.foreachBatch(view.foreach_batch_writer())
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    state = {r["key"]: r["v"] for r in view.read().collect()}
    assert state == {"1": "a2"}  # key 2 deleted, key 1 updated
    assert committed_checkpoint_lsn(ckpt) == 4

    # new WAL arrives; restart from checkpoint picks up ONLY lsn > 4
    W.write_wal_segment(wal_dir, [_msg(5, "INSERT", 3, "c")])
    q = (
        xform(spark.readStream.format("pgwal").option("path", wal_dir).load())
        .writeStream.foreachBatch(view.foreach_batch_writer())
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = {r["key"]: r["v"] for r in view.read().collect()}
    assert state == {"1": "a2", "3": "c"}

    # ack progression: the checkpoint's commit log is the ack record the
    # live consumer forwards as a StandbyStatusUpdate. Batch N's end offset
    # is committed the moment its sink completes, so after the restart
    # batch (lsn 5) the frontier is 5, past phase 1's {"lsn": 4}.
    assert committed_checkpoint_lsn(ckpt) == 5


def test_wal_reader_serves_rows_up_to_newest_staged_lsn():
    import copy

    work = tempfile.mkdtemp(prefix="wal_p_")
    wal_dir = os.path.join(work, "wal")
    W.write_wal_segment(wal_dir, [_msg(i, "INSERT", i, i) for i in range(1, 6)])
    W.write_wal_segment(wal_dir, [_msg(i, "INSERT", i, i) for i in range(6, 11)])
    r = W.WalStreamReader({"path": wal_dir})
    assert r.initialOffset() == {"lsn": -1}

    # across the segment boundary: end is the newest staged lsn
    it, end = r.read({"lsn": -1})
    assert end == {"lsn": 10}
    assert [x[0] for x in it] == list(range(1, 11))
    # from a start inside a segment: only the tail of it, then the next
    it, end = r.read({"lsn": 3})
    assert end == {"lsn": 10}
    assert [x[0] for x in it] == list(range(4, 11))
    it, end = r.read({"lsn": 7})
    assert end == {"lsn": 10}
    assert [x[0] for x in it] == [8, 9, 10]

    # nothing new: empty iterator, the offset does not move
    it, end = r.read({"lsn": 10})
    assert end == {"lsn": 10} and list(it) == []

    # a replayed batch reads exactly (start, end]
    assert [x[0] for x in r.readBetweenOffsets({"lsn": 3}, {"lsn": 7})] == [4, 5, 6, 7]
    assert [x[0] for x in r.readBetweenOffsets({"lsn": -1}, {"lsn": 5})] == [1, 2, 3, 4, 5]
    assert list(r.readBetweenOffsets({"lsn": 10}, {"lsn": 10})) == []

    # the runner's prefetch cache copy.copy()s the iterator before reading
    it, _ = r.read({"lsn": 8})
    assert [x[0] for x in copy.copy(it)] == [9, 10]
    assert [x[0] for x in it] == [9, 10]
    row = next(r.readBetweenOffsets({"lsn": 0}, {"lsn": 1}))
    assert row == (1, "INSERT", "public", "users", None, {"id": "1", "v": "1"},
                   "2024-01-01T00:00:00")


def test_wal_reader_idle_polls_open_no_file(monkeypatch):
    """Spark polls ``read`` on every trigger. With no new segment, the
    newest segment (the one no successor bounds) is skipped unopened: the
    reader remembers its max lsn, keyed by name, size and inode. A new
    segment, or the newest one rewritten under its name, is read again."""
    import builtins

    work = tempfile.mkdtemp(prefix="wal_idle_")
    wal_dir = os.path.join(work, "wal")
    W.write_wal_segment(wal_dir, [_msg(i, "INSERT", i, i) for i in range(1, 6)])
    W.write_wal_segment(wal_dir, [_msg(i, "INSERT", i, i) for i in range(6, 11)])
    r = W.WalStreamReader({"path": wal_dir})
    it, end = r.read({"lsn": -1})
    assert end == {"lsn": 10} and len(list(it)) == 10

    opened = []

    def counting_open(path, *args, **kwargs):
        opened.append(os.path.basename(path))
        return builtins.open(path, *args, **kwargs)

    monkeypatch.setattr(W, "open", counting_open, raising=False)
    for _ in range(5):
        it, again = r.read(end)
        assert again == end and list(it) == []
    assert opened == []

    W.write_wal_segment(wal_dir, [_msg(11, "INSERT", 11, 11), _msg(12, "INSERT", 12, 12)])
    opened.clear()
    it, end = r.read(end)
    assert end == {"lsn": 12} and [x[0] for x in it] == [11, 12]
    assert opened == ["wal_0000000000000011.ndjson"]
    opened.clear()
    it, _ = r.read(end)
    assert list(it) == [] and opened == []

    # the newest segment rewritten under its name (a new inode) is re-read
    W.write_wal_segment(wal_dir, [_msg(i, "INSERT", i, i) for i in range(11, 14)])
    it, end = r.read(end)
    assert end == {"lsn": 13} and [x[0] for x in it] == [13]


def test_wal_restart_replays_failed_batch_between_offsets(spark, tmp_path, monkeypatch):
    """A live batch is served from the source runner's prefetch; only the
    batch replayed after a restart (the prefetch cache is empty then) goes
    through readBetweenOffsets. Epoch 2 fails once after the offset log
    recorded it; the restart replays it and the view ends last-write-wins."""
    import time

    from go_pq_cdc_elasticsearch_spark.connector import _read_once

    log_path = str(tmp_path / "between.log")
    orig = W.WalStreamReader.readBetweenOffsets

    def logged(self, start, end):
        with open(log_path, "a") as f:
            f.write(json.dumps([start["lsn"], end["lsn"]]) + "\n")
        return orig(self, start, end)

    monkeypatch.setattr(W.WalStreamReader, "readBetweenOffsets", logged)
    W.register(spark)

    wal_dir = str(tmp_path / "wal")
    ckpt = str(tmp_path / "ckpt")
    fail_flag = str(tmp_path / "fail_once")
    open(fail_flag, "w").close()
    view = MaterializedView(
        spark, str(tmp_path / "view"), keys=("key",), seq_col="lsn",
        op_col="op", delete_op="DELETE",
    )
    writer = view.foreach_batch_writer()

    def fail_epoch_2_once(df, epoch_id):
        if epoch_id == 2 and os.path.exists(fail_flag):
            os.remove(fail_flag)
            raise RuntimeError("injected failure in epoch 2")
        writer(df, epoch_id)

    def start(**trigger):
        img = F.coalesce(F.col("after"), F.col("before"))
        stream = spark.readStream.format("pgwal").option("path", wal_dir).load()
        return (
            stream.select("lsn", "op", img.getItem("id").alias("key"),
                          img.getItem("v").alias("v"))
            .writeStream.foreachBatch(_read_once(fail_epoch_2_once))
            .option("checkpointLocation", ckpt)
            .trigger(**trigger)
            .start()
        )

    def committed(batch_id):
        return os.path.exists(os.path.join(ckpt, "commits", str(batch_id)))

    segments = [
        [_msg(1, "INSERT", 1, "a"), _msg(2, "INSERT", 2, "b")],
        [_msg(3, "UPDATE", 1, "a2"), _msg(4, "INSERT", 3, "c")],
        [_msg(5, "DELETE", 2, 0), _msg(6, "UPDATE", 3, "c2"), _msg(7, "INSERT", 4, "d")],
    ]
    try:
        q = start(processingTime="200 milliseconds")
        for batch_id, seg in enumerate(segments[:2]):
            W.write_wal_segment(wal_dir, seg)
            deadline = time.time() + 120
            while not committed(batch_id):
                assert time.time() < deadline, f"batch {batch_id} did not commit"
                assert q.isActive, q.exception()
                time.sleep(0.1)
        W.write_wal_segment(wal_dir, segments[2])
        with pytest.raises(Exception, match="injected failure in epoch 2"):
            q.awaitTermination(120)
        assert os.path.exists(os.path.join(ckpt, "offsets", "2"))
        assert not committed(2)
        # batches 0-2 were all served from the prefetch
        assert not os.path.exists(log_path)

        q = start(availableNow=True)
        q.awaitTermination(120)
        assert committed(2)
    finally:
        monkeypatch.undo()
        W.register(spark)  # later streams in this session get the plain reader

    with open(log_path) as f:
        calls = {tuple(json.loads(ln)) for ln in f}
    assert calls == {(4, 7)}  # exactly the replayed batch's (start, end]
    state = {r["key"]: r["v"] for r in view.read().collect()}
    assert state == {"1": "a2", "3": "c2", "4": "d"}
