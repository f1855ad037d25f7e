"""Connector facade lifecycle (reference connector.go:25-127) + Q-T4
watermark late-data semantics."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from go_pq_cdc_elasticsearch_spark.catalog import load_table
from go_pq_cdc_elasticsearch_spark.connector import Connector, ConnectorConfig
from go_pq_cdc_elasticsearch_spark.operators.cdc import cdc_apply
from go_pq_cdc_elasticsearch_spark.sources.replay import stage_event_files


def _cfg(work, **kw):
    return ConnectorConfig(
        staged_dir=os.path.join(work, "staged"),
        view_path=os.path.join(work, "view"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        **kw,
    )


def test_connector_stream_lifecycle(spark, sf_dir):
    work = tempfile.mkdtemp(prefix="conn_t_")
    stage_event_files(spark, sf_dir, os.path.join(work, "staged"), n_files=3)
    c = Connector(spark, _cfg(work))
    c.start(available_now=True)
    assert c.wait_until_ready()
    c.await_drained()
    c.close()
    got = sorted((r["user_id"], r["event_id"]) for r in c.read().collect())
    want = sorted(
        (r["user_id"], r["event_id"])
        for r in cdc_apply(load_table(spark, sf_dir, "events")).collect()
    )
    assert got == want


def test_connector_snapshot_only_mode(spark, sf_dir):
    work = tempfile.mkdtemp(prefix="conn_s_")
    os.makedirs(os.path.join(work, "staged"))
    events = load_table(spark, sf_dir, "events")
    c = Connector(
        spark, _cfg(work, snapshot_mode="snapshot_only"), snapshot_df=events
    )
    c.start()
    assert c.wait_until_ready()  # synchronous mode: ready immediately
    c.close()
    assert c.read().count() == cdc_apply(events).count()


def test_connector_initial_mode(spark, sf_dir):
    work = tempfile.mkdtemp(prefix="conn_i_")
    events = load_table(spark, sf_dir, "events")
    mid = events.agg(F.avg("event_id")).collect()[0][0]
    stage_event_files(spark, sf_dir, os.path.join(work, "staged"), n_files=3)
    c = Connector(
        spark,
        _cfg(work, snapshot_mode="initial"),
        snapshot_df=events.filter(F.col("event_id") <= mid),
    )
    c.start(available_now=True)
    c.await_drained()
    c.close()
    assert c.read().count() == cdc_apply(events).count()


def test_watermark_drops_late_rows(spark):
    """Q-T4: aggregation state beyond the watermark is finalized — a row
    arriving later than (max event time - watermark) for an already-closed
    window is dropped. Deterministic two-batch replay."""
    import shutil
    import uuid

    work = tempfile.mkdtemp(prefix="wm_t_")
    src = os.path.join(work, "src")
    os.makedirs(src)

    def write_batch(i, rows):
        df = spark.createDataFrame(
            rows, "event_id long, ts string, v double"
        ).withColumn("ts", F.to_timestamp("ts"))
        tmp = os.path.join(work, f"tmp{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        f = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        shutil.move(os.path.join(tmp, f), os.path.join(src, f"b{i}.parquet"))

    # batch 0: window 10:00 gets 2 rows; max event time moves to 12:00,
    # so watermark (10 min) passes 10:xx entirely
    write_batch(
        0,
        [
            (1, "2024-01-01 10:00:01", 1.0),
            (2, "2024-01-01 10:00:02", 1.0),
            (3, "2024-01-01 12:00:00", 1.0),
        ],
    )
    del uuid
    out = os.path.join(work, "out")
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def run():
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    # batch 1: a LATE row for the long-closed 10:00 window
    write_batch(1, [(4, "2024-01-01 10:00:03", 1.0)])
    run()
    rows = {}
    for r in spark.read.parquet(out).collect():
        k = r["w"]["start"].strftime("%H:%M")
        rows[k] = rows.get(k, 0) + r["n"]
    # the 10:00 window emitted with n=2; the late row (would make 3) dropped
    assert rows.get("10:00") == 2


def test_connector_live_replication_mode(spark):
    # the reference's primary real-world function end-to-end through the
    # facade: live slot -> consumer thread -> pgwal stream -> view, acks
    # forwarded to the (fake) server on close
    import time

    from go_pq_cdc_elasticsearch_spark.connector import ReplicationSettings
    from go_pq_cdc_elasticsearch_spark.sources import pgoutput as PG
    from go_pq_cdc_elasticsearch_spark.testing_utils import FakeReplicationServer

    cols = ["id", "v"]
    rel = PG.encode_relation(7, "public", "users", cols)
    txns = [
        [
            (10, rel),
            (10, PG.encode_begin(13, 0, 1)),
            (11, PG.encode_insert(7, ["1", "a"])),
            (12, PG.encode_insert(7, ["2", "b"])),
            (13, PG.encode_commit(13, 14, 0)),
        ],
        [
            (20, PG.encode_begin(22, 0, 2)),
            (21, PG.encode_update(7, ["1", "a2"])),
            (22, PG.encode_delete(7, ["2", None])),
            (23, PG.encode_commit(23, 24, 0)),
        ],
    ]
    server = FakeReplicationServer(txns, keepalive_each_txn=False)

    work = tempfile.mkdtemp(prefix="conn_live_")
    cfg = _cfg(
        work,
        keys=("id",),
        seq_col="lsn",
        op_col="op",
        delete_op="DELETE",
        replication=ReplicationSettings(
            host="127.0.0.1", port=server.port, slot="live_slot", batch_size=2,
            ack_interval_sec=0.2,
        ),
    )
    c = Connector(spark, cfg)
    c.start()
    assert c.wait_until_ready()
    assert server.slots == ["live_slot"]

    # poll the view until the expected state lands (processing-time trigger)
    deadline = time.time() + 120
    state = {}
    while time.time() < deadline:
        try:
            state = {r["id"]: r["payload"]["v"] for r in c.read().collect()}
        except FileNotFoundError:
            state = {}
        if state == {"1": "a2"}:
            break
        time.sleep(0.5)
    assert state == {"1": "a2"}  # id 2 deleted, id 1 updated — LWW by lsn

    c.close()
    server.done.wait(5)
    # close() forwarded the committed stream frontier as a slot ack
    assert server.acks and server.acks[-1]["flushed"] >= 13


def test_connector_rejects_unknown_snapshot_mode(spark):
    import pytest

    work = tempfile.mkdtemp(prefix="conn_mode_")
    cfg = _cfg(work)
    cfg.snapshot_mode = "snapshot-only"  # typo: underscore expected
    with pytest.raises(ValueError, match="snapshot_mode"):
        Connector(spark, cfg).start()


def test_connector_validates_snapshot_df_before_connecting(spark):
    """A misconfigured initial-mode start() (no snapshot_df) must raise
    BEFORE opening a walsender session — raising after would leave the
    slot 'in use' so a corrected retry fails until close() is called."""
    import pytest

    from go_pq_cdc_elasticsearch_spark.connector import ReplicationSettings

    work = tempfile.mkdtemp(prefix="conn_val_")
    cfg = _cfg(
        work,
        snapshot_mode="initial",
        replication=ReplicationSettings(host="127.0.0.1", port=1, slot="s"),
    )
    c = Connector(spark, cfg)  # snapshot_df deliberately omitted
    c._connect_replication = lambda: pytest.fail(
        "connected to replication before validating snapshot_df"
    )
    with pytest.raises(ValueError, match="requires snapshot_df"):
        c.start()


def test_connector_start_failure_releases_walsender(spark, sf_dir):
    """If start() fails after _connect_replication, the walsender session
    must be closed (else the slot stays 'in use' for in-process retries)."""
    import pytest

    from go_pq_cdc_elasticsearch_spark.connector import ReplicationSettings

    work = tempfile.mkdtemp(prefix="conn_rel_")
    snap = load_table(spark, sf_dir, "events").limit(5)
    cfg = _cfg(
        work,
        snapshot_mode="initial",
        replication=ReplicationSettings(host="127.0.0.1", port=1, slot="s"),
    )
    c = Connector(spark, cfg, snapshot_df=snap)
    closed = []

    class _FakeClient:
        def close(self):
            closed.append(True)

    # new contract (review r6): _connect_replication RETURNS the client;
    # start() assigns it only once usable
    c._connect_replication = lambda: _FakeClient()

    class _Boom(Exception):
        pass

    def boom() -> None:
        raise _Boom

    c._start_replication_consumer = boom
    with pytest.raises(_Boom):
        c.start()
    assert closed == [True]
    assert c._repl_client is None


def test_connector_initial_mode_creates_slot_before_snapshot(spark, sf_dir):
    """The slot's consistent point must PRECEDE the snapshot read: a
    change landing between the snapshot query and slot creation would be
    in neither (served stale forever). START_REPLICATION itself stays
    after the merge (nobody drains CopyBoth during a long backfill)."""
    import pytest

    from go_pq_cdc_elasticsearch_spark.connector import ReplicationSettings

    order = []
    work = tempfile.mkdtemp(prefix="conn_order_")
    snap = load_table(spark, sf_dir, "events").limit(5)
    cfg = _cfg(
        work,
        snapshot_mode="initial",
        replication=ReplicationSettings(host="127.0.0.1", port=1, slot="s"),
    )
    c = Connector(spark, cfg, snapshot_df=snap)
    c._connect_replication = lambda: order.append("create_slot")
    real_merge = c.view.merge_batch
    c.view.merge_batch = lambda *a, **k: (order.append("snapshot"), real_merge(*a, **k))[1]

    class _Halt(Exception):
        pass

    def halt() -> None:
        order.append("start_replication")
        raise _Halt

    c._start_replication_consumer = halt
    with pytest.raises(_Halt):
        c.start()
    assert order == ["create_slot", "snapshot", "start_replication"]


def test_wal_transform_routes_and_drops_unmapped_tables(spark):
    """With table_index_mapping configured, R6 routing applies before the
    view transform and unroutable tables are dropped (the reference
    acks-and-drops, connector.go:147-152) — without it a second published
    table's rows silently overwrote the view under shared key values
    (review r5)."""
    from go_pq_cdc_elasticsearch_spark.connector import (
        ConnectorConfig,
        wal_to_view_transform,
    )

    cfg = ConnectorConfig(
        staged_dir="/tmp/x",
        view_path="/tmp/y",
        checkpoint_dir="/tmp/z",
        keys=("id",),
        seq_col="lsn",
        table_index_mapping={"public.orders": "orders_idx"},
    )
    rows = [
        (1, "INSERT", "public", "orders", None, {"id": "1"}, "t"),
        (2, "INSERT", "public", "users", None, {"id": "1"}, "t"),
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, op string, table_schema string, table_name string, "
        "before map<string,string>, after map<string,string>, ts string",
    )
    out = wal_to_view_transform(cfg)(df).collect()
    assert len(out) == 1  # users dropped, not merged over orders
    assert out[0]["id"] == "1" and out[0]["lsn"] == 1


def test_connector_truncate_tombstone_empties_view(spark):
    """on_truncate='tombstone_table' through the full facade against the
    scripted wire server: pre-truncate rows merge, the TRUNCATE tombstone
    wipes them, post-truncate rows survive — and rows arriving in the
    SAME batch but before the truncate position never land."""
    import time

    from go_pq_cdc_elasticsearch_spark.connector import ReplicationSettings
    from go_pq_cdc_elasticsearch_spark.sources import pgoutput as PG
    from go_pq_cdc_elasticsearch_spark.testing_utils import FakeReplicationServer

    cols = ["id", "v"]
    rel = PG.encode_relation(7, "public", "users", cols)
    txns = [
        [
            (10, rel),
            (10, PG.encode_begin(13, 0, 1)),
            (11, PG.encode_insert(7, ["1", "a"])),
            (12, PG.encode_insert(7, ["2", "b"])),
            (13, PG.encode_commit(13, 14, 0)),
        ],
        [
            (20, PG.encode_begin(24, 0, 2)),
            (21, PG.encode_insert(7, ["3", "pre"])),
            (22, PG.encode_truncate([7])),
            (23, PG.encode_insert(7, ["9", "post"])),
            (24, PG.encode_commit(24, 25, 0)),
        ],
    ]
    server = FakeReplicationServer(txns, keepalive_each_txn=False)

    work = tempfile.mkdtemp(prefix="conn_trunc_")
    cfg = _cfg(
        work,
        keys=("id",),
        seq_col="lsn",
        op_col="op",
        delete_op="DELETE",
        replication=ReplicationSettings(
            host="127.0.0.1", port=server.port, slot="live_slot",
            batch_size=2, ack_interval_sec=0.2,
            on_truncate="tombstone_table",
        ),
    )
    c = Connector(spark, cfg)
    c.start()
    assert c.wait_until_ready()
    deadline = time.time() + 120
    state = {}
    while time.time() < deadline:
        try:
            state = {r["id"]: r["payload"]["v"] for r in c.read().collect()}
        except FileNotFoundError:
            state = {}
        if state == {"9": "post"}:
            break
        time.sleep(0.5)
    assert state == {"9": "post"}, state
    c.close()
    server.done.wait(5)
    # acks advanced past the truncate txn
    assert server.acks and server.acks[-1]["flushed"] >= 24


def test_wal_transform_drops_truncate_rows_without_tombstone_policy(spark):
    """Review r10: a staged TRUNCATE row replayed under the default
    'ignore' policy (e.g. segments written by a tombstone_table run, then
    a restart reverted the setting) must be DROPPED by the transform —
    unintercepted, its NULL images merged as a NULL-keyed live garbage
    row. With the policy on, the row keeps the reserved marker."""
    from go_pq_cdc_elasticsearch_spark.connector import (
        TRUNCATE_MARKER,
        ReplicationSettings,
        wal_to_view_transform,
    )

    rows = [
        (10, "INSERT", "public", "t", None, {"id": "1", "v": "a"}, "ts"),
        (11, "TRUNCATE", "public", "t", None, None, "ts"),
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, op string, table_schema string, table_name string, "
        "before map<string,string>, after map<string,string>, ts string",
    )
    work = tempfile.mkdtemp(prefix="conn_tr_")
    base = dict(keys=("id",), seq_col="lsn", op_col="op", delete_op="DELETE")

    # default policy (no replication / ignore): truncate row dropped
    got = wal_to_view_transform(_cfg(work, **base))(df).collect()
    assert [r["lsn"] for r in got] == [10]

    ignore = _cfg(
        work,
        **base,
        replication=ReplicationSettings(host="h", port=1, slot="s"),
    )
    got = wal_to_view_transform(ignore)(df).collect()
    assert [r["lsn"] for r in got] == [10]

    tomb = _cfg(
        work,
        **base,
        replication=ReplicationSettings(
            host="h", port=1, slot="s", on_truncate="tombstone_table"
        ),
    )
    got = {r["lsn"]: r["op"] for r in wal_to_view_transform(tomb)(df).collect()}
    assert got == {10: "insert", 11: TRUNCATE_MARKER}


def test_metered_writer_books_once_under_frontier_redelivery(spark):
    """Review r10: a redelivered epoch that the view's frontier guard
    SKIPS (crash between merge commit and checkpoint commit — on restart
    _last_epoch already equals the redelivered epoch id) must book
    nothing; only the call that actually advanced the frontier books.
    Driven through the Connector's foreachBatch function, whose one
    pre-merge aggregate computes the counters before the merge runs."""
    from go_pq_cdc_elasticsearch_spark.connector import _read_once
    from go_pq_cdc_elasticsearch_spark.metrics import PrometheusRegistry

    work = tempfile.mkdtemp(prefix="conn_meter_")
    cfg = _cfg(work, keys=("user_id",))
    c = Connector(spark, cfg)
    c.metrics = PrometheusRegistry(slot_name="s")
    writer = _read_once(c._write_batch)
    batch = spark.createDataFrame(
        [(1, "insert", 7), (2, "delete", 7), (3, "update", 8)],
        "event_id long, event_type string, user_id long",
    )
    writer(batch, 0)
    assert c.metrics.index_total == {"view": 2.0}
    assert c.metrics.delete_total == {"view": 1.0}
    # redelivery of the committed epoch: frontier already at 0, merge
    # skips, counters must not move
    writer(batch, 0)
    assert c.metrics.index_total == {"view": 2.0}
    assert c.metrics.delete_total == {"view": 1.0}
    # next epoch books normally
    writer(batch.withColumn("event_id", F.col("event_id") + 10), 1)
    assert c.metrics.index_total == {"view": 4.0}


def test_metered_writer_adopts_frontier_before_booking(spark):
    """ADVICE r11: on a standby's FIRST batch the view object is fresh —
    merge_batch adopts the on-disk frontier INSIDE the call. A writer
    that captured `before` from the raw field saw None, the merge
    skipped (frontier already at epoch_id), and counters were booked for
    a merge that never ran. The writer must adopt before capturing."""
    from go_pq_cdc_elasticsearch_spark.connector import _read_once
    from go_pq_cdc_elasticsearch_spark.metrics import PrometheusRegistry

    work = tempfile.mkdtemp(prefix="conn_meter_sb_")
    batch = spark.createDataFrame(
        [(1, "insert", 7), (2, "delete", 7)],
        "event_id long, event_type string, user_id long",
    )
    # ORDER MATTERS (review r11): the standby's view OBJECT must be
    # constructed while the view does NOT yet exist on disk — that is
    # the late-adoption scenario. Building it after the active's merge
    # let __init__ adopt the frontier, and the test passed with or
    # without the writer's own _load() call.
    standby = Connector(spark, _cfg(work, keys=("user_id",)))
    assert standby.view._last_epoch is None  # nothing adopted yet
    # the active (created later, merging first) commits epoch 0 to meta
    active = Connector(spark, _cfg(work, keys=("user_id",)))
    active.view.merge_batch(batch, epoch_id=0)
    # the standby's first delivered batch is the REDELIVERY of that epoch
    standby.metrics = PrometheusRegistry(slot_name="s")
    writer = _read_once(standby._write_batch)
    writer(batch, 0)
    assert standby.metrics.index_total == {}  # skipped merge books nothing
    assert standby.metrics.delete_total == {}
    # the next (genuinely new) epoch books normally
    writer(batch.withColumn("event_id", F.col("event_id") + 10), 1)
    assert standby.metrics.index_total == {"view": 1.0}
    assert standby.metrics.delete_total == {"view": 1.0}


def test_live_batch_costs_three_spark_jobs(spark):
    """A metered micro-batch into a 1-bucket view, driven through the
    Connector's foreachBatch function on a persisted batch: one coalesced
    pre-merge aggregate (2 jobs) hands the row count to the merge, which
    then runs no emptiness probe and merges in 1 job. Counted over every
    job group with the status store."""
    from go_pq_cdc_elasticsearch_spark.connector import _read_once
    from go_pq_cdc_elasticsearch_spark.metrics import PrometheusRegistry

    work = tempfile.mkdtemp(prefix="conn_jobs_")
    c = Connector(spark, _cfg(work, keys=("user_id",)))
    c.metrics = PrometheusRegistry(slot_name="s")
    writer = _read_once(c._write_batch)
    schema = "event_id long, event_type string, user_id long, value double"
    writer(spark.createDataFrame(
        [(i, "insert", i, float(i)) for i in range(40)], schema), 0)
    assert c.view.n_buckets == 1
    store = spark.sparkContext._jsc.sc().statusStore()
    for epoch in (1, 2):
        batch = spark.createDataFrame(
            [(100 * epoch + i, "update", i, 1.0) for i in range(0, 40, 3)]
            + [(100 * epoch + 50, "delete", 39, None)],
            schema,
        )
        before = store.jobsList(None).size()
        writer(batch, epoch)
        assert store.jobsList(None).size() - before <= 3, epoch
    assert c.view._last_epoch == 2
    assert c.metrics.delete_total == {"view": 2.0}
    assert c.view.read().count() == 39


def test_staged_truncate_marker_and_start_warning(spark, caplog):
    """ADVICE r11: segments staged by an on_truncate='tombstone_table'
    run carry TRUNCATE rows; replaying them through a connector whose
    policy reverted to 'ignore' drops them silently. start() counts the
    tombstones in the live segments and warns loudly."""
    import logging

    from go_pq_cdc_elasticsearch_spark.connector import ReplicationSettings
    from go_pq_cdc_elasticsearch_spark.sources.wal import (
        staged_truncate_count,
        write_wal_segment,
    )

    work = tempfile.mkdtemp(prefix="conn_trmark_")
    staged = os.path.join(work, "staged")
    write_wal_segment(
        staged,
        [
            {"lsn": 10, "op": "INSERT", "after": {"id": "1"}},
            {"lsn": 11, "op": "TRUNCATE", "before": None, "after": None},
        ],
    )
    write_wal_segment(
        staged, [{"lsn": 12, "op": "TRUNCATE", "before": None, "after": None}]
    )
    assert staged_truncate_count(staged) == 2  # summed across live segments

    cfg = _cfg(
        work,
        keys=("id",),
        replication=ReplicationSettings(host="h", port=1, slot="s"),
    )
    c = Connector(spark, cfg)
    # exercise only the policy check in _start_after_connect: stub the
    # pieces that need a live server / a running stream
    c._start_replication_consumer = lambda: None
    import go_pq_cdc_elasticsearch_spark.connector as conn_mod

    with caplog.at_level(logging.WARNING, logger=conn_mod.__name__):
        try:
            c._start_after_connect(mode="never", available_now=True)
        finally:
            c.close()
    warned = [
        r for r in caplog.records if "TRUNCATE tombstone" in r.getMessage()
    ]
    assert warned and "2" in warned[0].getMessage()

    # tombstone_table mode replays them on purpose: no warning
    caplog.clear()
    cfg2 = _cfg(
        work,
        keys=("id",),
        replication=ReplicationSettings(
            host="h", port=1, slot="s", on_truncate="tombstone_table"
        ),
    )
    c2 = Connector(spark, cfg2)
    c2._start_replication_consumer = lambda: None
    with caplog.at_level(logging.WARNING, logger=conn_mod.__name__):
        try:
            c2._start_after_connect(mode="never", available_now=True)
        finally:
            c2.close()
    assert not [
        r for r in caplog.records if "TRUNCATE tombstone" in r.getMessage()
    ]


def test_start_as_standby_aborted_by_close(spark):
    """Review r10: close() must end a start_as_standby polling loop —
    the consumer's _repl_stop doesn't exist while START_REPLICATION keeps
    failing with 55006, so the standby carries its own abort signal."""
    import threading
    import time

    from go_pq_cdc_elasticsearch_spark.connector import ReplicationSettings
    from go_pq_cdc_elasticsearch_spark.sources.pgoutput import (
        ReplicationStreamError,
    )

    work = tempfile.mkdtemp(prefix="conn_sb_")
    cfg = _cfg(
        work,
        keys=("id",),
        replication=ReplicationSettings(host="h", port=1, slot="s"),
    )
    c = Connector(spark, cfg)
    c.start = lambda available_now=False: (_ for _ in ()).throw(
        ReplicationStreamError("slot in use", sqlstate="55006")
    )
    threading.Timer(1.0, c.close).start()
    t0 = time.time()
    import pytest

    with pytest.raises(RuntimeError, match="aborted by close"):
        c.start_as_standby(poll_interval_sec=30.0)
    # aborted promptly, not after the 30 s poll interval
    assert time.time() - t0 < 10


def test_connector_start_fences_prior_writer(spark, sf_dir):
    """U3 fencing end-to-end (review r11): once a second connector starts
    on the same view, the first one's STREAMING query dies loudly with
    FencedWriterError on its next merge instead of writing behind the
    takeover. Staged-dir connectors fence at start; replication
    connectors fence only after winning the slot (live suite)."""
    import time

    import pytest

    from go_pq_cdc_elasticsearch_spark.sink.materialized import (
        FencedWriterError,
        read_fence,
    )

    work = tempfile.mkdtemp(prefix="conn_f_")
    staged_a = os.path.join(work, "staged_a")
    stage_event_files(spark, sf_dir, staged_a, n_files=2)
    view_path = os.path.join(work, "view")

    a = Connector(
        spark,
        ConnectorConfig(
            staged_dir=staged_a,
            view_path=view_path,
            checkpoint_dir=os.path.join(work, "ckpt_a"),
            max_files_per_trigger=1,
            processing_time="1 second",
        ),
    )
    a.start()
    assert a.wait_until_ready()
    assert read_fence(view_path) == 1
    deadline = time.monotonic() + 120
    want = cdc_apply(load_table(spark, sf_dir, "events")).count()
    while time.monotonic() < deadline:
        try:
            if a.read().count() == want:
                break
        except FileNotFoundError:
            pass
        time.sleep(0.5)
    else:
        raise AssertionError("connector A never drained its staged files")

    # takeover: B starts against the SAME view (its own staged dir and
    # checkpoint — the shared resource under contention is the view)
    staged_b = os.path.join(work, "staged_b")
    stage_event_files(spark, sf_dir, staged_b, n_files=1)
    b = Connector(
        spark,
        ConnectorConfig(
            staged_dir=staged_b,
            view_path=view_path,
            checkpoint_dir=os.path.join(work, "ckpt_b"),
        ),
    )
    b.start(available_now=True)
    b.await_drained()
    b.close()
    assert read_fence(view_path) == 2

    # feed the zombie: its next merge must kill its query, not the view
    stage_event_files(spark, sf_dir, staged_a, n_files=3)
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline and a._query.isActive:
        time.sleep(0.5)
    exc = a._query.exception()
    assert exc is not None, "zombie query kept running after the fence bump"
    assert "FencedWriterError" in str(exc) or "fenced" in str(exc)
    a.close()

    # the view survives, still written by B's generation only
    assert b.read().count() == want

    # a direct zombie-object mutation is equally dead
    with pytest.raises(FencedWriterError):
        a.view.vacuum(watermark_seq=10**9)


def test_wal_transform_always_drops_message_rows(spark):
    """r11: MESSAGE envelope rows (on_message='envelope') are signals,
    not table rows — the DEFAULT transform drops them in every policy
    combination (they carry no key image and would merge as NULL-keyed
    garbage). Custom transforms see them untouched upstream."""
    from go_pq_cdc_elasticsearch_spark.connector import (
        ReplicationSettings,
        wal_to_view_transform,
    )

    rows = [
        (10, "INSERT", "public", "t", None, {"id": "1", "v": "a"}, "ts"),
        (
            11, "MESSAGE", None, None, None,
            {"prefix": "wm", "content_b64": "YQ==", "transactional": "true"},
            None,
        ),
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, op string, table_schema string, table_name string, "
        "before map<string,string>, after map<string,string>, ts string",
    )
    work = tempfile.mkdtemp(prefix="conn_msg_")
    base = dict(keys=("id",), seq_col="lsn", op_col="op", delete_op="DELETE")
    for cfg in (
        _cfg(work, **base),
        _cfg(
            work, **base,
            replication=ReplicationSettings(
                host="h", port=1, slot="s", on_message="envelope"
            ),
        ),
        _cfg(
            work, **base,
            replication=ReplicationSettings(
                host="h", port=1, slot="s", on_truncate="tombstone_table"
            ),
        ),
    ):
        got = wal_to_view_transform(cfg)(df).collect()
        assert [r["lsn"] for r in got] == [10]


def test_staged_truncate_marker_retired_by_prune():
    """Review r11: the replay-parity warning covers tombstones still
    REPLAYABLE from live segments. Once the ack sweep prunes the carrying
    segments, they are no longer counted — a cumulative total warned
    forever (a permanent false alarm). The count is a scan of the live
    segments, so a segment file that is gone counts nothing, and a
    payload value spelled like the op is not a tombstone."""
    from go_pq_cdc_elasticsearch_spark.sources.wal import (
        prune_segments,
        staged_truncate_count,
        write_wal_segment,
    )

    staged = os.path.join(tempfile.mkdtemp(prefix="conn_trprune_"), "staged")
    write_wal_segment(
        staged, [{"lsn": 10, "op": "TRUNCATE", "before": None, "after": None}]
    )
    write_wal_segment(
        staged,
        [
            {"lsn": 20, "op": "TRUNCATE", "before": None, "after": None},
            {"lsn": 21, "op": "TRUNCATE", "before": None, "after": None},
        ],
    )
    write_wal_segment(staged, [{"lsn": 30, "op": "INSERT", "after": {"id": "1"}}])
    assert staged_truncate_count(staged) == 3

    # frontier consumed the first segment (successor starts at 20)
    assert prune_segments(staged, committed_lsn=19) == 1
    assert staged_truncate_count(staged) == 2

    # fully drained (newest segment always survives, but it carries none)
    assert prune_segments(staged, committed_lsn=29) == 1
    assert staged_truncate_count(staged) == 0

    # a segment file that is gone counts nothing
    seg = os.path.join(staged, "wal_0000000000000040.ndjson")
    write_wal_segment(
        staged, [{"lsn": 40, "op": "TRUNCATE", "before": None, "after": None}]
    )
    assert staged_truncate_count(staged) == 1
    os.remove(seg)
    assert staged_truncate_count(staged) == 0

    # the quoted op string inside a payload is not a tombstone
    write_wal_segment(
        staged,
        [
            {"lsn": 50, "op": "INSERT", "after": {"id": "2", "op": "TRUNCATE"}},
            {"lsn": 51, "op": "TRUNCATE", "before": None, "after": None},
        ],
    )
    assert staged_truncate_count(staged) == 1


@pytest.mark.parametrize(
    "metric_port,on_truncate",
    [(None, "ignore"), (0, "ignore"), (None, "tombstone_table")],
    ids=["plain", "metered", "tombstone"],
)
def test_connector_reads_each_segment_once(
    spark, tmp_path, monkeypatch, metric_port, on_truncate
):
    """Each staged segment's rows are emitted once: with batch_size=1
    every change is its own segment, so a batch spans several of them, and
    the pre-merge aggregate and the merge must not make the source emit
    a segment again.
    Counted in the process that runs the pgwal reader: the segment reader
    is wrapped to log each segment whose rows it emits."""
    import time

    from go_pq_cdc_elasticsearch_spark.connector import ReplicationSettings
    from go_pq_cdc_elasticsearch_spark.sources import pgoutput as PG
    from go_pq_cdc_elasticsearch_spark.sources import wal
    from go_pq_cdc_elasticsearch_spark.testing_utils import FakeReplicationServer

    log_path = str(tmp_path / "reads.log")
    orig_read_segment = wal._read_segment

    def counted_read_segment(fpath, lo, hi):
        rows = orig_read_segment(fpath, lo, hi)
        if rows:
            import os as _os

            with open(log_path, "a") as f:
                f.write(_os.path.basename(fpath) + "\n")
        return rows

    monkeypatch.setattr(wal, "_read_segment", counted_read_segment)

    rel = PG.encode_relation(7, "public", "users", ["id", "v"])
    txns = [
        [
            (10, rel),
            (10, PG.encode_begin(14, 0, 1)),
            (11, PG.encode_insert(7, ["1", "a"])),
            (12, PG.encode_insert(7, ["2", "b"])),
            (13, PG.encode_insert(7, ["3", "c"])),
            (14, PG.encode_commit(14, 15, 0)),
        ],
        [
            (20, PG.encode_begin(23, 0, 2)),
            (21, PG.encode_update(7, ["1", "a2"])),
            (22, PG.encode_delete(7, ["2", None])),
            (23, PG.encode_commit(23, 24, 0)),
        ],
    ]
    server = FakeReplicationServer(txns, keepalive_each_txn=False)
    work = str(tmp_path / "w")
    cfg = _cfg(
        work,
        keys=("id",),
        seq_col="lsn",
        op_col="op",
        delete_op="DELETE",
        # the snapshot creates the view, so the streamed batches take the
        # incremental path (emptiness probe, then merge)
        snapshot_mode="initial",
        metric_port=metric_port,
        replication=ReplicationSettings(
            host="127.0.0.1", port=server.port, slot="once_slot",
            batch_size=1, ack_interval_sec=0.2, on_truncate=on_truncate,
        ),
    )
    snap = spark.createDataFrame(
        [(1, "insert", "0", {"v": "s"})],
        "lsn long, op string, id string, payload map<string,string>",
    )
    c = Connector(spark, cfg, snapshot_df=snap)
    c.start()
    try:
        # wait on the commit log: it marks the batch that carried lsn 22
        deadline = time.time() + 120
        while PG.committed_checkpoint_lsn(cfg.checkpoint_dir) < 22:
            assert time.time() < deadline, "stream did not commit lsn 22"
            time.sleep(0.2)
        state = {r["id"]: r["payload"]["v"] for r in c.read().collect()}
        assert state == {"0": "s", "1": "a2", "3": "c"}
    finally:
        c.close()
        server.done.wait(5)
        # later streams in this session get the unwrapped reader
        monkeypatch.undo()
        wal.register(spark)
    with open(log_path) as f:
        reads = f.read().split()
    assert len(set(reads)) >= 2, reads  # batches spanned several segments
    assert sorted(reads) == sorted(set(reads)), reads  # each read once


def test_read_once_unpersists_after_return_and_raise(spark):
    from pyspark import StorageLevel

    from go_pq_cdc_elasticsearch_spark.connector import _read_once

    seen = []

    def inner(batch_df, epoch_id):
        seen.append(batch_df.storageLevel)
        if epoch_id == 1:
            raise RuntimeError("merge failed")

    none = StorageLevel(False, False, False, False)
    df = spark.range(5)
    _read_once(inner)(df, 0)
    assert df.storageLevel == none
    with pytest.raises(RuntimeError, match="merge failed"):
        _read_once(inner)(df, 1)
    assert df.storageLevel == none
    assert len(seen) == 2 and none not in seen  # persisted while inner ran


def test_available_now_restart_drains_segments_staged_after_failure(
    spark, tmp_path
):
    """A pgwal availableNow restart whose newest offset-log batch never
    committed replays that batch first. The same drain must then read the
    segments staged after the failure, not stop at the replayed batch."""
    from go_pq_cdc_elasticsearch_spark.connector import ReplicationSettings
    from go_pq_cdc_elasticsearch_spark.sources.pgoutput import (
        committed_checkpoint_lsn,
    )
    from go_pq_cdc_elasticsearch_spark.sources.wal import write_wal_segment

    cfg = _cfg(
        str(tmp_path),
        keys=("id",),
        seq_col="lsn",
        op_col="op",
        delete_op="DELETE",
        replication=ReplicationSettings(host="h", port=1, slot="s"),
    )

    def stage(lsns):
        write_wal_segment(
            cfg.staged_dir,
            [
                {"lsn": n, "op": "INSERT", "table_schema": "public",
                 "table_name": "users", "before": None,
                 "after": {"id": str(n)}, "ts": None}
                for n in lsns
            ],
        )

    def drain(fail=False):
        c = Connector(spark, cfg)
        # the drain reads the staged dir only: no walsender session
        c._connect_replication = lambda: None
        c._start_replication_consumer = lambda: None
        if fail:
            def boom(*_a, **_k):
                raise RuntimeError("injected merge failure")

            c.view.merge_batch = boom
        c.start(available_now=True)
        try:
            c.await_drained()
        finally:
            c.close()
        return c

    stage([1, 2])
    drain()
    assert committed_checkpoint_lsn(cfg.checkpoint_dir) == 2
    stage([3, 4])
    with pytest.raises(Exception, match="injected merge failure"):
        drain(fail=True)
    assert committed_checkpoint_lsn(cfg.checkpoint_dir) == 2
    stage([5, 6])
    c = drain()
    assert committed_checkpoint_lsn(cfg.checkpoint_dir) == 6
    assert sorted(int(r["id"]) for r in c.read().collect()) == [1, 2, 3, 4, 5, 6]


def test_live_staged_dir_holds_only_segments(spark):
    """Live mode acks from the Spark checkpoint alone: after two merged
    micro-batches and close(), the staged dir holds nothing but
    ``wal_*.ndjson`` segments."""
    import threading
    import time

    from go_pq_cdc_elasticsearch_spark.connector import ReplicationSettings
    from go_pq_cdc_elasticsearch_spark.sources import pgoutput as PG
    from go_pq_cdc_elasticsearch_spark.testing_utils import FakeReplicationServer

    rel = PG.encode_relation(7, "public", "users", ["id", "v"])
    gate = threading.Event()

    def script():
        # the second transaction waits until the first one is merged, so
        # the two land in separate micro-batches
        yield [
            (10, rel),
            (10, PG.encode_begin(13, 0, 1)),
            (11, PG.encode_insert(7, ["1", "a"])),
            (12, PG.encode_insert(7, ["2", "b"])),
            (13, PG.encode_commit(13, 14, 0)),
        ]
        gate.wait(120)
        yield [
            (20, PG.encode_begin(23, 0, 2)),
            (21, PG.encode_update(7, ["1", "a2"])),
            (22, PG.encode_delete(7, ["2", None])),
            (23, PG.encode_commit(23, 24, 0)),
        ]

    server = FakeReplicationServer(script(), keepalive_each_txn=False)
    work = tempfile.mkdtemp(prefix="conn_onlyseg_")
    cfg = _cfg(
        work,
        keys=("id",),
        seq_col="lsn",
        op_col="op",
        delete_op="DELETE",
        replication=ReplicationSettings(
            host="127.0.0.1", port=server.port, slot="onlyseg_slot",
            ack_interval_sec=0.2,
        ),
    )
    c = Connector(spark, cfg)
    c.start()
    try:
        for lsn in (12, 22):
            deadline = time.time() + 120
            while PG.committed_checkpoint_lsn(cfg.checkpoint_dir) < lsn:
                assert time.time() < deadline, f"stream did not commit lsn {lsn}"
                time.sleep(0.1)
            gate.set()
        assert c.view._last_epoch >= 1  # two merged micro-batches
        state = {r["id"]: r["payload"]["v"] for r in c.read().collect()}
        assert state == {"1": "a2"}
    finally:
        gate.set()
        c.close()
        server.done.wait(5)
    names = os.listdir(cfg.staged_dir)
    assert names and all(
        n.startswith("wal_") and n.endswith(".ndjson") for n in names
    ), names
