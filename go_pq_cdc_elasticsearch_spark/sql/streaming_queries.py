"""Streaming declared queries (SURVEY.md §2.2 Q-T1..T6).

Each runs a genuine Structured Streaming query (multi-micro-batch file
replay of the events feed, availableNow trigger) and returns the final
result as a batch DataFrame; the oracle is the equivalent batch SQL — the
equivalence IS the check (streaming result over replay == batch result).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_pq_cdc_elasticsearch_spark.sources.replay import read_event_stream
from go_pq_cdc_elasticsearch_spark.sql.registry import ext_query, query, query_work_dir


def _staged_stream(spark: SparkSession, sf_dir: str, n_files: int = 2):
    """Stage (or reuse) the seq-ordered event files for this sf_dir via the
    process-wide cache in streaming/pipeline.py — staging is
    deterministic, so every consumer shares one layout per key."""
    from go_pq_cdc_elasticsearch_spark.streaming.pipeline import staged_events

    staged = staged_events(spark, sf_dir, n_files)
    return read_event_stream(spark, staged, max_files_per_trigger=1)


def _drain_to_memory(sdf, output_mode: str) -> DataFrame:
    """Run a streaming aggregation to completion into a memory sink and
    return the final table. Plans under the replay-stream state partition
    count (streaming/pipeline.py) — 32 state-store commits per micro-batch
    for a few hundred keys was the r2 streaming-bench regression."""
    from go_pq_cdc_elasticsearch_spark.streaming.pipeline import (
        stream_partition_conf,
    )

    name = "q_" + uuid.uuid4().hex[:12]
    spark = sdf.sparkSession
    with stream_partition_conf(spark):
        q = (
            sdf.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # pin the result and DROP the memory-sink table: every invocation
    # registered a uuid-named table holding the full sink output in
    # driver memory for the session lifetime (review r6 — bench re-runs
    # and multi-sf sessions accumulated dozens). localCheckpoint keeps
    # the data distributed and detaches it from the dropped table.
    # LAZY (r12): the caller's epilogue is always consumed exactly once
    # (noop write / driver collect), whose action materializes the
    # checkpoint — the eager form paid one extra driver-synced job per
    # streaming query. Dropping the temp view first is safe: the plan is
    # already analyzed and holds the sink's in-memory relation directly;
    # the catalog name is just a handle.
    out = spark.table(name).localCheckpoint(eager=False)
    spark.catalog.dropTempView(name)
    return out


@query(
    "q_t1_stream_tumbling",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
               count(*) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY w_start
    """,
    doc="Tumbling-window streaming count over multi-batch replay == batch "
    "date_trunc aggregation.",
)
def q_t1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit NULL-ts filter on BOTH sides (the q_t3 idiom): Spark's
    # TimeWindowing injects an implicit ts IS NOT NULL, while the bare
    # oracle GROUP BY emitted a NULL w_start group — one NULL ts in a
    # regenerated feed broke rowcount parity (proven by execution, r8)
    stream = _staged_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = stream.groupBy(F.window("ts", "1 hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = _drain_to_memory(agg, "complete")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        "n",
    )


@query(
    "q_t2_stream_sliding",
    oracle="""
        WITH starts AS (
            SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 * 1000000) AS w
            FROM events WHERE ts IS NOT NULL
            UNION ALL
            SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 * 1000000)
                   - INTERVAL 30 MINUTE AS w
            FROM events WHERE ts IS NOT NULL
        )
        SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS w_start, count(*) AS n
        FROM starts GROUP BY w_start
    """,
    doc="Sliding-window (1h window, 30m slide) streaming count == batch "
    "expansion of each event into its two covering windows.",
)
def q_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL-ts filtered on both sides — see q_t1 (here the bare oracle
    # emitted TWO spurious NULL rows per NULL-ts event, one per UNION arm)
    stream = _staged_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = stream.groupBy(F.window("ts", "1 hour", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = _drain_to_memory(agg, "complete")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        "n",
    )


@query(
    "q_t3_stream_session",
    oracle="""
        SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions FROM (
            SELECT user_id,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events WHERE ts IS NOT NULL)
        GROUP BY user_id
    """,
    doc="Session windows (30m gap) per user == batch gaps-and-islands. "
    "Spark closes a session when the next event is >= gap after the last.",
)
def q_t3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # NULL event times are filtered on BOTH sides (review r7): Spark's
    # session_window cannot place a NULL-ts row (a user whose rows are all
    # NULL-ts would vanish) while the batch oracle's lag() branch would
    # count it as a session; mixed users additionally ride the
    # NULLS FIRST/LAST window-order divergence.
    stream = _staged_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    sess = stream.groupBy(
        F.session_window("ts", "30 minutes"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = _drain_to_memory(sess, "complete")
    # Count sessions from the drained windows via an explicit
    # gaps-and-islands merge rather than a bare count: if the state store
    # ever leaves two overlapping/adjacent windows unmerged across
    # micro-batches (the one mechanism that can make "same rows, different
    # counts" — r2 driver hash mismatch), the merge collapses them to the
    # same count the batch oracle computes. For properly-merged state the
    # windows are disjoint per user and this is the identity.
    s = out.select(
        "user_id",
        F.col("session_window.start").alias("s"),
        F.col("session_window.end").alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_e.isNull() | (F.col("s") >= prev_max_e), 1
    ).otherwise(0)
    return (
        s.withColumn("__i", new_island)
        .groupBy("user_id")
        .agg(F.sum("__i").cast("long").alias("n_sessions"))
    )


# q_t4's watermark replay layout, staged once per (sf_dir, source
# fingerprint) and shared across invocations in one process — the same
# untimed-harness-setup convention as streaming/pipeline.py::staged_events
# (the shared q_t1..t5 layouts). Staging is deterministic: the slice
# assignment depends only on each row's ts vs max(ts)-24h, both from the
# source table, so every invocation would rebuild byte-identical files.
# The TIMED work — the 3-micro-batch replay, watermark propagation, the
# stateful append aggregation — still runs in full per invocation. Value
# None = provably empty feed (the oracle's empty result).
_WM_STAGE_CACHE: dict[tuple, str | None] = {}


def _staged_watermark_layout(spark: SparkSession, sf_dir: str) -> str | None:
    from go_pq_cdc_elasticsearch_spark.catalog import load_table
    from go_pq_cdc_elasticsearch_spark.functions.time import ntz_epoch_seconds
    from go_pq_cdc_elasticsearch_spark.sources.replay import stage_slices
    from go_pq_cdc_elasticsearch_spark.streaming.pipeline import (
        _events_fingerprint,
    )

    key = (sf_dir, _events_fingerprint(sf_dir))
    if key in _WM_STAGE_CACHE:
        staged = _WM_STAGE_CACHE[key]
        if staged is None or os.path.isdir(staged):
            return staged
    # stale entries for this sf_dir are dropped, the old dirs STRANDED
    # (never rmtree'd: a still-running stream may be replaying them) —
    # the staged_events eviction discipline
    for old_key in [k for k in _WM_STAGE_CACHE if k[0] == sf_dir]:
        _WM_STAGE_CACHE.pop(old_key, None)

    events = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    max_sec = events.agg(
        F.max(ntz_epoch_seconds(F.col("ts"))).alias("m")
    ).first()["m"]
    if max_sec is None:  # empty events table
        _WM_STAGE_CACHE[key] = None
        return None
    cut = max_sec - 86400
    work = query_work_dir("wm_q_")
    staged = os.path.join(work, "staged")
    # batch 0 = ALL on-time rows (carries max(ts), so its eviction
    # watermark is max-10min), batch 1 = an EMPTY file (a 0-row
    # micro-batch whose only job is propagating batch 0's watermark into
    # the late-record filter — the filter lags eviction by one batch),
    # batch 2 = everything older than 24h, now dropped as late. An
    # earlier parity split of the on-time rows produced an EMPTY slice
    # whenever only one event fell within 24h of max(ts) (a regenerated-
    # data shape): the on-time data then collapsed into one batch and the
    # late rows were aggregated instead of dropped.
    epoch = ntz_epoch_seconds(F.col("ts"))
    slice_paths = stage_slices(
        events.withColumn("__f", F.when(epoch < cut, 2).otherwise(0)),
        staged,
        n_files=3,
    )
    empty_dir = os.path.join(work, "empty")
    events.filter(F.lit(False)).coalesce(1).write.parquet(empty_dir)
    (part,) = [f for f in os.listdir(empty_dir) if f.endswith(".parquet")]
    middle = os.path.join(staged, "events_0001.parquet")
    os.rename(os.path.join(empty_dir, part), middle)
    # the ordered slice paths come straight from stage_slices — no
    # re-deriving its naming scheme via glob (which would silently break
    # if the staging layout ever renamed its files)
    stamps = sorted(os.path.getmtime(p) for p in slice_paths)
    mid_t = (stamps[0] + stamps[-1]) / 2 if len(stamps) > 1 else stamps[0] + 1
    os.utime(middle, (mid_t, mid_t))
    _WM_STAGE_CACHE[key] = staged
    return staged


@query(
    "q_t4_stream_watermark",
    oracle="""
        WITH mx AS (
            SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS max_sec FROM events
        ),
        on_time AS (
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS w_epoch
            FROM events, mx
            WHERE CAST(floor(epoch(ts)) AS BIGINT) >= max_sec - 86400
        )
        SELECT w_epoch, count(*) AS n
        FROM on_time, mx
        WHERE w_epoch + 3600 <= max_sec - 600
        GROUP BY w_epoch, max_sec
    """,
    doc="Watermark late-data drop (Q-T4, SURVEY.md:196): the replay delivers "
    "all on-time events (newest 24h) as batch 0, an EMPTY batch 1, then "
    "every older event as one deliberately-late batch 2. The late-event "
    "filter in Spark's stateful aggregation uses the watermark the "
    "PREVIOUS batch evicted with (one batch of lag — measured: a late "
    "file in batch 1 is emitted, in batch 2 it is dropped, "
    "numRowsDroppedByWatermark confirms), so the empty middle batch "
    "exists solely to propagate batch 0's max(ts)-10min watermark into "
    "the filter before the late batch arrives (an earlier parity split "
    "of the on-time rows left an empty SLICE whenever only one event was "
    "on-time, collapsing on-time data into one batch and emitting the "
    "late rows). The late rows are then dropped from the append-mode "
    "hourly aggregation, and the emitted windows are exactly the on-time "
    "hours closed by the final watermark — which is what the batch "
    "oracle computes by excluding the same rows. All event-time "
    "arithmetic is NTZ-derived epoch seconds (functions/time.py), "
    "identical under any session timezone; the 24h/1h/10min margins keep "
    "every comparison thousands of seconds from the emit/evict boundary, "
    "so <= vs < conventions cannot matter. Mirrors the late-arrival "
    "contract the reference inherits from WAL total order "
    "(connector.go:129-172: events are applied in LSN order, never "
    "retroactively).",
)
def q_t4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_pq_cdc_elasticsearch_spark.functions.time import ntz_epoch_seconds

    staged = _staged_watermark_layout(spark, sf_dir)
    if staged is None:  # empty events table: the oracle's empty result
        return spark.createDataFrame([], "w_epoch long, n long")
    stream = read_event_stream(spark, staged, max_files_per_trigger=1)
    # watermark needs an instant: epoch-seconds reassembly is tz-free
    # (never converts through the session zone, unlike a straight cast)
    with_evt = stream.withColumn(
        "evt", F.timestamp_seconds(ntz_epoch_seconds(F.col("ts")))
    )
    agg = (
        with_evt.withWatermark("evt", "10 minutes")
        .groupBy(F.window("evt", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _drain_to_memory(agg, "append")
    return out.select(
        (F.unix_micros(F.col("window.start")) / 1_000_000)
        .cast("long")
        .alias("w_epoch"),
        "n",
    )


@query(
    "q_t5_stream_dedup",
    oracle="""
        SELECT event_type, count(DISTINCT user_id) AS n
        FROM events GROUP BY event_type
    """,
    doc="Stateful streaming dedup (dropDuplicates across micro-batches) == "
    "batch DISTINCT.",
)
def q_t5(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _staged_stream(spark, sf_dir)
    # isNotNull on the Spark side because the oracle's count(DISTINCT
    # user_id) skips NULLs while dropDuplicates KEEPS one (type, NULL)
    # row — one NULL key in a regenerated feed would put the two sides
    # off by one per event_type
    deduped = (
        stream.select("event_type", "user_id")
        .filter(F.col("user_id").isNotNull())
        .dropDuplicates(["event_type", "user_id"])
    )
    out = _drain_to_memory(deduped, "append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


# q_t7's WAL segment layout, staged once per (sf_dir, source fingerprint)
# and shared across invocations in one process — the staged_events /
# _WM_STAGE_CACHE untimed-harness-setup convention. Authoring is
# deterministic (bounded ordered slice re-encoded row by row), and the
# segments are read-only stream input; the TIMED work — the pgwal
# streaming source, the foreachBatch MERGE into a FRESH view + checkpoint
# — still runs in full per invocation. Value None = empty feed.
_WAL_STAGE_CACHE: dict[tuple, str | None] = {}


def _staged_wal_segments(spark: SparkSession, sf_dir: str) -> str | None:
    import json

    from go_pq_cdc_elasticsearch_spark.catalog import load_table
    from go_pq_cdc_elasticsearch_spark.sources import wal as W
    from go_pq_cdc_elasticsearch_spark.streaming.pipeline import (
        _events_fingerprint,
    )

    key = (sf_dir, _events_fingerprint(sf_dir))
    if key in _WAL_STAGE_CACHE:
        wal_dir = _WAL_STAGE_CACHE[key]
        if wal_dir is None or os.path.isdir(wal_dir):
            return wal_dir
    # stale entries dropped, old dirs stranded (see _WM_STAGE_CACHE)
    for old_key in [k for k in _WAL_STAGE_CACHE if k[0] == sf_dir]:
        _WAL_STAGE_CACHE.pop(old_key, None)

    work = query_work_dir("walq_")
    wal_dir = os.path.join(work, "wal")
    # Test-harness STAGING ONLY: a bounded slice of events is collected to
    # the driver to author WAL segment files (a real deployment's segments
    # come from the replication socket, sources/pgoutput.py — nothing is
    # ever collected there). The limit() is a hard cap so a future sf bump
    # or filter edit can't silently turn this into a driver OOM.
    _STAGING_CAP = 2000
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .orderBy("event_id")
        .limit(_STAGING_CAP)
        .collect()
    )
    def _id(r):
        # NULL-safe: str(None) would stage the literal 'None', which the
        # downstream ANSI cast('long') kills; a NULL key must stay NULL
        # (the oracle groups it as a NULL user_id)
        return None if r["user_id"] is None else str(r["user_id"])

    def _v(r):
        # json.dumps is the CAST(value AS VARCHAR) double form; NULL must
        # stay NULL, not the literal 'null' string
        return None if r["value"] is None else json.dumps(r["value"])

    msgs = []
    prev_lsn = 0
    for r in events:
        # the wal segment contract is STRICTLY increasing lsn per line
        # (sources/wal.py): duplicated event rows (dup_rel variant) would
        # stage equal lsns, where a segment-boundary split silently drops
        # one copy — apply the live consumer's monotone clamp instead
        # (pgoutput.py poll(); the bumped copy is byte-identical, so the
        # LWW view result is unchanged)
        lsn = max(r["event_id"], prev_lsn + 1)
        prev_lsn = lsn
        msgs.append(
            {
                "lsn": lsn,
                "op": "DELETE" if r["event_type"] == "error" else "INSERT",
                "table_schema": "public",
                "table_name": "events",
                "before": {"id": _id(r)} if r["event_type"] == "error" else None,
                "after": None
                if r["event_type"] == "error"
                else {"id": _id(r), "v": _v(r)},
                "ts": r["ts"].isoformat() if r["ts"] is not None else None,
            }
        )
    if not msgs:
        # empty events table (regeneration shape q_t4 already guards):
        # zero segments means zero micro-batches and an uninitialized
        # view whose read() raises — the oracle's empty result is the
        # in-contract answer (review r5)
        _WAL_STAGE_CACHE[key] = None
        return None
    third = max(1, len(msgs) // 3)
    for i in range(0, len(msgs), third):
        W.write_wal_segment(wal_dir, msgs[i : i + third])
    _WAL_STAGE_CACHE[key] = wal_dir
    return wal_dir


@query(
    "q_t7_wal_source_cdc",
    oracle="""
        WITH staged AS (
            -- mirrors the engine's staging slice INCLUDING its hard
            -- _STAGING_CAP: with duplicated event rows (dup_rel variant)
            -- the filter can exceed the cap and the tail is dropped. The
            -- kept MULTISET is deterministic — ordered by event_id, and
            -- any boundary tie is between byte-identical duplicate rows —
            -- so LIMIT expresses the cap exactly on both engines.
            SELECT * FROM events WHERE event_id < 2000
            ORDER BY event_id LIMIT 2000
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
            FROM staged
        )
        SELECT user_id,
               -- non-finite doubles render PG-style like the staged
               -- payload (json.dumps == Postgres text format: 'NaN',
               -- 'Infinity'); DuckDB's bare VARCHAR cast says 'nan'/'inf'
               -- (review r7)
               CASE WHEN isnan(value) THEN 'NaN'
                    WHEN value = CAST('infinity' AS DOUBLE) THEN 'Infinity'
                    WHEN value = CAST('-infinity' AS DOUBLE) THEN '-Infinity'
                    ELSE CAST(value AS VARCHAR) END AS v
        -- NULL event_type plays INSERT on the engine side (the staging
        -- maps only the literal 'error' to DELETE), so the oracle must
        -- keep the NULL row too: a bare <> 'error' is NULL for NULL
        -- event_type and silently dropped the user whose latest event
        -- carried one (proven by execution, review r8)
        FROM ranked WHERE rn = 1 AND (event_type IS NULL OR event_type <> 'error')
    """,
    doc="Custom Python streaming DataSource (pgwal: LSN offsets, rows "
    "prefetched in the source runner, checkpoint-frontier acks) driven "
    "end-to-end: events re-encoded as WAL segments, streamed, merged — "
    "final state == batch cdc_apply. 'error' plays DELETE.",
)
def q_t7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_pq_cdc_elasticsearch_spark.sink.materialized import MaterializedView
    from go_pq_cdc_elasticsearch_spark.sources import wal as W

    wal_dir = _staged_wal_segments(spark, sf_dir)
    if wal_dir is None:
        return spark.createDataFrame([], "user_id long, v string")
    work = query_work_dir("walq_run_")

    W.register(spark)
    stream = spark.readStream.format("pgwal").option("path", wal_dir).load()
    img = F.coalesce(F.col("after"), F.col("before"))
    shaped = stream.select(
        F.col("lsn"),
        F.col("op"),
        img.getItem("id").cast("long").alias("user_id"),
        img.getItem("v").alias("v"),
    )
    view = MaterializedView(
        spark,
        os.path.join(work, "view"),
        keys=("user_id",),
        seq_col="lsn",
        op_col="op",
        delete_op="DELETE",
    )
    from go_pq_cdc_elasticsearch_spark.streaming.pipeline import (
        stream_partition_conf,
    )

    with stream_partition_conf(spark):
        q = (
            shaped.writeStream.foreachBatch(view.foreach_batch_writer())
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return view.read().select("user_id", "v")


@query(
    "q_t6_stream_cdc_apply",
    oracle="""
        WITH ranked AS (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
            FROM events
        )
        SELECT user_id, event_type, value
        FROM ranked WHERE rn = 1 AND event_type <> 'delete'
    """,
    doc="End-to-end streaming CDC (R8+R9+R12): multi-batch replay through "
    "foreachBatch MERGE == batch cdc_apply (Q-C1). The strongest parity "
    "check in the suite.",
)
def q_t6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_pq_cdc_elasticsearch_spark.catalog import table_path
    from go_pq_cdc_elasticsearch_spark.sources.snapshot import parquet_feed_empty
    from go_pq_cdc_elasticsearch_spark.streaming.pipeline import replay_events_to_view

    empty = spark.createDataFrame(
        [], "user_id long, event_type string, value double"
    )
    if parquet_feed_empty(table_path(sf_dir, "events")):
        # empty feed: no micro-batch ever initializes the view; the
        # oracle's empty result is the in-contract answer (review r5).
        # Footer-only probe — zero Spark jobs on the hot path (ADVICE r6)
        return empty
    view = replay_events_to_view(spark, sf_dir, n_files=4)
    try:
        return view.read().select("user_id", "event_type", "value")
    except FileNotFoundError:
        # belt for a feed the footer probe couldn't prove empty (missing
        # stats) that still produced no initializing micro-batch
        return empty


@ext_query(
    "q_t8_continuous_agg",
    oracle="""
        SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS bucket_ts,
               event_type,
               count(*) AS n,
               sum(CAST(value AS DECIMAL(30,10))) AS sum_value,
               min(value) AS min_value,
               max(value) AS max_value
        FROM events WHERE event_id <= 20000
        GROUP BY bucket_ts, event_type
    """,
    doc="Continuous aggregate (TimescaleDB-style, next to U4's hypertable "
    "mapping): the 15-min/event_type rollup maintained INCREMENTALLY by "
    "three out-of-order merge_batch calls against the hash-bucketed state "
    "(streaming/continuous_agg.py); the oracle recomputes the same rollup "
    "from scratch — a hash match proves incremental == batch. DECIMAL "
    "sums make the equality exact regardless of merge order.",
)
def q_t8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_pq_cdc_elasticsearch_spark.catalog import load_table
    from go_pq_cdc_elasticsearch_spark.streaming.continuous_agg import (
        ContinuousAggregate,
    )

    from go_pq_cdc_elasticsearch_spark.functions.time import time_bucket_ntz

    def bucketed(df: DataFrame) -> DataFrame:
        # tz-proof NTZ bucketing (functions/time.py) — the unix_timestamp
        # round-trip form shifts under non-UTC sessions / across DST
        return df.withColumn("bucket_ts", time_bucket_ntz("ts", 15))

    from go_pq_cdc_elasticsearch_spark.catalog import table_path
    from go_pq_cdc_elasticsearch_spark.sources.snapshot import parquet_feed_empty

    # capped: the declared check certifies incremental == batch semantics;
    # volume is exercised by the streaming e2e test and the LWW-view bench
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") <= 20000
    )
    empty = spark.createDataFrame(
        [],
        "bucket_ts timestamp_ntz, event_type string, n long, "
        "sum_value decimal(30,10), min_value double, max_value double",
    )
    if parquet_feed_empty(table_path(sf_dir, "events"), "event_id", 20000):
        # empty feed: no merge ever creates bucket dirs and read() raises;
        # the oracle's empty result is the in-contract answer (review r5).
        # Footer row-group min-stat probe: a group min <= 20000 IS a
        # matching row, so this is exact with zero Spark jobs (ADVICE r6)
        return empty
    work = query_work_dir("cagg_q_")
    ca = ContinuousAggregate(
        spark,
        os.path.join(work, "agg"),
        group_cols=["bucket_ts", "event_type"],
        sum_cols=["value"],
        min_cols=["value"],
        max_cols=["value"],
        prepare=bucketed,
    )
    for i, chunk in enumerate(
        events.filter(F.col("event_id") % 3 == m) for m in (2, 0, 1)
    ):
        ca.merge_batch(chunk, epoch_id=i)
    try:
        return ca.read().select(
            "bucket_ts", "event_type", "n", "sum_value", "min_value", "max_value"
        )
    except FileNotFoundError:
        # belt for a feed the footer probe couldn't prove empty
        return empty


@ext_query(
    "q_t10_stateful_running_totals",
    oracle="""
        SELECT user_id,
               count(*) AS n_events,
               CAST(sum(floor(CAST(value AS DOUBLE) * 1000.0)) AS BIGINT)
                   AS total_mv
        FROM events
        WHERE abs(CAST(value AS DOUBLE)) < 1.0e6
        GROUP BY user_id
    """,
    doc="Custom stateful operator (applyInPandasWithState, "
    "streaming/stateful.py::running_totals — the keyed-process-function "
    "building block): per-user (count, sum) state carried across "
    "micro-batches in update mode; the LAST emitted row per key equals "
    "the batch aggregate. Values are pre-quantized to integer millis "
    "(floor(value*1000), portable IEEE ops) so the state accumulation is "
    "exact and order-independent — the oracle hash checks the state "
    "arithmetic itself, not a rounded shadow of it. The domain is "
    "BOUNDED identically on both sides (|value| < 1e6; NaN/Inf/NULL "
    "excluded by the same predicate): this gate pins the stateful "
    "PLUMBING — unbounded ladder arithmetic is q_c4's job, and an "
    "unguarded floor diverges (Spark saturates at 2^63, DuckDB keeps "
    "the true double; float64 state loses order-independence past 2^53) "
    "— review r7.",
)
def q_t10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from go_pq_cdc_elasticsearch_spark.streaming.stateful import running_totals

    stream = _staged_stream(spark, sf_dir).filter(
        F.abs(F.col("value").cast("double")) < F.lit(1.0e6)
    )
    mv = stream.select(
        "user_id",
        F.floor(F.col("value").cast("double") * F.lit(1000.0))
        .cast("double")
        .alias("mv"),
    )
    out = _drain_to_memory(running_totals(mv, "user_id", "mv"), "update")
    # update mode emits one row per key per touched micro-batch; the final
    # state row is the one with the highest running count
    w = Window.partitionBy("key").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("key").alias("user_id"),
            "n_events",
            F.col("total_value").cast("long").alias("total_mv"),
        )
    )


@ext_query(
    "q_t9_stream_stream_join",
    oracle="""
        SELECT v.user_id, count(*) AS n_pairs
        FROM (SELECT user_id, ts FROM events
              WHERE event_type = 'view' AND user_id <= 100) v
        JOIN (SELECT user_id, ts FROM events
              WHERE event_type = 'purchase' AND user_id <= 100) p
          ON p.user_id = v.user_id
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
        GROUP BY v.user_id
    """,
    doc="Stream-stream inner join with event-time bounds (view -> purchase "
    "within 30 min per user), both sides watermarked; the append-mode "
    "pair stream aggregated per user equals the batch time-bounded "
    "self-join. State is bounded by the watermark horizon — the "
    "distributed shape that survives unbounded streams.",
)
def q_t9(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_pq_cdc_elasticsearch_spark.functions.time import ntz_epoch_micros

    stream = _staged_stream(spark, sf_dir)
    base = stream.filter(F.col("user_id") <= 100)
    # Structured Streaming watermarks require TIMESTAMP (an instant), not
    # NTZ. Epoch-micros reassembly (the q_t4 idiom, at full precision so
    # the 30-minute boundary classifies identically) is tz-FREE — a plain
    # cast went through the session zone, where wall times inside a DST
    # repeated/skipped hour map non-uniformly to instants and a pair's
    # 30-minute wall gap could shift vs the wall-time oracle (review r5).
    views = (
        base.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_uid"),
            F.timestamp_micros(ntz_epoch_micros(F.col("ts"))).alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    buys = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_uid"),
            F.timestamp_micros(ntz_epoch_micros(F.col("ts"))).alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    pairs = views.join(
        buys,
        F.expr(
            "v_uid = p_uid AND p_ts >= v_ts AND p_ts <= v_ts + interval 30 minutes"
        ),
    )
    out = _drain_to_memory(pairs, "append")
    return out.groupBy(F.col("v_uid").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
