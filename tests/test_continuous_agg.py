"""Continuous aggregate view: incremental merge == batch recomputation,
exactly-once under epoch redelivery, streaming end-to-end."""

import os
import tempfile

from pyspark.sql import functions as F

from go_pq_cdc_elasticsearch_spark.catalog import load_table
from go_pq_cdc_elasticsearch_spark.sources.replay import stage_event_files
from go_pq_cdc_elasticsearch_spark.streaming.continuous_agg import (
    ContinuousAggregate,
)


def _bucketed(df):
    from go_pq_cdc_elasticsearch_spark.functions.time import time_bucket_ntz

    return df.withColumn("bucket_ts", time_bucket_ntz("ts", 15))


def _batch_expected(events):
    return {
        (r["bucket_ts"], r["event_type"]): (r["n"], r["sum_value"], r["min_value"], r["max_value"])
        for r in _bucketed(events)
        .groupBy("bucket_ts", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,10)")).alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }


def _view_state(ca):
    return {
        (r["bucket_ts"], r["event_type"]): (r["n"], r["sum_value"], r["min_value"], r["max_value"])
        for r in ca.read().collect()
    }


def _make(spark, path):
    return ContinuousAggregate(
        spark,
        path,
        group_cols=["bucket_ts", "event_type"],
        sum_cols=["value"],
        min_cols=["value"],
        max_cols=["value"],
        prepare=_bucketed,
    )


def test_incremental_equals_batch(spark, sf_dir):
    work = tempfile.mkdtemp(prefix="cagg_")
    events = load_table(spark, sf_dir, "events")
    ca = _make(spark, os.path.join(work, "agg"))
    # three out-of-order chunks (late data is just another merge)
    chunks = [
        events.filter(F.col("event_id") % 3 == 2),
        events.filter(F.col("event_id") % 3 == 0),
        events.filter(F.col("event_id") % 3 == 1),
    ]
    for i, c in enumerate(chunks):
        ca.merge_batch(c, epoch_id=i)
    assert _view_state(ca) == _batch_expected(events)


def test_epoch_redelivery_is_noop(spark, sf_dir):
    work = tempfile.mkdtemp(prefix="cagg_")
    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") <= 500)
    ca = _make(spark, os.path.join(work, "agg"))
    ca.merge_batch(events, epoch_id=0)
    before = _view_state(ca)
    ca.merge_batch(events, epoch_id=0)  # foreachBatch redelivery
    assert _view_state(ca) == before
    # a reopened view (fresh process after restart) must also skip it
    ca2 = _make(spark, os.path.join(work, "agg"))
    ca2.merge_batch(events, epoch_id=0)
    assert _view_state(ca2) == before


def test_avg_derivation(spark, sf_dir):
    work = tempfile.mkdtemp(prefix="cagg_")
    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") <= 300)
    ca = _make(spark, os.path.join(work, "agg"))
    ca.merge_batch(events, epoch_id=0)
    for r in ca.read().collect():
        assert abs(r["avg_value"] - float(r["sum_value"]) / r["n"]) < 1e-9


def test_hll_distinct_incremental_equals_batch(spark, sf_dir):
    """Mergeable HLL distinct sketches: the incrementally-merged view's
    ESTIMATE equals the from-scratch batch sketch's estimate (in dense HLL
    mode the bytes match too, but sparse/coupon-mode serialization is
    insertion-order-dependent, so the estimate — exact in coupon mode,
    register-derived in dense mode — is the mode-independent invariant),
    the estimate tracks exact countDistinct within HLL error, and a
    re-merged overlap cannot inflate the sketch (register/coupon-set
    idempotence) even when the epoch guard is bypassed."""
    work = tempfile.mkdtemp(prefix="cagg_hll_")
    events = load_table(spark, sf_dir, "events")
    ca = ContinuousAggregate(
        spark,
        os.path.join(work, "agg"),
        group_cols=["event_type"],
        distinct_cols=["user_id"],
    )
    for i, m in enumerate((2, 0, 1)):
        ca.merge_batch(events.filter(F.col("event_id") % 3 == m), epoch_id=i)
    got = {
        r["event_type"]: r["approx_distinct_user_id"]
        for r in ca.read().collect()
    }
    batch = {
        r["event_type"]: r["e"]
        for r in events.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
            .cast("long")
            .alias("e")
        )
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == batch
    for et, est in got.items():
        assert abs(est - exact[et]) <= max(2, 0.05 * exact[et])
    # idempotence of the union itself: re-merge chunk 0 with a NEW epoch
    # (so the frontier guard does not absorb it) — counts would double,
    # but the distinct estimate must not move
    ca.merge_batch(events.filter(F.col("event_id") % 3 == 2), epoch_id=9)
    after = {
        r["event_type"]: r["approx_distinct_user_id"]
        for r in ca.read().collect()
    }
    assert after == batch


def test_streaming_end_to_end(spark, sf_dir):
    work = tempfile.mkdtemp(prefix="cagg_s_")
    staged = os.path.join(work, "staged")
    stage_event_files(spark, sf_dir, staged, n_files=4)
    events = load_table(spark, sf_dir, "events")
    ca = _make(spark, os.path.join(work, "agg"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(staged)
    )
    q = (
        stream.writeStream.foreachBatch(ca.foreach_batch_writer())
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _view_state(ca) == _batch_expected(events)


def test_reopen_with_different_agg_config_raises(spark, sf_dir):
    """The aggregate column lists are part of the merge contract (review
    r5): prior state rows carry NULL for an added sum col — read()'s
    avg would silently cover only post-change rows — and a removed col
    would be dropped from touched buckets only. Reopening with a drifted
    config must raise like the base class does for keys/seq."""
    import pytest

    work = tempfile.mkdtemp(prefix="cagg_drift_")
    events = load_table(spark, sf_dir, "events").limit(200)
    path = os.path.join(work, "agg")
    ca = _make(spark, path)
    ca.merge_batch(_bucketed(events))
    # same config reopens fine
    _make(spark, path)
    with pytest.raises(ValueError, match="would corrupt"):
        ContinuousAggregate(
            spark,
            path,
            group_cols=["bucket_ts", "event_type"],
            sum_cols=["value", "event_id"],  # drifted
            min_cols=["value"],
            max_cols=["value"],
            prepare=_bucketed,
        )


def test_multi_bucket_partial_merge_keeps_uniform_decimal_width(spark):
    """Review r7 (execution-confirmed): _compact_batch wrote ``sum_<c>``
    as decimal(38,10) (Spark widens sum over decimal(30,10)) while
    _resolve writes decimal(30,10), so after a merge touching a SUBSET of
    buckets the bucket files diverged in physical decimal width and the
    view became permanently unreadable and unmergeable
    (FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH). Invisible at
    test scale before this test because auto-sizing gave 1 bucket, where
    every merge rewrites the only file."""
    work = tempfile.mkdtemp(prefix="cagg_width_")
    ca = ContinuousAggregate(
        spark,
        os.path.join(work, "agg"),
        group_cols=["g"],
        sum_cols=["v"],
        n_buckets=4,
    )
    rows = spark.range(0, 64).select(
        (F.col("id") % 16).cast("string").alias("g"),
        (F.col("id").cast("double") * 1.5).alias("v"),
    )
    ca.merge_batch(rows, epoch_id=0)  # creation path: every bucket written
    one = spark.createDataFrame([("3", 100.0)], "g string, v double")
    ca.merge_batch(one, epoch_id=1)  # resolve path: a subset of buckets
    # the load-bearing assertion is the ON-DISK uniformity: Spark 4 can
    # WIDEN a narrow file into a wide sampled schema, so a read-side check
    # alone passes or bricks depending on which file the reader samples
    import glob

    import pyarrow.parquet as pq

    widths = set()
    for f in glob.glob(os.path.join(work, "agg", "**", "*.parquet"), recursive=True):
        sch = pq.read_schema(f)
        widths |= {
            str(sch.field(i).type)
            for i in range(len(sch.names))
            if sch.names[i].startswith("sum_")
        }
    assert widths == {"decimal128(30, 10)"}, widths
    got = {r["g"]: (r["n"], float(r["sum_v"])) for r in ca.read().collect()}
    assert len(got) == 16
    assert got["3"] == (5, 6 * 3 + 144 + 100.0)
    assert got["7"] == (4, 6 * 7 + 144.0)
    # and the view stays MERGEABLE: a further merge reads existing buckets
    ca.merge_batch(one, epoch_id=2)
    assert {float(r["sum_v"]) for r in ca.read().filter("g = '3'").collect()} == {
        6 * 3 + 144 + 200.0
    }


def test_avg_skips_nulls_like_sql(spark):
    """Review r7: avg_<c> was sum/n with n = count(*) — biased low when
    the column carries NULLs (sum skips them). Now sum/cnt_<c> over the
    per-column non-null count; an all-NULL group gets SQL AVG's NULL."""
    work = tempfile.mkdtemp(prefix="cagg_avg_")
    ca = ContinuousAggregate(
        spark, os.path.join(work, "agg"), group_cols=["g"], sum_cols=["v"]
    )
    df = spark.createDataFrame(
        [("a", 10.0), ("a", None), ("b", None), ("b", None)],
        "g string, v double",
    )
    ca.merge_batch(df, epoch_id=0)
    got = {r["g"]: r for r in ca.read().collect()}
    assert got["a"]["n"] == 2 and got["a"]["cnt_v"] == 1
    assert float(got["a"]["avg_v"]) == 10.0  # NOT 5.0
    assert got["b"]["n"] == 2 and got["b"]["cnt_v"] == 0
    assert got["b"]["avg_v"] is None and got["b"]["sum_v"] is None
    # counts stay mergeable across batches
    ca.merge_batch(
        spark.createDataFrame([("a", 20.0)], "g string, v double"), epoch_id=1
    )
    a = {r["g"]: r for r in ca.read().collect()}["a"]
    assert (a["n"], a["cnt_v"], float(a["avg_v"])) == (3, 2, 15.0)


def test_crash_before_commit_redelivery_equals_batch(spark, sf_dir, monkeypatch):
    """A 4-bucket merge that dies after writing its files and before its
    manifest commit, then is redelivered with the same epoch: the
    aggregate equals the batch recomputation. Every touched bucket and
    the epoch frontier share one commit, so no bucket counts the epoch
    twice and none misses it."""
    import pytest

    work = tempfile.mkdtemp(prefix="cagg_crash_")
    path = os.path.join(work, "agg")
    events = load_table(spark, sf_dir, "events")

    def make():
        return ContinuousAggregate(
            spark,
            path,
            group_cols=["bucket_ts", "event_type"],
            sum_cols=["value"],
            min_cols=["value"],
            max_cols=["value"],
            prepare=_bucketed,
            n_buckets=4,
        )

    ca = make()
    ca.merge_batch(events.filter(F.col("event_id") % 2 == 0), epoch_id=0)
    assert len(ca.store.latest()["files"]) == 4
    real_commit = ca.store.commit

    def die_before_commit(base, snap):
        monkeypatch.setattr(ca.store, "commit", real_commit)
        raise RuntimeError("injected crash before the commit")

    monkeypatch.setattr(ca.store, "commit", die_before_commit)
    second = events.filter(F.col("event_id") % 2 == 1)
    with pytest.raises(RuntimeError, match="injected crash"):
        ca.merge_batch(second, epoch_id=1)
    restarted = make()
    assert restarted._last_epoch == 0
    restarted.merge_batch(second, epoch_id=1)  # redelivery
    restarted.merge_batch(second, epoch_id=1)  # and once more: skipped
    assert _view_state(restarted) == _batch_expected(events)
