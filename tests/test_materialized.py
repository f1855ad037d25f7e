"""Materialized-view MERGE semantics: last-write-wins by seq, tombstone
retention (no resurrection by stale replays), tail flush."""

import os
import tempfile

from go_pq_cdc_elasticsearch_spark.sink.materialized import MaterializedView


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, value double"
    )


def test_merge_sequence(spark):
    path = os.path.join(tempfile.mkdtemp(prefix="mv_t_"), "view")
    mv = MaterializedView(spark, path)
    mv.merge_batch(_batch(spark, [(1, "insert", 1, 10.0), (2, "insert", 2, 20.0)]))
    mv.merge_batch(_batch(spark, [(3, "update", 1, 11.0), (4, "delete", 2, None)]))
    state = {r["user_id"]: (r["event_type"], r["value"]) for r in mv.read().collect()}
    assert state == {1: ("update", 11.0)}

    # stale replay of an OLD upsert for the deleted key must NOT resurrect it
    mv.merge_batch(_batch(spark, [(2, "insert", 2, 20.0)]))
    assert {r["user_id"] for r in mv.read().collect()} == {1}

    # a genuinely NEWER insert does resurrect
    mv.merge_batch(_batch(spark, [(9, "insert", 2, 29.0)]))
    state = {r["user_id"]: r["value"] for r in mv.read().collect()}
    assert state == {1: 11.0, 2: 29.0}


def test_vacuum_drops_only_acked_tombstones(spark):
    path = os.path.join(tempfile.mkdtemp(prefix="mv_v_"), "view")
    mv = MaterializedView(spark, path)
    mv.merge_batch(
        _batch(
            spark,
            [(1, "insert", 1, 1.0), (2, "delete", 1, None), (5, "delete", 2, None)],
        )
    )
    assert mv.state().count() == 2  # two tombstones retained
    mv.vacuum(watermark_seq=3)  # ack frontier passed seq 3
    ops = {(r["user_id"], r["event_type"]) for r in mv.state().collect()}
    assert ops == {(2, "delete")}  # seq-5 tombstone survives, seq-2 dropped
    # post-vacuum stale replay below the watermark still can't resurrect,
    # because the source can no longer deliver seq <= 3 (that's what the
    # watermark MEANS); a NEW insert works:
    mv.merge_batch(_batch(spark, [(7, "insert", 1, 9.0)]))
    assert {r["user_id"]: r["value"] for r in mv.read().collect()} == {1: 9.0}


def test_schema_drift_merge(spark):
    # reference payloads are schemaless maps; a later batch may carry new
    # columns — merge must not reject it, old rows read as NULL
    path = os.path.join(tempfile.mkdtemp(prefix="mv_d_"), "view")
    mv = MaterializedView(spark, path)
    mv.merge_batch(_batch(spark, [(1, "insert", 1, 1.0)]))
    evolved = spark.createDataFrame(
        [(2, "insert", 2, 2.0, "eu-west")],
        "event_id long, event_type string, user_id long, value double, region string",
    )
    mv.merge_batch(evolved)
    rows = {r["user_id"]: r.asDict().get("region") for r in mv.read().collect()}
    assert rows == {1: None, 2: "eu-west"}


def test_incremental_merge_leaves_untouched_buckets_byte_identical(spark):
    # VERDICT round 1: per-batch cost must scale with the batch, not the
    # view — buckets the batch doesn't touch are neither read nor rewritten
    import glob
    import hashlib

    path = os.path.join(tempfile.mkdtemp(prefix="mv_b_"), "view")
    mv = MaterializedView(spark, path, n_buckets=8)
    mv.merge_batch(
        _batch(spark, [(i, "insert", uid, float(i)) for i, uid in enumerate(range(64))])
    )

    def snapshot_files():
        out = {}
        for p in glob.glob(os.path.join(path, "__bucket=*", "*.parquet")):
            with open(p, "rb") as f:
                out[p] = hashlib.md5(f.read()).hexdigest()
        return out

    before = snapshot_files()
    assert len({os.path.dirname(p) for p in before}) == 8  # all buckets present

    # one-key batch touches exactly one bucket
    mv.merge_batch(_batch(spark, [(1000, "update", 7, 77.0)]))
    after = snapshot_files()
    from pyspark.sql import functions as F

    touched_bucket = mv._bucket_dir(
        _batch(spark, [(0, "x", 7, 0.0)])
        .select(F.pmod(F.hash("user_id"), F.lit(8)).alias("b"))
        .collect()[0]["b"]
    )
    changed_dirs = {
        os.path.dirname(p)
        for p in set(before) ^ set(after)
        | {p for p in set(before) & set(after) if before[p] != after[p]}
    }
    assert changed_dirs == {touched_bucket}
    # and the merge result is correct
    got = {r["user_id"]: r["value"] for r in mv.read().collect()}
    assert got[7] == 77.0 and len(got) == 64


def test_reopen_existing_view_keeps_bucket_layout(spark):
    path = os.path.join(tempfile.mkdtemp(prefix="mv_r_"), "view")
    mv = MaterializedView(spark, path, n_buckets=4)
    mv.merge_batch(_batch(spark, [(1, "insert", 1, 1.0)]))
    # reopening with a different n_buckets must stick to the on-disk layout
    mv2 = MaterializedView(spark, path, n_buckets=32)
    assert mv2.n_buckets == 4
    mv2.merge_batch(_batch(spark, [(2, "insert", 2, 2.0)]))
    assert mv2.read().count() == 2


def test_rebucket_preserves_state(spark):
    path = os.path.join(tempfile.mkdtemp(prefix="mv_rb_"), "view")
    mv = MaterializedView(spark, path, n_buckets=2)
    mv.merge_batch(
        _batch(spark, [(i, "insert", i % 10, float(i)) for i in range(30)])
    )
    before = {r["user_id"]: r["value"] for r in mv.read().collect()}
    mv.rebucket(8)
    assert mv._bucket_dirs() and len(mv._bucket_dirs()) <= 8
    after = {r["user_id"]: r["value"] for r in mv.read().collect()}
    assert after == before
    # reopening picks up the new layout, merges still work
    mv2 = MaterializedView(spark, path)
    assert mv2.n_buckets == 8
    mv2.merge_batch(_batch(spark, [(100, "insert", 42, 4.2)]))
    assert mv2.read().count() == len(before) + 1


def test_rebucket_adopts_late_meta(spark):
    """rebucket() on a view object constructed BEFORE the store appeared
    on disk (the standby pattern) must adopt the on-disk meta first, like
    merge_batch/vacuum/truncate_upto do — without it, _write_meta()
    clobbered the stored epoch frontier, schema, and lineage with the
    fresh object's None fields (ADVICE r11)."""
    path = os.path.join(tempfile.mkdtemp(prefix="mv_rbla_"), "view")
    standby = MaterializedView(spark, path, n_buckets=2)  # store absent
    active = MaterializedView(spark, path, n_buckets=4)
    active.merge_batch(
        _batch(spark, [(1, "insert", 1, 1.0), (2, "insert", 2, 2.0)]),
        epoch_id=7,
        lineage="q1",
    )
    standby.rebucket(8)
    reopened = MaterializedView(spark, path)
    assert reopened.n_buckets == 8
    assert reopened._last_epoch == 7  # frontier survived the rebucket
    assert reopened._lineage == "q1"
    # the preserved frontier still rejects a redelivered epoch
    reopened.merge_batch(
        _batch(spark, [(3, "insert", 3, 3.0)]), epoch_id=7, lineage="q1"
    )
    assert {r["user_id"] for r in reopened.read().collect()} == {1, 2}


def test_rebucket_clears_stale_rbold(spark):
    """A stale .rbold (a prior rebucket's final rmtree lost) must not make
    the next in-process rebucket's os.rename(path, rbold) fail ENOTEMPTY —
    recovery only runs in __init__, so rebucket() has to clear it itself."""
    path = os.path.join(tempfile.mkdtemp(prefix="mv_rbold_"), "view")
    mv = MaterializedView(spark, path, n_buckets=2)
    mv.merge_batch(_batch(spark, [(i, "insert", i, float(i)) for i in range(6)]))
    stale = path + ".rbold"
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "leftover.parquet"), "w") as f:
        f.write("stale")
    mv.rebucket(4)  # must not raise ENOTEMPTY
    assert not os.path.exists(stale)
    assert {r["user_id"] for r in mv.read().collect()} == set(range(6))


def test_in_batch_dedup_before_apply(spark):
    # reference order: dedup happens BEFORE the bulk write (bulk/bulk.go:141)
    path = os.path.join(tempfile.mkdtemp(prefix="mv_t_"), "view")
    mv = MaterializedView(spark, path)
    mv.merge_batch(
        _batch(
            spark,
            [(1, "insert", 1, 1.0), (2, "update", 1, 2.0), (3, "update", 1, 3.0)],
        )
    )
    rows = mv.read().collect()
    assert len(rows) == 1 and rows[0]["value"] == 3.0


def test_epoch_frontier_scoped_by_lineage(spark):
    # same lineage: redelivered epoch skipped; NEW lineage restarting at
    # epoch 0 must APPLY (a fresh checkpoint's batch ids are unrelated)
    path = os.path.join(tempfile.mkdtemp(prefix="mv_l_"), "view")
    mv = MaterializedView(spark, path)
    mv.merge_batch(_batch(spark, [(1, "insert", 1, 10.0)]), epoch_id=0, lineage="q1")
    mv.merge_batch(_batch(spark, [(2, "update", 1, 11.0)]), epoch_id=1, lineage="q1")
    # redelivery within q1 -> no-op
    mv.merge_batch(_batch(spark, [(3, "update", 1, 99.0)]), epoch_id=1, lineage="q1")
    assert {r["value"] for r in mv.read().collect()} == {11.0}
    # a new query feeds the view from epoch 0 -> must not be dropped
    mv.merge_batch(_batch(spark, [(4, "update", 1, 44.0)]), epoch_id=0, lineage="q2")
    assert {r["value"] for r in mv.read().collect()} == {44.0}
    # reopening from disk keeps the recorded lineage
    mv2 = MaterializedView(spark, path)
    mv2.merge_batch(_batch(spark, [(5, "update", 1, 55.0)]), epoch_id=0, lineage="q2")
    assert {r["value"] for r in mv2.read().collect()} == {44.0}


def test_unknown_lineage_does_not_reset_frontier(spark):
    # lineage=None means "unknown caller" (interleaved batch merge, or the
    # queryId local property invisible to the Python callback) — it must
    # NOT wipe the frontier, or a redelivered epoch would re-apply
    path = os.path.join(tempfile.mkdtemp(prefix="mv_u_"), "view")
    mv = MaterializedView(spark, path)
    mv.merge_batch(_batch(spark, [(1, "insert", 1, 10.0)]), epoch_id=0, lineage="q1")
    mv.merge_batch(_batch(spark, [(2, "update", 1, 11.0)]), epoch_id=1, lineage="q1")
    # an interleaved batch merge with no lineage/epoch applies normally...
    mv.merge_batch(_batch(spark, [(3, "update", 2, 20.0)]))
    # ...and a redelivery of q1's epoch 1 is STILL skipped afterwards
    mv.merge_batch(_batch(spark, [(4, "update", 1, 99.0)]), epoch_id=1, lineage="q1")
    vals = {r["user_id"]: r["value"] for r in mv.read().collect()}
    assert vals == {1: 11.0, 2: 20.0}
    # a None-lineage caller WITH an epoch id is also held to the frontier
    mv.merge_batch(_batch(spark, [(5, "update", 1, 77.0)]), epoch_id=1, lineage=None)
    assert {r["value"] for r in mv.read().filter("user_id = 1").collect()} == {11.0}


def test_interrupted_swap_recovery(spark):
    # simulate a crash between _swap_buckets' two renames: the live bucket
    # dir was renamed to .old, the replacement was lost with the tmp dir.
    # Reopening the view must restore the pre-merge state (lossless) and
    # keep every read path working; the redelivered batch then re-merges.
    import shutil

    path = os.path.join(tempfile.mkdtemp(prefix="mv_c_"), "view")
    mv = MaterializedView(spark, path)
    mv.merge_batch(_batch(spark, [(1, "insert", 1, 10.0), (2, "insert", 2, 20.0)]),
                   epoch_id=0, lineage="q1")
    [b] = [d for d in os.listdir(path) if d.startswith("__bucket=")]
    os.rename(os.path.join(path, b), os.path.join(path, b + ".old"))
    mv2 = MaterializedView(spark, path)  # reopen -> recovery runs
    assert {r["value"] for r in mv2.read().collect()} == {10.0, 20.0}
    # redelivery of the interrupted batch is a no-op / idempotent
    mv2.merge_batch(_batch(spark, [(3, "update", 1, 11.0)]), epoch_id=1, lineage="q1")
    assert {r["value"] for r in mv2.read().collect()} == {11.0, 20.0}
    # completed-swap leftovers (live dir present + .old) are garbage-collected
    live = os.path.join(path, b)
    shutil.copytree(live, live + ".old")
    mv3 = MaterializedView(spark, path)
    assert not os.path.exists(live + ".old")
    assert {r["value"] for r in mv3.read().collect()} == {11.0, 20.0}


def test_reopen_with_different_contract_raises(spark):
    """The bucket hashing and LWW resolution are baked into the stored
    layout: reopening with different keys (or seq/op/delete config) would
    leave the same logical key live in two buckets — must be a loud
    error, not silent corruption."""
    import pytest

    path = os.path.join(tempfile.mkdtemp(prefix="mv_k_"), "view")
    mv = MaterializedView(spark, path, keys=("user_id",))
    mv.merge_batch(_batch(spark, [(1, "insert", 1, 1.0)]))
    with pytest.raises(ValueError, match="keys"):
        MaterializedView(spark, path, keys=("user_id", "event_type"))
    with pytest.raises(ValueError, match="seq_col"):
        MaterializedView(spark, path, seq_col="value")
    with pytest.raises(ValueError, match="delete_op"):
        MaterializedView(spark, path, delete_op="DELETE")
    # identical contract reopens fine
    assert MaterializedView(spark, path, keys=("user_id",)).read().count() == 1


def test_rebucket_crash_recovery(spark):
    """rebucket uses a whole-dir two-rename swap: a crash between the two
    renames must roll FORWARD when the staged copy is complete (meta
    present — written last) and roll BACK when it is not. The earlier
    delete-then-rename version lost the entire view in that window."""
    import shutil

    from go_pq_cdc_elasticsearch_spark.sink.materialized import (
        _recover_interrupted_rebucket,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="mv_rbc_"), "view")
    mv = MaterializedView(spark, path, n_buckets=2)
    mv.merge_batch(_batch(spark, [(i, "insert", i, float(i)) for i in range(10)]))
    before = {r["user_id"]: r["value"] for r in mv.read().collect()}

    # crash between rename(path->rbold) and rename(rbnew->path), staged
    # copy COMPLETE: reopen rolls forward to the new layout
    shutil.copytree(path, path + ".rbnew")
    os.rename(path, path + ".rbold")
    mv2 = MaterializedView(spark, path)
    assert {r["user_id"]: r["value"] for r in mv2.read().collect()} == before
    assert not os.path.exists(path + ".rbold")

    # same window but staged copy INCOMPLETE (no meta): roll back
    shutil.copytree(path, path + ".rbnew")
    os.remove(os.path.join(path + ".rbnew", "_VIEW_META.json"))
    os.rename(path, path + ".rbold")
    _recover_interrupted_rebucket(path)
    assert {r["user_id"]: r["value"] for r in
            MaterializedView(spark, path).read().collect()} == before
    assert not os.path.exists(path + ".rbnew")

    # and a real end-to-end rebucket still preserves state
    mv3 = MaterializedView(spark, path)
    mv3.rebucket(8)
    assert {r["user_id"]: r["value"] for r in mv3.read().collect()} == before


def test_vacuum_to_empty_keeps_schema_readable(spark):
    """Retention dropping the LAST row must leave an empty typed view, not
    a 'not initialized' FileNotFoundError (review r5)."""
    path = os.path.join(tempfile.mkdtemp(prefix="mv_empty_"), "view")
    mv = MaterializedView(spark, path, n_buckets=2)
    mv.merge_batch(_batch(spark, [(1, "delete", 5, 1.0), (2, "delete", 6, 2.0)]))
    mv.vacuum(watermark_seq=10)  # every tombstone below the watermark
    out = mv.read()
    assert out.count() == 0
    assert "user_id" in out.columns  # schema survived


def test_drift_not_rearmed_by_missing_column_batches(spark):
    """A source that permanently DROPPED a column must not re-flag drift
    on every batch forever (defeating vacuum's reset) — the merged write
    carries the superset, so the files stay uniform (review r5)."""
    path = os.path.join(tempfile.mkdtemp(prefix="mv_drift_"), "view")
    mv = MaterializedView(spark, path, n_buckets=2)
    mv.merge_batch(_batch(spark, [(1, "insert", 1, 1.0)]))
    from pyspark.sql import functions as F
    wide = _batch(spark, [(2, "insert", 2, 2.0)]).withColumn("src", F.lit("a"))
    mv.merge_batch(wide)  # drift: new column
    assert mv._drifted
    mv.vacuum(watermark_seq=-1)  # full rewrite unifies schemas
    assert not mv._drifted
    narrow = _batch(spark, [(3, "insert", 3, 3.0)])  # 'src' missing
    mv.merge_batch(narrow)
    assert not mv._drifted  # missing-known-column batch: no re-arm
    got = {r["user_id"]: r["src"] for r in mv.read().collect()}
    assert got[2] == "a" and got[3] is None


def test_one_bucket_empty_batch_skips_rewrite(spark):
    """An empty micro-batch on a 1-bucket view must hit the fast path,
    not rewrite the whole bucket (review r5)."""
    path = os.path.join(tempfile.mkdtemp(prefix="mv_1b_"), "view")
    mv = MaterializedView(spark, path, n_buckets=1)
    mv.merge_batch(_batch(spark, [(1, "insert", 1, 1.0)]))
    bucket = os.path.join(path, "__bucket=0")
    before = sorted(os.listdir(bucket))
    mtimes = {f: os.path.getmtime(os.path.join(bucket, f)) for f in before}
    mv.merge_batch(_batch(spark, []))
    after = sorted(os.listdir(bucket))
    assert after == before
    assert all(
        os.path.getmtime(os.path.join(bucket, f)) == mtimes[f] for f in after
    )


def test_empty_first_batch_does_not_create_or_missize_view(spark):
    """Review r6: Spark's no-data micro-batches can hand foreachBatch an
    EMPTY batch 0. Auto-sizing from zero rows baked n_buckets=1 into the
    meta permanently, so every later large batch merged into a single
    bucket — per-batch cost scaling with view size. An empty first batch
    must not create the view at all; the first REAL batch sizes it."""
    path = os.path.join(tempfile.mkdtemp(prefix="mv_e0_"), "view")
    mv = MaterializedView(spark, path, target_rows_per_bucket=10)
    mv.merge_batch(_batch(spark, []), epoch_id=0)
    assert not mv.exists()  # no meta, no mis-sized layout
    assert mv.n_buckets is None  # auto-size still pending
    # the first REAL batch sizes the layout from ITS row count
    mv.merge_batch(
        _batch(spark, [(i, "insert", i, float(i)) for i in range(1, 41)]),
        epoch_id=1,
    )
    assert mv.n_buckets == 4  # 40 rows / 10 per bucket — not 1
    assert mv.read().count() == 40

    # fixed-layout views follow the same no-create rule
    path2 = os.path.join(tempfile.mkdtemp(prefix="mv_e0f_"), "view")
    mv2 = MaterializedView(spark, path2, n_buckets=4)
    mv2.merge_batch(_batch(spark, []), epoch_id=0)
    assert not mv2.exists()


def test_rebucket_of_emptied_view_stays_readable(spark):
    """Review r6: vacuum-to-empty then rebucket() left meta with ZERO
    bucket dirs (a partitionBy write of a zero-row frame creates none) and
    read() raised 'not initialized' forever. The meta-carried schema now
    keeps any emptied view readable as a typed empty frame."""
    path = os.path.join(tempfile.mkdtemp(prefix="mv_rb0_"), "view")
    mv = MaterializedView(spark, path, n_buckets=2)
    mv.merge_batch(_batch(spark, [(1, "delete", 5, 1.0)]))
    mv.vacuum(watermark_seq=10)
    assert mv.read().count() == 0  # typed empty after vacuum
    mv.rebucket(8)
    out = mv.read()  # previously: FileNotFoundError, unhealable
    assert out.count() == 0
    assert "user_id" in out.columns
    # reopen from disk: the schema rides in the meta, not a keeper file
    mv2 = MaterializedView(spark, path)
    assert mv2.read().count() == 0
    # and the view still accepts new merges afterwards
    # (_batch tuple order: event_id, event_type, user_id, value)
    mv2.merge_batch(_batch(spark, [(9, "insert", 7, 7.0)]))
    assert {r["user_id"] for r in mv2.read().collect()} == {7}


def test_merge_batch_rejects_reserved_bucket_column(spark, tmp_path):
    """Review r7: a caller batch already carrying __bucket was silently
    overwritten and misrouted; the reserved name now raises loudly (the
    asof_join/cdc_dedup discipline)."""
    import pytest as _pytest

    from go_pq_cdc_elasticsearch_spark.sink.materialized import MaterializedView

    view = MaterializedView(
        spark, str(tmp_path / "v"), keys=("k",), seq_col="seq",
        op_col="op", delete_op="delete",
    )
    bad = spark.createDataFrame(
        [(1, 1, "upsert", 0)], "k long, seq long, op string, __bucket int"
    )
    with _pytest.raises(ValueError, match="__bucket"):
        view.merge_batch(bad)


def test_meta_write_is_atomic(spark, tmp_path):
    """Review r7: _write_meta now goes through temp+rename, so a meta
    file's existence implies completeness (rebucket recovery rolls
    forward on exactly that signal) and no .tmp garbage survives."""
    import json as _json
    import os as _os

    from go_pq_cdc_elasticsearch_spark.sink.materialized import MaterializedView

    path = str(tmp_path / "v")
    view = MaterializedView(
        spark, path, keys=("k",), seq_col="seq", op_col="op", delete_op="delete",
    )
    batch = spark.createDataFrame([(1, 1, "upsert")], "k long, seq long, op string")
    view.merge_batch(batch, epoch_id=0)
    meta = _os.path.join(path, "_VIEW_META.json")
    assert _os.path.exists(meta)
    _json.load(open(meta))  # complete, parseable
    assert not _os.path.exists(meta + ".tmp")


def test_fence_zombie_writer_aborts_loudly(spark, tmp_path):
    """U3 fencing (review r11): after a takeover bumps the view's fence
    generation, the old writer's every mutation raises FencedWriterError
    BEFORE touching state — a zombie active (SIGSTOP / network partition)
    cannot write behind the new one."""
    import pytest

    from go_pq_cdc_elasticsearch_spark.sink.materialized import (
        FencedWriterError,
        MaterializedView,
        read_fence,
    )

    path = str(tmp_path / "v")
    a = MaterializedView(spark, path)
    assert read_fence(path) is None  # unfenced until someone acquires
    assert a.acquire_fence() == 1
    a.merge_batch(_batch(spark, [(1, "insert", 1, 10.0)]), epoch_id=0)

    # takeover: a second instance (fresh object, standby pattern) wins
    b = MaterializedView(spark, path)
    assert b.acquire_fence() == 2
    assert read_fence(path) == 2

    # the zombie's merge must fail loudly and leave state untouched
    with pytest.raises(FencedWriterError, match="fence token 1"):
        a.merge_batch(_batch(spark, [(2, "update", 1, 666.0)]), epoch_id=1)
    assert {r["value"] for r in b.read().collect()} == {10.0}

    # every maintenance op is fenced too
    with pytest.raises(FencedWriterError):
        a.vacuum(watermark_seq=100)
    with pytest.raises(FencedWriterError):
        a.truncate_upto(100)
    with pytest.raises(FencedWriterError):
        a.rebucket(4)

    # the new active writes fine, and an UNfenced caller (token None —
    # direct batch use, pre-fencing deployments) stays unchecked
    b.merge_batch(_batch(spark, [(3, "update", 1, 11.0)]), epoch_id=0)
    c = MaterializedView(spark, path)
    c.merge_batch(_batch(spark, [(4, "update", 1, 12.0)]))
    assert {r["value"] for r in b.read().collect()} == {12.0}


def test_fence_survives_rebucket(spark, tmp_path):
    """rebucket's whole-dir swap must carry the fence marker into the new
    dir — losing it would silently un-fence every zombie."""
    from go_pq_cdc_elasticsearch_spark.sink.materialized import (
        MaterializedView,
        read_fence,
    )

    path = str(tmp_path / "v")
    a = MaterializedView(spark, path)
    a.acquire_fence()
    a.merge_batch(_batch(spark, [(1, "insert", 1, 1.0), (2, "insert", 2, 2.0)]))
    a.rebucket(4)
    assert read_fence(path) == 1
    # and the generation keeps counting from there
    b = MaterializedView(spark, path)
    assert b.acquire_fence() == 2


def test_fence_acquire_is_atomic_under_races(spark, tmp_path):
    """acquire_fence is an O_EXCL filesystem CAS: N instances racing it
    claim N DISTINCT generations (a read-modify-write on a shared file
    handed racers the same token — no mutual exclusion). Exactly one
    instance — the highest claim — survives the fence check."""
    import threading

    from go_pq_cdc_elasticsearch_spark.sink.materialized import (
        FencedWriterError,
        MaterializedView,
        read_fence,
    )

    path = str(tmp_path / "v")
    views = [MaterializedView(spark, path) for _ in range(8)]
    start = threading.Barrier(8)
    tokens: list[int] = []
    lock = threading.Lock()

    def claim(v):
        start.wait()
        t = v.acquire_fence()
        with lock:
            tokens.append(t)

    threads = [threading.Thread(target=claim, args=(v,)) for v in views]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert len(set(tokens)) == 8, f"duplicate fence tokens: {sorted(tokens)}"
    assert read_fence(path) == max(tokens)
    survivors = [v for v in views if v._fence_token == max(tokens)]
    assert len(survivors) == 1
    batch = _batch(spark, [(1, "insert", 1, 1.0)])
    for v in views:
        if v is survivors[0]:
            v.merge_batch(batch)  # the winner writes
        else:
            import pytest

            with pytest.raises(FencedWriterError):
                v.merge_batch(batch)


def test_fence_checked_in_write_meta(spark, tmp_path):
    """ADVICE r11: merge_batch checks the fence at entry, but the Spark
    aggregation between entry and the first meta write can run for
    minutes — a zombie fenced mid-batch could still overwrite the
    _VIEW_META.json sidecar (epoch frontier / lineage) after takeover.
    _write_meta itself is now fence-checked, so the meta clobber window
    is closed like the bucket-swap window already was."""
    import json as _json
    import os as _os

    import pytest

    from go_pq_cdc_elasticsearch_spark.sink.materialized import (
        _META,
        FencedWriterError,
        MaterializedView,
    )

    path = str(tmp_path / "v")
    a = MaterializedView(spark, path)
    a.acquire_fence()
    a.merge_batch(_batch(spark, [(1, "insert", 1, 10.0)]), epoch_id=7)

    b = MaterializedView(spark, path)
    b.acquire_fence()  # takeover mid-flight

    # the zombie's direct meta write (the tail end of a long merge) dies
    # loudly and leaves the sidecar untouched
    a._last_epoch = 99
    with pytest.raises(FencedWriterError):
        a._write_meta()
    with open(_os.path.join(path, _META)) as f:
        assert _json.load(f)["last_epoch"] == 7

    # the new active's meta writes pass (epoch above the adopted
    # frontier — at or below it the redelivery guard skips the merge)
    b.merge_batch(_batch(spark, [(2, "update", 1, 11.0)]), epoch_id=8)
    with open(_os.path.join(path, _META)) as f:
        assert _json.load(f)["last_epoch"] == 8


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it submitted."""
    import uuid

    sc = spark.sparkContext
    group = f"mv_probe_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs of one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_uses_recorded_schema_until_drift(spark, tmp_path):
    """A view that never drifted is read with the schema its meta
    records, so building read() submits no Spark job (no footer
    inference); a drifted view still reconciles footers and shows its
    new column; a meta without a schema (older layouts) still reads."""
    import json as _json

    from go_pq_cdc_elasticsearch_spark.sink.materialized import _META

    path = str(tmp_path / "v")
    mv = MaterializedView(spark, path, n_buckets=4)
    mv.merge_batch(_batch(spark, [(i, "insert", i, float(i)) for i in range(8)]))
    mv.merge_batch(_batch(spark, [(9, "update", 3, 33.0)]))
    inferred = spark.read.option("basePath", path).parquet(path)

    df, jobs = _jobs_of(spark, mv.read)
    assert jobs == 0
    assert df.schema == inferred.drop("__bucket").schema
    assert {r["user_id"]: r["value"] for r in df.collect()} == {
        i: (33.0 if i == 3 else float(i)) for i in range(8)
    }
    # a reopened view reads the same way
    _df, jobs = _jobs_of(spark, MaterializedView(spark, path).read)
    assert jobs == 0

    # older layout: no schema in the meta -> inference, same rows
    with open(os.path.join(path, _META)) as f:
        meta = _json.load(f)
    del meta["schema"]
    with open(os.path.join(path, _META), "w") as f:
        _json.dump(meta, f)
    legacy = MaterializedView(spark, path)
    assert sorted(r["user_id"] for r in legacy.read().collect()) == list(range(8))

    # drift touching one bucket leaves non-uniform files: the new column
    # still shows, on the writer and on a reopened view
    evolved = spark.createDataFrame(
        [(20, "insert", 100, 1.0, "eu-west")],
        "event_id long, event_type string, user_id long, value double, "
        "region string",
    )
    legacy.merge_batch(evolved)
    assert legacy._drifted
    for v in (legacy, MaterializedView(spark, path)):
        rows = {r["user_id"]: r["region"] for r in v.read().collect()}
        assert rows == {**{i: None for i in range(8)}, 100: "eu-west"}
