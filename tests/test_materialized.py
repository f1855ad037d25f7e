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

    touched_bucket = os.path.join(
        path,
        "__bucket=%d"
        % _batch(spark, [(0, "x", 7, 0.0)])
        .select(F.pmod(F.hash("user_id"), F.lit(8)).alias("b"))
        .collect()[0]["b"],
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
    assert 0 < len(mv._live_buckets()) <= 8
    after = {r["user_id"]: r["value"] for r in mv.read().collect()}
    assert after == before
    # reopening picks up the new layout, merges still work
    mv2 = MaterializedView(spark, path)
    assert mv2.n_buckets == 8
    mv2.merge_batch(_batch(spark, [(100, "insert", 42, 4.2)]))
    assert mv2.read().count() == len(before) + 1


def test_rebucket_adopts_late_meta(spark):
    """rebucket() on a view object constructed BEFORE the store appeared
    on disk (the standby pattern) must adopt the newest manifest first,
    like merge_batch/vacuum/truncate_upto do — otherwise its commit would
    clobber the stored epoch frontier, schema, and lineage with the fresh
    object's None fields."""
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
    """rebucket's commit must carry the fence token forward — losing it
    would silently un-fence every zombie."""
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
    """acquire_fence is a conditional manifest commit: N instances racing
    it claim N DISTINCT tokens (a read-modify-write on a shared file
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




# -- manifest commit points ---------------------------------------------------


def _rows(view):
    return {r["user_id"]: (r["event_id"], r["value"]) for r in view.read().collect()}


def _crash_once(monkeypatch, obj, name):
    """Make ``obj.name`` raise on its next call, then behave normally."""
    real = getattr(obj, name)

    def die(*args, **kwargs):
        monkeypatch.setattr(obj, name, real)
        raise RuntimeError(f"injected crash in {name}")

    monkeypatch.setattr(obj, name, die)


def _rename_fails_after(n_ok):
    """An os.rename that moves ``n_ok`` files, then fails (a crash while
    a write moves its files into the bucket dirs)."""
    real = os.rename
    calls = {"n": 0}

    def rename(src, dst):
        calls["n"] += 1
        if calls["n"] > n_ok:
            raise OSError("injected crash mid-write")
        return real(src, dst)

    return rename


def _disk_files(path):
    import glob

    return {
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(path, "__bucket=*", "*.parquet"))
    }


def _live_files(view):
    snap = view.store.latest()
    return {rel for rels in snap["files"].values() for rel in rels}


def _jobs(spark, fn):
    """Run ``fn``; return its result and the number of Spark jobs the
    application submitted meanwhile, counted over every job group."""
    store = spark.sparkContext._jsc.sc().statusStore()
    before = store.jobsList(None).size()
    out = fn()
    return out, store.jobsList(None).size() - before


def test_crash_before_commit_keeps_previous_generation(spark, tmp_path, monkeypatch):
    """Crash after the merge's files are written and before the manifest
    link: readers keep the previous generation, the frontier does not
    move, and redelivering the epoch converges to the state of a run
    that never crashed."""
    import pytest

    path = str(tmp_path / "v")
    first = _batch(spark, [(i, "insert", i, float(i)) for i in range(20)])
    second = _batch(spark, [(100 + i, "update", i, -1.0) for i in range(0, 20, 3)])
    mv = MaterializedView(spark, path, n_buckets=4)
    mv.merge_batch(first, epoch_id=0)
    before, gen = _rows(mv), mv.store.latest()["gen"]

    _crash_once(monkeypatch, mv.store, "commit")
    with pytest.raises(RuntimeError, match="injected crash in commit"):
        mv.merge_batch(second, epoch_id=1)
    assert _disk_files(path) > _live_files(mv)  # the new files were written
    reopened = MaterializedView(spark, path)
    assert reopened.store.latest()["gen"] == gen
    assert reopened._last_epoch == 0
    assert _rows(reopened) == before

    reopened.merge_batch(second, epoch_id=1)  # redelivery
    clean = MaterializedView(spark, str(tmp_path / "clean"), n_buckets=4)
    clean.merge_batch(first, epoch_id=0)
    clean.merge_batch(second, epoch_id=1)
    assert _rows(mv) == _rows(clean)


def test_crash_after_commit_before_gc(spark, tmp_path, monkeypatch):
    """Crash after the manifest link and before GC: the merge is committed
    with its frontier, so redelivery is a no-op, and the files it replaced
    are deleted by a later commit once the grace period has passed."""
    import pytest

    from go_pq_cdc_elasticsearch_spark.sink import store as S

    path = str(tmp_path / "v")
    mv = MaterializedView(spark, path, n_buckets=1)
    mv.merge_batch(_batch(spark, [(1, "insert", 1, 1.0)]), epoch_id=0)
    second = _batch(spark, [(2, "update", 1, 2.0), (3, "insert", 2, 3.0)])
    _crash_once(monkeypatch, mv.store, "_gc")
    with pytest.raises(RuntimeError, match="injected crash in _gc"):
        mv.merge_batch(second, epoch_id=1)
    reopened = MaterializedView(spark, path)
    assert reopened._last_epoch == 1
    assert _rows(reopened) == {1: (2, 2.0), 2: (3, 3.0)}
    gen = reopened.store.latest()["gen"]
    retired = set(reopened.store.latest()["retired"])
    assert retired and retired <= _disk_files(path)  # kept for readers

    reopened.merge_batch(second, epoch_id=1)  # redelivery: skipped
    assert reopened.store.latest()["gen"] == gen

    monkeypatch.setattr(S, "GC_GRACE_S", 0.0)
    reopened.merge_batch(_batch(spark, [(4, "update", 2, 4.0)]), epoch_id=2)
    assert _disk_files(path) == _live_files(reopened)
    assert os.listdir(os.path.join(path, "_manifest")) == [f"{gen + 1}.json"]
    assert _rows(reopened) == {1: (2, 2.0), 2: (4, 4.0)}


def test_rebucket_crash_keeps_old_layout(spark, tmp_path, monkeypatch):
    """Crash mid-rebucket, after some of the re-hashed files were moved
    into bucket dirs: rows move BETWEEN buckets, yet readers see the old
    layout with every key exactly once, and a retried rebucket
    completes."""
    import pytest

    path = str(tmp_path / "v")
    mv = MaterializedView(spark, path, n_buckets=2)
    mv.merge_batch(_batch(spark, [(i, "insert", i, float(i)) for i in range(30)]))
    before = _rows(mv)
    with monkeypatch.context() as m:
        m.setattr(os, "rename", _rename_fails_after(1))
        with pytest.raises(OSError, match="injected crash mid-write"):
            mv.rebucket(8)
    reopened = MaterializedView(spark, path)
    assert reopened.n_buckets == 2
    ids = [r["user_id"] for r in reopened.read().collect()]
    assert len(ids) == len(set(ids))
    assert _rows(reopened) == before
    reopened.rebucket(8)
    assert MaterializedView(spark, path).n_buckets == 8
    assert _rows(reopened) == before


def test_torn_manifest_temp_never_becomes_newest(spark, tmp_path, monkeypatch):
    """A crash while the next manifest is being written leaves a torn
    temp file that never becomes a generation: readers keep the previous
    one, the next commit succeeds, and GC removes the temp."""
    import json
    import types

    import pytest

    from go_pq_cdc_elasticsearch_spark.sink import store as S

    path = str(tmp_path / "v")
    mv = MaterializedView(spark, path, n_buckets=1)
    mv.merge_batch(_batch(spark, [(1, "insert", 1, 1.0)]), epoch_id=0)
    gen = mv.store.latest()["gen"]

    def torn(obj, f):
        f.write(json.dumps(obj)[:20])
        raise OSError("injected crash mid-manifest")

    second = _batch(spark, [(2, "update", 1, 2.0)])
    with monkeypatch.context() as m:
        m.setattr(S, "json", types.SimpleNamespace(dump=torn, load=json.load))
        with pytest.raises(OSError, match="injected crash mid-manifest"):
            mv.merge_batch(second, epoch_id=1)
    mdir = os.path.join(path, "_manifest")
    assert any(n.endswith(".tmp") for n in os.listdir(mdir))
    reopened = MaterializedView(spark, path)
    assert reopened.store.latest()["gen"] == gen
    assert _rows(reopened) == {1: (1, 1.0)}

    monkeypatch.setattr(S, "GC_GRACE_S", 0.0)
    reopened.merge_batch(second, epoch_id=1)
    assert os.listdir(mdir) == [f"{gen + 1}.json"]
    assert _rows(reopened) == {1: (2, 2.0)}


def test_failed_write_leaves_only_files_gc_removes(spark, tmp_path, monkeypatch):
    """A write that dies part-way leaves no staging dir and only files no
    manifest names; once the grace period has passed, the next commit
    deletes them, and the store holds exactly the newest manifest's
    files."""
    import pytest

    from go_pq_cdc_elasticsearch_spark.sink import store as S

    path = str(tmp_path / "v")
    mv = MaterializedView(spark, path, n_buckets=4)
    mv.merge_batch(_batch(spark, [(i, "insert", i, float(i)) for i in range(20)]))
    live = _live_files(mv)
    update = _batch(spark, [(100 + i, "update", i, -1.0) for i in range(20)])
    with monkeypatch.context() as m:
        m.setattr(os, "rename", _rename_fails_after(2))
        with pytest.raises(OSError, match="injected crash mid-write"):
            mv.merge_batch(update, epoch_id=1)
    staging = os.path.join(path, "_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []
    assert _live_files(mv) == live
    assert _disk_files(path) - live  # orphans of the failed write

    monkeypatch.setattr(S, "GC_GRACE_S", 0.0)
    mv.merge_batch(update, epoch_id=1)
    assert _disk_files(path) == _live_files(mv)
    assert {v for _e, v in _rows(mv).values()} == {-1.0}


def test_takeover_mid_merge_fails_the_zombie_commit(spark, tmp_path, monkeypatch):
    """A fenced writer already past its fence check when the takeover
    lands loses its commit: the takeover consumed the generation the
    zombie would link, so the zombie's files never become visible."""
    import pytest

    from go_pq_cdc_elasticsearch_spark.sink.materialized import (
        FencedWriterError,
        read_fence,
    )

    path = str(tmp_path / "v")
    a = MaterializedView(spark, path)
    a.acquire_fence()
    a.merge_batch(_batch(spark, [(1, "insert", 1, 10.0)]), epoch_id=7)
    b = MaterializedView(spark, path)
    real_write = a.store.write

    def write_then_takeover(df, n_buckets):
        out = real_write(df, n_buckets)
        b.acquire_fence()
        return out

    monkeypatch.setattr(a.store, "write", write_then_takeover)
    with pytest.raises(FencedWriterError, match="lost generation"):
        a.merge_batch(_batch(spark, [(2, "update", 1, 666.0)]), epoch_id=8)
    assert read_fence(path) == 2
    assert _rows(b) == {1: (1, 10.0)}
    assert MaterializedView(spark, path)._last_epoch == 7
    b.merge_batch(_batch(spark, [(3, "update", 1, 11.0)]), epoch_id=8)
    assert _rows(b) == {1: (3, 11.0)}


def test_stale_writer_fails_even_after_its_generation_was_pruned(
    spark, tmp_path, monkeypatch
):
    """A writer whose base generation went stale while it wrote its files
    cannot commit, whether the generation it would claim still exists
    (the link fails) or GC already pruned it (the link succeeds, a newer
    generation is found, the commit is withdrawn). The other writer's
    state stays."""
    import pytest

    from go_pq_cdc_elasticsearch_spark.sink import store as S
    from go_pq_cdc_elasticsearch_spark.sink.materialized import FencedWriterError

    monkeypatch.setattr(S, "GC_GRACE_S", 0.0)
    path = str(tmp_path / "v")
    a = MaterializedView(spark, path)
    a.merge_batch(_batch(spark, [(1, "insert", 1, 1.0)]))
    b = MaterializedView(spark, path)
    real_write = a.store.write
    seq = iter(range(10, 100))

    for overtakes in (1, 3):
        base = a.store.latest()["gen"]

        def write_then_overtaken(df, n_buckets, overtakes=overtakes):
            out = real_write(df, n_buckets)
            for _ in range(overtakes):
                b.merge_batch(_batch(spark, [(next(seq), "update", 1, 2.0)]))
            return out

        with monkeypatch.context() as m:
            m.setattr(a.store, "write", write_then_overtaken)
            with pytest.raises(FencedWriterError):
                a.merge_batch(_batch(spark, [(5, "update", 2, 666.0)]))
        if overtakes > 1:  # the name the stale writer linked had been pruned
            assert not os.path.exists(
                os.path.join(path, "_manifest", f"{base + 1}.json")
            )
        assert b.store.latest()["gen"] == base + overtakes
        assert set(_rows(b)) == {1}


def test_reads_never_fail_while_merging(spark, tmp_path):
    """1000 read().count() calls on a 4-bucket view while another thread
    merges continuously: each read resolves one committed generation and
    reads its explicit files, so none fails and every count is right."""
    import threading

    path = str(tmp_path / "v")
    writer = MaterializedView(spark, path, n_buckets=4)
    writer.merge_batch(_batch(spark, [(i, "insert", i, 0.0) for i in range(40)]))
    stop = threading.Event()
    merged, errors = [], []

    def merge_loop():
        epoch = 1
        while not stop.is_set():
            try:
                writer.merge_batch(
                    _batch(
                        spark,
                        [(1000 * epoch + i, "update", i, float(epoch))
                         for i in range(epoch % 7, 40, 7)],
                    ),
                    epoch_id=epoch,
                )
            except Exception as exc:  # noqa: BLE001 - reported below
                errors.append(exc)
                return
            merged.append(epoch)
            epoch += 1

    t = threading.Thread(target=merge_loop)
    t.start()
    reader = MaterializedView(spark, path)
    try:
        counts = [reader.read().count() for _ in range(1000)]
    finally:
        stop.set()
        t.join(timeout=120)
    assert not t.is_alive()
    assert not errors, errors
    assert len(merged) >= 5
    assert set(counts) == {40}


def test_store_adds_no_spark_job(spark, tmp_path):
    """Spark jobs per view operation, counted over every job group: a
    1-bucket merge 2 (its emptiness probe, then one job: the batch and the
    state are coalesced to one partition, so neither the in-batch dedup
    nor the resolve plans an exchange), a 4-bucket merge 7, an empty
    batch 1 / 3, read().count() 2. Reads pass explicit files, and Spark
    lists more than 32 paths in a job, so each bucket keeps one live
    file."""
    budgets = {1: (2, 1, 2), 4: (7, 3, 2)}
    for n_buckets, (merge_jobs, empty_jobs, count_jobs) in budgets.items():
        mv = MaterializedView(
            spark, str(tmp_path / f"v{n_buckets}"), n_buckets=n_buckets
        )
        mv.merge_batch(
            _batch(spark, [(i, "insert", i, float(i)) for i in range(40)]), epoch_id=0
        )
        update = _batch(spark, [(100 + i, "update", i, 1.0) for i in range(0, 40, 3)])
        _, jobs = _jobs(spark, lambda: mv.merge_batch(update, epoch_id=1))
        assert jobs <= merge_jobs, (n_buckets, "merge", jobs)
        _, jobs = _jobs(spark, lambda: mv.merge_batch(_batch(spark, []), epoch_id=2))
        assert jobs <= empty_jobs, (n_buckets, "empty", jobs)
        assert mv._last_epoch == 2
        n, jobs = _jobs(spark, lambda: mv.read().count())
        assert n == 40 and jobs <= count_jobs, (n_buckets, "count", jobs)
        assert all(len(v) == 1 for v in mv.store.latest()["files"].values())


def test_read_uses_recorded_schema_until_drift(spark, tmp_path):
    """Every read uses the schema the manifest records, so building read()
    submits no Spark job (no footer inference) — before and after a
    drifted batch added a column to one bucket's file only. Files written
    before the column existed read it as NULL, on the writer and on a
    reopened view."""
    path = str(tmp_path / "v")
    mv = MaterializedView(spark, path, n_buckets=4)
    mv.merge_batch(_batch(spark, [(i, "insert", i, float(i)) for i in range(8)]))
    mv.merge_batch(_batch(spark, [(9, "update", 3, 33.0)]))
    df, jobs = _jobs(spark, mv.read)
    assert jobs == 0
    assert {r["user_id"]: r["value"] for r in df.collect()} == {
        i: (33.0 if i == 3 else float(i)) for i in range(8)
    }

    evolved = spark.createDataFrame(
        [(20, "insert", 100, 1.0, "eu-west")],
        "event_id long, event_type string, user_id long, value double, "
        "region string",
    )
    mv.merge_batch(evolved)
    for v in (mv, MaterializedView(spark, path)):
        df, jobs = _jobs(spark, v.read)
        assert jobs == 0
        rows = {r["user_id"]: r["region"] for r in df.collect()}
        assert rows == {**{i: None for i in range(8)}, 100: "eu-west"}
    # a later batch without the column keeps it in the schema
    mv.merge_batch(_batch(spark, [(30, "insert", 101, 2.0)]))
    rows = {r["user_id"]: r["region"] for r in mv.read().collect()}
    assert rows[100] == "eu-west" and rows[101] is None
