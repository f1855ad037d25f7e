"""Incremental LSH dedup index: replaying the corpus in micro-batches must
discover exactly the pairs the batch pipeline finds on the whole corpus."""

import os
import tempfile

import pytest

from pyspark.sql import functions as F

from go_pq_cdc_elasticsearch_spark.catalog import load_table
from go_pq_cdc_elasticsearch_spark.operators.dedup import (
    doc_ngram_sets,
    jaccard_from_sets,
    minhash_lsh_candidates,
)
from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
    LshDedupIndex,
    greedy_keep_filter,
)

TAU = 0.7


def _batch_verified_pairs(docs):
    grams = doc_ngram_sets(docs)
    cands = minhash_lsh_candidates(docs)
    g1 = grams.select(F.col("doc_id").alias("id1"), F.col("grams").alias("__g1"))
    g2 = grams.select(F.col("doc_id").alias("id2"), F.col("grams").alias("__g2"))
    return {
        (r["id1"], r["id2"])
        for r in cands.join(g1, "id1")
        .join(g2, "id2")
        .filter(jaccard_from_sets(F.col("__g1"), F.col("__g2")) >= TAU)
        .select("id1", "id2")
        .collect()
    }


def test_replay_equals_batch_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="lshidx_")
    idx = LshDedupIndex(spark, os.path.join(work, "idx"), jaccard_threshold=TAU)
    got = set()
    # three arrival waves, deliberately NOT in id order
    for i, m in enumerate((2, 0, 1)):
        batch = docs.filter(F.col("doc_id") % 3 == m)
        pairs = idx.process_batch(batch, corpus=docs, epoch_id=i)
        for r in pairs.collect():
            got.add((r["id1"], r["id2"]))
            assert r["jaccard"] >= TAU
    assert got == _batch_verified_pairs(docs)


def test_epoch_redelivery_and_reopen(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    work = tempfile.mkdtemp(prefix="lshidx_")
    idx = LshDedupIndex(spark, os.path.join(work, "idx"), jaccard_threshold=TAU)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    idx.process_batch(b0, corpus=docs, epoch_id=0)
    # a reopened index (fresh handle over the same path) probes the same
    # state and finds the cross-batch pairs
    idx2 = LshDedupIndex(spark, os.path.join(work, "idx"), jaccard_threshold=TAU)
    p1 = {
        (r["id1"], r["id2"])
        for r in idx2.process_batch(b1, corpus=docs, epoch_id=1).collect()
    }
    assert p1  # the near-dup generator plants cross-parity pairs
    # redelivered epoch: the band merge is skipped (frontier) but the pair
    # DETECTION is re-run — at-least-once detection is fine because the
    # band-row upsert is idempotent, so detected pairs are identical
    p1_again = {
        (r["id1"], r["id2"])
        for r in idx2.process_batch(b1, corpus=docs, epoch_id=1).collect()
    }
    assert p1_again == p1


def test_greedy_keep_filter():
    # chain a-b-c where only adjacent pairs verify: batch policy (CC) would
    # drop b and c; first-arrival-wins keeps c because b (its only kept
    # link) was dropped
    pairs_by_batch = [[(1, 2)], [(2, 3)]]
    ids = [[1, 2], [3]]
    kept = greedy_keep_filter(pairs_by_batch, ids)
    assert kept == {1, 3}
    # within-batch tie: lower id wins
    kept2 = greedy_keep_filter([[(5, 7)]], [[7, 5]])
    assert kept2 == {5}


def test_distributed_fold_single_wave_equals_dedup_corpus(spark, sf_dir):
    from go_pq_cdc_elasticsearch_spark.operators.dedup import dedup_corpus
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="dd_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    kept = dd.dedup_batch(docs, corpus=docs, epoch_id=0)
    got = {r["doc_id"] for r in kept.select("doc_id").collect()}
    want = {
        r["doc_id"]
        for r in dedup_corpus(docs, jaccard_threshold=TAU).select("doc_id").collect()
    }
    assert got == want


def test_distributed_fold_invariants_and_redelivery(spark, sf_dir):
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents")
    waves = [(0, 1), (1, 2), (2, 0)]

    def replay(path):
        dd = IncrementalDeduper(spark, path, jaccard_threshold=TAU)
        kept = set()
        last = None
        for epoch, m in waves:
            last = dd.dedup_batch(
                docs.filter(F.col("doc_id") % 3 == m), corpus=docs, epoch_id=epoch
            )
            kept |= {r["doc_id"] for r in last.select("doc_id").collect()}
        return dd, kept, last

    work = tempfile.mkdtemp(prefix="dd_")
    dd, kept, _ = replay(os.path.join(work, "a"))
    # determinism: a fresh replay of the same waves keeps the same set
    _, kept2, _ = replay(os.path.join(work, "b"))
    assert kept == kept2
    # independence: no verified pair (recomputed batch-side) has both
    # ends kept
    both_kept = {
        (a, b) for (a, b) in _batch_verified_pairs(docs)
        if a in kept and b in kept
    }
    assert both_kept == set()
    # coverage: every dropped doc is adjacent to at least one kept doc OR
    # was condemned transitively within its component
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert kept <= all_ids and kept
    # redelivery of the LAST wave returns the same kept rows and the kept
    # view does not change (epoch guard + policy idempotence)
    before = kept
    epoch, m = waves[-1]
    again = dd.dedup_batch(
        docs.filter(F.col("doc_id") % 3 == m), corpus=docs, epoch_id=epoch
    )
    kept_after = {
        r["doc_id"] for r in dd.kept.read().select("doc_id").collect()
    }
    assert kept_after == before
    wave_kept = {r["doc_id"] for r in again.select("doc_id").collect()}
    assert wave_kept == {d for d in before if d % 3 == m}


def test_segment_index_compaction(spark, sf_dir):
    """compact() = the deferred LSM merge: appended segments collapse to
    one file per bucket, duplicate rows from crash-redelivered appends are
    dropped, and probe results are unchanged."""
    from go_pq_cdc_elasticsearch_spark.operators.dedup import minhash_band_rows

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    work = tempfile.mkdtemp(prefix="lshc_")
    idx = LshDedupIndex(spark, os.path.join(work, "idx"), n_buckets=4)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    idx.process_batch(b0, corpus=docs, epoch_id=0)
    idx.process_batch(b1, corpus=docs, epoch_id=1)
    # a duplicate append, as a crash-redelivery without an epoch makes
    idx.view.append_batch(
        minhash_band_rows(b1, "text", "doc_id", idx.k, idx.bands)
    )
    n_rows_dup = idx.view.read_buckets().count()
    n_distinct = idx.view.read_buckets().distinct().count()
    assert n_rows_dup > n_distinct  # duplicates really exist pre-compact
    probe = minhash_band_rows(
        docs.filter(F.col("doc_id") <= 20), "text", "doc_id", idx.k, idx.bands
    )
    before = {
        tuple(r) for r in idx._indexed_bands(probe).distinct().collect()
    }
    idx.view.compact()
    assert all(n == 1 for n in idx.view.segment_counts().values())
    assert idx.view.read_buckets().count() == n_distinct
    after = {tuple(r) for r in idx._indexed_bands(probe).collect()}
    assert after == before


def test_streaming_foreach_batch_end_to_end(spark, sf_dir):
    """The full writeStream loop: documents arrive as a 3-file stream,
    each micro-batch is deduplicated against the growing corpus store,
    kept rows append to it — the final store equals the batch pipeline's
    policy applied wave by wave (single-source-of-truth check: union of
    kept ids == a fresh IncrementalDeduper replay over the same waves)."""
    from go_pq_cdc_elasticsearch_spark.operators.dedup import dedup_corpus
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    work = tempfile.mkdtemp(prefix="dd_stream_")
    staged = os.path.join(work, "staged")
    os.makedirs(staged)
    # stage three waves as parquet files with increasing mtimes
    import time as _time

    for i, m in enumerate((0, 1, 2)):
        part_dir = os.path.join(work, f"w{i}")
        docs.filter(F.col("doc_id") % 3 == m).coalesce(1).write.parquet(part_dir)
        (part,) = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        dst = os.path.join(staged, f"docs_{i:02d}.parquet")
        os.rename(os.path.join(part_dir, part), dst)
        t = _time.time() + i * 2
        os.utime(dst, (t, t))

    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    corpus_path = os.path.join(work, "corpus")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    q = (
        stream.writeStream.foreachBatch(dd.foreach_batch_writer(corpus_path))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    store_ids = {
        r["doc_id"] for r in spark.read.parquet(corpus_path).select("doc_id").collect()
    }
    kept_view_ids = {
        r["doc_id"] for r in dd.kept.read().select("doc_id").collect()
    }
    assert store_ids == kept_view_ids and store_ids
    # replaying the same waves through a fresh deduper keeps the same set
    dd2 = IncrementalDeduper(spark, os.path.join(work, "dd2"), jaccard_threshold=TAU)
    kept2 = set()
    for i, m in enumerate((0, 1, 2)):
        w = docs.filter(F.col("doc_id") % 3 == m)
        kept2 |= {
            r["doc_id"]
            for r in dd2.dedup_batch(w, corpus=docs, epoch_id=i)
            .select("doc_id")
            .collect()
        }
    assert store_ids == kept2


def test_foreach_batch_crash_between_corpus_write_and_frontier(spark, sf_dir):
    """ADVICE r3 regression: a crash AFTER the corpus append but BEFORE the
    kept-view frontier commit must lose nothing and duplicate nothing on
    redelivery. (The inverse ordering — frontier first — permanently lost
    the epoch's corpus text: the guard skipped the redelivered epoch, so
    later near-dups of those docs could never be verified.)"""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    work = tempfile.mkdtemp(prefix="dd_crash_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    corpus_path = os.path.join(work, "corpus")
    write = dd.foreach_batch_writer(corpus_path)

    w0 = docs.filter(F.col("doc_id") % 2 == 0)
    w1 = docs.filter(F.col("doc_id") % 2 == 1)
    write(w0, 0)

    # crash window: corpus for epoch 1 is written, frontier commit dies
    real_merge = dd._merge_kept
    calls = {"n": 0}

    def dying_merge(kept, epoch_id, lineage=None):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash before frontier commit")
        real_merge(kept, epoch_id=epoch_id, lineage=lineage)

    dd._merge_kept = dying_merge
    try:
        write(w1, 1)
        raise AssertionError("injected crash did not surface")
    except RuntimeError:
        pass
    assert dd.kept._last_epoch == 0  # frontier NOT advanced
    # epoch-1 corpus dir exists from the failed attempt (the window)
    assert os.path.isdir(os.path.join(corpus_path, "epoch=1"))

    # redelivery of epoch 1: overwrite-idempotent append + frontier commit
    write(w1, 1)
    dd._merge_kept = real_merge
    # a second redelivery after full commit is a no-op
    write(w1, 1)

    store = spark.read.parquet(corpus_path).select("doc_id")
    store_ids = [r["doc_id"] for r in store.collect()]
    kept_ids = {r["doc_id"] for r in dd.kept.read().select("doc_id").collect()}
    assert len(store_ids) == len(set(store_ids))  # no duplicates
    assert set(store_ids) == kept_ids and kept_ids  # no loss


def test_foreach_batch_rejects_none_epoch(spark, sf_dir):
    """epoch_id=None used to mean "always process"; after the crash-safe
    reordering it would map to epoch 0 and be SILENTLY dropped once any
    epoch committed — it must raise instead, pointing at dedup_batch."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    work = tempfile.mkdtemp(prefix="dd_none_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    write = dd.foreach_batch_writer(os.path.join(work, "corpus"))
    with pytest.raises(TypeError, match="dedup_batch"):
        write(docs, None)


def test_foreach_batch_legacy_flat_corpus_refused_and_migratable(spark, sf_dir):
    """A corpus written by the pre-epoch-dir flat-append layout must be
    refused loudly (silently ignoring it would leak near-dups of every
    previously ingested doc), and the documented migration (move the bare
    files into epoch=-1) must bring it back into the corpus read."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    old = docs.filter(F.col("doc_id") <= 60)
    new = docs.filter(F.col("doc_id") > 60)
    work = tempfile.mkdtemp(prefix="dd_legacy_")
    corpus_path = os.path.join(work, "corpus")
    # legacy layout: bare part files directly under corpus_path
    old.coalesce(1).write.mode("overwrite").parquet(corpus_path)

    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    write = dd.foreach_batch_writer(corpus_path)
    with pytest.raises(ValueError, match="legacy flat corpus"):
        write(new, 0)

    # documented migration: mv *.parquet epoch=-1/
    legacy_dir = os.path.join(corpus_path, "epoch=-1")
    os.makedirs(legacy_dir)
    for name in os.listdir(corpus_path):
        if name.endswith(".parquet"):
            os.rename(
                os.path.join(corpus_path, name), os.path.join(legacy_dir, name)
            )
    write(new, 0)  # epoch=-1 now participates as prior corpus
    store_ids = {
        r["doc_id"] for r in spark.read.parquet(corpus_path).select("doc_id").collect()
    }
    # migrated docs still present; the new epoch's kept rows were appended
    assert {r["doc_id"] for r in old.select("doc_id").collect()} <= store_ids
    assert os.path.isdir(os.path.join(corpus_path, "epoch=0"))


def test_foreach_batch_new_query_lineage_not_dropped(spark, sf_dir):
    """foreachBatch epoch ids restart at 0 for a NEW streaming query
    feeding the same store. Raw comparison against the kept frontier
    silently dropped the new query's first batches AND its epoch=N corpus
    dirs overwrote the prior query's text. The corpus meta's epoch base
    must make effective epochs globally monotone across queries."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 120)
    a = docs.filter(F.col("doc_id") <= 60)
    b = docs.filter(F.col("doc_id") > 60)
    work = tempfile.mkdtemp(prefix="dd_lin_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    corpus_path = os.path.join(work, "corpus")
    write = dd.foreach_batch_writer(corpus_path)
    sc = spark.sparkContext

    # query A: epochs 0 and 1
    sc.setLocalProperty("sql.streaming.queryId", "query-A")
    try:
        write(a.filter(F.col("doc_id") % 2 == 0), 0)
        write(a.filter(F.col("doc_id") % 2 == 1), 1)
        a_store = {
            r["doc_id"]
            for r in spark.read.parquet(corpus_path).select("doc_id").collect()
        }
        assert a_store  # A's corpus text landed

        # query B (fresh checkpoint): epochs restart at 0
        sc.setLocalProperty("sql.streaming.queryId", "query-B")
        write(b.filter(F.col("doc_id") % 2 == 0), 0)
        write(b.filter(F.col("doc_id") % 2 == 1), 1)
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)

    store_ids = [
        r["doc_id"]
        for r in spark.read.parquet(corpus_path).select("doc_id").collect()
    ]
    kept_ids = {r["doc_id"] for r in dd.kept.read().select("doc_id").collect()}
    # B's batches were processed (not skipped), nothing of A's was
    # overwritten, and the store matches the kept view with no duplicates
    assert a_store <= set(store_ids)
    assert any(i > 60 for i in store_ids)
    assert len(store_ids) == len(set(store_ids))
    assert set(store_ids) == kept_ids
    # redelivery of B's committed epoch stays a no-op
    n_before = len(store_ids)
    sc.setLocalProperty("sql.streaming.queryId", "query-B")
    try:
        write(b.filter(F.col("doc_id") % 2 == 1), 1)
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)
    assert spark.read.parquet(corpus_path).count() == n_before


def test_band_crash_window_then_new_lineage_still_indexes(spark, sf_dir):
    """Crash window (review r5): query A dies AFTER the band append but
    BEFORE the corpus write — the band index's _last_epoch=0 is durable
    with NO epoch dir. A new query B's epoch base computed from corpus
    dirs alone would re-issue epoch 0 and append_batch would silently
    skip indexing B's first batch (its docs never become cross-batch
    candidates: a permanent duplicate leak). The base must jump past the
    band/kept frontiers too."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 40)
    work = tempfile.mkdtemp(prefix="dd_bw_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    corpus_path = os.path.join(work, "corpus")
    sc = spark.sparkContext

    # simulate query A's crash mid-write: bands appended (epoch 0), no
    # corpus dir, no kept merge — process_batch is exactly the prefix of
    # write() up to the crash point
    dd.process_batch(docs, corpus=docs, epoch_id=0)
    assert dd.view._last_epoch == 0
    assert not os.path.isdir(corpus_path)

    # fresh deduper objects (a restart re-reads manifests from disk)
    dd2 = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    write = dd2.foreach_batch_writer(corpus_path)
    sc.setLocalProperty("sql.streaming.queryId", "query-B")
    try:
        write(docs, 0)
        # B's batch must be INDEXED: an exact-duplicate text arriving in a
        # later batch has to be condemned via a cross-batch candidate
        dup = docs.filter(F.col("doc_id") == docs.agg(F.min("doc_id")).first()[0])
        dup = dup.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            *[c for c in dup.columns if c != "doc_id"],
        )
        kept2 = write(dup, 1)
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)
    store = [r["doc_id"] for r in spark.read.parquet(corpus_path).collect()]
    assert 1_000_000 not in {i % 2_000_000 for i in store} or all(
        i < 1_000_000 for i in store
    )
    assert all(i < 1_000_000 for i in store)  # the duplicate was dropped
    assert len(store) == len(set(store))


def test_replay_same_source_new_lineage_does_not_duplicate_corpus(spark, sf_dir):
    """A new streaming query (fresh checkpoint) replaying the SAME source
    into an existing store must not re-append already-kept documents: doc
    ids are immutable content handles, so a known id is the same document
    redelivered — before the exact-id guard, every unique doc re-survived
    (it never pairs with itself) and the corpus doubled."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 80)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    work = tempfile.mkdtemp(prefix="dd_replay_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    corpus_path = os.path.join(work, "corpus")
    write = dd.foreach_batch_writer(corpus_path)
    sc = spark.sparkContext
    sc.setLocalProperty("sql.streaming.queryId", "query-A")
    try:
        write(a, 0)
        write(b, 1)
        n_store = spark.read.parquet(corpus_path).count()
        kept_before = {
            r["doc_id"] for r in dd.kept.read().select("doc_id").collect()
        }
        # query B: full replay of the same source, epochs restart at 0
        sc.setLocalProperty("sql.streaming.queryId", "query-B")
        write(a, 0)
        write(b, 1)
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)
    assert spark.read.parquet(corpus_path).count() == n_store
    kept_after = {r["doc_id"] for r in dd.kept.read().select("doc_id").collect()}
    assert kept_after == kept_before


def test_deduper_string_doc_ids(spark, sf_dir):
    """Content-handle STRING ids (hash/URL-style) through the full fold:
    connected_components' unconditional cast('long') raised
    CAST_INVALID_INPUT under ANSI mode for any batch with an in-batch
    candidate pair."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 40)
        .select(F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"), "text")
    )
    # force an in-batch pair: two ids sharing one text
    dup = docs.limit(1).select(
        F.concat(F.col("doc_id"), F.lit("-copy")).alias("doc_id"), "text"
    )
    batch = docs.unionByName(dup)
    work = tempfile.mkdtemp(prefix="dd_sid_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    kept = dd.dedup_batch(batch, corpus=batch, epoch_id=0)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert all(isinstance(i, str) for i in kept_ids)
    # the exact-duplicate copy lost to its component's min id
    assert sum(1 for i in kept_ids if i.endswith("-copy")) == 0
    assert len(kept_ids) <= batch.count() - 1


def test_foreach_batch_crash_between_kept_swap_and_frontier(spark, sf_dir):
    """The deepest crash point inside _merge_kept: the kept view's new
    files are written, its manifest commit never happens. The kept view
    and its frontier stay at the previous generation together, and the
    redelivered epoch must recompute the IDENTICAL kept set and leave the
    corpus text intact — no loss, no duplicate."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    work = tempfile.mkdtemp(prefix="dd_swapcrash_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    corpus_path = os.path.join(work, "corpus")
    write = dd.foreach_batch_writer(corpus_path)

    w0 = docs.filter(F.col("doc_id") % 2 == 0)
    w1 = docs.filter(F.col("doc_id") % 2 == 1)
    write(w0, 0)
    kept_after_0 = {
        r["doc_id"] for r in dd.kept.read().select("doc_id").collect()
    }

    # crash point: epoch-1 kept files written, manifest commit dies
    real_commit = dd.kept.store.commit

    def die_before_commit(base, snap):
        dd.kept.store.commit = real_commit
        raise RuntimeError("injected crash before the kept-view commit")

    dd.kept.store.commit = die_before_commit
    try:
        write(w1, 1)
        raise AssertionError("injected crash did not surface")
    except RuntimeError:
        pass
    # files and frontier move together: neither landed
    assert dd.kept._load()["last_epoch"] == 0
    kept_mid = {r["doc_id"] for r in dd.kept.read().select("doc_id").collect()}
    assert kept_mid == kept_after_0
    epoch1_expected = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(corpus_path, "epoch=1")
        ).select("doc_id").collect()
    }

    # redelivery: must recompute the IDENTICAL kept set (not strip this
    # epoch's own ids), leave the corpus text intact, and commit
    write(w1, 1)
    assert dd.kept._last_epoch is not None and dd.kept._last_epoch >= 1
    epoch1_after = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(corpus_path, "epoch=1")
        ).select("doc_id").collect()
    }
    assert epoch1_after == epoch1_expected  # no text lost on redelivery
    store_ids = [
        r["doc_id"] for r in spark.read.parquet(corpus_path).select("doc_id").collect()
    ]
    kept_ids = {r["doc_id"] for r in dd.kept.read().select("doc_id").collect()}
    assert len(store_ids) == len(set(store_ids))  # no duplicates
    assert set(store_ids) == kept_ids and kept_ids  # no loss


def test_lsh_index_rejects_hash_family_drift(spark, sf_dir):
    """Review r6 (the ContinuousAggregate config-drift rule): reopening an
    index with different k/bands/columns must raise loudly — a second
    family's probes never match stored band hashes, silently leaking
    every near-dup of previously indexed docs."""
    import pytest

    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
        LshDedupIndex,
    )

    work = tempfile.mkdtemp(prefix="dd_family_")
    path = os.path.join(work, "dd")
    LshDedupIndex(spark, path, k=16, bands=8)

    with pytest.raises(ValueError, match="hash family"):
        LshDedupIndex(spark, path, k=16, bands=4)
    with pytest.raises(ValueError, match="hash family"):
        LshDedupIndex(spark, path, k=8, bands=8)
    with pytest.raises(ValueError, match="hash family"):
        LshDedupIndex(spark, path, k=16, bands=8, id_col="other_id")
    # same family reopens fine; threshold is a policy knob, not state
    LshDedupIndex(spark, path, k=16, bands=8, jaccard_threshold=0.9)
    # subclass shares the meta contract
    with pytest.raises(ValueError, match="hash family"):
        IncrementalDeduper(spark, path, k=32, bands=8)


def test_crash_window_redelivery_identical_on_transitive_chain(spark):
    """Crash before the kept-view commit with CHAIN-shaped duplicates
    (pairs (1,2),(2,3), J(1,3) < tau — clique-shaped data masks chain
    bugs). A redelivery that condemned the batch against its OWN
    crashed-attempt kept ids would sever the chain at 2 and keep {1,3}, a
    permanent duplicate leak vs the clean run's {1}: the redelivered
    epoch must recompute the identical kept set."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    words = [f"w{i}" for i in range(1, 31)]
    chain = spark.createDataFrame(
        [
            (1, " ".join(words[0:20])),   # w1..w20
            (2, " ".join(words[5:25])),   # w6..w25  J(1,2)~0.57
            (3, " ".join(words[10:30])),  # w11..w30 J(2,3)~0.57, J(1,3)~0.29
        ],
        "doc_id long, text string",
    )
    kw = dict(k=16, bands=16, jaccard_threshold=0.5)

    # clean baseline: the deterministic fold keeps only the chain min
    work_a = tempfile.mkdtemp(prefix="dd_chain_a_")
    dd_a = IncrementalDeduper(spark, os.path.join(work_a, "dd"), **kw)
    dd_a.foreach_batch_writer(os.path.join(work_a, "corpus"))(chain, 0)
    kept_clean = {r["doc_id"] for r in dd_a.kept.read().select("doc_id").collect()}
    assert kept_clean == {1}

    # crash point: kept files written, the manifest commit dies
    work_b = tempfile.mkdtemp(prefix="dd_chain_b_")
    dd_b = IncrementalDeduper(spark, os.path.join(work_b, "dd"), **kw)
    write_b = dd_b.foreach_batch_writer(os.path.join(work_b, "corpus"))
    real_commit = dd_b.kept.store.commit

    def die_before_commit(base, snap):
        dd_b.kept.store.commit = real_commit
        raise RuntimeError("injected crash before the kept-view commit")

    dd_b.kept.store.commit = die_before_commit
    with pytest.raises(RuntimeError, match="injected crash"):
        write_b(chain, 0)
    assert not dd_b.kept.exists()  # nothing committed

    # redelivery must recompute the IDENTICAL kept set
    write_b(chain, 0)
    kept_redelivered = {
        r["doc_id"] for r in dd_b.kept.read().select("doc_id").collect()
    }
    assert kept_redelivered == kept_clean, (
        f"crash-window redelivery diverged: {kept_redelivered} vs clean "
        f"{kept_clean} — transitive duplicate leaked"
    )


def test_meta_writes_are_atomic(spark, sf_dir):
    """The deduper's JSON metas (_LSH_META/_CORPUS_META) are load-bearing
    (every open json.loads them with no recovery path), so a crash
    mid-write must never leave torn JSON. Kill the writer between the tmp
    write and the rename: the prior meta must be intact and the deduper
    must reopen cleanly."""
    import json

    from go_pq_cdc_elasticsearch_spark.streaming import incremental_dedup as ID

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 40)
    work = tempfile.mkdtemp(prefix="dd_atomic_")
    dd = ID.IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    corpus = os.path.join(work, "corpus")
    sc = spark.sparkContext
    sc.setLocalProperty("sql.streaming.queryId", "query-A")
    try:
        dd.foreach_batch_writer(corpus)(docs, 0)
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)
    metas = [
        os.path.join(corpus, "_CORPUS_META.json"),
        os.path.join(work, "dd", "_LSH_META.json"),
    ]
    before = [open(m).read() for m in metas]
    for text in before:
        json.loads(text)  # valid

    real_replace = os.replace

    def die_before_rename(src, dst):
        if dst.endswith("_META.json"):
            raise RuntimeError("injected crash between tmp write and rename")
        return real_replace(src, dst)

    ID.os.replace = die_before_rename
    try:
        for m in metas:
            with pytest.raises(RuntimeError, match="injected crash"):
                ID._atomic_json_dump(m, {"torn": True})
    finally:
        ID.os.replace = real_replace
    # the live metas are untouched and still valid JSON; reopen works
    assert [open(m).read() for m in metas] == before
    reopened = ID.IncrementalDeduper(
        spark, os.path.join(work, "dd"), jaccard_threshold=TAU
    )
    assert reopened.kept._last_epoch == dd.kept._last_epoch == 0


def test_band_compact_crash_keeps_segments(spark, sf_dir, monkeypatch):
    """A compaction that dies part-way (after moving one rewritten file
    into its bucket dir) commits nothing: the index keeps its segments
    and rows and leaves no staging dir; the next commit after the grace
    period deletes the orphan, and a retried compaction completes."""
    from go_pq_cdc_elasticsearch_spark.sink import store as S

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 80)
    work = tempfile.mkdtemp(prefix="dd_compactfail_")
    dd = LshDedupIndex(spark, os.path.join(work, "dd"), n_buckets=4)
    dd.process_batch(docs.filter(F.col("doc_id") % 2 == 0), docs, epoch_id=0)
    dd.process_batch(docs.filter(F.col("doc_id") % 2 == 1), docs, epoch_id=1)
    counts = dd.view.segment_counts()
    rows = dd.view.read_buckets().count()
    assert any(n > 1 for n in counts.values())

    real_rename = os.rename
    calls = {"n": 0}

    def rename_once_then_die(src, dst):
        calls["n"] += 1
        if calls["n"] > 1:
            raise OSError("injected crash mid-compaction")
        return real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", rename_once_then_die)
        with pytest.raises(OSError, match="injected crash mid-compaction"):
            dd.compact()
    bands = os.path.join(work, "dd", "bands")
    staging = os.path.join(bands, "_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []
    assert dd.view.segment_counts() == counts
    assert dd.view.read_buckets().count() == rows

    monkeypatch.setattr(S, "GC_GRACE_S", 0.0)
    dd.compact()
    assert all(n == 1 for n in dd.view.segment_counts().values())
    assert dd.view.read_buckets().count() == rows
    live = {
        rel for rels in dd.view.store.latest()["files"].values() for rel in rels
    }
    on_disk = {
        f"{d}/{name}"
        for d in os.listdir(bands)
        if d.startswith("__bucket=")
        for name in os.listdir(os.path.join(bands, d))
    }
    assert on_disk == live


def test_refeed_kept_id_preserves_prior_status_and_none_epoch_refused(spark):
    """Review r8 self-review: (a) a later wave re-feeding an already-kept
    id must NOT overwrite its first-kept seq — else a redelivery of that
    wave no longer sees it as 'prior' (seq < epoch) and the recompute
    diverges; (b) epoch_id=None against existing kept state is refused
    (the crashed-attempt scoping is impossible without an epoch)."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    words = [f"w{i}" for i in range(1, 31)]
    X = " ".join(words[0:20])
    Y = " ".join(words[3:23])  # J(X,Y) high
    kw = dict(k=16, bands=16, jaccard_threshold=0.5)
    work = tempfile.mkdtemp(prefix="dd_refeed_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), **kw)

    b3 = spark.createDataFrame([(10, X)], "doc_id long, text string")
    empty = spark.createDataFrame([], "doc_id long, text string")
    dd.dedup_batch(b3, empty, epoch_id=3)
    seq3 = {r["doc_id"]: r["seq"] for r in dd.kept.read().collect()}
    assert seq3 == {10: 3}

    # wave 5 re-feeds X (id 10) alongside near-dup Y (id 2 < 10)
    b5 = spark.createDataFrame([(10, X), (2, Y)], "doc_id long, text string")
    corpus = b3  # X's text is the stored corpus
    kept5 = {r["doc_id"] for r in dd.dedup_batch(b5, corpus, epoch_id=5).collect()}
    assert kept5 == {10}, kept5  # X prior (seq 3) condemns Y
    seq_after = {r["doc_id"]: r["seq"] for r in dd.kept.read().collect()}
    assert seq_after == {10: 3}, (
        f"re-feed overwrote the first-kept seq: {seq_after}"
    )

    # redelivery of wave 5 recomputes identically (X still 'prior')
    kept5b = {r["doc_id"] for r in dd.dedup_batch(b5, corpus, epoch_id=5).collect()}
    assert kept5b == {10}
    assert {r["doc_id"] for r in dd.kept.read().collect()} == {10}

    # (b) None epoch against existing state is refused
    with pytest.raises(ValueError, match="epoch_id is required"):
        dd.dedup_batch(b5, corpus, epoch_id=None)


def test_read_buckets_snapshot_excludes_later_appends(spark, sf_dir):
    """The load-bearing r10 property: read_buckets pins the segment FILE
    LIST at call time, so appends AFTER the call can never leak into the
    returned frame — what makes append-before-verify sound. Proven by
    holding a read across an append and counting both sides."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    work = tempfile.mkdtemp(prefix="lshidx_snap_")
    idx = LshDedupIndex(spark, os.path.join(work, "idx"), jaccard_threshold=TAU)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    idx.process_batch(b0, corpus=docs, epoch_id=0)
    pinned = idx.view.read_buckets()  # NOT materialized yet
    n_before = idx.view.read_buckets().count()
    idx.process_batch(b1, corpus=docs, epoch_id=1)
    # the later append grew the index...
    assert idx.view.read_buckets().count() > n_before
    # ...but the pinned pre-append read still sees exactly the old state
    assert pinned.count() == n_before


def test_process_batch_lazy_equals_eager(spark, sf_dir):
    """eager=False contract (r10): the lazy result, materialized only
    AFTER a further batch was indexed, must equal the eager result of the
    same wave — its inputs are checkpointed (grams/bands) or
    file-list-pinned (segments), so later index mutations can't bleed in."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 400)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)

    def run(eager: bool):
        work = tempfile.mkdtemp(prefix=f"lshidx_lz{int(eager)}_")
        idx = LshDedupIndex(
            spark, os.path.join(work, "idx"), jaccard_threshold=TAU
        )
        outs = [
            idx.process_batch(b0, corpus=docs, epoch_id=0, eager=eager),
            idx.process_batch(b1, corpus=docs, epoch_id=1, eager=eager),
        ]
        # materialize only now — in the lazy run both waves' verification
        # jobs execute AFTER both appends happened
        return {
            (r["id1"], r["id2"], round(r["jaccard"], 9))
            for out in outs
            for r in out.collect()
        }

    assert run(eager=False) == run(eager=True)


def test_corpus_consolidation_and_min_files(spark, sf_dir):
    """IncrementalDeduper.compact(corpus_path=...) (r11, VERDICT r10 item
    1): the committed per-epoch corpus dirs merge into ONE dir, band
    buckets collapse to one segment file, corpus content is unchanged,
    and a later wave still deduplicates against ALL consolidated text.
    min_files=2 then leaves already-single-file buckets untouched."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    work = tempfile.mkdtemp(prefix="dd_ccomp_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    corpus_path = os.path.join(work, "corpus")
    write = dd.foreach_batch_writer(corpus_path)
    for i, m in enumerate((0, 1, 2)):
        write(docs.filter(F.col("doc_id") % 4 == m), i)
    before_rows = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(corpus_path).select("doc_id", "text").collect()
    }
    epoch_dirs = [n for n in os.listdir(corpus_path) if n.startswith("epoch=")]
    assert len(epoch_dirs) == 3
    assert any(n > 1 for n in dd.view.segment_counts().values())

    dd.compact(corpus_path=corpus_path)

    epoch_dirs = [n for n in os.listdir(corpus_path) if n.startswith("epoch=")]
    assert epoch_dirs == ["epoch=2"]  # one consolidated dir, max merged id
    after_rows = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(corpus_path).select("doc_id", "text").collect()
    }
    assert after_rows == before_rows
    counts = dd.view.segment_counts()
    assert counts and all(n == 1 for n in counts.values())

    # min_files honored: a tiny follow-up wave touches few buckets; a
    # second compact rewrites ONLY those (other buckets keep their file)
    untouched_before = {
        b: os.listdir(os.path.join(dd.view.path, f"__bucket={b}"))
        for b in dd.view._live_buckets()
    }
    write(docs.filter(F.col("doc_id") % 4 == 3), 3)
    grew = {b for b, n in dd.view.segment_counts().items() if n > 1}
    dd.compact(corpus_path=corpus_path)
    for b in dd.view._live_buckets():
        if b not in grew and b in untouched_before:
            assert (
                os.listdir(os.path.join(dd.view.path, f"__bucket={b}"))
                == untouched_before[b]
            ), f"bucket {b} was rewritten despite holding one segment"

    # the consolidated corpus still serves verification: wave-4 dedup
    # equals a fresh replay of the same waves through an unconsolidated
    # deduper
    w4 = docs.filter(F.col("doc_id") % 2 == 0).limit(50)
    kept4 = {r["doc_id"] for r in write_wave(dd, write, w4)}
    dd2 = IncrementalDeduper(spark, os.path.join(work, "dd2"), jaccard_threshold=TAU)
    corpus2 = os.path.join(work, "corpus2")
    write2 = dd2.foreach_batch_writer(corpus2)
    for i, m in enumerate((0, 1, 2)):
        write2(docs.filter(F.col("doc_id") % 4 == m), i)
    write2(docs.filter(F.col("doc_id") % 4 == 3), 3)
    kept4_ref = {r["doc_id"] for r in write_wave(dd2, write2, w4)}
    assert kept4 == kept4_ref


def write_wave(dd, write, wave_df):
    """Run one more epoch through the writer and return the kept rows it
    appended (the new epoch dir's content)."""
    seq_before = dd.kept._last_epoch
    write(wave_df, (seq_before if seq_before is not None else -1) + 1)
    return dd.kept.read().filter(
        F.col("seq") > F.lit(seq_before if seq_before is not None else -1)
    ).collect()


def test_corpus_consolidation_crash_recovery(spark, sf_dir):
    """A consolidation killed after its commit point (manifest written,
    swap not finished) must be rolled forward by the next writer call —
    a half-merged corpus read would miss text and leak duplicates."""
    import json

    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        _CORPUS_COMPACT_MANIFEST,
        _CORPUS_COMPACT_STAGING,
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    work = tempfile.mkdtemp(prefix="dd_crec_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    corpus_path = os.path.join(work, "corpus")
    write = dd.foreach_batch_writer(corpus_path)
    write(docs.filter(F.col("doc_id") % 2 == 0), 0)
    write(docs.filter(F.col("doc_id") % 2 == 1), 1)
    want = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(corpus_path).select("doc_id", "text").collect()
    }

    # hand-build the crash state: staging complete + manifest committed,
    # inputs not yet removed, rename not done
    staging = os.path.join(corpus_path, _CORPUS_COMPACT_STAGING)
    spark.read.parquet(
        os.path.join(corpus_path, "epoch=0"), os.path.join(corpus_path, "epoch=1")
    ).write.mode("overwrite").parquet(staging)
    with open(os.path.join(corpus_path, _CORPUS_COMPACT_MANIFEST), "w") as f:
        json.dump({"merged": [0, 1], "target": 1}, f)

    # the next epoch's writer call must recover, then dedup correctly
    w2 = docs.filter(F.col("doc_id") % 2 == 0).limit(30)  # all dups of epoch 0
    write(w2, 2)
    assert not os.path.exists(os.path.join(corpus_path, _CORPUS_COMPACT_MANIFEST))
    assert not os.path.isdir(staging)
    dirs = sorted(n for n in os.listdir(corpus_path) if n.startswith("epoch="))
    assert dirs[0] == "epoch=1"  # 0 and 1 merged into 1
    got = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(
            *(os.path.join(corpus_path, d) for d in dirs)
        ).select("doc_id", "text").collect()
    }
    assert got == want  # nothing lost, nothing duplicated (w2 were all dups)


def test_deduper_fence_blocks_zombie_kept_merges(spark, tmp_path):
    """r11: a fenced IncrementalDeduper's kept view dies loudly when a
    successor acquires the fence — a zombie streaming deduper cannot
    resurrect dropped docs by merging behind the takeover. Segment/corpus
    appends are deliberately unfenced (redundant candidate state, filtered
    by exact-Jaccard verification; see acquire_fence docstring)."""
    import pytest

    from go_pq_cdc_elasticsearch_spark.sink.materialized import (
        FencedWriterError,
    )
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    empty = docs.limit(0)

    a = IncrementalDeduper(spark, path)
    a.acquire_fence()
    kept = a.dedup_batch(docs, empty, epoch_id=0)
    assert kept.count() == 1

    b = IncrementalDeduper(spark, path)
    assert b.acquire_fence() == 2
    with pytest.raises(FencedWriterError):
        a.dedup_batch(
            docs.withColumn("doc_id", docs.doc_id + 1), empty, epoch_id=1
        )


def test_band_index_autosize_scales_past_old_cap(spark):
    """A large first batch must size the layout from the data, not from a
    one-box cap: ceil(rows/target) buckets even when that exceeds the old
    256 default (VERDICT r12 item 5 — the docstring's own n_buckets >>
    batch-hash-count rule at corpus scale). target_rows_per_bucket=1
    stands in for 'rows >> 256 * target' without writing millions of
    rows; the formula is the thing under test."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        _BandSegmentIndex,
    )

    work = tempfile.mkdtemp(prefix="bsi_autosize_")
    idx = _BandSegmentIndex(
        spark, os.path.join(work, "bands"), target_rows_per_bucket=1
    )
    bands = spark.range(300).select(
        (F.col("id") % 8).cast("int").alias("band_idx"),
        F.col("id").alias("band_hash"),
        F.col("id").alias("doc_id"),
    )
    idx.append_batch(bands, epoch_id=0)
    assert idx.n_buckets == 300  # past the old 256 cap, == ceil(300/1)
    # reopen adopts the sized layout from the manifest
    again = _BandSegmentIndex(spark, os.path.join(work, "bands"))
    assert again.n_buckets == 300
    # every appended row is readable back through the sized layout
    state = idx.read_buckets()
    assert state.count() == 300


def test_compact_guard_names_outstanding_lazy_results(spark, sf_dir):
    """compact() during an outstanding eager=False result must fail with
    the NAMED error (r11 item 1 — previously a docstring contract whose
    violation surfaced as an executor FileNotFoundError mid-job), and the
    settle/force paths must both unblock it."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        LazyResultsOutstandingError,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 120)
    work = tempfile.mkdtemp(prefix="lshidx_guard_")
    idx = LshDedupIndex(spark, os.path.join(work, "idx"), jaccard_threshold=TAU)
    lazy = idx.process_batch(
        docs.filter(F.col("doc_id") % 2 == 0), corpus=docs, epoch_id=0,
        eager=False,
    )
    with pytest.raises(LazyResultsOutstandingError, match="epochs \\[0\\]"):
        idx.compact()
    rows = lazy.collect()  # materialize, then declare settled
    idx.settle_lazy_results()
    idx.compact()  # no raise
    # the settled pairs survive compaction on the next wave's probe
    got = {
        (r["id1"], r["id2"])
        for r in idx.process_batch(
            docs.filter(F.col("doc_id") % 2 == 1), corpus=docs, epoch_id=1
        ).collect()
    } | {(r["id1"], r["id2"]) for r in rows}
    assert got == _batch_verified_pairs(docs)
    # force=True bypasses (caller asserts materialization)
    idx.process_batch(
        docs.limit(5), corpus=docs, epoch_id=2, eager=False
    ).collect()
    idx.compact(force=True)
    # force declared the epoch-2 result materialized: a plain compact
    # no longer raises for it
    idx.compact()


def test_foreach_writer_auto_compacts(spark, sf_dir):
    """The streaming writer must bound both growth axes with no manual
    maintenance call: after auto_compact_batches epochs, band segment
    files per bucket collapse to 1 and prior corpus epoch dirs merge."""
    import glob

    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 160)
    work = tempfile.mkdtemp(prefix="dedup_autoc_")
    corpus_path = os.path.join(work, "corpus")
    d = IncrementalDeduper(spark, os.path.join(work, "idx"), jaccard_threshold=TAU)
    write = d.foreach_batch_writer(corpus_path, auto_compact_batches=2)
    for i, m in enumerate((0, 1, 2, 3)):
        write(docs.filter(F.col("doc_id") % 4 == m), epoch_id=i)
    # compaction fired at epochs 1 and 3: every band bucket is one file
    counts = d.view.segment_counts()
    assert counts and max(counts.values()) == 1
    # corpus epochs at/below the frontier merged into one dir (the last
    # in-flight epoch keeps its own name only until the NEXT compact)
    epoch_dirs = [
        p for p in glob.glob(os.path.join(corpus_path, "epoch=*"))
    ]
    assert len(epoch_dirs) <= 2
    # the kept corpus content is intact through the merges
    kept_ids = {
        r["doc_id"]
        for r in spark.read.parquet(*epoch_dirs).select("doc_id").collect()
    }
    assert kept_ids == {
        r["doc_id"] for r in d.kept.read().select("doc_id").collect()
    }
