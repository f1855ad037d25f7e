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
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    q = (
        stream.writeStream.foreachBatch(dd.foreach_batch_writer())
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    store_ids = {r["doc_id"] for r in dd.corpus().select("doc_id").collect()}
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


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_foreach_batch_crash_before_link_commits_nothing(spark, sf_dir):
    """A crash after the epoch's corpus and kept files are written and
    before the manifest link publishes nothing: the kept view, its
    frontier and the corpus stay at the previous generation, and
    redelivery converges to the kept set and corpus of a run that never
    crashed."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    w0 = docs.filter(F.col("doc_id") % 2 == 0)
    w1 = docs.filter(F.col("doc_id") % 3 == 0)  # overlaps w0: some re-fed
    work = tempfile.mkdtemp(prefix="dd_crash_")
    clean = IncrementalDeduper(
        spark, os.path.join(work, "clean"), jaccard_threshold=TAU
    )
    write_clean = clean.foreach_batch_writer()
    write_clean(w0, 0)
    write_clean(w1, 1)

    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    write = dd.foreach_batch_writer()
    write(w0, 0)
    corpus_0, kept_0 = _ids(dd.corpus()), _ids(dd.kept.read())
    files_0 = set(os.listdir(os.path.join(work, "dd", "kept")))
    real_commit = dd.kept.store.commit

    def die_before_link(base, snap):
        dd.kept.store.commit = real_commit
        raise RuntimeError("injected crash before the manifest link")

    dd.kept.store.commit = die_before_link
    with pytest.raises(RuntimeError, match="injected crash"):
        write(w1, 1)
    # the files were written, yet nothing is visible
    assert set(os.listdir(os.path.join(work, "dd", "kept"))) > files_0
    reopened = IncrementalDeduper(
        spark, os.path.join(work, "dd"), jaccard_threshold=TAU
    )
    assert reopened.kept._last_epoch == 0
    assert _ids(reopened.corpus()) == corpus_0
    assert _ids(reopened.kept.read()) == kept_0

    write(w1, 1)  # redelivery
    write(w1, 1)  # a second redelivery after the commit is a no-op
    assert _ids(dd.kept.read()) == _ids(clean.kept.read())
    corpus_rows = sorted(tuple(r) for r in dd.corpus().collect())
    assert corpus_rows == sorted(tuple(r) for r in clean.corpus().collect())
    assert _ids(dd.corpus()) == _ids(dd.kept.read())  # no loss, no duplicate


def test_crashed_never_resumed_query_text_is_never_read(spark, sf_dir, monkeypatch):
    """A query that dies before its epoch's commit and never resumes
    leaves only unnamed files: a new lineage neither reads that text nor
    publishes it, and GC deletes the files once GC_GRACE_S has passed."""
    from go_pq_cdc_elasticsearch_spark.sink import store as S
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 150)
    a0 = docs.filter(F.col("doc_id") <= 50)
    crashed = docs.filter((F.col("doc_id") > 50) & (F.col("doc_id") <= 100))
    b0 = docs.filter(F.col("doc_id") > 100)
    work = tempfile.mkdtemp(prefix="dd_zombie_text_")
    path = os.path.join(work, "dd")
    sc = spark.sparkContext

    a = IncrementalDeduper(spark, path, jaccard_threshold=TAU)
    write_a = a.foreach_batch_writer()
    real_commit = a.kept.store.commit

    def die_before_link(base, snap):
        raise RuntimeError("query A dies before its epoch-1 commit")

    sc.setLocalProperty("sql.streaming.queryId", "query-A")
    try:
        write_a(a0, 0)
        a.kept.store.commit = die_before_link
        with pytest.raises(RuntimeError, match="query A dies"):
            write_a(crashed, 1)
    finally:
        a.kept.store.commit = real_commit
        sc.setLocalProperty("sql.streaming.queryId", None)
    kept_dir = os.path.join(path, "kept")

    def corpus_files():
        return {
            f"{d}/{n}"
            for d in os.listdir(kept_dir)
            if d.startswith("__epoch=")
            for n in os.listdir(os.path.join(kept_dir, d))
        }

    committed = set(a.kept.store.latest()["retired"]) | {
        rel for rels in a.kept.store.latest()["corpus"].values() for rel in rels
    }
    orphans = corpus_files() - committed
    assert orphans  # query A's epoch-1 text is on disk

    b = IncrementalDeduper(spark, path, jaccard_threshold=TAU)
    seen = []
    real_compute = b._compute_kept

    def spy(batch, corpus, epoch_id=None):
        seen.extend(_ids(corpus))
        return real_compute(batch, corpus, epoch_id=epoch_id)

    b._compute_kept = spy
    write_b = b.foreach_batch_writer()
    crashed_ids = set(_ids(crashed))
    monkeypatch.setattr(S, "GC_GRACE_S", 0.0)
    sc.setLocalProperty("sql.streaming.queryId", "query-B")
    try:
        write_b(b0.filter(F.col("doc_id") % 2 == 0), 0)
        write_b(b0.filter(F.col("doc_id") % 2 == 1), 1)
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)
    assert seen and not crashed_ids & set(seen)
    assert not crashed_ids & set(_ids(b.corpus()))
    assert _ids(b.corpus()) == _ids(b.kept.read())
    assert not orphans & corpus_files()  # GC deleted the crashed text


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
    write = dd.foreach_batch_writer()
    with pytest.raises(TypeError, match="dedup_batch"):
        write(docs, None)


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
    write = dd.foreach_batch_writer()
    sc = spark.sparkContext

    # query A: epochs 0 and 1
    sc.setLocalProperty("sql.streaming.queryId", "query-A")
    try:
        write(a.filter(F.col("doc_id") % 2 == 0), 0)
        write(a.filter(F.col("doc_id") % 2 == 1), 1)
        a_store = {r["doc_id"] for r in dd.corpus().select("doc_id").collect()}
        assert a_store  # A's corpus text landed

        # query B (fresh checkpoint): epochs restart at 0
        sc.setLocalProperty("sql.streaming.queryId", "query-B")
        write(b.filter(F.col("doc_id") % 2 == 0), 0)
        write(b.filter(F.col("doc_id") % 2 == 1), 1)
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)

    store_ids = [r["doc_id"] for r in dd.corpus().select("doc_id").collect()]
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
    assert dd.corpus().count() == n_before


def test_band_crash_window_then_new_lineage_still_indexes(spark, sf_dir):
    """Crash window (review r5): query A dies AFTER the band append but
    BEFORE the kept-view commit — the band index's _last_epoch=0 is
    durable with nothing committed in the kept view. A new query B's
    epoch base computed from the kept view alone would re-issue epoch 0
    and append_batch would silently skip indexing B's first batch (its
    docs never become cross-batch candidates: a permanent duplicate
    leak). The base must jump past the band frontier too."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 40)
    work = tempfile.mkdtemp(prefix="dd_bw_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    sc = spark.sparkContext

    # simulate query A's crash mid-write: bands appended (epoch 0), no
    # corpus dir, no kept merge — process_batch is exactly the prefix of
    # write() up to the crash point
    dd.process_batch(docs, corpus=docs, epoch_id=0)
    assert dd.view._last_epoch == 0
    assert dd.corpus() is None

    # fresh deduper objects (a restart re-reads manifests from disk)
    dd2 = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    write = dd2.foreach_batch_writer()
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
    store = [r["doc_id"] for r in dd2.corpus().collect()]
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
    write = dd.foreach_batch_writer()
    sc = spark.sparkContext
    sc.setLocalProperty("sql.streaming.queryId", "query-A")
    try:
        write(a, 0)
        write(b, 1)
        n_store = dd.corpus().count()
        kept_before = {
            r["doc_id"] for r in dd.kept.read().select("doc_id").collect()
        }
        # query B: full replay of the same source, epochs restart at 0
        sc.setLocalProperty("sql.streaming.queryId", "query-B")
        write(a, 0)
        write(b, 1)
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)
    assert dd.corpus().count() == n_store
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
    write = dd.foreach_batch_writer()

    w0 = docs.filter(F.col("doc_id") % 2 == 0)
    w1 = docs.filter(F.col("doc_id") % 2 == 1)
    write(w0, 0)
    kept_after_0 = {
        r["doc_id"] for r in dd.kept.read().select("doc_id").collect()
    }
    corpus_after_0 = {r["doc_id"] for r in dd.corpus().collect()}

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
    assert {r["doc_id"] for r in dd.corpus().collect()} == corpus_after_0

    # redelivery: must recompute the IDENTICAL kept set (not strip this
    # epoch's own ids), keep the epoch's corpus text, and commit
    write(w1, 1)
    assert dd.kept._last_epoch is not None and dd.kept._last_epoch >= 1
    epoch1_kept = {
        r["doc_id"] for r in dd.kept.read().filter(F.col("seq") == 1).collect()
    }
    assert epoch1_kept  # the odd wave keeps docs of its own
    store_ids = [r["doc_id"] for r in dd.corpus().select("doc_id").collect()]
    assert set(store_ids) - corpus_after_0 == epoch1_kept  # no text lost
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
    dd_a.foreach_batch_writer()(chain, 0)
    kept_clean = {r["doc_id"] for r in dd_a.kept.read().select("doc_id").collect()}
    assert kept_clean == {1}

    # crash point: kept files written, the manifest commit dies
    work_b = tempfile.mkdtemp(prefix="dd_chain_b_")
    dd_b = IncrementalDeduper(spark, os.path.join(work_b, "dd"), **kw)
    write_b = dd_b.foreach_batch_writer()
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


def test_meta_writes_are_atomic(spark, sf_dir, monkeypatch):
    """The deduper's metadata is load-bearing: the corpus entry and the
    frontier live in the kept view's manifest, the hash family in the
    band index's, and every open reads them with no recovery path. A
    crash mid-write of the next manifest (first open's family pin or an
    epoch's commit) must leave torn JSON only in a temp file: the newest
    manifests stay intact and the deduper reopens with its corpus,
    frontier and hash family."""
    import json
    import types

    from go_pq_cdc_elasticsearch_spark.sink import store as S
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    def torn(obj, f):
        f.write(json.dumps(obj)[:20])
        raise OSError("injected crash mid-manifest")

    tear = types.SimpleNamespace(dump=torn, load=json.load)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 40)
    work = tempfile.mkdtemp(prefix="dd_atomic_")
    path = os.path.join(work, "dd")
    family = {"k": 16, "bands": 8, "text_col": "text", "id_col": "doc_id"}

    # first open: the family pin is torn, so no generation exists yet
    with monkeypatch.context() as m:
        m.setattr(S, "json", tear)
        with pytest.raises(OSError, match="injected crash mid-manifest"):
            IncrementalDeduper(spark, path, jaccard_threshold=TAU)
    assert S.ManifestStore(os.path.join(path, "bands")).latest() is None

    dd = IncrementalDeduper(spark, path, jaccard_threshold=TAU)
    write = dd.foreach_batch_writer()
    write(docs.filter(F.col("doc_id") <= 20), 0)
    mdirs = [os.path.join(path, sub, "_manifest") for sub in ("kept", "bands")]

    def newest(mdir):
        gen = max(int(n[:-5]) for n in os.listdir(mdir) if n.endswith(".json"))
        with open(os.path.join(mdir, f"{gen}.json")) as f:
            return f.read()

    before = [newest(m) for m in mdirs]
    for text in before:
        json.loads(text)  # valid
    corpus_0 = sorted(tuple(r) for r in dd.corpus().collect())

    with monkeypatch.context() as m:
        m.setattr(S, "json", tear)
        with pytest.raises(OSError, match="injected crash mid-manifest"):
            write(docs.filter(F.col("doc_id") > 20), 1)
    # the torn text is only in a temp file; the live manifests are
    # untouched and still valid JSON; reopen works
    assert any(n.endswith(".tmp") for m in mdirs for n in os.listdir(m))
    assert [newest(m) for m in mdirs] == before
    reopened = IncrementalDeduper(spark, path, jaccard_threshold=TAU)
    assert reopened.kept._last_epoch == dd.kept._last_epoch == 0
    assert reopened.view.store.latest()["extra"] == family
    assert sorted(tuple(r) for r in reopened.corpus().collect()) == corpus_0


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
    """IncrementalDeduper.compact() (r11, VERDICT r10 item 1): the
    committed per-epoch corpus files merge into ONE file under the newest
    epoch key, band buckets collapse to one segment file, corpus content
    is unchanged, and a later wave still deduplicates against ALL
    consolidated text. min_files=2 then leaves already-single-file
    buckets untouched."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    work = tempfile.mkdtemp(prefix="dd_ccomp_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    write = dd.foreach_batch_writer()
    for i, m in enumerate((0, 1, 2)):
        write(docs.filter(F.col("doc_id") % 4 == m), i)
    before_rows = {
        (r["doc_id"], r["text"])
        for r in dd.corpus().select("doc_id", "text").collect()
    }
    assert sorted(dd.kept.store.latest()["corpus"]) == [0, 1, 2]
    assert any(n > 1 for n in dd.view.segment_counts().values())

    dd.compact()

    corpus = dd.kept.store.latest()["corpus"]
    assert list(corpus) == [2] and len(corpus[2]) == 1  # one file, max id
    after_rows = {
        (r["doc_id"], r["text"])
        for r in dd.corpus().select("doc_id", "text").collect()
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
    dd.compact()
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
    write2 = dd2.foreach_batch_writer()
    for i, m in enumerate((0, 1, 2)):
        write2(docs.filter(F.col("doc_id") % 4 == m), i)
    write2(docs.filter(F.col("doc_id") % 4 == 3), 3)
    kept4_ref = {r["doc_id"] for r in write_wave(dd2, write2, w4)}
    assert kept4 == kept4_ref


def write_wave(dd, write, wave_df):
    """Run one more epoch through the writer and return the kept rows it
    appended (the new epoch's corpus content)."""
    seq_before = dd.kept._last_epoch
    write(wave_df, (seq_before if seq_before is not None else -1) + 1)
    return dd.kept.read().filter(
        F.col("seq") > F.lit(seq_before if seq_before is not None else -1)
    ).collect()


def test_corpus_consolidation_crash_keeps_previous_list(spark, sf_dir):
    """A consolidation that dies after writing the merged file and before
    its commit publishes nothing: the manifest keeps the previous corpus
    list, the next epoch reads the complete corpus, and a retried
    consolidation completes."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    work = tempfile.mkdtemp(prefix="dd_crec_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    write = dd.foreach_batch_writer()
    write(docs.filter(F.col("doc_id") % 2 == 0), 0)
    write(docs.filter(F.col("doc_id") % 2 == 1), 1)
    want = {(r["doc_id"], r["text"]) for r in dd.corpus().collect()}
    before = dd.kept.store.latest()["corpus"]
    assert sorted(before) == [0, 1]

    real_commit = dd.kept.store.commit

    def die_before_commit(base, snap):
        dd.kept.store.commit = real_commit
        raise RuntimeError("injected crash before the consolidation commit")

    dd.kept.store.commit = die_before_commit
    with pytest.raises(RuntimeError, match="injected crash"):
        dd.compact()
    assert dd.kept.store.latest()["corpus"] == before
    assert {(r["doc_id"], r["text"]) for r in dd.corpus().collect()} == want

    # the next epoch dedups against the complete corpus: all dups of epoch 0
    write(docs.filter(F.col("doc_id") % 2 == 0).limit(30), 2)
    assert {(r["doc_id"], r["text"]) for r in dd.corpus().collect()} == want
    dd.compact()
    assert list(dd.kept.store.latest()["corpus"]) == [1]
    assert {(r["doc_id"], r["text"]) for r in dd.corpus().collect()} == want


def test_deduper_fence_blocks_zombie_kept_merges(spark, tmp_path):
    """r11: a fenced IncrementalDeduper's kept view dies loudly when a
    successor acquires the fence — a zombie streaming deduper cannot
    resurrect dropped docs by merging behind the takeover. Segment
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


def test_zombie_corpus_commit_is_fenced(spark, tmp_path):
    """The corpus commits in the kept view's manifest, under its fence: a
    zombie's next epoch and its consolidation raise FencedWriterError, and
    the successor's corpus never shows the zombie's text."""
    from go_pq_cdc_elasticsearch_spark.sink.materialized import (
        FencedWriterError,
    )
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "how vexingly quick daft zebras jump today"),
        ],
        "doc_id long, text string",
    )
    a = IncrementalDeduper(spark, path)
    a.acquire_fence()
    write_a = a.foreach_batch_writer()
    write_a(docs.filter("doc_id = 1"), 0)

    # the takeover lands after the zombie wrote its epoch-1 corpus files
    b = IncrementalDeduper(spark, path)
    real_write = a.kept.store.write

    def write_then_takeover(*args):
        a.kept.store.write = real_write
        out = real_write(*args)
        b.acquire_fence()
        return out

    a.kept.store.write = write_then_takeover
    with pytest.raises(FencedWriterError):
        write_a(docs.filter("doc_id = 2"), 1)
    with pytest.raises(FencedWriterError):
        write_a(docs.filter("doc_id = 3"), 2)
    with pytest.raises(FencedWriterError):
        a.compact()
    assert _ids(b.corpus()) == [1]
    assert list(b.kept.store.latest()["corpus"]) == [0]


def test_vacuum_and_fence_carry_the_corpus_group(spark, tmp_path):
    """Commits of the kept view that do not touch the corpus — a vacuum,
    a fence takeover — carry its file list, schema and epoch base
    forward unchanged."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
        ],
        "doc_id long, text string",
    )
    dd = IncrementalDeduper(spark, path)
    write = dd.foreach_batch_writer()
    write(docs.filter("doc_id = 1"), 0)
    write(docs.filter("doc_id = 2"), 1)

    def corpus_fields():
        snap = dd.kept.store.latest()
        return snap["gen"], {
            k: snap[k] for k in ("corpus", "corpus_schema", "epoch_base")
        }

    gen, fields = corpus_fields()
    assert sorted(fields["corpus"]) == [0, 1]
    rows = sorted(tuple(r) for r in dd.corpus().collect())
    dd.kept.vacuum(watermark_seq=1)
    IncrementalDeduper(spark, path).acquire_fence()
    gen_after, fields_after = corpus_fields()
    assert gen_after == gen + 2 and fields_after == fields
    assert sorted(tuple(r) for r in dd.corpus().collect()) == rows
    assert dd.corpus().columns == ["doc_id", "text"]


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
    files per bucket collapse to 1 and prior corpus epochs merge."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 160)
    work = tempfile.mkdtemp(prefix="dedup_autoc_")
    d = IncrementalDeduper(spark, os.path.join(work, "idx"), jaccard_threshold=TAU)
    write = d.foreach_batch_writer(auto_compact_batches=2)
    for i, m in enumerate((0, 1, 2, 3)):
        write(docs.filter(F.col("doc_id") % 4 == m), epoch_id=i)
    # compaction fired at epochs 1 and 3: every band bucket is one file
    counts = d.view.segment_counts()
    assert counts and max(counts.values()) == 1
    # corpus epochs at/below the frontier merged into one dir (the last
    # in-flight epoch keeps its own name only until the NEXT compact)
    epoch_dirs = list(d.kept.store.latest()["corpus"])
    assert len(epoch_dirs) <= 2
    # the kept corpus content is intact through the merges
    kept_ids = {r["doc_id"] for r in d.corpus().select("doc_id").collect()}
    assert kept_ids == {
        r["doc_id"] for r in d.kept.read().select("doc_id").collect()
    }


def test_warm_writer_kept_commit_runs_only_the_merge_jobs(spark, sf_dir):
    """A warm foreach_batch_writer epoch has already dropped every id kept
    in an earlier epoch, and the frontier guard keeps this epoch's ids out
    of the kept view, so the kept-view commit runs the merge's own Spark
    jobs and nothing else: no anti-join against the kept view pinned by
    an eager localCheckpoint. Jobs are told apart by job group."""
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    sc = spark.sparkContext

    def in_group(fn, group):
        def run(*a, **k):
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, group)
            try:
                return fn(*a, **k)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", outer)

        return run

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 160)
    work = tempfile.mkdtemp(prefix="dedup_warmjobs_")
    dd = IncrementalDeduper(spark, os.path.join(work, "dd"), jaccard_threshold=TAU)
    write = dd.foreach_batch_writer(auto_compact_batches=None)
    write(docs.filter(F.col("doc_id") % 2 == 0), 0)
    dd._merge_kept = in_group(dd._merge_kept, "warm-kept-commit")
    dd.kept.merge_batch = in_group(dd.kept.merge_batch, "warm-kept-merge")
    write(docs.filter(F.col("doc_id") % 2 == 1), 1)  # warm: the view has state
    assert dd.kept._last_epoch == 1
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("warm-kept-merge")
    assert tracker.getJobIdsForGroup("warm-kept-commit") == []
