"""Materialized keyed view writer — the engine's MERGE sink.

The reference's ES index *is* a materialized last-write-wins view: idempotent
keyed upserts/deletes (bulk/bulk.go:208-245) after in-batch dedup
(bulk/bulk.go:141-157), acked only after a successful flush
(bulk/bulk.go:271-276) => at-least-once delivery with an idempotent apply,
i.e. exactly-once on the view.

Engine design (no Delta in this container, so MERGE is emulated):
- state lives in parquet files HASH-BUCKETED BY KEY
  (``__bucket=N/`` dirs, bucket = pmod(hash(keys), n_buckets)),
  compacted to ONE row per key but *including* delete tombstones (so a
  replayed/out-of-order older upsert can never resurrect a deleted key —
  seq decides, not arrival time);
- merge(batch): bucket the deduped batch, read ONLY the state buckets the
  batch touches, seq-resolve per key, write new files for ONLY those
  buckets. Untouched bucket files are not read and not rewritten —
  per-batch cost scales with batch size (times state/n_buckets), NOT with
  total view size. This matches the reference's per-key upsert cost model
  (an ES bulk request only touches the shards its doc ids hash to); the
  Delta/Iceberg equivalent is MERGE with partition/file pruning.
- the readable view filters tombstones out.

Durability: every mutation is ONE manifest commit (``sink/store.py``)
carrying the new file list, the schema, the epoch frontier, the lineage
and the fence token together. A crash before the commit leaves the
previous generation readable and the batch re-merges on redelivery; a
crash after it leaves the batch committed with its frontier, so
redelivery is skipped. Readers read one generation's explicit file list,
so a read never sees a half-applied merge. Single-writer semantics
mirror the reference's one-connector-per-slot model (U3: failover =
standby takeover on the freed slot, Connector.start_as_standby, README
runbook); the fence token turns a zombie writer's commit into a loud
``FencedWriterError``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_pq_cdc_elasticsearch_spark.operators.cdc import cdc_dedup
from go_pq_cdc_elasticsearch_spark.sink.store import (
    BUCKET_COL,
    FencedWriterError,
    ManifestStore,
    union_schema,
)

__all__ = ["FencedWriterError", "MaterializedView", "read_fence"]


def read_fence(path: str) -> int | None:
    """Fence token of the newest manifest under ``path`` (None = the view
    has never been fenced)."""
    snap = ManifestStore(path).latest()
    return snap.get("fence") if snap else None


class MaterializedView:
    """A keyed last-write-wins table backed by hash-bucketed parquet files
    under one manifest-committed store."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str] = ("user_id",),
        seq_col: str = "event_id",
        op_col: str = "event_type",
        delete_op: str = "delete",
        n_buckets: int | None = None,
        target_rows_per_bucket: int = 100_000,
        max_buckets: int = 256,
    ):
        """``n_buckets=None`` (default) auto-sizes the layout at first
        merge: ceil(first_batch_rows / target_rows_per_bucket), capped at
        ``max_buckets`` — a toy view gets 1 bucket (zero incremental-merge
        overhead vs a plain rewrite), a snapshot-sized first load gets
        many. The count is fixed at creation (recorded in the manifest);
        re-bucketing is a maintenance op like vacuum.

        Subclasses set the attributes ``_meta_extra`` reads BEFORE calling
        this constructor: opening validates them against the manifest."""
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.seq_col = seq_col
        self.op_col = op_col
        self.delete_op = delete_op
        self.n_buckets = n_buckets
        self.target_rows_per_bucket = target_rows_per_bucket
        self.max_buckets = max_buckets
        self.store = ManifestStore(path)
        self._last_epoch: int | None = None
        self._lineage: str | None = None
        self._fence_token: int | None = None
        # rows of the batch the next merge_batch call receives, when its
        # caller already counted them (the Connector's pre-merge
        # aggregate): the merge then skips its own emptiness probe job.
        # merge_batch consumes it on entry.
        self._batch_rows: int | None = None
        self._load()

    def _load(self) -> dict | None:
        """Resolve the newest manifest and adopt its layout, epoch frontier
        and lineage. Every entry point calls this, so a view object built
        before the store existed (the standby-takeover pattern) picks up
        what the active wrote since.

        The merge contract (bucket hashing, LWW resolution, subclass
        aggregate columns) is baked into the stored files: reopening with
        a different one would hash the same logical key to a DIFFERENT
        bucket and leave it live in two buckets at once — loud error, not
        silent corruption."""
        snap = self.store.latest()
        if snap is None:
            self._last_epoch = self._lineage = None
            return None
        for field, mine in (
            ("keys", self.keys),
            ("seq_col", self.seq_col),
            ("op_col", self.op_col),
            ("delete_op", self.delete_op),
            ("extra", self._meta_extra()),
        ):
            stored = snap.get(field)
            if stored is not None and stored != mine:
                raise ValueError(
                    f"materialized view at {self.path} was created with "
                    f"{field}={stored!r}; reopening with {mine!r} would "
                    f"corrupt the bucketed merge"
                )
        if snap["n_buckets"] is not None:
            self.n_buckets = snap["n_buckets"]
        self._last_epoch = snap["last_epoch"]
        self._lineage = snap["lineage"]
        return snap

    def _begin(self) -> dict | None:
        """``_load`` for a mutation: also refuse if the newest manifest
        carries a fence token other than this writer's. Unfenced writers
        (token None — direct batch callers, tests) are never checked: the
        fence is opt-in via ``acquire_fence``."""
        snap = self._load()
        disk = snap.get("fence") if snap else None
        if self._fence_token is not None and disk != self._fence_token:
            raise FencedWriterError(
                f"writer fenced out of materialized view {self.path}: "
                f"this instance holds fence token {self._fence_token} but "
                f"the view is at fence token {disk!r} — another connector "
                f"took over (standby failover). Stop this instance; do "
                f"NOT restart it against this view without operator "
                f"action."
            )
        return snap

    def _meta_extra(self) -> dict:
        """Subclass hook: extra merge-contract config recorded in the
        manifest and validated on every open, like keys/seq are."""
        return {}

    def _carried(self, snap: dict | None) -> dict:
        """Subclass hook: manifest fields this view does not own, written
        into every commit it makes (the deduper's corpus group)."""
        return {}

    def _commit(
        self,
        snap: dict | None,
        df: DataFrame | None,
        buckets: list[int] | None,
        **frontier,
    ) -> None:
        """Write ``df`` (with the bucket column) as the new files of
        ``buckets`` — of every bucket when None — and commit the next
        manifest with this object's frontier and lineage, or the
        ``last_epoch``/``lineage`` given; this object adopts them only
        once the commit landed. ``df=None`` commits no data (an empty
        batch's frontier, or a rebucket of an empty view)."""
        old = snap["files"] if snap else {}
        files = {} if buckets is None else {
            b: v for b, v in old.items() if b not in buckets
        }
        schema = snap["schema"] if snap else None
        if df is not None:
            files.update(self.store.write(df, self.n_buckets))
            schema = union_schema(schema, df.drop(BUCKET_COL).schema)
        manifest = {
            **self._carried(snap),
            "n_buckets": self.n_buckets,
            "files": files,
            "schema": schema,
            "keys": self.keys,
            "seq_col": self.seq_col,
            "op_col": self.op_col,
            "delete_op": self.delete_op,
            "extra": self._meta_extra(),
            "last_epoch": self._last_epoch,
            "lineage": self._lineage,
            "fence": snap.get("fence") if snap else None,
            **frontier,
        }
        self.store.commit(snap, manifest)
        self._last_epoch = manifest["last_epoch"]
        self._lineage = manifest["lineage"]

    # -- write fencing (U3 standby takeover) ---------------------------------

    def acquire_fence(self) -> int:
        """Become the view's fenced writer: commit a manifest with the
        next fence token and remember the token in this object. Called by
        the Connector AFTER it wins the replication slot (the election) —
        never by a refused standby attempt, so a healthy active is never
        fenced by a standby polling on 55006.

        The slot only proves the old active's replication CONNECTION is
        gone; a zombie whose Spark query is still running (SIGSTOP,
        network partition, GC pause) could keep writing to the shared
        view. After a takeover, the zombie's next mutation sees the newer
        token and raises ``FencedWriterError``; a mutation already past
        that check loses its commit, because the takeover consumed the
        generation it would link. Same token discipline as HDFS lease
        recovery / ZooKeeper fencing tokens. Racing instances get
        DISTINCT tokens: each attempt is a conditional commit, and the
        loser retries on the newer generation."""
        while True:
            snap = self.store.latest()
            token = ((snap or {}).get("fence") or 0) + 1
            base = snap or {
                "n_buckets": None,
                "files": {},
                "schema": None,
                "last_epoch": None,
                "lineage": None,
            }
            try:
                self.store.commit(snap, {**base, "fence": token})
            except FencedWriterError:
                continue  # another commit won this generation: retry
            self._fence_token = token
            return token

    def _bucket_expr(self):
        return F.pmod(F.hash(*self.keys), F.lit(self.n_buckets))

    def exists(self) -> bool:
        """True once a merge has created the layout (a fence-only
        manifest does not count)."""
        snap = self.store.latest()
        return snap is not None and snap["n_buckets"] is not None

    def _live_buckets(self) -> list[int]:
        """Bucket ids holding live files in the newest manifest."""
        snap = self.store.latest()
        return sorted(snap["files"]) if snap else []

    def state(self) -> DataFrame | None:
        """Current compacted state INCLUDING tombstones, or None if empty.
        An emptied view (vacuum-to-zero, rebucket of an empty state) stays
        a typed EMPTY frame through the manifest's schema."""
        snap = self._load()
        if snap is None or snap["schema"] is None:
            return None
        df = self.store.read(self.spark, snap)
        if df is None:
            return self.spark.createDataFrame(
                [], T.StructType.fromJson(snap["schema"])
            )
        return df.drop(BUCKET_COL)

    def read(self) -> DataFrame:
        """The user-visible view: tombstones filtered out."""
        state = self.state()
        if state is None:
            raise FileNotFoundError(f"materialized view not initialized: {self.path}")
        return state.filter(F.col(self.op_col) != F.lit(self.delete_op))

    # -- merge ---------------------------------------------------------------

    def _compact_batch(self, batch: DataFrame) -> DataFrame:
        """Reduce a raw micro-batch to its contribution rows (one per key).
        LWW view: in-batch dedup (last write per key wins). Subclasses
        override for other merge semantics (e.g. additive aggregates)."""
        return cdc_dedup(batch, keys=self.keys, seq_col=self.seq_col)

    def _one(self, df: DataFrame) -> DataFrame:
        """``df`` in one partition when the view has one bucket. Its write
        is one task (``ManifestStore.write`` coalesces a 1-bucket write),
        and that task also runs whatever narrow work precedes it, so the
        hash exchanges ``_compact_batch`` and ``_resolve`` would plan add
        no parallelism: each costs a stage job and shuffle I/O. One
        partition satisfies their clustering, so Spark plans none."""
        return df.coalesce(1) if self.n_buckets == 1 else df

    def _resolve(self, merged: DataFrame) -> DataFrame:
        """Combine (touched state ∪ compacted batch) rows — both carrying
        the bucket column — to the new per-key state."""
        return cdc_dedup(merged, keys=self.keys + [BUCKET_COL], seq_col=self.seq_col)

    def merge_batch(
        self,
        batch: DataFrame,
        epoch_id: int | None = None,
        lineage: str | None = None,
    ) -> None:
        """Apply one micro-batch: in-batch dedup FIRST (the reference dedups
        before issuing the bulk request — order matters, bulk/bulk.go:141
        happens before :297), then seq-resolved merge with the touched
        state buckets only, then one manifest commit.

        ``epoch_id`` (foreachBatch's batch id) makes redelivery a no-op:
        an epoch at or below the recorded frontier is skipped. The LWW
        merge is idempotent anyway; for subclasses with non-idempotent
        combine (additive aggregates) the guard is what provides
        exactly-once. ``lineage`` scopes the frontier to one streaming
        query (the stable query id, constant across checkpoint restarts):
        a DIFFERENT query feeding the same view restarts batch ids at 0,
        and comparing raw epochs across lineages would silently drop its
        first batches — so a KNOWN lineage change resets the frontier.
        ``lineage=None`` means *unknown caller* (an interleaved batch
        merge, or the queryId local property not visible to the Python
        callback under a py4j thread mismatch) and must NOT reset: wiping
        the frontier would let a redelivered epoch re-apply, double-
        counting in non-idempotent subclasses — the exact case the guard
        exists for. The frontier is committed in the same manifest as the
        merged files, so a crash can never separate them.

        ``batch`` must be DETERMINISTIC across re-evaluation (foreachBatch
        sources are; a direct caller passing sample()/rand()-derived keys
        is not): the compacted batch is persisted so the touched-bucket
        probe and the write normally share ONE evaluation, but a cache
        eviction under memory pressure re-evaluates, and a row that
        hashes into a bucket outside the probed set on that second
        evaluation is silently discarded by the commit. Pin a
        non-deterministic frame with localCheckpoint() before merging."""
        counted, self._batch_rows = self._batch_rows, None
        if BUCKET_COL in batch.columns:
            # same reserved-name discipline as asof_join/cdc_dedup: the
            # withColumn below would silently overwrite the caller's
            # column and the layout logic would misroute on it
            raise ValueError(
                f"merge_batch reserves the column name '{BUCKET_COL}'"
            )
        snap = self._begin()
        last_epoch = self._last_epoch
        if lineage is None:
            lineage = self._lineage
        elif self._lineage is not None and lineage != self._lineage:
            # genuinely different feeding query: its epoch counter is
            # unrelated to the recorded one — reset rather than compare
            last_epoch = None
        if epoch_id is not None and last_epoch is not None and (
            epoch_id <= last_epoch
        ):
            return
        frontier = {
            "last_epoch": last_epoch if epoch_id is None else epoch_id,
            "lineage": lineage,
        }

        def empty() -> bool:
            return batch.isEmpty() if counted is None else counted == 0

        if snap is None or snap["n_buckets"] is None:
            compact = self._compact_batch(self._one(batch))
            persisted = False
            try:
                if self.n_buckets is None:  # auto-size the layout to the data
                    # persist so the sizing count and the write scan and
                    # dedup the batch ONCE; inside the try, so a failing
                    # count cannot leak the cache across redeliveries
                    compact = compact.persist()
                    persisted = True
                    n_rows = compact.count()
                    if n_rows == 0:
                        # an EMPTY first batch (Spark's no-data micro-batch
                        # before any data arrives) must not CREATE the
                        # view: auto-sizing from zero rows would bake
                        # n_buckets=1 into the manifest permanently, and
                        # every later 10M-row batch would merge into a
                        # single bucket. Skip; the first REAL batch sizes
                        # the layout. Redelivering an empty epoch is a
                        # no-op anyway.
                        return
                    self.n_buckets = max(
                        1,
                        min(
                            self.max_buckets,
                            -(-n_rows // self.target_rows_per_bucket),
                        ),
                    )
                elif empty():
                    # fixed layout, same rule: don't initialize a view on
                    # an empty feed (read() keeps raising 'not
                    # initialized', the documented empty-feed contract)
                    return
                self._commit(
                    snap,
                    compact.withColumn(BUCKET_COL, self._bucket_expr()),
                    None,
                    **frontier,
                )
            finally:
                if persisted:
                    compact.unpersist()
            return

        # Touched buckets from the COMPACTED batch, persisted so the probe
        # materialization is reused by the merge write (the key set — and
        # therefore the bucket set — is identical pre/post dedup). A
        # 1-bucket view skips the probe: its answer is a foregone
        # conclusion, and at toy scale the probe job costs more than the
        # merge it would prune. It still needs to know whether the batch
        # is empty, so an idle processing-time tick does not rewrite the
        # view: one limit-1 job, or none when the caller counted the rows.
        persisted = False
        compact = self._compact_batch(self._one(batch)).withColumn(
            BUCKET_COL, self._bucket_expr()
        )
        if self.n_buckets == 1:
            touched = [] if empty() else [0]
        else:
            compact = compact.persist()
            persisted = True
        try:
            if persisted:
                touched = sorted(
                    r["b"]
                    for r in compact.select(F.col(BUCKET_COL).alias("b"))
                    .distinct()
                    .collect()
                )
            if not touched:  # empty batch: commit only a frontier advance
                if epoch_id is not None:
                    self._commit(snap, None, [], **frontier)
                return
            existing = [b for b in touched if b in snap["files"]]
            # allowMissingColumns: the reference's payloads are schemaless
            # (map[string]any); a batch may add columns (schema drift) —
            # old state rows get NULLs, dropped columns stay NULL for new
            # rows. The manifest schema is the union of every batch's.
            merged = (
                self.store.read(self.spark, snap, existing).unionByName(
                    compact, allowMissingColumns=True
                )
                if existing
                else compact
            )
            self._commit(
                snap, self._resolve(self._one(merged)), touched, **frontier
            )
        finally:
            # a failing probe or write (executor loss, malformed row) must
            # not leak the cache: foreachBatch redelivery persists a FRESH
            # DataFrame each attempt
            if persisted:
                compact.unpersist()

    def _rewrite(self, keep) -> None:
        """Full rewrite of every bucket to the state rows ``keep`` selects
        (vacuum, truncate): one commit replaces all files."""
        snap = self._begin()
        if snap is None or not snap["files"]:
            return
        self._commit(snap, self.store.read(self.spark, snap).filter(keep), None)

    def vacuum(self, watermark_seq: int) -> None:
        """Drop tombstones whose seq is <= watermark_seq (retention).

        Tombstones exist so stale replays can't resurrect deleted keys; once
        the source can no longer re-deliver below watermark_seq (the
        checkpoint/ack frontier), tombstones below it are dead weight. The
        Delta equivalent is VACUUM after retention. Rewrites every bucket
        (retention is a full-view maintenance op, run rarely — unlike
        merge, which stays incremental). A view emptied by retention stays
        readable as a typed empty frame."""
        self._rewrite(
            (F.col(self.op_col) != F.lit(self.delete_op))
            | (F.col(self.seq_col) > F.lit(watermark_seq))
        )

    def truncate_upto(self, seq: int) -> None:
        """Apply a source-table TRUNCATE positioned at ``seq`` (Connector
        on_truncate='tombstone_table'): drop EVERY state row — live and
        tombstone — whose seq is at or below it. Rows above the truncate
        point (already-merged later epochs on a redelivery replay) survive,
        which is what makes the op idempotent. Tombstones below go too:
        state they guarded is gone, and replay of sub-truncate epochs is
        already excluded by the epoch frontier guard. A full rewrite like
        vacuum — TRUNCATE is a rare administrative op, never per batch."""
        self._rewrite(F.col(self.seq_col) > F.lit(seq))

    def rebucket(self, n_buckets: int) -> None:
        """Re-hash the state into a new bucket count — the maintenance op
        for a view that outgrew (or never grew into) its creation-time
        layout, like OPTIMIZE/rewrite in a table format. A full rewrite in
        one commit: rows move BETWEEN buckets, and readers see either the
        old layout or the new one, never a mix. Run rarely, never per
        batch."""
        snap = self._begin()
        self.n_buckets = n_buckets
        if snap is None or snap["n_buckets"] is None:
            return  # no layout yet: the first merge creates this one
        state = self.store.read(self.spark, snap)
        self._commit(
            snap,
            None
            if state is None
            else state.withColumn(BUCKET_COL, self._bucket_expr()),
            None,
        )

    def foreach_batch_writer(self):
        """Adapter for ``writeStream.foreachBatch`` — the Spark analog of the
        reference's flush-then-ack loop: when this returns, the micro-batch
        is durably merged and the checkpoint (offset/LSN) commits.

        The exactly-once frontier is keyed (query_id, epoch_id): the
        streaming query id (read from the ``sql.streaming.queryId`` local
        property Spark sets on the micro-batch thread) is stable across
        restarts from the same checkpoint but fresh for a new query — so a
        view re-fed from a NEW checkpoint lineage does not silently drop
        the new query's low-numbered batches.

        The merge runs several actions over the batch (an emptiness or
        touched-bucket probe, then the write), and each re-reads an
        unpersisted batch from its source. Persist the batch around this
        writer to scan the source once per micro-batch, as the Connector
        does for everything its foreachBatch function runs."""

        def write(batch_df: DataFrame, epoch_id: int) -> None:
            qid = batch_df.sparkSession.sparkContext.getLocalProperty(
                "sql.streaming.queryId"
            )
            self.merge_batch(batch_df, epoch_id=epoch_id, lineage=qid)

        return write
