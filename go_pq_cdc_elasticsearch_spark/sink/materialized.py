"""Materialized keyed view writer — the engine's MERGE sink.

The reference's ES index *is* a materialized last-write-wins view: idempotent
keyed upserts/deletes (bulk/bulk.go:208-245) after in-batch dedup
(bulk/bulk.go:141-157), acked only after a successful flush
(bulk/bulk.go:271-276) => at-least-once delivery with an idempotent apply,
i.e. exactly-once on the view.

Engine design (no Delta in this container, so MERGE is emulated):
- state lives in a parquet directory HASH-BUCKETED BY KEY
  (``bucket=NNN/`` partitions, bucket = pmod(hash(keys), n_buckets)),
  compacted to ONE row per key but *including* delete tombstones (so a
  replayed/out-of-order older upsert can never resurrect a deleted key —
  seq decides, not arrival time);
- merge(batch): bucket the deduped batch, read ONLY the state buckets the
  batch touches (partition pruning), seq-resolve per key, rewrite ONLY
  those buckets. Untouched bucket files are not read and not rewritten —
  per-batch cost scales with batch size (times state/n_buckets), NOT with
  total view size. This matches the reference's per-key upsert cost model
  (an ES bulk request only touches the shards its doc ids hash to); the
  Delta/Iceberg equivalent is MERGE with partition/file pruning.
- the readable view filters tombstones out.

Durability note (honest, not "atomic"): each touched bucket is swapped via
two renames, so a crash mid-swap can leave ONE bucket briefly missing for
concurrent readers. ``_recover_interrupted_swap`` (run on every open of an
existing view) repairs ``.old`` leftovers: a swap that lost its live dir
restores the pre-merge state, and the interrupted batch re-merges on
redelivery (the epoch frontier is only advanced after the swap, and the
seq-resolved merge is idempotent). A cluster deployment gets real
atomicity from the table format's commit log (Delta/Iceberg);
single-writer semantics here mirror the reference's one-connector-per-slot
model (U3: failover = standby takeover on the freed slot,
Connector.start_as_standby, README runbook).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_pq_cdc_elasticsearch_spark.operators.cdc import cdc_dedup

_META = "_VIEW_META.json"
# fence generations are EMPTY MARKER FILES named _VIEW_FENCE.<n>, not a
# mutable json: os.open(O_CREAT|O_EXCL) on the next generation is an atomic
# filesystem compare-and-swap, so two instances racing acquire_fence get
# DISTINCT tokens (the loser of the create retries on the bumped value) —
# a read-modify-write on one shared file gave both racers the same token
# and no mutual exclusion at all. The highest suffix IS the generation;
# markers are never deleted (a racer with a stale listing could re-claim
# a pruned name) — empty files, one per takeover, bounded by takeovers.
_FENCE_PREFIX = "_VIEW_FENCE."
_BUCKET_COL = "__bucket"


class FencedWriterError(RuntimeError):
    """A mutation found the on-disk fence token newer than the one this
    writer acquired: another instance took over the view (U3 standby
    takeover) and this process is a zombie writer. The only safe response
    is to stop — re-acquiring would fence out the legitimate active."""


def _fence_files(path: str) -> list[tuple[int, str]]:
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if d.startswith(_FENCE_PREFIX):
            suffix = d[len(_FENCE_PREFIX):]
            if suffix.isdigit():
                out.append((int(suffix), os.path.join(path, d)))
    return out


def read_fence(path: str) -> int | None:
    """Current fence generation recorded under ``path`` (None = the view
    has never been fenced — pre-fencing layouts keep working unchecked)."""
    gens = _fence_files(path)
    return max(g for g, _ in gens) if gens else None


def list_bucket_dirs(path: str) -> list[int]:
    """Bucket ids present under ``path`` (``__bucket=N`` dirs; in-flight
    ``N.old`` swap leftovers excluded)."""
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if not d.startswith(_BUCKET_COL + "="):
            continue
        suffix = d.split("=", 1)[1]
        if suffix.isdigit():
            out.append(int(suffix))
    return sorted(out)


def recover_interrupted_swap(path: str) -> None:
    """Repair ``__bucket=N.old`` leftovers from a crash inside
    ``swap_bucket_dir`` (rename(dst->old); rename(src->dst); rmtree(old)):

    - ``.old`` present, live dir MISSING -> the crash hit between the two
      renames; the new dir still lived under the tmp staging area (gone),
      so the pre-swap state in ``.old`` is the only copy — restore it.
    - ``.old`` present, live dir PRESENT -> the swap completed and only
      the cleanup was lost — drop the garbage.
    """
    if not os.path.isdir(path):
        return
    for d in os.listdir(path):
        if not (d.startswith(_BUCKET_COL + "=") and d.endswith(".old")):
            continue
        old = os.path.join(path, d)
        live = old[: -len(".old")]
        if os.path.exists(live):
            shutil.rmtree(old)
        else:
            os.rename(old, live)


def _recover_interrupted_rebucket(path: str) -> None:
    """Repair a crash inside ``MaterializedView.rebucket``'s whole-dir
    swap (rename(path -> .rbold); rename(.rbnew -> path); rmtree(.rbold)).

    Per-bucket swap_bucket_dir is NOT usable for a re-hash: it preserves
    bucket identity, but rebucketing moves rows BETWEEN buckets, so a
    partially-swapped view would hold every key twice (old placement +
    new). The whole-dir two-rename makes the cutover a single rename:

    - live dir missing, ``.rbold`` present: crashed between the renames.
      ``.rbnew`` carrying a meta file (written LAST, the completion
      marker) rolls forward; otherwise the pre-rebucket state in
      ``.rbold`` is the only complete copy — roll back.
    - live dir present: any ``.rbold``/``.rbnew`` is leftover garbage
      from a lost cleanup or an abandoned staging attempt — drop it.
    """
    rbnew, rbold = path + ".rbnew", path + ".rbold"
    if not os.path.exists(path) and os.path.isdir(rbold):
        if os.path.exists(os.path.join(rbnew, _META)):
            os.rename(rbnew, path)
            shutil.rmtree(rbold, ignore_errors=True)
        else:
            os.rename(rbold, path)
    if os.path.exists(path):
        shutil.rmtree(rbold, ignore_errors=True)
        shutil.rmtree(rbnew, ignore_errors=True)


def swap_bucket_dir(path: str, src: str, b: int) -> None:
    """Swap one bucket dir into place with the crash-recoverable two-rename
    protocol (``recover_interrupted_swap`` repairs any interruption)."""
    dst = os.path.join(path, f"{_BUCKET_COL}={b}")
    old = dst + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(dst):
        os.rename(dst, old)
    if os.path.exists(src):
        os.rename(src, dst)
    if os.path.exists(old):
        shutil.rmtree(old)


class MaterializedView:
    """A keyed last-write-wins table backed by a hash-bucketed parquet
    directory."""

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
        many. The count is fixed at creation (recorded in the meta file);
        re-bucketing is a maintenance op like vacuum."""
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.seq_col = seq_col
        self.op_col = op_col
        self.delete_op = delete_op
        self.n_buckets = n_buckets
        self.target_rows_per_bucket = target_rows_per_bucket
        self.max_buckets = max_buckets
        self._columns: list[str] | None = None
        self._schema_json: str | None = None
        self._drifted = False
        self._last_epoch: int | None = None
        self._lineage: str | None = None
        self._fence_token: int | None = None
        _recover_interrupted_rebucket(path)
        self._meta_adopted = self._adopt_meta()

    def _adopt_meta(self) -> bool:
        """Load the on-disk meta into this object (layout, schema, epoch
        frontier) with the reopen-contract validation. Runs at __init__,
        and AGAIN lazily from merge_batch when the view appeared on disk
        only after this object was constructed — the standby-takeover
        pattern, where the passive instance builds its Connector (and
        view object) while the active is still creating/advancing the
        store. Without the late adoption the standby merged with
        n_buckets=None against an existing layout (loud crash at best,
        a mis-hashed second layout at worst)."""
        meta = self._read_meta()
        if meta is None:
            return False
        # layout sticks to what the directory was created with
        self.n_buckets = int(meta["n_buckets"])
        self._columns = meta.get("columns")
        self._schema_json = meta.get("schema")
        self._drifted = bool(meta.get("drifted", False))
        self._last_epoch = meta.get("last_epoch")
        self._lineage = meta.get("lineage")
        # the merge contract (bucket hashing, LWW resolution) is baked
        # into the stored layout: reopening with different keys/seq
        # would hash the same logical key to a DIFFERENT bucket and
        # silently leave it live in two buckets at once — loud error,
        # not silent corruption
        for field, mine in (
            ("keys", list(self.keys)),
            ("seq_col", self.seq_col),
            ("op_col", self.op_col),
            ("delete_op", self.delete_op),
        ):
            stored = meta.get(field)
            if field == "keys" and stored is not None:
                stored = list(stored)
            if stored is not None and stored != mine:
                raise ValueError(
                    f"materialized view at {self.path} was created with "
                    f"{field}={stored!r}; reopening with {mine!r} would "
                    f"corrupt the bucketed merge"
                )
        self._recover_interrupted_swap()
        return True

    def _recover_interrupted_swap(self) -> None:
        """Per-bucket repair of an interrupted swap (module-level
        ``recover_interrupted_swap``). The interrupted batch re-merges on
        redelivery (at-least-once; the epoch frontier was deliberately not
        yet advanced). Recovery is per-BUCKET, not per-batch: buckets whose
        swap completed before the crash keep the merged state while the
        restored ones roll back, so the redelivered batch re-applies to a
        MIXED view. The LWW base class is idempotent under that (seq
        decides); an additive subclass (ContinuousAggregate) would
        double-count the already-swapped buckets — quantified in its
        module docstring, closed for real by a table format's atomic
        multi-file commit (Delta/Iceberg) on a cluster."""
        recover_interrupted_swap(self.path)

    # -- layout helpers ------------------------------------------------------

    def _read_meta(self) -> dict | None:
        p = os.path.join(self.path, _META)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _write_meta(self) -> None:
        # fence-checked (ADVICE r11): merge_batch checks at entry, but the
        # Spark aggregation between entry and the first meta write can run
        # for minutes — a zombie fenced mid-batch could still overwrite
        # the epoch frontier/lineage sidecar after takeover. Buckets were
        # already safe (_swap_buckets re-checks); this closes the meta.
        # rebucket's staging-dir write passes because it copies the fence
        # markers into the staging dir BEFORE writing meta there.
        self._check_fence()
        # ATOMIC (temp + rename): the meta file is load-bearing twice over
        # — every open json.loads it with no recovery path for a torn
        # write, and rebucket recovery treats its EXISTENCE in .rbnew as
        # the completion marker (a crash mid-dump there rolled FORWARD
        # onto a corrupt meta and deleted the only good copy in .rbold —
        # review r7). os.replace makes existence imply completeness.
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, _META + ".tmp")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "n_buckets": self.n_buckets,
                    "keys": self.keys,
                    "seq_col": self.seq_col,
                    "op_col": self.op_col,
                    "delete_op": self.delete_op,
                    "columns": self._columns,
                    "schema": self._schema_json,
                    "drifted": self._drifted,
                    "last_epoch": self._last_epoch,
                    "lineage": self._lineage,
                    "extra": self._meta_extra(),
                },
                f,
            )
        os.replace(tmp, os.path.join(self.path, _META))

    def _meta_extra(self) -> dict:
        """Subclass hook: extra merge-contract config recorded in the view
        meta and validated on reopen (``_check_meta_extra``). A subclass
        that extends the merge contract (ContinuousAggregate's aggregate
        column lists) must extend the reopen check too, or a config drift
        silently corrupts state instead of raising like keys/seq do."""
        return {}

    def _check_meta_extra(self) -> None:
        """Validate subclass merge-contract config against the stored meta.
        Called by subclasses at the END of their __init__ (their config
        attributes don't exist yet while the base __init__ runs)."""
        meta = self._read_meta()
        if meta is None:
            return
        stored = meta.get("extra")
        mine = self._meta_extra()
        if stored is not None and stored != mine:
            raise ValueError(
                f"view at {self.path} was created with config {stored!r}; "
                f"reopening with {mine!r} would corrupt the merged state "
                f"(prior rows lack/strand the changed aggregate columns)"
            )

    def _ensure_meta_adopted(self) -> None:
        """Late meta adoption for every state-MUTATING entry point: the
        view may have appeared on disk only after this object's __init__
        (standby takeover — the active created it while this passive
        instance waited on the slot). Adopt its layout/frontier and run
        the interrupted-swap repair before touching any bucket, and
        re-validate any subclass contract config (the attributes exist by
        now). A mutation without this ran with n_buckets=None against an
        existing layout, and skipped the crash repair (review r10)."""
        if not self._meta_adopted and self.exists():
            self._meta_adopted = self._adopt_meta()
            self._check_meta_extra()

    # -- write fencing (U3 standby takeover) ---------------------------------

    def acquire_fence(self) -> int:
        """Become the view's fenced writer: bump the on-disk fence
        generation and remember the new token in this object. Called by
        the Connector AFTER it wins the replication slot (the election) —
        never by a refused standby attempt, so a healthy active is never
        fenced by a standby polling on 55006.

        Closes the README runbook's fencing caveat at the storage layer:
        the slot only proves the old active's replication CONNECTION is
        gone, but a zombie whose Spark query is still running (SIGSTOP,
        network partition, GC pause) could keep writing to the shared
        view. After a takeover bumps the fence, every one of the zombie's
        mutations fails ``_check_fence`` with FencedWriterError BEFORE
        touching a bucket — its streaming query dies loudly instead of
        corrupting state behind the new active. Same token discipline as
        HDFS lease recovery / ZooKeeper fencing tokens; a table format's
        commit log (Delta/Iceberg) provides the equivalent via
        conditional commits on a cluster.

        Atomicity: the generation is claimed with O_CREAT|O_EXCL on the
        next marker file — a filesystem CAS. Two instances racing this
        method get DISTINCT tokens; whoever claims the higher one fences
        the other at its next mutation check. (POSIX-atomic locally and
        on NFS; object stores without atomic create need the table-format
        commit log instead — same caveat as the bucket-swap renames.)"""
        os.makedirs(self.path, exist_ok=True)
        while True:
            token = (read_fence(self.path) or 0) + 1
            try:
                fd = os.open(
                    os.path.join(self.path, f"{_FENCE_PREFIX}{token}"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
            except FileExistsError:
                continue  # lost the claim — retry on the bumped generation
            os.close(fd)
            break
        # markers are never pruned: deleting a claimed generation would
        # let a racer with a stale listing re-CLAIM it (the CAS only
        # guards each filename's current existence-epoch), handing two
        # instances the same token. They are empty files, one per
        # takeover — bounded by the takeover count, not by time or data.
        self._fence_token = token
        return token

    def _check_fence(self) -> None:
        """Abort if another writer bumped the fence since this object
        acquired its token. Unfenced writers (token None — direct batch
        callers, tests, pre-fencing deployments) are never checked: the
        fence is opt-in via acquire_fence, exactly once per Connector
        start. Checked at every mutating entry point AND again inside
        ``_swap_buckets`` right before the destructive renames — the
        remaining check-to-rename window is microseconds of an OS rename
        (honest limit of filesystem fencing; a table format's atomic
        conditional commit closes it completely)."""
        if self._fence_token is None:
            return
        disk = read_fence(self.path)
        if disk != self._fence_token:
            raise FencedWriterError(
                f"writer fenced out of materialized view {self.path}: "
                f"this instance holds fence token {self._fence_token} but "
                f"the view is at generation {disk!r} — another connector "
                f"took over (standby failover). Stop this instance; do "
                f"NOT restart it against this view without operator "
                f"action."
            )

    def _bucket_expr(self):
        return F.pmod(F.hash(*self.keys), F.lit(self.n_buckets))

    def _bucket_dir(self, b: int) -> str:
        return os.path.join(self.path, f"{_BUCKET_COL}={b}")

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, _META))

    def state(self) -> DataFrame | None:
        """Current compacted state INCLUDING tombstones, or None if empty.

        Read with the meta-recorded schema until drift has EVER happened,
        then with mergeSchema — same conditional the merge path uses."""
        if not self.exists():
            return None
        if not self._bucket_dirs():
            if self._schema_json:
                # meta carries the last swapped schema (review r6): an
                # emptied view (vacuum-to-zero, rebucket of an empty
                # state, a crash after buckets were removed) stays a
                # typed EMPTY frame instead of 'not initialized' — no
                # keeper file needed, and every crash window heals
                # because the schema survives in the meta
                from pyspark.sql import types as T

                return self.spark.createDataFrame(
                    [], T.StructType.fromJson(json.loads(self._schema_json))
                )
            return None
        return self._read_buckets().drop(_BUCKET_COL)

    def _bucket_dirs(self) -> list[int]:
        return list_bucket_dirs(self.path)

    def _read_buckets(self, buckets: list[int] | None = None) -> DataFrame:
        """Scan the bucket dirs (all, or only ``buckets``) with the bucket
        column. A view that never drifted has one file schema, the one
        the meta recorded at the last swap, so it is read with that
        schema and no footer-inference job. A drifted view reconciles
        footers (mergeSchema); a meta without a schema (older layouts)
        infers from the files."""
        reader = self.spark.read.option("basePath", self.path)
        if self._schema_json and not self._drifted:
            from pyspark.sql import types as T

            schema = T.StructType.fromJson(json.loads(self._schema_json))
            reader = reader.schema(schema.add(_BUCKET_COL, T.IntegerType()))
        else:
            reader = reader.option("mergeSchema", str(self._drifted).lower())
        df = reader.parquet(self.path)
        if buckets is not None:
            # partition pruning: only the touched bucket dirs are scanned
            df = df.filter(F.col(_BUCKET_COL).isin(buckets))
        return df

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

    def _resolve(self, merged: DataFrame) -> DataFrame:
        """Combine (touched state ∪ compacted batch) rows — both carrying
        the bucket column — to the new per-key state."""
        return cdc_dedup(merged, keys=self.keys + [_BUCKET_COL], seq_col=self.seq_col)

    def merge_batch(
        self,
        batch: DataFrame,
        epoch_id: int | None = None,
        lineage: str | None = None,
    ) -> None:
        """Apply one micro-batch: in-batch dedup FIRST (the reference dedups
        before issuing the bulk request — order matters, bulk/bulk.go:141
        happens before :297), then seq-resolved merge with the touched
        state buckets only, then per-bucket swap.

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
        exists for. The frontier is recorded after the bucket swap, so a
        crash exactly between swap and meta write re-merges that one
        batch on restart — harmless here, quantified in the subclass
        docs.

        ``batch`` must be DETERMINISTIC across re-evaluation (foreachBatch
        sources are; a direct caller passing sample()/rand()-derived keys
        is not): the compacted batch is persisted so the touched-bucket
        probe and the write normally share ONE evaluation (review r6 —
        at 1M+-row micro-batches the extra pass was the largest per-batch
        cost), but a cache eviction under memory pressure re-evaluates,
        and a row that hashes into a bucket outside the probed set on
        that second evaluation is silently discarded by the swap. Pin a
        non-deterministic frame with localCheckpoint() before merging."""
        if _BUCKET_COL in batch.columns:
            # same reserved-name discipline as asof_join/cdc_dedup: the
            # withColumn below would silently overwrite the caller's
            # column and the layout logic would misroute on it (review r7)
            raise ValueError(
                f"merge_batch reserves the column name '{_BUCKET_COL}'"
            )
        self._ensure_meta_adopted()
        self._check_fence()
        if lineage is not None:
            if self._lineage is not None and lineage != self._lineage:
                # genuinely different feeding query: its epoch counter is
                # unrelated to the recorded one — reset rather than compare
                self._last_epoch = None
            self._lineage = lineage
        if epoch_id is not None and self._last_epoch is not None and (
            epoch_id <= self._last_epoch
        ):
            return
        if not self.exists():
            compact = self._compact_batch(batch)
            persisted = False
            try:
                if self.n_buckets is None:  # auto-size the layout to the data
                    # the sizing count and the swap write would otherwise
                    # each evaluate the window dedup over the full batch —
                    # persist so the batch is scanned/deduped ONCE (at
                    # 1M+-row micro-batches the second pass was the single
                    # largest per-batch cost, review r6). persist/count
                    # INSIDE the try: a failing count must not leak the
                    # cache across foreachBatch redeliveries.
                    compact = compact.persist()
                    persisted = True
                    n_rows = compact.count()
                    if n_rows == 0:
                        # an EMPTY first batch (Spark's no-data micro-batch
                        # before any data arrives) must not CREATE the
                        # view: auto-sizing from zero rows would bake
                        # n_buckets=1 into the meta permanently, and every
                        # later 10M-row batch would merge into a single
                        # bucket — per-batch cost scaling with view size,
                        # silently defeating the incremental design
                        # (review r6). Skip; the first REAL batch sizes
                        # the layout. No epoch is recorded (no meta yet);
                        # redelivering an empty epoch is a no-op anyway.
                        self.n_buckets = None
                        return
                    self.n_buckets = max(
                        1,
                        min(
                            self.max_buckets,
                            -(-n_rows // self.target_rows_per_bucket),
                        ),
                    )
                elif batch.isEmpty():
                    # fixed layout, same rule: don't initialize a view on
                    # an empty feed (read() keeps raising 'not
                    # initialized', the documented empty-feed contract)
                    return
                self._columns = sorted(batch.columns)
                self._write_meta()
                self._swap_buckets(
                    compact.withColumn(_BUCKET_COL, self._bucket_expr()),
                    buckets=None,
                )
            finally:
                if persisted:
                    compact.unpersist()
            if epoch_id is not None:
                # recorded only after the swap: a crash in between replays
                # the batch (safe); recording first would LOSE it
                self._last_epoch = epoch_id
                self._write_meta()
            return

        # Touched buckets from the COMPACTED batch, persisted so the probe
        # materialization is reused by the merge write (the key set — and
        # therefore the bucket set — is identical pre/post dedup). The
        # probe previously scanned the RAW batch to keep the window
        # shuffle out of the probe job; with the cache the window runs
        # once total instead of once per job, which is strictly fewer
        # passes at any batch size (review r6). A 1-bucket view still
        # skips the probe: its answer is a foregone conclusion, and at toy
        # scale the probe job costs more than the merge it would prune
        # (r2 verdict item 2 — the q_t6/q_t7 per-batch overhead).
        persisted = False
        if self.n_buckets == 1:
            # still probe emptiness (one cheap limit-1 job): touched=[0]
            # unconditionally bypassed the empty-batch fast path below, so
            # every idle processing-time tick fully rewrote the view
            touched = [] if batch.isEmpty() else [0]
            compact = self._compact_batch(batch).withColumn(
                _BUCKET_COL, self._bucket_expr()
            )
        else:
            compact = (
                self._compact_batch(batch)
                .withColumn(_BUCKET_COL, self._bucket_expr())
                .persist()
            )
            persisted = True
            try:
                touched = sorted(
                    r["b"]
                    for r in compact.select(F.col(_BUCKET_COL).alias("b"))
                    .distinct()
                    .collect()
                )
            except BaseException:
                # a failing probe (executor loss, malformed row) must not
                # leak the cache: foreachBatch redelivery persists a FRESH
                # DataFrame each attempt, so leaked entries accumulate for
                # the session lifetime on exactly the crash-looping path
                # (review r6)
                compact.unpersist()
                raise
        if not touched:  # empty batch
            if persisted:
                compact.unpersist()
            if epoch_id is not None:
                self._last_epoch = epoch_id
                self._write_meta()
            return
        existing = [b for b in touched if os.path.exists(self._bucket_dir(b))]
        # allowMissingColumns: the reference's payloads are schemaless
        # (map[string]any); a batch may add columns (schema drift) — old
        # state rows get NULLs, dropped columns stay NULL for new rows.
        # mergeSchema footer reconciliation only once drift has EVER
        # happened (a drifted merge rewrites only touched buckets, so file
        # schemas stay non-uniform until vacuum's full rewrite clears it).
        # Drift means NEW columns only: a batch merely MISSING known
        # columns writes the superset anyway (union with state), so
        # flagging it re-armed _drifted on every batch forever after a
        # source dropped a column — defeating vacuum's reset (review r5).
        # The one narrow case that does write non-uniform files — no
        # existing state for the touched buckets and a missing-column
        # batch — is flagged explicitly below.
        batch_cols = set(batch.columns)
        known = set(self._columns or [])
        drift = self._columns is None or bool(batch_cols - known)
        if not existing and batch_cols != known:
            drift = True
        if drift:
            self._drifted = True
            self._columns = sorted(known | batch_cols)
            # meta BEFORE the swap: a crash in between left non-uniform
            # bucket files that reopened with mergeSchema=false — Spark
            # then takes one file's footer as the schema and the new
            # column silently vanishes (review r5). Writing the flag
            # first only risks a spurious mergeSchema read: time, not
            # corruption.
            self._write_meta()
        try:
            if existing:
                merged = self._read_buckets(existing).unionByName(
                    compact, allowMissingColumns=True
                )
            else:
                merged = compact
            new_state = self._resolve(merged)
            self._swap_buckets(new_state, buckets=touched)
        finally:
            if persisted:
                compact.unpersist()
        if epoch_id is not None:
            self._last_epoch = epoch_id
            self._write_meta()

    def _swap_buckets(self, df: DataFrame, buckets: list[int] | None) -> None:
        """Write df (with the bucket column) partitioned by bucket to a tmp
        dir, then swap the given bucket dirs into place (all buckets when
        None). Untouched bucket dirs are never opened."""
        self._check_fence()
        parent = os.path.dirname(self.path) or "."
        tmp = tempfile.mkdtemp(prefix="mv_", dir=parent)
        # try/finally: a failed Spark write (executor loss, disk full —
        # the crash-looping-batch class merge_batch's persist guard exists
        # for) abandoned one partial mv_* staging dir per redelivery
        # attempt, and nothing ever swept them (review r7)
        try:
            out = os.path.join(tmp, "data")
            # record the view schema (sans bucket col) BEFORE the write: the
            # meta-carried schema is what keeps an emptied view readable (see
            # state()), and it must land even when the frame writes zero rows
            fields = [f for f in df.schema.fields if f.name != _BUCKET_COL]
            from pyspark.sql import types as T

            self._schema_json = T.StructType(fields).json()
            self._write_meta()
            # align output tasks to buckets: ONE file per bucket dir per merge
            # (without this, every shuffle partition writes its own sliver into
            # every bucket — file count grows by tasks×buckets each batch and
            # subsequent merges drown in footer reads). A 1-bucket view
            # coalesces instead of repartitioning (r12, guide §2.4): the
            # hash exchange is a full extra shuffle whose only effect at
            # n_buckets=1 is collapsing to one task — coalesce does that
            # without moving rows through a shuffle, same one-file layout.
            aligned = (
                df.coalesce(1)
                if self.n_buckets == 1
                else df.repartition(self.n_buckets, F.col(_BUCKET_COL))
            )
            aligned.write.mode("overwrite").partitionBy(_BUCKET_COL).parquet(
                out
            )
            todo = (
                buckets
                if buckets is not None
                else [
                    int(d.split("=", 1)[1])
                    for d in os.listdir(out)
                    if d.startswith(_BUCKET_COL + "=")
                ]
            )
            for b in todo:
                swap_bucket_dir(
                    self.path, os.path.join(out, f"{_BUCKET_COL}={b}"), b
                )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def vacuum(self, watermark_seq: int) -> None:
        """Drop tombstones whose seq is <= watermark_seq (retention).

        Tombstones exist so stale replays can't resurrect deleted keys; once
        the source can no longer re-deliver below watermark_seq (the
        checkpoint/ack frontier), tombstones below it are dead weight. The
        Delta equivalent is VACUUM after retention. Rewrites every bucket
        (retention is a full-view maintenance op, run rarely — unlike
        merge, which stays incremental)."""
        self._ensure_meta_adopted()
        self._check_fence()
        if not self.exists() or not self._bucket_dirs():
            return
        keep = self._read_buckets().filter(
            (F.col(self.op_col) != F.lit(self.delete_op))
            | (F.col(self.seq_col) > F.lit(watermark_seq))
        )
        # _swap_buckets writes the tmp copy BEFORE renaming any source
        # bucket dir away, so the lazy read above is safe. The schema is
        # captured BEFORE the swap: if retention empties the view, every
        # bucket dir is removed and the schema would be gone with them.
        self._swap_buckets(keep, buckets=self._bucket_dirs())
        # retention dropping the last row leaves zero bucket dirs; the
        # view stays readable as a typed empty frame through the
        # meta-carried schema _swap_buckets just recorded (review r5 via
        # r6 — the earlier direct keeper-file write here sat outside the
        # two-rename crash protocol and could strand the view unreadable)
        if self._drifted:
            # the full rewrite re-unified every bucket's file schema
            self._drifted = False
            self._write_meta()

    def truncate_upto(self, seq: int) -> None:
        """Apply a source-table TRUNCATE positioned at ``seq`` (r10,
        Connector on_truncate='tombstone_table'): drop EVERY state row —
        live and tombstone — whose seq is at or below it. Rows above the
        truncate point (already-merged later epochs on a redelivery
        replay) survive, which is what makes the op idempotent.
        Tombstones below go too: state they guarded is gone, and replay
        of sub-truncate epochs is already excluded by the epoch frontier
        guard. Full bucket rewrite via the same crash-recoverable swap as
        vacuum — TRUNCATE is a rare administrative op, never per batch."""
        self._ensure_meta_adopted()
        self._check_fence()
        if not self.exists() or not self._bucket_dirs():
            return
        keep = self._read_buckets().filter(
            F.col(self.seq_col) > F.lit(seq)
        )
        self._swap_buckets(keep, buckets=self._bucket_dirs())
        if self._drifted:
            self._drifted = False
            self._write_meta()

    def rebucket(self, n_buckets: int) -> None:
        """Re-hash the state into a new bucket count — the maintenance op
        for a view that outgrew (or never grew into) its creation-time
        layout, like OPTIMIZE/rewrite in a table format. Full rewrite; run
        rarely, never per batch.

        Adopts on-disk meta FIRST like every other mutating entry point
        (merge_batch, retention, truncate_upto): a view object built
        before the store appeared on disk (the standby pattern) would
        otherwise read state and then _write_meta() from un-adopted
        in-object fields, clobbering the stored epoch frontier, schema,
        and lineage with None (review r11)."""
        self._ensure_meta_adopted()
        self._check_fence()
        state = self.state()
        self.n_buckets = n_buckets
        self._drifted = False  # full rewrite unifies file schemas
        if state is None:
            self._write_meta()
            return
        # whole-dir two-rename swap (crash-recoverable via
        # _recover_interrupted_rebucket): an earlier delete-then-rename
        # version lost the ENTIRE view when killed between the rmtree loop
        # and the rename loop — meta intact, zero bucket dirs, view reads
        # empty — and per-bucket swap_bucket_dir can't repair a re-hash
        # (rows move BETWEEN buckets; a partial swap duplicates keys).
        rebucketed = state.withColumn(_BUCKET_COL, self._bucket_expr())
        rbnew, rbold = self.path + ".rbnew", self.path + ".rbold"
        shutil.rmtree(rbnew, ignore_errors=True)  # abandoned staging attempt
        # a stale .rbold (prior rebucket's final rmtree lost/swallowed)
        # would make os.rename(self.path, rbold) fail with ENOTEMPTY when
        # the view object is reused in-process — recovery only runs in
        # __init__, so clear it here too
        shutil.rmtree(rbold, ignore_errors=True)
        rebucketed.repartition(self.n_buckets, F.col(_BUCKET_COL)).write.mode(
            "overwrite"
        ).partitionBy(_BUCKET_COL).parquet(rbnew)
        # the fence generation must survive the whole-dir swap (the
        # markers live inside the view dir, which is about to be renamed
        # away) — recreate them in the staging dir BEFORE the meta write:
        # _write_meta is fence-checked against self.path (ADVICE r11), so
        # the staging dir must already carry this writer's generation when
        # meta lands there. Ordering is safe for recovery: meta remains
        # the LAST staging write and stays the completion marker.
        for gen, _p in _fence_files(self.path):
            open(os.path.join(rbnew, f"{_FENCE_PREFIX}{gen}"), "w").close()
        # meta is written into the staging dir LAST: it is the completion
        # marker recovery keys the roll-forward decision on
        real_path = self.path
        try:
            self.path = rbnew
            self._write_meta()
        finally:
            self.path = real_path
        # re-check at the last possible moment before the destructive
        # rename: a takeover that happened during the (long) rewrite
        # above must fence this rebucket out, not lose the new active's
        # merges to a stale whole-dir swap
        self._check_fence()
        os.rename(self.path, rbold)
        os.rename(rbnew, self.path)
        shutil.rmtree(rbold, ignore_errors=True)

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
