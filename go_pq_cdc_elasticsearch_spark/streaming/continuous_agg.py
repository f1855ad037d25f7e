"""Continuous aggregate: an incrementally-maintained GROUP BY view.

The TimescaleDB feature next to the reference's hypertables (SURVEY U4 /
routing hypertable mapping): a materialized ``GROUP BY time_bucket, dims``
whose state is updated per CDC/stream micro-batch instead of recomputed.
The Spark shape: each micro-batch is reduced map-side to per-group partial
states (count / sum / min / max — all mergeable), then combined with ONLY
the state buckets the batch touches, via the same hash-bucketed incremental
layout as the LWW `MaterializedView` (sink/materialized.py) — per-batch
cost scales with batch size, not view size. Late/out-of-order rows need no
special casing: additive combine is order-independent.

Exactly-once: additive combine is NOT idempotent, so redelivered batches
must not re-merge. ``foreachBatch`` redelivers with the SAME epoch id after
a failure; the view records the merged-epoch frontier in its manifest and
skips epochs at or below it (see ``MaterializedView.merge_batch``). The
frontier and every touched bucket's new file land in ONE manifest commit
(``sink/store.py``): a crash before it leaves the whole pre-merge
generation, so the redelivered epoch applies once to state that never saw
it; a crash after it leaves the epoch committed, so redelivery is skipped.
No crash point leaves some buckets merged and others not.

Sums are carried as DECIMAL(30,10): exact and associative, so the view
equals the batch recomputation bit-for-bit regardless of merge order —
double sums would drift by reassociation ulps.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_pq_cdc_elasticsearch_spark.sink.materialized import MaterializedView
from go_pq_cdc_elasticsearch_spark.sink.store import BUCKET_COL

_DEC = "decimal(30,10)"


class ContinuousAggregate(MaterializedView):
    """Incrementally-maintained ``GROUP BY group_cols`` with additive
    metrics: ``n`` (row count), ``sum_<c>`` / ``min_<c>`` / ``max_<c>``
    per configured column, and ``hll_<c>`` mergeable distinct sketches per
    ``distinct_cols`` entry. ``prepare`` (optional) runs on every raw batch
    before aggregation — the place to derive the time-bucket column.

    ``distinct_cols`` is the 100 TB answer to COUNT(DISTINCT) in an
    incremental rollup: exact distinct is not mergeable (it needs the full
    value set per group), but a DataSketches HLL sketch is ~KBs of fixed
    state per group, merges associatively AND idempotently (register max —
    a re-merged overlap cannot inflate it), and the merge is
    estimate-deterministic: union-of-partial-sketches estimates equal the
    sketch-of-the-whole estimate (bit-identical bytes too once the sketch
    is dense; sparse/coupon-mode serialization is insertion-order-
    dependent, so the ESTIMATE is the mode-independent invariant —
    asserted in test_continuous_agg), keeping incremental == batch an
    exact-equality check even though the estimate itself is approximate.
    ``read()`` exposes ``approx_distinct_<c>`` via ``hll_sketch_estimate``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: Sequence[str],
        sum_cols: Sequence[str] = (),
        min_cols: Sequence[str] = (),
        max_cols: Sequence[str] = (),
        distinct_cols: Sequence[str] = (),
        prepare: Callable[[DataFrame], DataFrame] | None = None,
        n_buckets: int | None = None,
        **kwargs,
    ):
        self.sum_cols = list(sum_cols)
        self.min_cols = list(min_cols)
        self.max_cols = list(max_cols)
        self.distinct_cols = list(distinct_cols)
        self.prepare = prepare
        # the aggregate column lists are part of the merge contract (prior
        # state rows would carry NULL for an added sum col, a removed one
        # would be dropped from touched buckets only): set before the base
        # constructor, which validates them against the manifest.
        # (``prepare`` is a callable and can't be recorded; changing its
        # derivation is the caller's responsibility.)
        super().__init__(
            spark,
            path,
            keys=list(group_cols),
            seq_col="__unused_seq",
            op_col="__unused_op",
            delete_op="__unused",
            n_buckets=n_buckets,
            **kwargs,
        )

    def _meta_extra(self) -> dict:
        return {
            "sum_cols": self.sum_cols,
            "min_cols": self.min_cols,
            "max_cols": self.max_cols,
            "distinct_cols": self.distinct_cols,
        }

    # -- merge hooks ---------------------------------------------------------

    def _compact_batch(self, batch: DataFrame) -> DataFrame:
        """Map-side reduction of a raw batch to per-group partial states."""
        aggs = [F.count(F.lit(1)).alias("n")]
        # the outer cast pins the STORED width: Spark widens sum(decimal
        # (30,10)) to decimal(38,10), so the creation path wrote 38,10
        # bucket files while _resolve rewrites touched buckets at 30,10 —
        # mixed physical widths whose readability then depended on WHICH
        # file the reader sampled for the schema (a narrow sample bricks
        # the view with PARQUET_COLUMN_DATA_TYPE_MISMATCH; review r7,
        # divergence proven on disk). Must stay identical to _resolve's
        # output width.
        aggs += [
            F.sum(F.col(c).cast(_DEC)).cast(_DEC).alias(f"sum_{c}")
            for c in self.sum_cols
        ]
        # per-column NON-NULL counts: deriving avg_<c> from the group row
        # count n biased it low whenever the column carried NULLs (sum
        # skips them, count(*) doesn't) — diverging from SQL AVG (review r7)
        aggs += [
            F.count(F.col(c)).alias(f"cnt_{c}") for c in self.sum_cols
        ]
        aggs += [F.min(c).alias(f"min_{c}") for c in self.min_cols]
        aggs += [F.max(c).alias(f"max_{c}") for c in self.max_cols]
        aggs += [
            F.hll_sketch_agg(c).alias(f"hll_{c}") for c in self.distinct_cols
        ]
        return batch.groupBy(*self.keys).agg(*aggs)

    def _resolve(self, merged: DataFrame) -> DataFrame:
        """Combine prior state with batch partials: every metric is
        mergeable (sum-of-counts, sum-of-sums, min-of-mins, max-of-maxes)."""
        aggs = [F.sum("n").cast("long").alias("n")]
        aggs += [
            F.sum(F.col(f"sum_{c}").cast(_DEC)).cast(_DEC).alias(f"sum_{c}")
            for c in self.sum_cols
        ]
        aggs += [
            F.sum(f"cnt_{c}").cast("long").alias(f"cnt_{c}")
            for c in self.sum_cols
        ]
        aggs += [F.min(f"min_{c}").alias(f"min_{c}") for c in self.min_cols]
        aggs += [F.max(f"max_{c}").alias(f"max_{c}") for c in self.max_cols]
        aggs += [
            F.hll_union_agg(f"hll_{c}").alias(f"hll_{c}")
            for c in self.distinct_cols
        ]
        return merged.groupBy(*self.keys, BUCKET_COL).agg(*aggs)

    def merge_batch(
        self,
        batch: DataFrame,
        epoch_id: int | None = None,
        lineage: str | None = None,
    ) -> None:
        if self.prepare is not None:
            batch = self.prepare(batch)
        super().merge_batch(batch, epoch_id=epoch_id, lineage=lineage)

    # -- read side -----------------------------------------------------------

    def read(self) -> DataFrame:
        """The aggregate view; derives ``avg_<c>`` for each sum column
        with SQL AVG semantics — sum over NON-NULL count (``cnt_<c>``), not
        over the group row count ``n``, which would bias NULL-bearing
        columns low; an all-NULL group gets NULL (review r7). No tombstone
        filtering — aggregates have no deletes."""
        state = self.state()
        if state is None:
            raise FileNotFoundError(f"continuous aggregate not initialized: {self.path}")
        for c in self.sum_cols:
            state = state.withColumn(
                f"avg_{c}",
                F.when(
                    F.col(f"cnt_{c}") > 0,
                    (F.col(f"sum_{c}") / F.col(f"cnt_{c}")).cast("double"),
                ),
            )
        for c in self.distinct_cols:
            state = state.withColumn(
                f"approx_distinct_{c}",
                F.hll_sketch_estimate(F.col(f"hll_{c}")).cast("long"),
            )
        return state

    def vacuum(self, watermark_seq: int) -> None:  # noqa: ARG002
        raise NotImplementedError(
            "continuous aggregates carry no tombstones; use rebucket() for "
            "layout maintenance"
        )
