"""Physical-plan audits: the optimizations the engine's scale story relies
on must actually appear in the plans (predicate/projection pushdown to
parquet, broadcast joins for dims, partial aggregation, no Python in
declarative paths)."""

from pyspark.sql import functions as F

from go_pq_cdc_elasticsearch_spark.catalog import load_table
from go_pq_cdc_elasticsearch_spark.sql import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    df = REGISTRY["q_s2_filter_project_topk"].spark(spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    df = REGISTRY["q_s2_filter_project_topk"].spark(spark, SF)
    plan = _plan(df)
    # scan must read only the needed columns, not all 11
    readschema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in readschema and "l_quantity" not in readschema


def test_broadcast_join_for_dim(spark):
    plan = _plan(REGISTRY["q_s3_join_broadcast"].spark(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_multiway_join_broadcasts_filtered_dim(spark):
    plan = _plan(REGISTRY["q_s4_join_multiway_top10"].spark(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_partial_aggregation(spark):
    plan = _plan(REGISTRY["q_s9_tpch_q1"].spark(spark, SF))
    # map-side partial agg before the shuffle
    assert "partial_" in plan


def test_topk_is_take_ordered(spark):
    plan = _plan(REGISTRY["q_s14_topk_orders"].spark(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_operators(spark):
    plan = _plan(REGISTRY["q_s6_join_semi_anti"].spark(spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_declarative_cdc_has_no_python(spark):
    # the CDC core must stay JVM-side: no BatchEvalPython/ArrowEvalPython
    for name in ("q_c1_cdc_apply", "q_c11_pipeline_actions", "q_s9_tpch_q1"):
        plan = _plan(REGISTRY[name].spark(spark, SF))
        assert "EvalPython" not in plan, name


def test_cdc_apply_single_shuffle(spark):
    plan = _plan(REGISTRY["q_c1_cdc_apply"].spark(spark, SF))
    # one exchange for the keyed window — not two
    assert plan.count("Exchange hashpartitioning") == 1


def test_events_filter_pushdown_survives_ns_conversion(spark):
    # the ts nanos->micros conversion must not block pushdown of OTHER cols
    events = load_table(spark, SF, "events").filter(F.col("user_id") == 3)
    plan = _plan(events.select("user_id", "value"))
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,3)]" in plan


def test_combo_checksums_stay_jvm_side(spark):
    # the canonical-checksum fold (sql/canon.py) must not drag the ext
    # queries off the codegen path: md5/conv/concat_ws are JVM expressions
    for name in ("q_sx1_ext_grouping", "q_sx2_ext_analytics"):
        plan = _plan(REGISTRY[name].spark(spark, SF))
        assert "EvalPython" not in plan, name


def test_canon_summary_partial_aggregation(spark):
    # the per-part reduction aggregates map-side before the final exchange
    from go_pq_cdc_elasticsearch_spark.sql.canon import spark_canon_summary

    df = spark_canon_summary(load_table(spark, SF, "orders"), "p")
    assert "partial_count" in _plan(df)


def test_ivf_assignment_is_map_only_and_probe_join_broadcasts(spark):
    # cell assignment: one ArrowEvalPython/MapInPandas pass, no Exchange
    # before it (no shuffle to build the "index"); probe join broadcasts
    # the tiny exploded query side.
    from go_pq_cdc_elasticsearch_spark.operators import similarity as SIM

    emb = load_table(spark, SF, "embeddings")
    cents = SIM.train_ivf_centroids(emb, n_centroids=4, sample=256)
    cells = SIM.with_ivf_cell(emb, cents)
    plan = _plan(cells)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan

    out = SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=3,
                       n_centroids=4, n_probe=2)
    jplan = _plan(out)
    assert "BroadcastHashJoin" in jplan


def test_quantize_embeddings_is_jvm_side_map_only(spark):
    # SQ8 quantization is pure column algebra: no Python eval, no shuffle
    from go_pq_cdc_elasticsearch_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = load_table(spark, SF, "embeddings")
    plan = _plan(quantize_embeddings(emb))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_winnowing_is_jvm_side_single_window_shuffle(spark):
    # winnowing: gram hash stays in codegen (no EvalPython); exactly one
    # hashpartitioning exchange (the per-doc window; distinct reuses it)
    from go_pq_cdc_elasticsearch_spark.operators.dedup import winnow_fingerprints

    docs = load_table(spark, SF, "documents")
    plan = _plan(winnow_fingerprints(docs))
    assert "EvalPython" not in plan
    # the distinct's aggregate reuses the window's doc_id partitioning,
    # so the whole operator is ONE shuffle
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_is_equi_join_not_nested_loop(spark):
    # the bucketed formulation must plan as a hash-partitionable equi-join
    # on the bucket id; a bare range predicate would fall back to
    # BroadcastNestedLoopJoin (fine only when one side broadcasts)
    from go_pq_cdc_elasticsearch_spark.operators.ranges import bucketed_range_join

    li = load_table(spark, SF, "lineitem").select(
        F.col("l_quantity").cast("double").alias("v")
    )
    iv = spark.range(12).select(
        F.col("id").alias("band"),
        (F.col("id") * 5 - 2).cast("double").alias("lo"),
        (F.col("id") * 5 + 4).cast("double").alias("hi"),
    )
    plan = _plan(bucketed_range_join(li, iv, "v", width=5.0))
    assert "NestedLoop" not in plan
    assert "__bucket" in plan  # the equi-join key exists in the plan


def test_sessionize_single_window_shuffle(spark):
    from go_pq_cdc_elasticsearch_spark.operators.ranges import sessionize

    ev = load_table(spark, SF, "events")
    plan = _plan(sessionize(ev))
    # one exchange for the per-user window; the groupBy reuses the
    # partitioning (user_id prefix), so partial agg + no second shuffle on
    # a different key
    assert plan.count("Exchange hashpartitioning(user_id") >= 1
    assert "EvalPython" not in plan


def test_funnel_single_shuffle(spark):
    from go_pq_cdc_elasticsearch_spark.operators.events import funnel_conversion

    ev = load_table(spark, SF, "events")
    plan = _plan(funnel_conversion(ev, ["view", "click", "purchase"]))
    # one greedy fold over per-user sorted events — NOT a re-join per step
    assert plan.count("Exchange hashpartitioning") == 1


def test_lsh_index_probe_partition_prunes(spark):
    # the incremental dedup index's cross-batch probe must read ONLY the
    # state buckets the batch's band hashes fall in — the property that
    # keeps probing independent of corpus size at 100 TB
    import os
    import tempfile

    from go_pq_cdc_elasticsearch_spark.operators.dedup import minhash_band_rows
    from go_pq_cdc_elasticsearch_spark.streaming.incremental_dedup import (
        LshDedupIndex,
    )

    docs = load_table(spark, SF, "documents")
    work = tempfile.mkdtemp(prefix="lshplan_")
    idx = LshDedupIndex(spark, os.path.join(work, "idx"), n_buckets=64)
    idx.process_batch(
        docs.filter(F.col("doc_id") % 2 == 0), corpus=docs, epoch_id=0
    )
    n_dirs = len(idx.view._live_buckets())
    assert n_dirs > 8  # a 2.5k-doc batch populates most of the 64 buckets
    # probe with the INDEX's band layout (k=16, bands=8) — a mismatched
    # family would prune to the wrong buckets and never hit state rows.
    # ONE doc probes at most 8 buckets of the 64.
    probe = minhash_band_rows(
        docs.filter(F.col("doc_id") == 1), "text", "doc_id", k=16, bands=8
    )
    touched = {
        r["b"]
        for r in probe.select(idx.view._bucket_expr().alias("b"))
        .distinct()
        .collect()
    }
    assert 0 < len(touched) <= 8 < n_dirs
    # pruning is STRUCTURAL since r10: read_buckets snapshots the file
    # list of ONLY the touched bucket dirs, so the scan's inputs must all
    # lie under them — untouched dirs never even enter the plan
    files = idx._indexed_bands(probe).inputFiles()
    assert files, "probe read no state files"
    touched_dirs = {f"__bucket={b}" for b in touched}
    for f in files:
        part = [seg for seg in f.split("/") if seg.startswith("__bucket=")]
        assert part and part[0] in touched_dirs, f
    # pruning survives compaction (r11, VERDICT r10 item 1): a second
    # append grows segments, compact() collapses each bucket to one file,
    # and the probe must STILL read only the touched dirs — one file each
    idx.process_batch(
        docs.filter(F.col("doc_id") % 2 == 1), corpus=docs, epoch_id=1
    )
    assert any(n > 1 for n in idx.view.segment_counts().values())
    idx.compact()
    assert all(n == 1 for n in idx.view.segment_counts().values())
    files = idx._indexed_bands(probe).inputFiles()
    assert files and len(files) == len({f.rsplit("/", 2)[1] for f in files})
    for f in files:
        part = [seg for seg in f.split("/") if seg.startswith("__bucket=")]
        assert part and part[0] in touched_dirs, f


def test_semantic_dedup_pairs_are_cell_equi_join(spark):
    # the quadratic step must be CONFINED to cells: the pair generation is
    # an equi-join on the cell id, never a global cartesian product
    from go_pq_cdc_elasticsearch_spark.operators import similarity as SIM

    emb = load_table(spark, SF, "embeddings").limit(200)
    cents = SIM.train_ivf_centroids(emb, n_centroids=4, sample=256)
    cells = SIM.with_ivf_cell(emb, cents)
    a = cells.select(F.col("cell"), F.col("vec_id").alias("id1"),
                     F.col("embedding").alias("__v1"))
    b = cells.select(F.col("cell"), F.col("vec_id").alias("id2"),
                     F.col("embedding").alias("__v2"))
    pairs = a.join(b, "cell").filter(F.col("id1") < F.col("id2"))
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bounded_claim_queries_have_no_cartesian_blowup(spark):
    # q_lx1/q_lx4 combine 1-row claim frames via crossJoin — legitimate
    # (single-row broadcast), but the DATA-SCALED side must stay free of
    # cartesian/unpruned nested-loop shapes
    from go_pq_cdc_elasticsearch_spark.sql import EXT_REGISTRY

    for name in ("q_lx1_ann_ivf", "q_lx4_semantic_dedup"):
        df = EXT_REGISTRY[name].spark(spark, SF)
        plan = _plan(df)
        # every nested-loop join in these plans must be against a 1-row
        # aggregate (the claim scalar), which Spark plans as a broadcast
        # of that single row — a CartesianProduct would mean the corpus
        # sides got crossed
        assert "CartesianProduct" not in plan, name


def test_repetition_metrics_exactly_five_generates(spark):
    # r7 union-branch pruning halved the gram explode work: the rank path
    # explodes only top_ns (2,3,4) and the dup path only dup_ns (5,10) —
    # 5 Generate operators total, one per n value. Before the pruning the
    # single shared pipeline exploded all 5 n values into BOTH branches
    # (10 Generates), doubling the dominant corpus-scale cost (PERF.md
    # round-7 note). Pin the count so a refactor can't silently regress it.
    from go_pq_cdc_elasticsearch_spark.operators.repetition import (
        DUP_NS,
        TOP_NS,
        repetition_metrics,
    )

    docs = load_table(spark, SF, "documents")
    plan = _optimized(repetition_metrics(docs))
    n_generates = sum(
        1 for ln in plan.splitlines() if ln.lstrip(" :+-").startswith("Generate ")
    )
    assert n_generates == len(set(TOP_NS) | set(DUP_NS)) == 5, plan


def test_semantic_dedup_exact_config_stays_jvm_side(spark):
    """r9 perf pin: the n_centroids=1 exact config (the q_lx4 anchor twin)
    must not touch Python at all — no k-means train collect, no Arrow
    cell-assignment pass. The pair-candidate plan is pure JVM (literal
    cell + self-join + cosine column algebra); a regression back to
    with_ivf_cell would reintroduce an ArrowEvalPython/MapInPandas stage."""
    from pyspark.sql import functions as F

    from go_pq_cdc_elasticsearch_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = load_table(spark, SF, "embeddings").limit(50)
    out = semantic_dedup(
        emb.select("vec_id", "embedding"), tau=0.99, n_centroids=1
    )
    plan = _plan(out)
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
    # and it still computes: planted exact duplicate must be dropped
    dup = emb.limit(1).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"), "embedding"
    )
    planted = emb.select("vec_id", "embedding").unionByName(dup)
    kept = semantic_dedup(planted, tau=0.999, n_centroids=1)
    assert kept.count() == 50  # the scaled-up twin removed, nothing else


def test_paragraph_dedup_keep_first_is_partial_min_not_window(spark):
    """r10 de-skew (VERDICT r9 item 3): the keep-first decision must be a
    min(struct(id, pos, line)) AGGREGATE with map-side partial aggregation
    — a row_number window over the line key would funnel every copy of a
    hot boilerplate line into one task. Pin: partial_min on the hot path,
    no Window operator, no EvalPython anywhere."""
    from go_pq_cdc_elasticsearch_spark.operators.dedup import paragraph_dedup

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = _plan(paragraph_dedup(docs))
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan
    assert "EvalPython" not in plan, plan
