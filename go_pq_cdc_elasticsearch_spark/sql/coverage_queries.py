"""Additional coverage queries: routing parity (Q-C8), the full
envelope->route->handler pipeline (Q-C11), and relational surface
extensions (pivot, cube, multi-distinct, percentiles, conditional aggs,
null handling, set/cross joins)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_pq_cdc_elasticsearch_spark import model
from go_pq_cdc_elasticsearch_spark.catalog import load_table
from go_pq_cdc_elasticsearch_spark.handlers import simple_handler
from go_pq_cdc_elasticsearch_spark.routing import IndexRouter
from go_pq_cdc_elasticsearch_spark.functions import text as TX
from go_pq_cdc_elasticsearch_spark.functions.rounding import pround
from go_pq_cdc_elasticsearch_spark.functions.rounding import pround_sql as PR
from go_pq_cdc_elasticsearch_spark.sql.registry import ext_query, query
from go_pq_cdc_elasticsearch_spark.sql.relational_queries import _dec_sum

ROUTING_CASES = [
    ("public", "users", "users-idx"),
    ("public", "users_2024", "users-idx"),
    ("public", "users_2024_01", "users-idx"),
    ("public", "orders_eu_2024", "eu-idx"),
    ("metrics", "cpu", "cpu-idx"),
    ("public", "unmapped_table", None),
]

_ROUTING_MAPPING = {
    "public.users": "users-idx",
    "public.orders_eu": "eu-idx",
    "metrics.cpu": "cpu-idx",
}


@query(
    "q_c8_routing",
    oracle="""
        SELECT * FROM (VALUES
            ('public', 'users', 'users-idx'),
            ('public', 'users_2024', 'users-idx'),
            ('public', 'users_2024_01', 'users-idx'),
            ('public', 'orders_eu_2024', 'eu-idx'),
            ('metrics', 'cpu', 'cpu-idx')
        ) AS t(table_schema, table_name, idx)
    """,
    doc="Routing resolution (reference connector.go:174-249): exact match, "
    "partition-parent prefix probe, unmapped-drop. Fixed input table, "
    "expected output enumerated — the engine must drop the unmapped row.",
)
def q_c8_routing(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    router = IndexRouter(_ROUTING_MAPPING)
    df = spark.createDataFrame(
        [(s, t) for s, t, _ in ROUTING_CASES],
        "table_schema string, table_name string",
    )
    return router.route(df, out_col="idx")


@query(
    "q_c11_pipeline_actions",
    oracle="""
        SELECT CASE WHEN event_type = 'error' THEN 'delete' ELSE 'index' END AS action,
               'events-idx' AS idx,
               count(*) AS n,
               j.n_roundtrip, j.n_ops
        -- event_type IS NOT NULL mirrors the engine's malformed-envelope
        -- contract: a NULL op seats NEITHER payload side in
        -- envelope_from_events, so the action is keyless and
        -- simple_handler's doc_id filter drops it (acked) — the bare
        -- CASE ELSE counted it as 'index' (caught by the extended nulls
        -- variant, review r8)
        FROM (SELECT * FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL) events
        CROSS JOIN (
            SELECT count(*) AS n_roundtrip,
                   count(DISTINCT json_extract_string(doc, '$.operation')) AS n_ops
            FROM (
                SELECT json_object('id', CAST(user_id AS VARCHAR),
                                   'operation', upper(event_type),
                                   'value', CAST(value AS VARCHAR)) AS doc
                FROM events)
            WHERE json_extract_string(doc, '$.id') IS NOT NULL) j
        GROUP BY action, idx, j.n_roundtrip, j.n_ops
    """,
    doc="Full CDC pipeline (R2 envelope -> R6 route -> R3 handler -> write "
    "plan): action counts per (action, index); 'error' plays DELETE. The "
    "JSON serialization round-trip check (former q_c12, folded for the "
    "driver's 50-entry window) rides along as constant columns.",
)
def q_c11_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    env = model.envelope_from_events(events, table="public.events")
    # shared one-select dual rewrite (model.remap_op_payloads): this exact
    # logic was duplicated here and in run_es_pipeline, and the sequenced-
    # withColumns bug it guards against was fixed in one copy then
    # hand-mirrored (review r8). The oracle mirrors the engine's
    # keyless-action drop (simple_handler filters doc_id IS NOT NULL)
    # with user_id IS NOT NULL.
    env = model.remap_op_payloads(
        env,
        lambda op: F.when(op == "ERROR", model.DELETE).otherwise(model.INSERT),
    )
    routed = IndexRouter({"public.events": "events-idx"}).route(env)
    actions = simple_handler(routed)
    counts = actions.groupBy(F.col("action"), F.col("index").alias("idx")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.crossJoin(_json_roundtrip(spark, sf_dir))


def _json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Former q_c12 body: build the doc with to_json, read fields back."""
    events = load_table(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("user_id").cast("string").alias("id"),
            F.upper("event_type").alias("operation"),
            F.col("value").cast("string").alias("value"),
        )
    )
    docs = events.select(doc.alias("doc"))
    return docs.filter(F.get_json_object("doc", "$.id").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_roundtrip"),
        F.countDistinct(F.get_json_object("doc", "$.operation")).alias("n_ops"),
    )


@query(
    "q_c13_schema_drift",
    oracle="""
        WITH b1 AS (
            SELECT user_id, event_id, event_type, value, NULL AS src
            FROM events WHERE event_id <= 2000 AND event_id % 2 = 0
        ),
        b2 AS (
            SELECT user_id, event_id, event_type, value,
                   CASE WHEN json_valid(props)
                        THEN json_extract_string(props, '$.source') END AS src
            FROM events WHERE event_id <= 2000 AND event_id % 2 = 1
        ),
        unioned AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY event_id DESC) rn
            FROM unioned
        )
        SELECT user_id, event_id, event_type, value, src
        FROM ranked WHERE rn = 1 AND event_type <> 'delete'
    """,
    doc="Cross-batch schema drift under the oracle (r2 verdict item 7): "
    "batch 1 materializes the view without the src column, batch 2 "
    "arrives WITH it (the reference's payloads are schemaless "
    "map[string]any, message.go:17-18 — columns can appear mid-stream); "
    "the drifted merge rewrites only touched buckets via "
    "unionByName(allowMissingColumns), and the manifest records the "
    "union schema that every read uses (sink/materialized.py, "
    "sink/store.py). Old keys never overwritten read back src "
    "NULL, newer wins carry the new column — exactly what the batch "
    "oracle's NULL-padded union computes.",
)
def q_c13_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from go_pq_cdc_elasticsearch_spark.sink.materialized import MaterializedView

    from go_pq_cdc_elasticsearch_spark.catalog import table_path
    from go_pq_cdc_elasticsearch_spark.sources.snapshot import parquet_feed_empty

    # parity split so BOTH batches are non-empty at every sf (an empty
    # drifted batch would never introduce the src column)
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") <= 2000
    )
    empty = spark.createDataFrame(
        [],
        "user_id long, event_id long, event_type string, value double, "
        "src string",
    )
    if parquet_feed_empty(table_path(sf_dir, "events"), "event_id", 2000):
        # empty feed: no merge ever initializes the view and read() raises;
        # the oracle's empty result is the in-contract answer (the q_t6
        # rule — found by the empty-events gate probe, review r5). Footer
        # row-group min-stat probe: zero Spark jobs (ADVICE r6)
        return empty
    b1 = events.filter(F.col("event_id") % 2 == 0).select(
        "user_id", "event_id", "event_type", "value"
    )
    b2 = events.filter(F.col("event_id") % 2 == 1).select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.source").alias("src"),
    )
    from go_pq_cdc_elasticsearch_spark.sql.registry import query_work_dir

    work = query_work_dir("drift_q_")
    view = MaterializedView(
        spark,
        os.path.join(work, "view"),
        keys=("user_id",),
        seq_col="event_id",
        op_col="event_type",
        delete_op="delete",
        n_buckets=4,  # >1 so the drifted merge exercises partial rewrite
    )
    view.merge_batch(b1, epoch_id=0)
    view.merge_batch(b2, epoch_id=1)
    try:
        return view.read().select(
            "user_id", "event_id", "event_type", "value", "src"
        )
    except FileNotFoundError:
        # belt for a feed the footer probe couldn't prove empty
        return empty


@ext_query(
    "q_c12_json_roundtrip",
    oracle="""
        SELECT count(*) AS n_roundtrip,
               count(DISTINCT json_extract_string(doc, '$.operation')) AS n_ops
        FROM (
            SELECT json_object('id', CAST(user_id AS VARCHAR),
                               'operation', upper(event_type),
                               'value', CAST(value AS VARCHAR)) AS doc
            FROM events)
        WHERE json_extract_string(doc, '$.id') IS NOT NULL
    """,
    doc="Envelope JSON serialization round-trip (R2/R9: handlers "
    "json.Marshal payloads, the sink ships JSON documents): build the doc "
    "with to_json, read fields back with get_json_object.",
)
def q_c12_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE implementation: q_c11's ride-along columns embed the same
    # round-trip — a drifting verbatim copy would silently desynchronize
    # them from this extension entry (review r6)
    return _json_roundtrip(spark, sf_dir)


@ext_query(
    "q_s33_decimal_types",
    oracle="""
        SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) AS VARCHAR) AS total_d,
               CAST(max(CAST(o_totalprice AS DECIMAL(10,2))) AS VARCHAR) AS max_d,
               CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) * 100 AS BIGINT)
                    // count(*) AS BIGINT) AS avg_cents
        FROM orders
    """,
    doc="DECIMAL(10,2) handling (the reference's price columns, "
    "integration_test/connector_test.go:440): exact decimal aggregation, "
    "string form compared so scale/precision must match too. The average "
    "is emitted as FLOOR-DIVIDED integer cents: Spark's round(avg(dec),2) "
    "yields a scale-2 decimal string ('1.70') while DuckDB's avg(DECIMAL) "
    "computes in DOUBLE and prints shortest-repr ('1.7') — any seed whose "
    "rounded average ends in a zero digit would mismatch on the string.",
)
def q_s33_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_totalprice").cast("decimal(10,2)")
    agg = orders.agg(
        F.sum(d).cast("string").alias("total_d"),
        F.max(d).cast("string").alias("max_d"),
        (F.sum(d) * 100).cast("long").alias("__cents"),
        F.count(F.lit(1)).alias("__n"),
    )
    return agg.select(
        "total_d",
        "max_d",
        F.expr("CAST(__cents DIV __n AS BIGINT)").alias("avg_cents"),
    )


@ext_query(
    "q_s23_pivot",
    oracle="""
        SELECT l_returnflag,
               CAST(sum(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END AS DECIMAL(30,10))) AS DOUBLE) AS qty_O,
               CAST(sum(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END AS DECIMAL(30,10))) AS DOUBLE) AS qty_F
        FROM lineitem GROUP BY l_returnflag
    """,
)
def q_s23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation over a categorical)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,10)")).cast("double"))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


@ext_query(
    "q_s24_having",
    oracle="""
        SELECT o_custkey, count(*) AS n
        FROM orders GROUP BY o_custkey HAVING count(*) >= 12
    """,
)
def q_s24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + HAVING filter."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 12)
    )


@ext_query(
    "q_s25_union_all",
    oracle="""
        SELECT count(*) AS n FROM (
            SELECT c_custkey AS k FROM customer
            UNION ALL
            SELECT o_custkey AS k FROM orders)
    """,
)
def q_s25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return c.unionAll(o).agg(F.count(F.lit(1)).alias("n"))


@ext_query(
    "q_s26_percentile",
    oracle=f"""
        SELECT {PR('quantile_cont(o_totalprice, 0.5)', 6)} AS p50,
               {PR('quantile_cont(o_totalprice, 0.95)', 6)} AS p95
        FROM orders
    """,
)
def q_s26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines: linear interpolation).
    The approximate variant (percentile_approx / GK sketch) is the scale
    path — see q_s26_approx."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        pround(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("p50"),
        pround(F.percentile("o_totalprice", F.lit(0.95)), 6).alias("p95"),
    )


@ext_query(
    "q_s26_approx_percentile",
    oracle="SELECT count(*) AS n, TRUE AS rank_ok_p50, TRUE AS rank_ok_p95 FROM orders",
)
def q_s26b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch percentiles (the 100 TB path), oracle-checked as a
    BOUNDED claim instead of rows-only: the GK sketch's contract is a RANK
    guarantee (error <= eps*n with eps = 1/accuracy = 1e-4), so the query
    re-ranks the sketch's answers against the data — count of rows <= the
    reported quantile must sit within 0.001*n + 5 ranks of the target rank
    (10x the sketch's own bound, plus slack for ties on 2-decimal money
    values) — and emits booleans the oracle's TRUE must hash-match.
    Integer rank arithmetic only: no cross-engine interpolation parity to
    maintain, unlike comparing the quantile VALUES."""
    orders = load_table(spark, sf_dir, "orders")
    approx = orders.agg(
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias("p50"),
        F.percentile_approx("o_totalprice", F.lit(0.95), F.lit(10000)).alias("p95"),
    )
    agg = orders.crossJoin(F.broadcast(approx)).agg(
        F.count(F.lit(1)).alias("n"),
        # coalesce: over EMPTY input the sums are NULL and the rank
        # booleans went three-valued NULL vs the oracle's vacuous TRUE
        # (empty_rel variant); with 0, abs(0 - 0) <= 5 holds naturally
        F.coalesce(
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("p50"), 1).otherwise(0)
            ),
            F.lit(0),
        ).alias("__le50"),
        F.coalesce(
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("p95"), 1).otherwise(0)
            ),
            F.lit(0),
        ).alias("__le95"),
    )
    n_d = F.col("n").cast("double")
    tol = n_d * F.lit(0.001) + F.lit(5.0)
    return agg.select(
        "n",
        (F.abs(F.col("__le50").cast("double") - F.lit(0.5) * n_d) <= tol).alias(
            "rank_ok_p50"
        ),
        (F.abs(F.col("__le95").cast("double") - F.lit(0.95) * n_d) <= tol).alias(
            "rank_ok_p95"
        ),
    )


@ext_query(
    "q_s27_in_subquery",
    oracle="""
        SELECT count(*) AS n FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    """,
)
def q_s27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (decorrelated to a semi-join by Catalyst). Unique view
    names — createOrReplaceTempView("orders") silently repointed the
    session-global view for every later spark.sql consumer when sf_dirs
    differ (the q_s21 rule, missed here; review r6)."""
    import uuid as _uuid

    vo = "q_s27_orders_" + _uuid.uuid4().hex[:12]
    vc = "q_s27_customer_" + _uuid.uuid4().hex[:12]
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(vo)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(vc)
    return spark.sql(
        f"""
        SELECT count(*) AS n FROM {vo}
        WHERE o_custkey IN (SELECT c_custkey FROM {vc} WHERE c_acctbal > 5000)
        """
    )


@ext_query(
    "q_s28_cube",
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS prio,
               count(*) AS n
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        -- Spark emits no grouping-set rows over empty input (see q_s11)
        HAVING count(*) > 0
    """,
)
def q_s28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE multi-level aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("prio"),
            "n",
        )
    )


@ext_query(
    "q_s29_multi_distinct",
    oracle="""
        SELECT count(DISTINCT l_partkey) AS d_parts,
               count(DISTINCT l_suppkey) AS d_supps,
               count(DISTINCT l_orderkey) AS d_orders,
               count(*) AS n
        FROM lineitem
    """,
)
def q_s29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one pass (Expand-based plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("d_parts"),
        F.countDistinct("l_suppkey").alias("d_supps"),
        F.countDistinct("l_orderkey").alias("d_orders"),
        F.count(F.lit(1)).alias("n"),
    )


@ext_query(
    "q_s30_cross_join",
    oracle="""
        SELECT r_name, count(*) AS n
        FROM region CROSS JOIN nation GROUP BY r_name
    """,
)
def q_s30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (small dims)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(nation).groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n")
    )


@ext_query(
    "q_s31_null_handling",
    oracle="""
        SELECT user_id,
               count(*) AS n,
               CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
               CAST(sum(CAST(coalesce(prev, 0.0) AS DECIMAL(30,10))) AS DOUBLE) AS prev_sum
        FROM (
            SELECT user_id,
                   lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events WHERE ts IS NOT NULL)
        GROUP BY user_id
    """,
)
def q_s31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics: lag-produced nulls through coalesce / IS NULL.
    NULL-ts rows are excluded on both sides (the standing rule for every
    window ordered by the nullable ts: Spark windows are NULLS FIRST,
    DuckDB NULLS LAST, so their position — and therefore lag()'s
    neighbors — diverges; confirmed by execution, review r5)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("prev", F.lag("value").over(w))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("prev").isNull(), 1).otherwise(0)).alias("n_first"),
            F.sum(F.coalesce("prev", F.lit(0.0)).cast("decimal(30,10)"))
            .cast("double")
            .alias("prev_sum"),
        )
    )


@ext_query(
    "q_s39_tpch_q5_style",
    oracle="""
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) AS revenue
        FROM region
        JOIN nation   ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
        GROUP BY n_name
    """,
)
def q_s39(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 5-way join: three broadcast dims chained onto the
    fact-fact join — revenue by nation for one region."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    dims = (
        customer.join(
            F.broadcast(nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)),
            customer.c_nationkey == nation.n_nationkey,
        )
        .select("c_custkey", "n_name")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@ext_query(
    "q_s40_correlated_agg",
    oracle="""
        SELECT count(*) AS n FROM orders o
        WHERE CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 2 * (
                SELECT count(*) FROM orders o2
                WHERE o2.o_custkey = o.o_custkey)
            > 3 * (
                SELECT sum(CAST(CAST(o2.o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT))
                FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_s40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries with aggregation — Catalyst
    decorrelates to aggregates + self-joins. The predicate is
    ``price > 1.5 * avg(per-customer)`` multiplied through to exact
    integer-cents arithmetic (``2*cents*n > 3*sum_cents``): the naive
    DOUBLE avg differs between engines by accumulation order, and a
    regenerated seed can land a price inside that wobble of the
    threshold — an unprotected integer-count divergence."""
    import uuid as _uuid

    vo = "q_s40_orders_" + _uuid.uuid4().hex[:12]  # the q_s21 rule (review r6)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(vo)
    return spark.sql(
        f"""
        SELECT count(*) AS n FROM {vo} o
        WHERE CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 2 * (
                SELECT count(*) FROM {vo} o2
                WHERE o2.o_custkey = o.o_custkey)
            > 3 * (
                SELECT sum(CAST(CAST(o2.o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT))
                FROM {vo} o2 WHERE o2.o_custkey = o.o_custkey)
        """
    )


@ext_query(
    "q_s41_unpivot",
    oracle=f"""
        SELECT metric, {PR('CAST(sum(CAST(val AS DECIMAL(30,10))) AS DOUBLE)', 4)} AS total
        FROM (
            SELECT 'quantity' AS metric, l_quantity AS val FROM lineitem
            UNION ALL
            SELECT 'discount' AS metric, l_discount AS val FROM lineitem
            UNION ALL
            SELECT 'tax' AS metric, l_tax AS val FROM lineitem)
        GROUP BY metric
    """,
)
def q_s41(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long via stack) + aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.selectExpr(
        "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax)"
        " AS (metric, val)"
    )
    return long.groupBy("metric").agg(
        pround(F.sum(F.col("val").cast("decimal(30,10)")).cast("double"), 4).alias(
            "total"
        )
    )


@ext_query(
    "q_s42_tpch_q10_style",
    oracle="""
        SELECT c_custkey, c_name, n_name,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) AS revenue
        FROM customer
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q_s42(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item report: top customers by returned
    revenue."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    cd = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "c_name", "n_name")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cd), orders.o_custkey == cd.c_custkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@ext_query(
    "q_s44_time_bucket_rollup",
    oracle="""
        SELECT strftime(make_timestamp(CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS bucket,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS total,
               count(DISTINCT user_id) AS n_users
        FROM events GROUP BY bucket
    """,
    doc="time_bucket continuous-aggregate rollup (TimescaleDB hypertable "
    "flavor — the reference routes hypertable chunks, connector.go:184-189; "
    "this is the aggregate users run on them): 15-minute buckets.",
)
def q_s44(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    from go_pq_cdc_elasticsearch_spark.functions.time import time_bucket_ntz

    # tz-free wall-time bucketing via the SHARED helper (functions/
    # time.py::time_bucket_ntz — field extraction + NTZ reassembly, never
    # through the session zone; the unix_timestamp round-trip form shifts
    # under non-UTC zones/DST). A hand-rolled string-assembly copy lived
    # here before — one bucketing implementation, one place (review r5).
    bucket = F.date_format(time_bucket_ntz("ts", 15), "yyyy-MM-dd HH:mm:ss")
    return events.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(30,10)")).cast("double").alias("total"),
        F.countDistinct("user_id").alias("n_users"),
    )


@ext_query(
    "q_s43_lateral_explode",
    oracle="""
        SELECT word, count(*) AS n FROM (
            SELECT unnest(string_split(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ')) AS word
            FROM documents WHERE doc_id <= 100)
        GROUP BY word
        ORDER BY n DESC, word LIMIT 25
    """,
)
def q_s43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode (1->N row expansion) + aggregation: word frequency."""
    from go_pq_cdc_elasticsearch_spark.functions.text import words

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    return (
        docs.select(F.explode(words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(25)
    )


@ext_query(
    "q_s34_window_misc",
    oracle=f"""
        SELECT o_orderkey,
               ntile(4) OVER w AS quartile,
               {PR('percent_rank() OVER w', 6)} AS pr,
               {PR('cume_dist() OVER w', 6)} AS cd,
               first_value(o_orderkey) OVER w AS first_k,
               nth_value(o_orderkey, 2) OVER w AS second_k
        FROM orders
        WHERE o_custkey <= 50
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_s34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window analytics: ntile / percent_rank / cume_dist / first/nth value."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        pround(F.percent_rank().over(w), 6).alias("pr"),
        pround(F.cume_dist().over(w), 6).alias("cd"),
        F.first("o_orderkey").over(w).alias("first_k"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_k"),
    )


@ext_query(
    "q_s35_string_advanced",
    oracle="""
        SELECT p_partkey,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS consonants,
               levenshtein(regexp_replace(p_brand, '[^\\x00-\\x7F]', '?', 'g'),
                           regexp_replace(p_type, '[^\\x00-\\x7F]', '?', 'g')) AS lev,
               left(p_name, 5) AS l5,
               right(p_name, 5) AS r5,
               repeat(p_brand, 2) AS b2,
               lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
               replace(p_type, ' ', '-') AS type_dash
        FROM part WHERE p_partkey <= 100
    """,
)
def q_s35(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalars: global regexp_replace, levenshtein, pad/repeat/trim."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    return part.select(
        "p_partkey",
        F.regexp_replace("p_name", "[aeiou]", "_").alias("consonants"),
        # ASCII-projected: byte- vs codepoint-levenshtein (review r7)
        F.levenshtein(
            TX.ascii_projected(F.col("p_brand")), TX.ascii_projected(F.col("p_type"))
        ).alias("lev"),
        F.substring("p_name", 1, 5).alias("l5"),
        F.substring(F.col("p_name"), -5, 5).alias("r5"),
        F.repeat("p_brand", 2).alias("b2"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("-")).alias("type_dash"),
    )


@ext_query(
    "q_s36_array_advanced",
    oracle=f"""
        SELECT vec_id,
               {PR('CAST(embedding[1] AS DOUBLE) + CAST(embedding[64] AS DOUBLE)', 6)} AS ends,
               {PR('list_min(embedding)', 6)} AS mn,
               CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
               {PR('list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))', 6)} AS s,
               {PR('CAST(list_sort(embedding)[32] AS DOUBLE)', 6)} AS med_lo
        FROM embeddings WHERE vec_id <= 20
    """,
)
def q_s36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalars: element_at ends, min, filtered count, sum, sort+index."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") <= 20)
    esum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return emb.select(
        "vec_id",
        # try_element_at: ANSI mode raises INVALID_ARRAY_INDEX on a short/
        # empty array while the oracle's [i] yields NULL (the q_s19 rule)
        pround(
            F.try_element_at("embedding", F.lit(1)).cast("double")
            + F.try_element_at("embedding", F.lit(64)).cast("double"),
            6,
        ).alias("ends"),
        pround(F.array_min("embedding").cast("double"), 6).alias("mn"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
        pround(esum, 6).alias("s"),
        pround(
            F.try_element_at(F.sort_array("embedding"), F.lit(32)).cast("double"), 6
        ).alias("med_lo"),
    )


@ext_query(
    "q_s37_grouping_id",
    oracle="""
        SELECT coalesce(l_returnflag, '(null)') AS flag,
               coalesce(l_linestatus, '(null)') AS status,
               grouping(l_returnflag) AS g_flag,
               grouping(l_linestatus) AS g_status,
               count(*) AS n
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        -- Spark emits no grouping-set rows over empty input (see q_s11)
        HAVING count(*) > 0
    """,
)
def q_s37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping() markers distinguish rollup NULLs from data NULLs."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(null)")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("(null)")).alias("status"),
            "g_flag",
            "g_status",
            "n",
        )
    )


@ext_query(
    "q_s38_datetime_advanced",
    oracle="""
        SELECT strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
               strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
               CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since,
               dayofweek(o_orderdate) AS dow,
               CAST(extract(quarter FROM o_orderdate) AS BIGINT) AS q,
               CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        FROM orders WHERE o_orderkey <= 100
    """,
)
def q_s38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalars: interval add, last_day, datediff, dow, quarter,
    epoch. (DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1.)"""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 100)
    return orders.select(
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 3 MONTH"), "yyyy-MM-dd").alias("plus3m"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since"),
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@ext_query(
    "q_s32_conditional_agg",
    oracle="""
        SELECT l_returnflag,
               count(*) FILTER (WHERE l_quantity > 25) AS n_big,
               count(*) FILTER (WHERE l_discount = 0) AS n_nodisc,
               CAST(sum(CAST(CASE WHEN l_tax > 0.05 THEN l_extendedprice ELSE 0 END
                             AS DECIMAL(30,10))) AS DOUBLE) AS taxed_price
        FROM lineitem GROUP BY l_returnflag
    """,
)
def q_s32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER / CASE inside aggregates)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 25).alias("n_big"),
        F.count_if(F.col("l_discount") == 0).alias("n_nodisc"),
        F.sum(
            F.when(F.col("l_tax") > 0.05, F.col("l_extendedprice"))
            .otherwise(0)
            .cast("decimal(30,10)")
        )
        .cast("double")
        .alias("taxed_price"),
    )


@ext_query(
    "q_s45_range_join",
    oracle="""
        WITH iv AS (
            SELECT i AS band, CAST(i*5 - 2 AS DOUBLE) AS lo,
                   CAST(i*5 + 4 AS DOUBLE) AS hi
            FROM range(12) t(i)
        ), p AS (
            SELECT CAST(l_quantity AS DOUBLE) AS v FROM lineitem
        )
        SELECT band, count(*) AS n,
               CAST(sum(CAST(v AS DECIMAL(30,10))) AS DOUBLE) AS sum_v
        FROM p JOIN iv ON v >= lo AND v < hi
        GROUP BY band
    """,
)
def q_s45(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via the bucketed equi-join formulation —
    overlapping quantity bands against lineitem; Spark would otherwise plan
    a bare range predicate as BroadcastNestedLoopJoin (operators/ranges.py
    docstring has the scale analysis)."""
    from go_pq_cdc_elasticsearch_spark.operators.ranges import bucketed_range_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("v")
    )
    iv = spark.range(12).select(
        F.col("id").alias("band"),
        (F.col("id") * 5 - 2).cast("double").alias("lo"),
        (F.col("id") * 5 + 4).cast("double").alias("hi"),
    )
    j = bucketed_range_join(li, iv, "v", width=5.0)
    return j.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(F.col("v"), "sum_v"),
    )


@ext_query(
    "q_s46_sessionize",
    oracle="""
        WITH e AS (
            -- ts IS NOT NULL mirrors sessionize(): unknown event times
            -- belong to no session (and the engines' NULL sort orders
            -- would otherwise group them structurally differently)
            SELECT user_id, ts FROM events
            WHERE user_id <= 200 AND ts IS NOT NULL
        ), l AS (
            SELECT user_id, ts, epoch_us(ts) AS us,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
            FROM e
        ), t AS (
            SELECT user_id, ts,
                   CASE WHEN prev IS NULL OR us - prev > 1800000000
                        THEN 1 ELSE 0 END AS nw
            FROM l
        ), g AS (
            SELECT user_id, ts,
                   CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts)
                        AS BIGINT) AS session_id
            FROM t
        )
        SELECT user_id, session_id, min(ts) AS session_start,
               max(ts) AS session_end, count(*) AS n_events
        FROM g GROUP BY user_id, session_id
    """,
)
def q_s46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands, 30-min gap) — the batch twin
    of q_t3's streaming session windows; exact integer-microsecond gap
    math on both engines."""
    from go_pq_cdc_elasticsearch_spark.operators.ranges import sessionize

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 200)
    return sessionize(ev, ts_col="ts", key_col="user_id", gap_seconds=1800)


@ext_query(
    "q_s47_fuzzy_join",
    oracle="""
        WITH n AS (SELECT DISTINCT p_name AS s FROM part
                   WHERE length(p_name) >= 6)
        SELECT a.s AS s1, b.s AS s2,
               -- ASCII projection before the distance: DuckDB levenshtein
               -- is BYTE-based, Spark's codepoint-based (review r7) —
               -- mirrors operators/fuzzy.py / functions/text.py
               CAST(levenshtein(regexp_replace(a.s, '[^\\x00-\\x7F]', '?', 'g'),
                                regexp_replace(b.s, '[^\\x00-\\x7F]', '?', 'g')) AS BIGINT) AS dist
        FROM n a JOIN n b ON a.s < b.s
        WHERE levenshtein(regexp_replace(a.s, '[^\\x00-\\x7F]', '?', 'g'),
                          regexp_replace(b.s, '[^\\x00-\\x7F]', '?', 'g')) <= 2
    """,
)
def q_s47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string self-join on part names (edit distance <= 2) via
    q-gram blocking + candidate-only levenshtein verify; the oracle runs
    the naive quadratic form, so a hash match also certifies the blocking
    is complete. Both sides restrict to length >= 6 — the q-gram pigeonhole
    guarantee (some bigram survives max_dist edits) only holds from
    max_dist*q + q - 1 + 1 chars; a regenerated seed with one shorter name
    near another would otherwise silently drop the pair on the Spark side
    while the quadratic oracle finds it (operators/fuzzy.py documents the
    broadcast fallback a caller wires for the short-string remainder)."""
    from go_pq_cdc_elasticsearch_spark.operators.fuzzy import fuzzy_self_join

    names = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("s"))
        .filter(F.length("s") >= 6)
        .distinct()
    )
    out = fuzzy_self_join(names, text_col="s", id_col="s", max_dist=2, q=2)
    return out.select("s1", "s2", "dist")


@ext_query(
    "q_s48_histogram_moments",
    oracle=f"""
        SELECT CAST(floor(CAST(l_quantity AS DOUBLE) / 10) AS BIGINT) AS bin,
               count(*) AS n,
               {PR('CAST(stddev_pop(CAST(l_extendedprice AS DOUBLE)) AS DOUBLE)', 2)} AS sd_price,
               {PR('''CAST(corr(CAST(l_extendedprice AS DOUBLE),
                               CAST(l_discount AS DOUBLE)) AS DOUBLE)''', 6)} AS corr_pd,
               {PR('''CAST(covar_pop(CAST(l_extendedprice AS DOUBLE),
                                    CAST(l_tax AS DOUBLE)) AS DOUBLE)''', 2)} AS cov_pt
        FROM lineitem GROUP BY bin
    """,
)
def q_s48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram binning + second-moment aggregates (stddev / corr /
    covar): the OLAP profiling staple. Rounding makes the float
    accumulation-order differences between engines irrelevant."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("double")
    return li.groupBy(
        F.floor(F.col("l_quantity").cast("double") / 10).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.stddev_pop(price), 2).alias("sd_price"),
        pround(F.corr(price, F.col("l_discount").cast("double")), 6).alias(
            "corr_pd"
        ),
        pround(F.covar_pop(price, F.col("l_tax").cast("double")), 2).alias(
            "cov_pt"
        ),
    )


@ext_query(
    "q_s49_funnel",
    oracle="""
        WITH s0 AS (
            -- ts IS NOT NULL: a user whose every 'view' has NULL ts still
            -- forms a group here (min over all-NULL is NULL) and would be
            -- counted; the operator excludes NULL-ts events (no timestamp,
            -- no temporal order)
            SELECT user_id, min(ts) AS t0 FROM events
            WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY user_id
        ), s1 AS (
            SELECT e.user_id, min(e.ts) AS t1 FROM events e JOIN s0 USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY e.user_id
        ), s2 AS (
            SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY e.user_id
        )
        SELECT 0 AS step_idx, 'view' AS step,
               (SELECT count(*) FROM s0) AS n_completed
        UNION ALL
        SELECT 1, 'click', (SELECT count(*) FROM s1)
        UNION ALL
        SELECT 2, 'purchase', (SELECT count(*) FROM s2)
    """,
)
def q_s49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion (view -> click -> purchase, greedy in-order
    semantics): per-step completion counts (operators/events.py)."""
    from go_pq_cdc_elasticsearch_spark.operators.events import funnel_conversion

    events = load_table(spark, sf_dir, "events")
    return funnel_conversion(events, ["view", "click", "purchase"])


@ext_query(
    "q_s50_transitions",
    oracle="""
        SELECT from_type, to_type, count(*) AS n FROM (
            SELECT lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS from_type,
                   event_type AS to_type
            FROM events WHERE ts IS NOT NULL)
        WHERE from_type IS NOT NULL
        GROUP BY from_type, to_type
    """,
)
def q_s50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix per user (lag + count;
    seq tie-break makes it deterministic) — operators/events.py."""
    from go_pq_cdc_elasticsearch_spark.operators.events import transition_counts

    events = load_table(spark, sf_dir, "events")
    return transition_counts(events)
