"""The ``declared_queries`` workload: a closed loop with one client that
runs passes over a list of ``REGISTRY`` queries, order shuffled by the
seed, on tables generated from the seed (``tables.py``).

Set-up starts the Spark session, writes the tables and runs one warm-up
pass. A timed pass builds each query (``Query.spark``) and collects its
rows; the run makes a fixed number of passes for ``--seconds`` (see
``nominal_pass_s`` in ``workloads.json``). After the timed window, every
collected result is compared with the query's
DuckDB oracle through ``testing_utils.compare_rows`` (the comparison
behind ``compare``).
"""

from __future__ import annotations

import random
import sys
import time

from perfbench import tables
from perfbench.common import median, pct, result
from perfbench.trace import (
    Tracer,
    max_job_id,
    spark_layer,
    spark_status,
    trace_path,
)


def install_tracer(names: list[str]) -> Tracer:
    """Wrap ``catalog.load_table`` (everywhere it was imported) and each
    listed query's ``Query.spark``."""
    from go_pq_cdc_elasticsearch_spark import catalog
    from go_pq_cdc_elasticsearch_spark.sql import REGISTRY

    tr = Tracer()
    tr.count_py4j()
    original = catalog.load_table
    tr.wrap(catalog, "load_table", "catalog.load_table")
    wrapped = catalog.load_table
    for mod in list(sys.modules.values()):
        if mod is not catalog and getattr(mod, "load_table", None) is original:
            mod.load_table = wrapped
    for name in names:
        tr.wrap(REGISTRY[name], "spark", "sql.plan")
    return tr


def _pass(spark, sf_dir, names, tr=None):
    """One pass: per-query wall times and results (None if it raised)."""
    from go_pq_cdc_elasticsearch_spark.sql import REGISTRY

    times, results = {}, {}
    for name in names:
        t = time.time()
        span = tr.open("sql.query", name) if tr else None
        try:
            df = REGISTRY[name].spark(spark, sf_dir)
            ex = tr.open("sql.exec", name) if tr else None
            results[name] = (list(df.columns), [tuple(r) for r in df.collect()])
            if tr:
                tr.close(ex)
        except Exception:  # noqa: BLE001 — a failed query is a failed op
            results[name] = None
        if tr:
            tr.close(span)
        times[name] = time.time() - t
    return times, results


def query_traffic(spans: list[dict], jobs: list[dict]) -> dict:
    """Per query, the median over passes of its Spark jobs, py4j round
    trips and shuffle bytes written; a job belongs to the query whose
    span was open when it was submitted."""
    per: dict[str, dict[str, list]] = {}
    for s in spans:
        mine = [j for j in jobs
                if s["t0"] * 1e3 <= j["submitted_ms"] <= s["t1"] * 1e3]
        q = per.setdefault(s["key"], {"jobs": [], "py4j": [], "shuffle": []})
        q["jobs"].append(len(mine))
        q["py4j"].append(s["py4j"])
        q["shuffle"].append(sum(j["shuffle_write_bytes"] for j in mine))
    out = {}
    for name, q in per.items():
        out[f"sql.{name}.jobs"] = (median(q["jobs"]), "count")
        out[f"sql.{name}.py4j"] = (median(q["py4j"]), "count")
        out[f"sql.{name}.shuffle_bytes"] = (median(q["shuffle"]), "bytes")
    return out


def oracles(sf_dir, names) -> dict:
    """Each query's DuckDB oracle result (None if it raised)."""
    from go_pq_cdc_elasticsearch_spark.sql import REGISTRY
    from go_pq_cdc_elasticsearch_spark.testing_utils import duckdb_con

    out = {}
    con = duckdb_con(sf_dir)
    try:
        for name in names:
            try:
                res = con.execute(REGISTRY[name].oracle)
                out[name] = ([d[0] for d in res.description], res.fetchall())
            except Exception:  # noqa: BLE001
                out[name] = None
    finally:
        con.close()
    return out


def run(args, cfg, sandbox, session, t_process) -> dict:
    names = list(cfg["queries"])
    random.Random(args.seed).shuffle(names)
    tr = install_tracer(names) if args.trace else None
    try:
        return _run(args, cfg, sandbox, session, t_process, names, tr)
    finally:
        if tr:
            tr.dump(trace_path(args))


def _run(args, cfg, sandbox, session, t_process, names, tr) -> dict:
    from go_pq_cdc_elasticsearch_spark.testing_utils import compare_rows

    spark = session.start()
    sf_dir = sandbox.fresh("tables")
    tables.generate(args.seed, sf_dir, cfg["tables"])
    _pass(spark, sf_dir, names)

    job0 = max_job_id(spark) if tr else -1
    py4j0 = tr.py4j if tr else 0
    t_start = time.time()
    setup_s = t_start - t_process
    passes: list[float] = []
    per_query: dict[str, list[float]] = {n: [] for n in names}
    results = []
    # a fixed number of passes for --seconds (its share of the nominal
    # pass time, at least three), so a slow host does the same work as a
    # fast one: the first timed passes still run slower as the JVM warms,
    # and a time-bound loop would weigh them by the host's speed
    for _ in range(max(3, round(args.seconds / cfg["nominal_pass_s"]))):
        times, res = _pass(spark, sf_dir, names, tr)
        results.append(res)
        passes.append(sum(times.values()))
        for n, t in times.items():
            per_query[n].append(t)
    t_stop = time.time()
    py4j_window = tr.py4j - py4j0 if tr else 0
    if tr:
        tr.py4j_enabled = False
        status = spark_status(spark, job0)
        tr.extra["spark_jobs"] = status["jobs"]

    expected = oracles(sf_dir, names)
    attempted = len(names) * len(results)
    failed = sum(
        1 for res in results for n in names
        if res[n] is None or expected[n] is None
        or compare_rows(*res[n], *expected[n])
    )

    print(f"perfbench: setup {round(setup_s, 2)} s, "
          f"passes {[round(p, 2) for p in passes]}, per-query medians "
          f"{ {n: round(median(v), 3) for n, v in per_query.items()} }",
          file=sys.stderr)
    # p50: the median pass, a sum over the whole query mix; p99: over the
    # query mix, each query counted once by its median time
    lat = [median(v) for v in per_query.values()]
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (median(passes), "s"),
        "latency_p99_s": (pct(lat, 99), "s"),
    }
    if not tr:
        return result(failed == 0, attempted, failed, e2e)

    n = len(passes)

    def in_window(name):
        return [s for s in tr.named(name) if t_start <= s["t0"] < t_stop]

    loads = in_window("catalog.load_table")
    layers = {
        "catalog.load_table_calls": (len(loads) / n, "count"),
        "catalog.load_table_s": (sum(s["t1"] - s["t0"] for s in loads) / n, "s"),
        "sql.plan_s": (
            sum(s["t1"] - s["t0"] for s in in_window("sql.plan")) / n, "s"),
        "sql.exec_s": (
            sum(s["t1"] - s["t0"] for s in in_window("sql.exec")) / n, "s"),
        "sql.jobs_per_pass": (status["n_jobs"] / n, "count"),
        "sql.py4j_per_pass": (py4j_window / n, "count"),
        "py4j.round_trips": (py4j_window, "count"),
        **spark_layer(status),
        "failed_share": (failed / attempted, "ratio"),
        **{f"sql.{k}_s": (median(v), "s") for k, v in per_query.items()},
        **query_traffic(in_window("sql.query"), status["jobs"]),
        **{f"traced.{k}": v for k, v in e2e.items()},
    }
    return result(failed == 0, attempted, failed, layers)
