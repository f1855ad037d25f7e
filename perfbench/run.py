"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads, sizes and the reasons for
them are in ``perfbench/workloads.json``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones (the traced run
wraps the engine's public entry points, see ``trace.py``).

Each run is a fresh process with its own temp directory under
``.perfbench_tmp/`` in the checkout (TMPDIR, Spark local dirs, the JVM's
tmpdir and every engine work dir), removed at exit. Span dumps of traced
runs go to ``.perfbench_out/``. The benchmark never reads or writes
``bench.py``'s history or caches.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_PROCESS = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.common import CONFIG, Sandbox, Session  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import go_pq_cdc_elasticsearch_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not found under {ROOT}: {e}",
              file=sys.stderr)
        return 2
    # the benchmark owns every setting the engine reads from the
    # environment, so two runs differ only in their seed
    for k in ("SPARK_GRAFT_TZ", "SPARK_GRAFT_PARQUET_CODEC",
              "SPARK_GRAFT_DF_DEBUGGING", "SPARK_GRAFT_CPUS",
              "SPARK_LOCAL_DIRS"):
        os.environ.pop(k, None)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"

    sandbox = Sandbox()
    session = Session(sandbox)
    try:
        if args.workload == "declared_queries":
            from perfbench import queries as mod
        else:
            from perfbench import cdc as mod
        out = mod.run(args, CONFIG[args.workload], sandbox, session, T_PROCESS)
    finally:
        try:
            sandbox.run_deferred()
            session.shutdown()
        finally:
            sandbox.remove()
    out["metrics"] = declared(out["metrics"], "per_layer" if args.trace else "end_to_end")
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
    return 0


def declared(metrics: dict, kind: str) -> dict:
    """Exactly the metrics ``BENCHMARK.json`` lists under ``kind``, in its
    order. The result line must carry every listed metric, so a per-layer
    metric the workload does not reach reads 0 (for example ``sql.*`` on
    ``cdc_live``; README.md lists which layers each workload reaches) and
    is named on stderr as not reached, so it is not read as a measured 0.
    A metric the code produces but the file does not list is an error."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)[kind]
    names = {m["name"] for m in listed}
    extra = sorted(set(metrics) - names)
    if extra:
        raise KeyError(f"metrics not listed in BENCHMARK.json {kind}: {extra}")
    out, unreached = {}, []
    for m in listed:
        got = metrics.get(m["name"])
        if got is None and kind == "end_to_end":
            raise KeyError(f"end-to-end metric {m['name']} not measured")
        if got is not None and got["unit"] != m["unit"]:
            raise ValueError(f"{m['name']}: unit {got['unit']} != {m['unit']}")
        if got is None:
            unreached.append(m["name"])
            got = {"value": 0.0, "unit": m["unit"]}
        out[m["name"]] = got
    if unreached:
        print(f"perfbench: not reached by this workload (reported as 0): "
              f"{' '.join(unreached)}", file=sys.stderr)
    return out


if __name__ == "__main__":
    sys.exit(main())
