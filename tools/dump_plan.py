"""Dump `explain("formatted")` for declared/EXT queries.

Usage: python tools/dump_plan.py <out_dir> <tag> <query_name> [...]
       python tools/dump_plan.py --summary <out_dir> <tag> <part_name> [...]
Writes <out_dir>/<query>_<tag>.txt (tag: e.g. before|after|audit).

--summary dumps the canon summary plan over the named EXT part instead of
the part's own plan. Data is read from SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_pq_cdc_elasticsearch_spark.session import get_spark  # noqa: E402
from go_pq_cdc_elasticsearch_spark.sql import EXT_REGISTRY, REGISTRY  # noqa: E402
from go_pq_cdc_elasticsearch_spark.sql.canon import spark_canon_summary  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    summary_mode = bool(args) and args[0] == "--summary"
    if summary_mode:
        args = args[1:]
    if len(args) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, tag, names = args[0], args[1], args[2:]
    known = {**REGISTRY, **EXT_REGISTRY}
    unknown = [n for n in names if n not in known]
    if unknown:
        print(f"unknown query name(s): {unknown}", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plan")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = known[name].spark(spark, sf_dir)
        stem = name
        if summary_mode:
            df = spark_canon_summary(df, name)
            stem = f"canon_summary_{name}"
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{stem}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
