"""Testdata catalog: load the driver-generated parquet tables and register
them as temp views so both the DataFrame API and spark.sql() can reach them.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Schema cache, keyed on the source path and checked against its file
# fingerprint (r13). Measured: every bare spark.read.parquet() launches a
# schema-INFERENCE Spark job — ~113 ms and one driver-synced job per load
# vs ~20 ms and zero jobs with an explicit schema — and the engine loads
# tables 1-3x per query invocation
# (62 loads per EXT fold cycle alone), so re-inferring per invocation was
# one of the largest fixed costs in every small query's wall. A real
# deployment holds table schemas in a catalog/metastore and never re-infers
# per query; this dict is that catalog. Scope and rules (the staged_events
# convention): process-wide, in-memory only, deterministic metadata (column
# names/types, never data or plans). One entry per path: an in-place
# regeneration changes the fingerprint, re-infers and replaces the entry.
# Every action still lists, reads and computes over the parquet bytes in
# full — only the per-invocation footer re-inference job is gone.
_SCHEMA_CACHE: dict[str, tuple[tuple, object]] = {}


def _source_fingerprint(p: str) -> tuple:
    """One ``os.stat`` per file, subdirectories included: (name, mtime ns,
    size, inode). The inode catches a same-size rewrite whose mtime did
    not move (coarse filesystem clocks, or a copy that preserves it)."""
    try:
        if not os.path.isdir(p):
            st = os.stat(p)
            return ((p, st.st_mtime_ns, st.st_size, st.st_ino),)
        out = []
        for root, dirs, files in os.walk(p):
            dirs[:] = sorted(d for d in dirs if not d.startswith("."))
            for f in sorted(files):
                if not f.startswith("."):
                    st = os.stat(os.path.join(root, f))
                    rel = os.path.relpath(os.path.join(root, f), p)
                    out.append((rel, st.st_mtime_ns, st.st_size, st.st_ino))
        return tuple(out)
    except OSError:
        return ("missing",)


def _read_with_cached_schema(spark: SparkSession, p: str) -> DataFrame:
    fingerprint = _source_fingerprint(p)
    hit = _SCHEMA_CACHE.get(p)
    if hit is not None and hit[0] == fingerprint:
        return spark.read.schema(hit[1]).parquet(p)
    df = spark.read.parquet(p)
    _SCHEMA_CACHE[p] = (fingerprint, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as TIMESTAMP(NANOS) (round 1) and as plain
        # timestamp[us] (round 2 regeneration). Spark has no ns type: set the
        # runtime conf so a NANOS column reads as long-ns (the conf is a
        # no-op for us-precision columns), then branch on the dtype actually
        # read — long means ns, floor-truncate to micros exactly like
        # DuckDB's read-time ns->us conversion so oracle comparisons agree;
        # timestamp passes through untouched.
        from pyspark.sql import functions as F

        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # cache-miss inference runs under the conf just set, so the cached
        # schema is the conf-true shape either way (long for ns files,
        # timestamp_ntz for us files); execution-time decoding of ns files
        # needs the conf too, which the ns branch below keeps set exactly
        # as before
        df = _read_with_cached_schema(spark, table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") in ("bigint", "long"):
            # genuinely NANOS data: the conf must STAY set (execution
            # re-reads footers under the current conf). Reassemble to
            # TIMESTAMP_NTZ with pure integer/field arithmetic — the
            # earlier timestamp_micros() gave an INSTANT, so this branch
            # disagreed in type with the us branch (which infers NTZ), and
            # any later cast('timestamp_ntz') converted through the
            # SESSION zone: ns-shaped data under a non-UTC session shifted
            # every wall time vs the oracle (review r5). The testdata
            # epoch is post-1970, so the div/mod split needs no negative
            # handling.
            micros = F.expr("ts div 1000")
            days = F.expr("(ts div 1000) div 86400000000")
            rem = micros - days * F.lit(86_400_000_000)
            d = F.date_add(F.to_date(F.lit("1970-01-01")), days.cast("int"))
            df = df.withColumn(
                "ts",
                F.make_timestamp_ntz(
                    F.year(d),
                    F.month(d),
                    F.dayofmonth(d),
                    (rem / F.lit(3_600_000_000)).cast("int"),
                    ((rem / F.lit(60_000_000)) % 60).cast("int"),
                    (rem % F.lit(60_000_000)).cast("decimal(16,6)")
                    / F.lit(1_000_000),
                ),
            )
        elif prev is None:
            # us-precision data: restore the session conf — leaving it set
            # would make UNRELATED parquet reads in this session decode
            # TIMESTAMP(NANOS) columns as raw longs
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        # normalize the declared columns first, but PASS THROUGH any extra
        # trailing columns a regeneration added (the wide_rel contract:
        # DuckDB reads the raw file, so dropping unknowns here would
        # diverge the two engines on any future whole-row projection)
        known = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        extras = [c for c in df.columns if c not in known]
        return df.select(*known, *extras)
    return _read_with_cached_schema(spark, table_path(sf_dir, name))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table lazily (parquet scans; nothing is read until
    an action runs — Catalyst prunes columns / pushes filters per query)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load + register each table as a temp view named after the table."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
