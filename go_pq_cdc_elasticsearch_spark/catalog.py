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
# full — only the per-invocation footer re-inference job is gone. The
# events entry also records whether its ``ts`` column is TIMESTAMP(NANOS),
# read once from a parquet footer.
_SCHEMA_CACHE: dict[str, tuple[tuple, object, bool]] = {}
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


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


def _ts_is_nanos(fingerprint: tuple, p: str) -> bool:
    """True when the first parquet file of ``p`` stores ``ts`` as
    TIMESTAMP(NANOS), read from its footer with pyarrow (no Spark job).
    Only the logical type counts: an INT96 timestamp also surfaces as ns
    in arrow, but Spark reads it as a timestamp without the conf."""
    import pyarrow.parquet as pq

    files = [
        os.path.join(p, f[0]) if os.path.isdir(p) else f[0]
        for f in fingerprint
        if f != "missing" and f[0].endswith(".parquet")
    ]
    if not files:
        return False
    schema = pq.ParquetFile(files[0]).schema
    for i in range(len(schema)):
        col = schema.column(i)
        if col.path == "ts":
            return '"timeUnit": "nanoseconds"' in col.logical_type.to_json()
    return False


def _read_with_cached_schema(
    spark: SparkSession, p: str, probe_ts: bool = False
) -> tuple[DataFrame, bool]:
    """The table at ``p`` with its cached schema, and whether its ``ts``
    is TIMESTAMP(NANOS) (looked up only with ``probe_ts``). A cache miss
    decides that from the footer first, so an ns file's schema is
    inferred under the conf it is read with."""
    fingerprint = _source_fingerprint(p)
    hit = _SCHEMA_CACHE.get(p)
    if hit is None or hit[0] != fingerprint:
        nanos = probe_ts and _ts_is_nanos(fingerprint, p)
        if nanos:
            spark.conf.set(_NANOS_CONF, "true")
        hit = (fingerprint, spark.read.parquet(p).schema, nanos)
        _SCHEMA_CACHE[p] = hit
    elif hit[2]:
        spark.conf.set(_NANOS_CONF, "true")
    return spark.read.schema(hit[1]).parquet(p), hit[2]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df, nanos = _read_with_cached_schema(
        spark, table_path(sf_dir, name), probe_ts=name == "events"
    )
    if name != "events":
        return df
    # events.ts has shipped as TIMESTAMP(NANOS) (round 1) and as plain
    # timestamp[us] (round 2 regeneration). Spark has no ns type: an ns
    # file is read with nanosAsLong set, so ts arrives as long-ns, and is
    # floor-truncated to micros exactly like DuckDB's read-time ns->us
    # conversion so oracle comparisons agree. The conf must STAY set
    # (execution re-reads footers under the current conf). A us file
    # never touches the conf: load_table runs on many threads at once,
    # and a set/unset pair per call would flip the session conf under a
    # concurrent read.
    from pyspark.sql import functions as F

    if nanos:
        # Reassemble to TIMESTAMP_NTZ with pure integer/field arithmetic —
        # the earlier timestamp_micros() gave an INSTANT, so this branch
        # disagreed in type with the us branch (which infers NTZ), and any
        # later cast('timestamp_ntz') converted through the SESSION zone:
        # ns-shaped data under a non-UTC session shifted every wall time
        # vs the oracle (review r5). The testdata epoch is post-1970, so
        # the div/mod split needs no negative handling.
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
    # normalize the declared columns first, but PASS THROUGH any extra
    # trailing columns a regeneration added (the wide_rel contract:
    # DuckDB reads the raw file, so dropping unknowns here would
    # diverge the two engines on any future whole-row projection)
    known = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    extras = [c for c in df.columns if c not in known]
    return df.select(*known, *extras)


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
