"""Corpus-level invariants of the curation operators — properties that
must hold on real data, beyond the hand-computed unit cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_pq_cdc_elasticsearch_spark.catalog import load_table
from go_pq_cdc_elasticsearch_spark.functions.text import words
from go_pq_cdc_elasticsearch_spark.operators.dedup import paragraph_dedup
from go_pq_cdc_elasticsearch_spark.operators.lm import chunk_documents

def _structured_docs(spark, sf_dir):
    """Synthetic paragraph structure: newline every 8 words (same derivation
    as q_l20)."""
    docs = load_table(spark, sf_dir, "documents")
    w = words(F.col("text"))
    paras = F.transform(
        F.sequence(F.lit(0), (F.ceil(F.size(w) / F.lit(8.0))).cast("int") - 1),
        lambda i: F.concat_ws(" ", F.slice(w, i * 8 + 1, 8)),
    )
    return docs.select("doc_id", F.concat_ws("\n", paras).alias("text"))


def test_paragraph_dedup_global_uniqueness(spark, sf_dir):
    structured = _structured_docs(spark, sf_dir)
    out = paragraph_dedup(structured)
    kept_lines = (
        out.filter(F.col("text").isNotNull())
        .select(F.explode(F.split("text", "\n")).alias("line"))
        .select(F.lower(F.trim("line")).alias("k"))
    )
    total = kept_lines.count()
    distinct = kept_lines.distinct().count()
    # every surviving normalized line appears exactly once corpus-wide
    assert total == distinct > 0

    # and the kept set IS the distinct set of all input lines
    all_lines = structured.select(
        F.explode(F.split("text", "\n")).alias("line")
    ).filter(F.trim("line") != "").select(
        F.lower(F.trim("line")).alias("k")
    ).distinct()
    assert distinct == all_lines.count()

    # line counts are conserved per doc: n_kept <= n_lines, sums match
    stats = out.agg(
        F.sum("n_kept").alias("kept"), F.sum("n_lines").alias("lines")
    ).collect()[0]
    assert stats["kept"] == total and stats["lines"] >= total


def test_chunking_reconstructs_documents(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    chunk, overlap = 24, 8
    stride = chunk - overlap
    chunks = chunk_documents(docs, chunk_tokens=chunk, overlap=overlap)
    # drop each non-first chunk's overlapping prefix, reassemble in order,
    # compare against the normalized original
    rebuilt = (
        chunks.withColumn("__w", F.split("chunk_text", " "))
        .withColumn(
            "__tail",
            F.when(F.col("chunk_idx") == 0, F.col("__w")).otherwise(
                F.slice(F.col("__w"), overlap + 1, stride)
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("chunk_idx"), F.col("__tail"))
                            )
                        ),
                        lambda s: s["__tail"],
                    )
                ),
            ).alias("rebuilt")
        )
    )
    joined = docs.select(
        "doc_id", F.concat_ws(" ", words(F.col("text"))).alias("norm")
    ).join(rebuilt, "doc_id")
    bad = joined.filter(F.col("norm") != F.col("rebuilt")).count()
    assert bad == 0
    assert joined.count() == 101


def test_bench_regression_gate(tmp_path, monkeypatch):
    """The per-query bench gate flags >3x-of-recorded-min only after a
    confirming re-measure, tolerates noise bursts (re-measure recovers),
    and records new minimums under a host fingerprint."""
    import importlib.util
    import json as _json
    import os as _os

    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench_mod", Path(__file__).resolve().parent.parent / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    monkeypatch.setattr(
        _os.path, "dirname", lambda p: str(tmp_path), raising=True
    )
    # pin the parallelism the history is recorded under, so the switch at
    # the end is a real change whatever the ambient value is
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")

    def gate(timings, sf, run_one):
        # compose the r12 split (read -> gate -> write) exactly as
        # bench.main does, so the scenario coverage stays end-to-end
        recorded = bench._read_minimums(sf)
        out = bench._regression_gate(timings, recorded, run_one)
        bench._write_minimums(sf, recorded, timings)
        return out

    # pass 1: no history -> no flags, no deltas, minimums recorded
    t1 = {"q_a": 1.0, "q_b": 0.5}
    assert gate(t1, 0.01, lambda n: -1.0) == ({}, {})
    hist = _json.loads((tmp_path / ".bench_minimums.json").read_text())
    assert hist["mins"] == {"q_a": 1.0, "q_b": 0.5}

    # noise burst: 4x slower but the confirming re-measure comes back fast
    t2 = {"q_a": 4.0, "q_b": 0.5}
    flagged, deltas = gate(t2, 0.01, lambda n: 1.1)
    assert flagged == {}
    assert t2["q_a"] == 1.1  # re-measure folded into the timing
    # the delta table reflects the post-re-measure timing vs best prior
    assert deltas == {"q_a": 1.1, "q_b": 1.0}

    # genuine regression: re-measure confirms it
    t3 = {"q_a": 4.0, "q_b": 0.5}
    flagged, deltas = gate(t3, 0.01, lambda n: 4.2)
    assert flagged == {"q_a": {"sec": 4.0, "min": 1.0}}
    assert deltas["q_a"] == 4.0

    # different fingerprint (sf changes) -> history discarded, no flags
    t4 = {"q_a": 9.0}
    assert gate(t4, 0.1, lambda n: -1.0) == ({}, {})

    # re-seed the 0.01 history (t4's 0.1 run rewrote the file under the
    # other fingerprint)
    assert gate({"q_a": 1.0, "q_b": 0.5}, 0.01, lambda n: -1.0) == ({}, {})

    # a failed run (timing -1) must NOT erase the recorded baseline: the
    # next run still compares against the surviving min and flags
    t5 = {"q_a": -1.0, "q_b": 0.5}
    flagged, deltas = gate(t5, 0.01, lambda n: -1.0)
    assert flagged == {} and "q_a" not in deltas  # failed run: no delta
    hist = _json.loads((tmp_path / ".bench_minimums.json").read_text())
    assert hist["mins"]["q_a"] == 1.0  # baseline survived the bad run
    t6 = {"q_a": 4.0, "q_b": 0.5}
    assert gate(t6, 0.01, lambda n: 4.2)[0] == {
        "q_a": {"sec": 4.0, "min": 1.0}
    }

    # the fingerprint includes the RESOLVED parallelism: the same box at
    # SPARK_GRAFT_CPUS=3 must not compare against local[2] history
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    t7 = {"q_a": 9.0}
    assert gate(t7, 0.01, lambda n: -1.0) == ({}, {})


def test_load_table_events_passes_through_superset_columns(
    spark, tmp_path, sf_dir
):
    """In-suite pin of the wide_rel contract for the ONE table with a
    normalizing projection (review r9): a regeneration is free to write a
    schema SUPERSET, and load_table must hand queries the same columns
    the raw file hands the DuckDB oracle — declared six first (order
    normalized), unknown extras passed through, never silently dropped."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = f"{sf_dir}/events.parquet"
    t = pq.read_table(src)
    t = t.append_column("zz_extra", pa.array(["x"] * t.num_rows))
    d = tmp_path / "sf"
    d.mkdir()
    pq.write_table(t, str(d / "events.parquet"))
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "documents", "embeddings"):
        shutil.copy(f"{sf_dir}/{name}.parquet", str(d))
    df = load_table(spark, str(d), "events")
    assert df.columns[:6] == [
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ]
    assert "zz_extra" in df.columns
    assert df.select("zz_extra").first()[0] == "x"


def test_load_table_schema_cache_invalidates_on_regeneration(
    spark, tmp_path, sf_dir
):
    """The r13 catalog schema cache must be fingerprint-keyed: an IN-PLACE
    regeneration of a table file (the driver regenerates testdata between
    rounds; variant flows rewrite within one process) must re-infer, never
    serve the stale schema — and a cache hit must read the same data."""
    import shutil
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sf"
    d.mkdir()
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"):
        shutil.copy(f"{sf_dir}/{name}.parquet", str(d))
    p = str(d / "region.parquet")
    cold = load_table(spark, str(d), "region")
    warm = load_table(spark, str(d), "region")  # cache hit
    assert warm.schema == cold.schema
    assert sorted(map(tuple, warm.collect())) == sorted(
        map(tuple, cold.collect())
    )
    # regenerate in place with a DIFFERENT schema (extra column)
    t = pq.read_table(p)
    t = t.append_column("zz_new", pa.array(["y"] * t.num_rows))
    _time.sleep(0.02)  # ensure a distinct mtime even on coarse clocks
    pq.write_table(t, p)
    again = load_table(spark, str(d), "region")
    assert "zz_new" in again.columns  # stale schema would miss it
    assert again.select("zz_new").first()[0] == "y"
