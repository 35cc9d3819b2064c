"""Engine-semantics pins: ANSI error behavior and the observe()
metrics API — cross-cutting contracts a user of the engine relies
on, independent of any single query."""

from __future__ import annotations

import pytest


def test_ansi_mode_raises_and_try_variants_null(spark):
    """The engine runs ANSI SQL semantics (Spark 4 default): a
    malformed cast is an ERROR, not a silent NULL — the behavior
    that stops a 100 TB job from quietly nulling a corrupted
    column. The sanctioned lenient path is the try_* family, which
    returns NULL per element instead."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        spark.sql("SELECT CAST('abc' AS INT) AS x").collect()
    row = spark.sql(
        "SELECT try_cast('abc' AS INT) AS x, try_divide(1, 0) AS d, "
        "try_add(9223372036854775807, 1) AS o"
    ).first()
    assert row["x"] is None and row["d"] is None and row["o"] is None


def test_observe_metrics_collected_in_one_pass(spark, sf_dir):
    """df.observe(): accumulator-backed metrics ride the SAME job as
    the query (no second scan) — how a production pipeline gets
    row counts / quality gauges without paying an extra pass over
    100 TB."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from map_reduce_showcase_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("order_metrics")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
    )
    n_via_query = observed.count()
    metrics = obs.get
    assert metrics["n_rows"] == n_via_query
    exact = orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    ).first()[0]
    assert metrics["total"] == exact


def test_native_minhash_agrees_with_spark_ml_lsh(spark, sf_dir):
    """Independent-implementation differential: the engine's native
    MinHash+LSH near-dup pairs (J ≥ 0.7) against pyspark.ml's
    MinHashLSH approxSimilarityJoin over the same shingle sets —
    two unrelated MinHash implementations (different hash families,
    different banding) must surface the same duplicate pairs on
    this corpus. Catches family-level mistakes (shingling, band
    math, threshold direction) that a same-implementation oracle
    replay never could. The ml variant stays test-only: its seeded
    signatures are not replayable in the DuckDB oracle, and its
    sparse-vector UDF path is the slow form of what the native
    pipeline does in pure column expressions."""
    from pyspark.ml.feature import MinHashLSH
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql import functions as F

    from map_reduce_showcase_spark.dedup.minhash import minhash_near_dup_pairs
    from map_reduce_showcase_spark.functions.text import shingles, tokens
    from map_reduce_showcase_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    ours = {
        (r.d1, r.d2)
        for r in minhash_near_dup_pairs(docs).select("d1", "d2").collect()
    }

    D = 1 << 18
    sh = (
        docs.selectExpr(
            "doc_id", f"explode(array_distinct({shingles(tokens('text'), 3)})) AS s"
        )
        .select("doc_id", (F.abs(F.hash("s")) % D).alias("idx"))
        .distinct()
    )
    to_vec = F.udf(
        lambda idxs: Vectors.sparse(D, sorted(idxs), [1.0] * len(idxs)), VectorUDT()
    )
    vec_df = (
        sh.groupBy("doc_id")
        .agg(F.collect_set("idx").alias("idxs"))
        .select("doc_id", to_vec("idxs").alias("features"))
    )
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=6, seed=42
    ).fit(vec_df)
    theirs = {
        (r.a, r.b)
        for r in model.approxSimilarityJoin(vec_df, vec_df, 0.3, distCol="jd")
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("a"), F.col("datasetB.doc_id").alias("b")
        )
        .collect()
    }
    assert ours == theirs, (
        f"pair sets diverge: ours-only={sorted(ours - theirs)[:5]} "
        f"ml-only={sorted(theirs - ours)[:5]}"
    )


def test_sort_spills_gracefully_under_memory_pressure():
    """Spill-awareness, demonstrated: a per-partition window sort
    with execution memory starved to ~5% must spill to disk AND
    produce the exact row_number assignment (sum of 1..n per
    partition). The reference holds all shuffle data in RAM
    (src/worker/mod.rs:34-37) and would OOM; Spark's
    memory-managed sort degrades to disk instead — the property
    that lets the same plan survive a 100× data-to-memory ratio.
    Runs in a subprocess because the starved conf must be set at
    JVM launch."""
    import json
    import pathlib
    import subprocess
    import sys

    script = pathlib.Path(__file__).resolve().parent.parent / "tools" / "spill_check.py"
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        timeout=420,
        env={**__import__("os").environ, "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.1"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["disk_spilled_mb"] > 0, f"expected a spill: {out}"
    assert out["row_number_count"] == out["n_rows"]
