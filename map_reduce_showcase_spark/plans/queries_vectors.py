"""Vector analytics + cluster-dedup queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dedup.components import connected_components
from ..dedup.minhash import minhash_near_dup_pairs
from ..similarity.analytics import label_centroids
from .registry import register, t


@register(
    "vector_label_centroids",
    oracle="""
    WITH e AS (
      SELECT label,
             unnest(CAST(embedding AS DOUBLE[])) AS val,
             unnest(generate_series(1, len(embedding))) AS dim
      FROM embeddings
    )
    SELECT label, CAST(dim AS INT) AS dim,
           round(CAST(SUM(CAST(val AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6) AS centroid,
           COUNT(*) AS n_vectors
    FROM e
    GROUP BY label, dim
    """,
    tags=("vectors", "aggregation"),
)
def vector_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, long format
    (label × 64 dims). The IVF coarse-quantizer build step."""
    return label_centroids(t(spark, sf_dir, "embeddings"), "label")


def _components_oracle() -> str:
    """Recursive-CTE transitive closure over the exact same MinHash
    near-dup edges the Spark side uses: component = min reachable
    doc_id. DuckDB's WITH RECURSIVE plays the role of the Spark
    side's iterative label propagation."""
    from .queries_dedup import _minhash_sql

    minhash_pairs = _minhash_sql(12, 3)
    return f"""
    WITH RECURSIVE pairs AS ({minhash_pairs}),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION
      SELECT d2 AS a, d1 AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, comp) AS (
      SELECT node, node AS comp FROM nodes
      UNION
      SELECT e.a AS node, r.comp FROM edges e JOIN reach r ON r.node = e.b
    )
    SELECT node AS doc_id, MIN(comp) AS component
    FROM reach GROUP BY node
    """


@register(
    "dedup_connected_components",
    oracle=_components_oracle(),
    tags=("dedup", "components", "iterative"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level dedup: connected components (iterative min-label
    propagation, ``dedup/components.py``) over the MinHash near-dup
    pair graph; component = min doc_id reachable. The oracle computes
    the same fixpoint as a recursive-CTE transitive closure over the
    identical edge set; a union-find differential test additionally
    pins the Spark side in tests/test_components.py."""
    pairs = minhash_near_dup_pairs(
        t(spark, sf_dir, "documents"), n=2, num_hashes=12, rows_per_band=3, threshold=0.7
    )
    return connected_components(pairs)


def _apply_near_oracle() -> str:
    """Near-dedup APPLIED: transitive closure over the MinHash edge
    set (same recursive CTE as ``dedup_connected_components``), then
    keep one representative per cluster (min doc_id) plus every
    unclustered doc, accounted per language."""
    from .queries_dedup import _minhash_sql

    minhash_pairs = _minhash_sql(12, 3)
    return f"""
    WITH RECURSIVE pairs AS ({minhash_pairs}),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION
      SELECT d2 AS a, d1 AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, comp) AS (
      SELECT node, node AS comp FROM nodes
      UNION
      SELECT e.a AS node, r.comp FROM edges e JOIN reach r ON r.node = e.b
    ),
    comp AS (
      SELECT node AS doc_id, MIN(comp) AS component
      FROM reach GROUP BY node
    )
    SELECT d.lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (
             WHERE c.component IS NULL OR c.component = d.doc_id
           ) AS n_kept,
           round(CAST(COUNT(*) FILTER (
                   WHERE c.component IS NULL OR c.component = d.doc_id
                 ) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS kept_frac
    FROM documents d LEFT JOIN comp c USING (doc_id)
    GROUP BY d.lang
    """


@register(
    "dedup_apply_near",
    oracle=_apply_near_oracle(),
    tags=("dedup", "components", "iterative", "applied"),
)
def dedup_apply_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup APPLIED end-to-end: MinHash+LSH pairs → connected
    components → keep the min-doc_id representative per cluster and
    every unclustered doc — the survivors frame a real pipeline
    writes out — then per-language accounting of what survived.

    Shape at 100 TB: the pair graph is tiny relative to the corpus
    (near-dup cliques), components iterate over edges only, and the
    final left join brings cluster labels back to the corpus on the
    doc id — one broadcast-able join (the label frame is |clustered
    docs|, not |corpus|) plus one lang agg."""
    docs = t(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, n=2, num_hashes=12, rows_per_band=3, threshold=0.7
    )
    comp = connected_components(pairs)
    kept = F.col("component").isNull() | (F.col("component") == F.col("doc_id"))
    return (
        docs.select("doc_id", "lang")
        .join(F.broadcast(comp), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(kept).alias("n_kept"),
        )
        .select(
            "lang",
            "n_docs",
            "n_kept",
            F.round(
                F.col("n_kept").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("kept_frac"),
        )
    )


def _keep_best_oracle() -> str:
    from .queries_dedup import _minhash_sql
    from .queries_text import _QUALITY_SQL

    minhash_pairs = _minhash_sql(12, 3)
    return f"""
    WITH RECURSIVE pairs AS ({minhash_pairs}),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION
      SELECT d2 AS a, d1 AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, comp) AS (
      SELECT node, node AS comp FROM nodes
      UNION
      SELECT e.a AS node, r.comp FROM edges e JOIN reach r ON r.node = e.b
    ),
    comp AS (
      SELECT node AS doc_id, MIN(comp) AS component
      FROM reach GROUP BY node
    ),
    scored AS (
      SELECT d.doc_id, d.lang, c.component, {_QUALITY_SQL} AS q
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    ranked AS (
      SELECT *,
             CASE WHEN component IS NULL THEN 1
                  ELSE ROW_NUMBER() OVER (PARTITION BY component
                                          ORDER BY q DESC, doc_id) END AS rnk
      FROM scored
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE rnk = 1) AS n_kept,
           round(CAST(SUM(CAST(q AS DECIMAL(12,6)))
                      FILTER (WHERE rnk = 1) AS DOUBLE)
                 / COUNT(*) FILTER (WHERE rnk = 1), 6) AS kept_mean_quality
    FROM ranked
    GROUP BY lang
    """


@register(
    "dedup_keep_best_quality",
    oracle=_keep_best_oracle(),
    tags=("dedup", "components", "iterative", "applied", "quality"),
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dedup: within each near-duplicate cluster
    keep the HIGHEST-QUALITY member (tie-break min doc_id), not the
    arbitrary min-id — near-dup variants genuinely differ (one copy
    is boilerplate-wrapped, one clean), so keeper choice changes
    what the training corpus keeps. min-id is the right policy for
    EXACT dups (identical text ⇒ identical quality, `dedup_apply_
    exact`); argmax-quality is the near-dup refinement.

    Composition of three existing stages — MinHash pair graph →
    connected components → quality scores — plus one rank window
    over CLUSTERED docs only (cliques are tiny; unclustered docs
    bypass the window entirely via the null-component fast path).
    Per-lang kept counts and mean kept quality, decimal-summed."""
    from ..functions import text as T

    docs = t(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, n=2, num_hashes=12, rows_per_band=3, threshold=0.7
    )
    comp = connected_components(pairs)
    from pyspark.sql.window import Window

    scored = (
        docs.selectExpr("doc_id", "lang", f"{T.quality_score('text')} AS q")
        .join(F.broadcast(comp), "doc_id", "left")
    )
    w = Window.partitionBy("component").orderBy(F.col("q").desc(), F.col("doc_id"))
    # split BEFORE the window: unclustered docs (the vast majority)
    # must never enter it — a single NULL-component partition would
    # be the one-task sort this repo's scale rules ban; clustered
    # docs are clique-sized, so their window is trivially balanced
    clustered = scored.filter(F.col("component").isNotNull()).withColumn(
        "rnk", F.row_number().over(w)
    )
    ranked = clustered.unionByName(
        scored.filter(F.col("component").isNull()).withColumn("rnk", F.lit(1))
    )
    kept = F.col("rnk") == 1
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(kept).alias("n_kept"),
        F.round(
            F.sum(F.when(kept, F.col("q").cast("decimal(12,6)"))).cast("double")
            / F.count(F.when(kept, 1)),
            6,
        ).alias("kept_mean_quality"),
    )
