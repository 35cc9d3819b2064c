"""Similarity-search queries over ``embeddings``: exact brute-force
top-k and the sign-LSH bucketed approximate variant (both
oracle-checked — the LSH hyperplanes are deterministic md5-derived
±1 vectors, inlined as literals into the SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..similarity.brute_force import QC_COSINE, keep_topk, topk_cosine
from ..similarity.lsh import N_PLANES, hyperplane_signs, topk_cosine_lsh
from .registry import register, t

N_QUERIES = 10  # vec_id < 10 are the query set
TOP_K = 5


@register(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, c.vec_id AS cand_id,
             list_cosine_similarity(q.qv, c.v) AS cos
      FROM q JOIN e c ON c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, cand_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, cand_id) AS rnk
      FROM scored
    )
    SELECT query_id, cand_id, CAST(rnk AS INT) AS rnk, round(cos, 6) AS cosine
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "knn"),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the 10 query vectors —
    broadcast the query batch, score candidates in place (native
    zip_with/aggregate fold, no Python), per-query rank window."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return topk_cosine(queries, emb, k=TOP_K)


def _planes_sql() -> list[str]:
    return [
        "[" + ", ".join(f"{v:.1f}" for v in plane) + "]"
        for plane in hyperplane_signs()
    ]


def _bucket_sql(vec: str) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({vec}, {plane}) >= 0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(_planes_sql())
    ]
    return "(" + " + ".join(terms) + ")"


_PROBES_SQL = "[bucket, " + ", ".join(
    f"xor(bucket, {1 << p})" for p in range(N_PLANES)
) + "]"


@register(
    "sim_topk_lsh",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST({_bucket_sql("CAST(embedding AS DOUBLE[])")} AS INT) AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < {N_QUERIES}),
    probes AS (
      SELECT query_id, qv, unnest({_PROBES_SQL}) AS pb FROM q
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS cand_id,
             list_cosine_similarity(p.qv, c.v) AS cos
      FROM probes p JOIN e c ON c.bucket = p.pb AND c.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, cand_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, cand_id) AS rnk
      FROM scored
    )
    SELECT query_id, cand_id, CAST(rnk AS INT) AS rnk, round(cos, 6) AS cosine
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "lsh"),
)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN top-5 with Hamming-1 multiprobe:
    deterministic hyperplane buckets, search the query's bucket and
    its N_PLANES neighbor buckets (~(N+1)/2^N of the scoring work).
    Recall vs the exact twin is measured in tests; the oracle
    replays the identical bucketing from inlined ±1 literals."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return topk_cosine_lsh(queries, emb, k=TOP_K)


_CENTROID_SQL = """
    ex AS (
      SELECT label,
             unnest(CAST(embedding AS DOUBLE[])) AS val,
             unnest(generate_series(1, len(embedding))) AS dim
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim,
             round(CAST(SUM(CAST(val AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6) AS c
      FROM ex GROUP BY label, dim
    ),
    centv AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    assign_ranked AS (
      SELECT e.vec_id, centv.label,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.v, centv.cv) DESC, centv.label
             ) AS rn
      FROM e, centv
    ),
    assign AS (SELECT vec_id, label AS cell FROM assign_ranked WHERE rn = 1)
"""

IVF_NPROBE = 2


@register(
    "sim_topk_ivf",
    oracle=f"""
    WITH {_CENTROID_SQL},
    q AS (
      SELECT e.vec_id AS query_id, e.v AS qv, ar.label AS cell
      FROM e JOIN assign_ranked ar USING (vec_id)
      WHERE ar.rn <= {IVF_NPROBE} AND e.vec_id < {N_QUERIES}
    ),
    c AS (
      SELECT e.vec_id AS cand_id, e.v AS cv2, a.cell
      FROM e JOIN assign a USING (vec_id)
    ),
    ranked AS (
      SELECT q.query_id, c.cand_id,
             list_cosine_similarity(q.qv, c.cv2) AS cos,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY list_cosine_similarity(q.qv, c.cv2) DESC,
                                         c.cand_id) AS rnk
      FROM q JOIN c ON c.cell = q.cell AND c.cand_id <> q.query_id
    )
    SELECT query_id, cand_id, CAST(rnk AS INT) AS rnk, round(cos, 6) AS cosine
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "ivf"),
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned ANN top-5: nearest-centroid cells built from
    the decimal-exact label centroids, each query searching its
    nprobe=2 nearest cells (the standard IVF recall dial — cost
    linear in probed cells, recall → exact as nprobe → n_cells).
    The data-adaptive complement of the sign-LSH variant; oracle
    replays centroids, ranked assignment, and probing exactly."""
    from ..similarity.ivf import topk_cosine_ivf

    return topk_cosine_ivf(
        t(spark, sf_dir, "embeddings"), N_QUERIES, TOP_K, nprobe=IVF_NPROBE
    )


@register("sim_bucket_histogram", oracle=f"""
    SELECT CAST({_bucket_sql("CAST(embedding AS DOUBLE[])")} AS INT) AS bucket,
           COUNT(*) AS n_vectors
    FROM embeddings
    GROUP BY bucket
    """, tags=("similarity", "lsh"))
def sim_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket occupancy histogram — the skew diagnostic for the
    ANN index (a hot bucket = a hot partition at 100 TB)."""
    from ..similarity.lsh import lsh_bucket

    return (
        t(spark, sf_dir, "embeddings")
        .select(lsh_bucket("embedding", hyperplane_signs()).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


@register(
    "sim_hard_negatives",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel
          FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, c.vec_id AS neg_id, c.label AS neg_label,
             list_cosine_similarity(q.qv, c.v) AS cos
      FROM q JOIN e c ON c.label <> q.qlabel
    ),
    ranked AS (
      SELECT query_id, neg_id, neg_label, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neg_id) AS rnk
      FROM scored
    )
    SELECT query_id, neg_id, neg_label, CAST(rnk AS INT) AS rnk,
           round(cos, 6) AS cosine
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "hard-negatives", "training"),
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for
    each query, the top-k most SIMILAR vectors with a DIFFERENT
    label — the negatives that actually teach the model (random
    negatives are trivially far; these sit right at the decision
    boundary).

    Same broadcast-scored shape as ``sim_topk_bruteforce`` with the
    anti-predicate (``label <>``) applied BEFORE ranking, so excluded
    same-class candidates never occupy top-k slots. At 100 TB: the
    query batch broadcasts, candidates score in place (native
    fold, no Python), per-query rank window over the scored stream;
    swap the scoring stage for the LSH/IVF bucketed variant when the
    query batch itself is huge. The label filter rides the probe
    (scan-time), so mining cost equals plain ANN cost."""
    from ..functions.vectors import l2_norm

    emb = t(spark, sf_dir, "embeddings")
    norm = l2_norm("embedding")
    q = emb.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS query_id", "embedding AS q_emb", f"{norm} AS q_norm", "label AS qlabel"
    )
    c = emb.selectExpr(
        "vec_id AS neg_id", "embedding AS c_emb", f"{norm} AS c_norm", "label AS neg_label"
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neg_label") != F.col("qlabel"))
        .selectExpr("query_id", "neg_id", "neg_label", f"{QC_COSINE} AS cos")
    )
    return keep_topk(scored, TOP_K, "neg_id", ("neg_label",))


@register(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH {_CENTROID_SQL},
    ev AS (SELECT e.vec_id, e.v, a.cell FROM e JOIN assign a USING (vec_id)),
    pairs AS (
      SELECT x.cell, y.vec_id AS drop_id
      FROM ev x JOIN ev y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE list_cosine_similarity(x.v, y.v) >= 0.45
    )
    SELECT c.cell, c.n_vectors,
           COALESCE(p.n_dup_pairs, 0) AS n_dup_pairs,
           COALESCE(p.n_dropped, 0) AS n_dropped
    FROM (SELECT cell, COUNT(*) AS n_vectors FROM ev GROUP BY cell) c
    LEFT JOIN (
      SELECT cell, COUNT(*) AS n_dup_pairs,
             COUNT(DISTINCT drop_id) AS n_dropped
      FROM pairs GROUP BY cell
    ) p USING (cell)
    """,
    tags=("similarity", "dedup", "clustering"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the corpus with a coarse quantizer, then find near-
    duplicate pairs ONLY within each cluster — keep the lower
    vec_id, count pairs and dropped vectors per cluster. The
    global all-pairs problem factors into |cells| independent
    within-cell problems, which is the entire scale story: cosine
    comparisons fall from n² to Σ|cell|², and each cell's pair
    generation is an equi-join on the cell key (no cross join —
    pinned in tests like every dedup path).

    Cells are the IVF assignment (decimal-exact label centroids,
    deterministic argmax — ``similarity/ivf.py``), so the index is
    SHARED with ``sim_topk_ivf``: one clustering pass serves both
    search and dedup, exactly how a production corpus runs it. At
    100 TB, k grows ~sqrt(n) to hold Σ|cell|² near-linear, and the
    within-cell join inherits the skew defenses of the bucketed
    dedups (a hot cell = a hot partition; monitor with the bucket
    histogram, split with salting).

    Measured honesty (tests/test_similarity.py): on THIS corpus's
    adversarial geometry the single assignment recovers only ~0.29
    of all ≥0.45 pairs (cell boundaries split near pairs that are
    barely nearer than background); the banded sign-LSH variant
    (`dedup_embedding_cosine`) holds recall 1.0 on the same data.
    At production thresholds (0.9+) the split rarely lands between
    genuine duplicates — pick SemDeDup for cost, bands for
    recall."""
    from ..functions.vectors import cosine_from_norms, l2_norm
    from ..similarity.ivf import centroid_vectors, ivf_assign

    emb = t(spark, sf_dir, "embeddings")
    cells = ivf_assign(emb, centroid_vectors(emb))
    v = emb.join(cells, "vec_id").selectExpr(
        "vec_id", "embedding AS _emb", f"{l2_norm('embedding')} AS _norm", "cell"
    )
    x = v.select(
        F.col("vec_id").alias("_xid"),
        F.col("_emb").alias("_xe"),
        F.col("_norm").alias("_xn"),
        "cell",
    )
    y = v.select(
        F.col("vec_id").alias("drop_id"),
        F.col("_emb").alias("_ye"),
        F.col("_norm").alias("_yn"),
        "cell",
    )
    pairs = (
        x.join(y, "cell")
        .filter(F.col("_xid") < F.col("drop_id"))
        .filter(f"{cosine_from_norms('_xe', '_ye', '_xn', '_yn')} >= 0.45D")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_dup_pairs"),
            F.countDistinct("drop_id").alias("n_dropped"),
        )
    )
    sizes = v.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    return sizes.join(pairs, "cell", "left_outer").select(
        "cell",
        "n_vectors",
        F.coalesce(F.col("n_dup_pairs"), F.lit(0)).alias("n_dup_pairs"),
        F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
    )


_KM_ASSIGN_SQL = """
      SELECT vec_id, v, cid, cos FROM (
        SELECT e.vec_id, e.v, c.cid,
               list_cosine_similarity(e.v, c.cv) AS cos,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
        FROM {vecs} e, {cents} c
      ) WHERE rn = 1
"""

_KM_UPDATE_SQL = """
      SELECT cid, list(c ORDER BY dim) AS cv FROM (
        SELECT cid, dim,
               round(CAST(SUM(CAST(val AS DECIMAL(28,9))) AS DOUBLE)
                     / COUNT(*), 6) AS c
        FROM (SELECT cid, unnest(v) AS val,
                     unnest(generate_series(1, len(v))) AS dim
              FROM {assign})
        GROUP BY cid, dim
      ) GROUP BY cid
"""


@register(
    "cluster_kmeans_balance",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
      SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM e WHERE vec_id < 8
    ),
    a1 AS ({_KM_ASSIGN_SQL.format(vecs="e", cents="c0")}),
    c1 AS ({_KM_UPDATE_SQL.format(assign="a1")}),
    a2 AS ({_KM_ASSIGN_SQL.format(vecs="e", cents="c1")}),
    c2 AS ({_KM_UPDATE_SQL.format(assign="a2")}),
    a3 AS ({_KM_ASSIGN_SQL.format(vecs="e", cents="c2")})
    SELECT cid AS cluster_id, COUNT(*) AS n_vectors,
           round(CAST(SUM(CAST(round(cos, 6) AS DECIMAL(12,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_cos
    FROM a3
    GROUP BY cid
    """,
    tags=("similarity", "clustering", "iterative"),
)
def cluster_kmeans_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-iteration k-means (k=8, cosine) over the embedding
    corpus, reported as a cluster-balance table (size + mean
    intra-cluster cosine) — the topic-diversity diagnostic a data-
    curation pipeline runs before rebalancing a training mix.

    Iterative-ML shape, fully distributed: centroids collapse to a
    single broadcast row of (cid, centroid, norm) structs, so each
    assignment is a scan-local per-row ``array_max`` expression —
    the vector side NEVER shuffles — and the
    update's per-dimension means are decimal-exact and rounded —
    every engine and every partitioning rebuilds bit-identical
    centroids, which is what lets a DuckDB oracle replay the whole
    2-iteration trajectory. Per iteration: one broadcast + one
    clusters×dims aggregate; convergence at 100 TB adds iterations,
    never shuffle volume. Seeding is deterministic (vec_id < k).
    Lineage-wise, 2 unrolled iterations keep the plan small; deeper
    loops go through ``localCheckpoint`` like connected components."""
    from ..similarity.analytics import kmeans_assign, kmeans_update

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("cv")
    )
    for _ in range(2):
        assigned = kmeans_assign(emb, cents)
        cents = kmeans_update(assigned)
    final = kmeans_assign(emb, cents)
    n = F.count(F.lit(1))
    return final.groupBy(F.col("cid").alias("cluster_id")).agg(
        n.alias("n_vectors"),
        F.round(
            F.sum(F.round(F.col("cos"), 6).cast("decimal(12,6)")).cast("double") / n, 6
        ).alias("mean_cos"),
    )


@register(
    "sim_user_affinity_sparse",
    oracle="""
    WITH hist AS (
      SELECT user_id, CAST(hour(ts) AS INT) AS h, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    norms AS (
      SELECT user_id, SUM(cnt * cnt) AS n2 FROM hist GROUP BY user_id
    ),
    dots AS (
      SELECT q.user_id AS query_id, c.user_id AS cand_id,
             SUM(q.cnt * c.cnt) AS dot
      FROM hist q JOIN hist c ON q.h = c.h AND q.user_id <> c.user_id
      WHERE q.user_id < 10
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.cand_id,
             CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.n2 * nc.n2 AS DOUBLE)) AS cos
      FROM dots d
      JOIN norms nq ON nq.user_id = d.query_id
      JOIN norms nc ON nc.user_id = d.cand_id
    ),
    ranked AS (
      SELECT query_id, cand_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, cand_id) AS rnk
      FROM scored
    )
    SELECT query_id, cand_id, CAST(rnk AS INT) AS rnk, round(cos, 6) AS cosine
    FROM ranked WHERE rnk <= 5
    """,
    tags=("similarity", "sparse", "events"),
)
def sim_user_affinity_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral user similarity over SPARSE vectors computed as a
    join-aggregate — no dense arrays anywhere: each user's hour-of-
    day activity histogram stays as (user, dim, count) rows, the
    dot product is an equi-join on the dimension followed by a
    SUM(q.cnt * c.cnt), and norms join in per side. This is the
    inverted-index formulation of cosine similarity — the ONLY
    shape that scales when vectors are high-dimensional and sparse
    (user×item matrices, bag-of-words): cost is Σ per-dimension
    posting-list products, not n·d, and hot dimensions are visible
    (and salt-able) as hot join keys.

    Numerics: dot and squared norms are exact integer sums;
    cosine is one IEEE divide of dot by sqrt(n2q·n2c), written
    identically in both engines — so the ranking replays exactly.
    Complements the dense-array family (`sim_topk_bruteforce` et
    al.), which scans full vectors per pair. The query-side filter
    (user_id < 10) prunes the join's probe side at the scan."""
    ev = t(spark, sf_dir, "events")
    hist = ev.groupBy(
        "user_id", F.hour("ts").cast("int").alias("h")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    norms = hist.groupBy("user_id").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("n2")
    )
    q = hist.filter(F.col("user_id") < 10).select(
        F.col("user_id").alias("query_id"), "h", F.col("cnt").alias("qcnt")
    )
    c = hist.select(
        F.col("user_id").alias("cand_id"), "h", F.col("cnt").alias("ccnt")
    )
    dots = (
        c.join(F.broadcast(q), "h")
        .filter(F.col("query_id") != F.col("cand_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.sum(F.col("qcnt") * F.col("ccnt")).alias("dot"))
    )
    nq = norms.select(F.col("user_id").alias("query_id"), F.col("n2").alias("n2q"))
    nc = norms.select(F.col("user_id").alias("cand_id"), F.col("n2").alias("n2c"))
    scored = dots.join(F.broadcast(nq), "query_id").join(nc, "cand_id").select(
        "query_id",
        "cand_id",
        (
            F.col("dot").cast("double")
            / F.sqrt((F.col("n2q") * F.col("n2c")).cast("double"))
        ).alias("cos"),
    )
    return keep_topk(scored, 5)
