"""Random-hyperplane LSH (sign-LSH) bucketed ANN — the scale path.

Sign-LSH for cosine similarity: project each vector onto
``n_planes`` fixed pseudo-random hyperplanes; the sign pattern is an
``n_planes``-bit bucket id. Vectors with high cosine land in the
same bucket with probability (1 − θ/π)^n_planes, so the ANN search
becomes: bucket everything (one scan), equi-join query buckets to
candidate buckets, score only within buckets.

The hyperplanes are derived deterministically from md5 (±1 Rademacher
entries, seeded by "plane:dim"), so the DuckDB oracle can replay the
exact bucketing — and so every run of the engine buckets identically
(re-runnable incremental indexing at 100 TB: new data buckets the
same way forever, no stored model needed).

Scale: the bucket join shuffles each side once on the bucket id.
Probing buys recall with fan-out, without rebucketing: a query also
searches every bucket at Hamming distance 1 from its own, one per
plane (all of them, not only the one whose sign is least certain).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_from_norms, dot, l2_norm
from .brute_force import QC_COSINE, keep_topk

DIM = 64
#: 4 planes → 16 cells. For weakly-correlated vectors P(two vectors
#: agree on one plane) ≈ 1 − θ/π; with θ≈60° that is ~0.67 per
#: plane, so plane count is a direct recall/fan-out dial — 8 planes
#: drove recall to ~0.67^8≈4% on this data. 4 planes + the Hamming-1
#: probes land recall ≈0.6 at ~5/16 of the scoring work.
N_PLANES = 4


def hyperplane_signs(n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix: entry (p, d) is +1 iff the
    low bit of md5(f"{p}:{d}") is set. Reproducible everywhere —
    Python, executors, the SQL oracle — with no RNG state."""
    return [
        [
            1.0 if hashlib.md5(f"{p}:{d}".encode()).digest()[-1] & 1 else -1.0
            for d in range(DIM)
        ]
        for p in range(n_planes)
    ]


def _plane_sql(plane: list[float]) -> str:
    """The ±1 plane as ONE array-literal SQL fragment — building it
    from 64 individual ``F.lit`` calls costs ~64 py4j round trips per
    plane (seconds per plan build on a py4j-slow driver); the parsed
    expression is identical."""
    return "array(" + ",".join(f"{v:.1f}D" for v in plane) + ")"


def _sign_bits(emb_sql: str, planes: list[list[float]]) -> str:
    """SQL text ``(0 + …)`` whose bit p is (emb · plane_p ≥ 0)."""
    terms = " + ".join(
        f"(CASE WHEN {dot(emb_sql, _plane_sql(plane))} >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    )
    return f"(0 + {terms})"


def lsh_bucket(emb_sql: str, planes: list[list[float]]) -> Column:
    """Bucket id column: bit p = (emb · plane_p ≥ 0). ``emb_sql`` is
    SQL text (a column name), and the whole bucket — every plane's
    dot-product fold included — is ONE parsed expression: the
    Column-API form of the same tree cost 0.24 s of py4j round trips
    per plan build."""
    return F.expr(f"CAST({_sign_bits(emb_sql, planes)} AS INT)")


def banded_band_keys(
    emb_sql: str, planes: list[list[float]], rows_per_band: int
) -> list[Column]:
    """One join key per band: ``band_no * 2^r + bucket`` where the
    bucket is the band's ``r`` sign bits. AND-ing ``r`` planes per
    band sharpens precision; OR-ing across ``len(planes)/r`` bands
    restores recall — the classic S-curve, same shape as MinHash
    banding but for cosine. One parsed expression per key (see
    :func:`lsh_bucket`)."""
    r = rows_per_band
    return [
        F.expr(f"CAST(({b << r} + {_sign_bits(emb_sql, planes[b * r:(b + 1) * r])}) AS INT)")
        for b in range(len(planes) // r)
    ]


def cosine_pairs_lsh(
    vectors: DataFrame,
    threshold: float,
    rows_per_band: int = 2,
    n_bands: int = 8,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ ``threshold``) via
    banded sign-LSH — the 100 TB path, NO cross join anywhere:

    1. bucket: each vector emits ``n_bands`` band keys (one scan),
    2. candidates: self equi-join per band key, ``v1 < v2``,
       distinct — shuffle is on band keys, work is per-bucket,
    3. verify: join candidate ids back to their embeddings and keep
       exact cosine ≥ threshold (touches candidates only).

    Recall: a pair at angle θ agrees per plane with p = 1 − θ/π, so
    P(candidate) = 1 − (1 − p^r)^b. At threshold 0.45 (θ≈63°,
    p≈0.65) the default 2×8 gives ≈0.99; at a production near-dup
    threshold of 0.9 (p≈0.86) it is ≈1-1e-6. Exactness on found
    pairs is guaranteed by the verify stage; the brute-force twin
    (``brute_force.cosine_pairs``) measures recall in tests.
    """
    planes = hyperplane_signs(n_planes=rows_per_band * n_bands)
    from ..functions.util import rebalance

    v = rebalance(vectors).select("vec_id", "embedding")
    keys = banded_band_keys("embedding", planes, rows_per_band)
    # Each row keeps its FULL band-key vector alongside the exploded
    # key so a colliding pair can check, in place, whether an EARLIER
    # band already matched ("emit from first colliding band"). That
    # filter replaces a distinct() — i.e. a full shuffle of the raw
    # candidate stream, the largest intermediate in the query — with
    # a per-row check over ≤ n_bands ints. Band keys encode the band
    # number (band * 2^r + bucket), so bkey equality implies same
    # band and the zip below compares aligned prefixes. The key vector
    # is projected once and exploded from that column; ``_outer`` (it
    # is never empty) keeps Catalyst from inferring a size(bkeys) > 0
    # filter and pushing it, every fold inlined, below the projection.
    bucketed = v.select("vec_id", F.array(*keys).alias("bkeys")).selectExpr(
        "vec_id", "bkeys", "posexplode_outer(bkeys) AS (band, bkey)"
    )
    first_match = F.expr(
        "NOT exists(zip_with(slice(a.bkeys, 1, a.band), "
        "slice(b.bkeys, 1, b.band), (x, y) -> x = y), hit -> hit)"
    )
    cand = (
        bucketed.alias("a")
        .join(bucketed.alias("b"), "bkey")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(first_match)
        .select(F.col("a.vec_id").alias("v1"), F.col("b.vec_id").alias("v2"))
    )
    # norms folded once per vector, not once per candidate pair
    e1 = v.selectExpr("vec_id AS v1", "embedding AS e1", f"{l2_norm('embedding')} AS n1")
    e2 = v.selectExpr("vec_id AS v2", "embedding AS e2", f"{l2_norm('embedding')} AS n2")
    cos = F.expr(cosine_from_norms("e1", "e2", "n1", "n2"))
    return (
        cand.join(e1, "v1")
        .join(e2, "v2")
        .filter(cos >= threshold)
        .select("v1", "v2", F.round(cos, 6).alias("cosine"))
    )


def topk_cosine_lsh(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k per query, searching the query's bucket
    plus every Hamming-1 neighbor bucket — one probe per plane, each
    flipping one sign bit of the ``N_PLANES``-bit bucket; probing
    instead of rebucketing buys recall without touching the index. Output ``(query_id, cand_id, rnk, cosine)`` — same
    shape as the exact ``topk_cosine`` so tests can measure recall.

    Each row's bucket is projected once, as ``b0``, before the probe
    list ``[b0, b0 ^ 1, b0 ^ 2, …]`` is exploded from it: the bucket
    expression (one dot-product fold per plane) then appears once per
    side of the plan instead of once per probe."""
    from ..functions.util import rebalance

    bucket = lsh_bucket("embedding", hyperplane_signs())
    probes = ", ".join(["b0"] + [f"b0 ^ {1 << p}" for p in range(N_PLANES)])
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.expr(l2_norm("embedding")).alias("q_norm"),
        bucket.alias("b0"),
    ).selectExpr("query_id", "q_emb", "q_norm", f"explode(array({probes})) AS bucket")
    c = rebalance(candidates).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.expr(l2_norm("embedding")).alias("c_norm"),
        bucket.alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .selectExpr("query_id", "cand_id", f"{QC_COSINE} AS cos")
    )
    return keep_topk(scored, k)
