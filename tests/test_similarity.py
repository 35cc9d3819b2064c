"""ANN quality: both approximate variants (sign-LSH, IVF) against
the exact brute-force top-k — recall is the metric that says the
bucketing is doing its job, not just running."""

from __future__ import annotations

from map_reduce_showcase_spark.plans import REGISTRY
from map_reduce_showcase_spark.plans.registry import _load_all

_load_all()


def _pairs(df):
    return {(r["query_id"], r["cand_id"]) for r in df.collect()}


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    exact = _pairs(REGISTRY["sim_topk_bruteforce"].builder(spark, sf_dir))
    lsh = _pairs(REGISTRY["sim_topk_lsh"].builder(spark, sf_dir))
    ivf = _pairs(REGISTRY["sim_topk_ivf"].builder(spark, sf_dir))
    assert exact, "brute force must return neighbors"
    # approximate results must be subsets of the candidate space and
    # overlap the exact top-k meaningfully. On random gaussian data
    # nprobe=1 / single-probe LSH recall is modest; the floor guards
    # against bucketing bugs (empty/degenerate buckets → recall ~0).
    recall_lsh = len(lsh & exact) / len(exact)
    recall_ivf = len(ivf & exact) / len(exact)
    # measured on the sf0.001 gaussian corpus: lsh≈0.5 (4 planes +
    # Hamming-1 multiprobe), ivf≈0.4 (nprobe=2 of 10 cells; was 0.16
    # at nprobe=1)
    assert recall_lsh >= 0.3, f"LSH recall collapsed: {recall_lsh}"
    assert recall_ivf >= 0.25, f"IVF recall collapsed: {recall_ivf}"


def test_ann_variants_rank_consistently(spark, sf_dir):
    """Within any one variant, ranks must be 1..k dense per query."""
    for name in ["sim_topk_bruteforce", "sim_topk_lsh", "sim_topk_ivf"]:
        rows = REGISTRY[name].builder(spark, sf_dir).collect()
        by_q: dict[int, list[int]] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r["rnk"])
        for q, rks in by_q.items():
            assert sorted(rks) == list(range(1, len(rks) + 1)), (name, q)


def test_lsh_cosine_pairs_vs_bruteforce(spark, sf_dir):
    """The banded-LSH near-dup pair finder (the registered
    ``dedup_embedding_cosine``) against its exact brute-force twin:
    every found pair must be a true pair (verify stage guarantees
    it) and candidate recall must hold the 2×8-banding S-curve
    promise (≈0.99 expected at threshold 0.45; the floor guards
    against degenerate bucketing)."""
    from map_reduce_showcase_spark.similarity.brute_force import cosine_pairs
    from map_reduce_showcase_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r["v1"], r["v2"]) for r in cosine_pairs(emb, 0.45).collect()}
    lsh = {
        (r["v1"], r["v2"])
        for r in REGISTRY["dedup_embedding_cosine"].builder(spark, sf_dir).collect()
    }
    assert lsh <= exact, f"false positives: {sorted(lsh - exact)[:5]}"
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.8, f"banded-LSH recall collapsed: {recall}"


def test_lsh_cosine_pairs_plan_has_no_cross_join(spark, sf_dir):
    """The whole point of the banded variant: no cartesian product
    anywhere in the physical plan."""
    df = REGISTRY["dedup_embedding_cosine"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan


def test_semantic_dedup_recall_vs_all_pairs(spark, sf_dir):
    """SemDeDup's cell factoring misses exactly the near-dup pairs
    that straddle cell boundaries; this differential MEASURES that
    loss against the full pairwise ground truth (cos ≥ 0.45, a<b).
    MEASURED on this corpus: recall ≈ 0.29 — the synthetic geometry
    is adversarial (planted pairs at cos 0.45-0.51 vs background up
    to 0.449), so single-cell assignment splits most
    near pairs across cells. The pinned band catches drift in both
    directions: collapse toward 0 = degenerate all-singleton cells;
    jump toward 1 = clustering degenerated to one quadratic cell.
    The high-recall variant on the same data is the BANDED sign-LSH
    dedup (`dedup_embedding_cosine`, recall 1.0 in
    test_lsh_cosine_pairs_vs_bruteforce): bands OR multiple chances
    per pair where SemDeDup's single assignment gives one. On real
    corpora (near-dups at 0.9+) the cell split rarely lands between
    genuine duplicates and SemDeDup recall is near-1 — this corpus
    is the stress case, and the trade is the price of ΣIcellI²
    cost."""
    from pyspark.sql import functions as F

    from map_reduce_showcase_spark.functions.vectors import cosine_from_norms, l2_norm
    from map_reduce_showcase_spark.similarity.ivf import centroid_vectors, ivf_assign
    from map_reduce_showcase_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.expr(l2_norm("embedding")).alias("nrm"),
    )
    a = v.select(
        F.col("vec_id").alias("a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = v.select(
        F.col("vec_id").alias("b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    exact = {
        (r["a"], r["b"])
        for r in a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .filter(f"{cosine_from_norms('ea', 'eb', 'na', 'nb')} >= 0.45D")
        .collect()
    }
    cells = ivf_assign(emb, centroid_vectors(emb))
    va = v.join(cells, v.vec_id == cells.vec_id).select(
        F.col("cell"), v.vec_id.alias("a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    vb = v.join(cells, v.vec_id == cells.vec_id).select(
        F.col("cell"), v.vec_id.alias("b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    within = {
        (r["a"], r["b"])
        for r in va.join(vb, "cell")
        .filter(F.col("a") < F.col("b"))
        .filter(f"{cosine_from_norms('ea', 'eb', 'na', 'nb')} >= 0.45D")
        .collect()
    }
    assert within <= exact, "cell factoring must never invent a pair"
    assert exact, "ground truth must be non-empty at this threshold"
    recall = len(within) / len(exact)
    assert 0.15 <= recall <= 0.6, f"semantic-cell recall shifted: {recall:.3f}"


def test_vector_expr_text_path(spark, sf_dir):
    """dot, l2_norm and cosine_from_norms are sequential left folds in
    double precision, so each is bit-equal, row for row, to the same
    fold in Python (``math.sqrt`` for the norm)."""
    import math

    from map_reduce_showcase_spark.functions.vectors import (
        cosine_from_norms,
        dot,
        l2_norm,
    )
    from map_reduce_showcase_spark.sources.tables import load_table

    def fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").limit(64)
    rows = (
        emb.selectExpr("embedding AS a", "reverse(embedding) AS b")
        .selectExpr(
            "a",
            "b",
            f"{l2_norm('a')} AS na",
            f"{l2_norm('b')} AS nb",
            f"{dot('a', 'b')} AS d",
        )
        .selectExpr("*", f"{cosine_from_norms('a', 'b', 'na', 'nb')} AS c")
        .collect()
    )
    assert len(rows) == 64
    for r in rows:
        na, nb = math.sqrt(fold(r["a"], r["a"])), math.sqrt(fold(r["b"], r["b"]))
        assert repr(r["na"]) == repr(na)
        assert repr(r["nb"]) == repr(nb)
        assert repr(r["d"]) == repr(fold(r["a"], r["b"]))
        assert repr(r["c"]) == repr(fold(r["a"], r["b"]) / (na * nb))


def test_tokens_expr_text_path(spark, sf_dir):
    """Same pin for the tokenizer/quality-signal text: tokens,
    punct_ratio, stopword_ratio and quality_score of 64 documents
    equal, row for row and bit for bit, a Python model of the same
    formulas (the regex reaches the engine as ``[^\\p{L}\\p{N}]+``,
    not with its backslashes dropped or doubled)."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    from map_reduce_showcase_spark.functions.text import (
        STOPWORDS,
        punct_ratio,
        quality_score,
        stopword_ratio,
        tokens,
    )
    from map_reduce_showcase_spark.sources.tables import load_table

    token = re.compile(r"[^\W_]+")

    def punct(text):
        # Java's \s without UNICODE_CHARACTER_CLASS is these six
        kept = [c for c in text if not (c.isalnum() or c in " \t\n\x0b\f\r")]
        return float(len(kept)) / float(max(len(text), 1))

    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(64)
    rows = docs.selectExpr(
        "text",
        f"{tokens('text')} AS t",
        f"{punct_ratio('text')} AS p",
        f"{stopword_ratio('text')} AS s",
        f"{quality_score('text')} AS q",
    ).collect()
    assert len(rows) == 64
    for r in rows:
        toks = token.findall(r["text"].lower())
        sw = float(sum(t in STOPWORDS for t in toks)) / float(max(len(toks), 1))
        p = punct(r["text"])
        raw = max(min(0.5 * min(len(toks) / 64.0, 1.0) + 0.5 * sw - p, 1.0), 0.0)
        q = float(Decimal(repr(raw)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
        assert r["t"] == toks
        assert repr(r["p"]) == repr(p)
        assert repr(r["s"]) == repr(sw)
        assert repr(r["q"]) == repr(q)
