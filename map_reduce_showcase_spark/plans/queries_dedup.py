"""Dedup queries over ``documents`` / ``embeddings`` — exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine. Each oracle replays
the full algorithm (including minhash signatures and simhash bits,
via the portable md5-based hash) so the driver hash-checks the whole
pipeline, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dedup import (
    exact_dup_groups,
    exact_dup_stats,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_docs,
    simhash_near_pairs,
)
from ..dedup.simhash import SIMHASH_BITS
from ..functions.text import portable_hash60_duckdb
from ..similarity.lsh import cosine_pairs_lsh, hyperplane_signs
from .queries_text import _TOKENS_SQL
from .registry import register, t

_NORM_SQL = f"array_to_string({_TOKENS_SQL}, ' ')"

# word-2-gram shingles of the token array (1-based inclusive slices)
_SHINGLES_SQL = f"""
  list_distinct(list_transform(
    generate_series(1, greatest(len({_TOKENS_SQL}) - 1, 0)),
    i -> array_to_string(({_TOKENS_SQL})[i:i+1], ' ')))
"""

_HASH60 = "CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


@register(
    "dedup_exact_stats",
    oracle=f"""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT md5({_NORM_SQL})) AS n_distinct,
           COUNT(*) - COUNT(DISTINCT md5({_NORM_SQL})) AS n_dupes
    FROM documents
    """,
    tags=("dedup", "exact"),
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact-dup summary on normalized fingerprints."""
    return exact_dup_stats(t(spark, sf_dir, "documents"))


@register(
    "dedup_exact_groups",
    oracle=f"""
    SELECT md5({_NORM_SQL}) AS fp,
           MIN(doc_id) AS keeper,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY fp
    HAVING COUNT(*) > 1
    """,
    tags=("dedup", "exact", "may_be_empty"),
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups (fingerprint, keeper=min id, copies)
    over the RAW corpus — the production plan a registry reuser
    gets: one hash-aggregate over 16-byte fingerprints, nothing
    planted. The synthetic corpus contains zero verbatim duplicates
    at any SF (verified by direct count), so this is expectedly
    empty there — tagged ``may_be_empty``; the grouping/keeper
    logic is exercised on REAL duplicate groups by the separately
    registered planted-fixture twin
    ``dedup_exact_groups_fixture`` (rounds 4–5 ran the fixture
    under this name, which handed planted rows to anyone treating
    the registry as production plans)."""
    return exact_dup_groups(t(spark, sf_dir, "documents").select("doc_id", "text"))


@register(
    "dedup_exact_groups_fixture",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id,
             text
      FROM documents WHERE doc_id % 50 = 0
    )
    SELECT md5({_NORM_SQL}) AS fp,
           MIN(doc_id) AS keeper,
           COUNT(*) AS n_copies
    FROM corpus
    GROUP BY fp
    HAVING COUNT(*) > 1
    """,
    tags=("dedup", "exact", "planted-fixture"),
)
def dedup_exact_groups_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-vacuous evidence twin of ``dedup_exact_groups``: the
    corpus UNION ALL a deterministic replicated slice (every 50th
    doc re-appended under an offset id), guaranteeing real
    duplicate groups at every SF while the operator under test
    (``dedup/exact.py::exact_dup_groups``) stays byte-identical to
    the production form. The id offset is DERIVED as
    ``max(doc_id) + 1`` (a broadcast single-row join, no data
    shuffle) rather than a fixed constant, so replica ids can never
    collide with corpus ids at any SF."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    off = docs.agg((F.max("doc_id") + F.lit(1)).alias("_off"))
    replica = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .crossJoin(F.broadcast(off))
        .withColumn("doc_id", F.col("doc_id") + F.col("_off"))
        .drop("_off")
    )
    return exact_dup_groups(docs.unionByName(replica))


_JACCARD_TAIL_SQL = f"""
  sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
  e AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
  sz AS (SELECT doc_id, len(shingles) AS sz FROM sh)
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_JACCARD_TAIL_SQL},
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           round(inter * 1.0 / (s1.sz + s2.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sz s1 ON inter.d1 = s1.doc_id
    JOIN sz s2 ON inter.d2 = s2.doc_id
    WHERE inter * 1.0 / (s1.sz + s2.sz - inter) >= 0.7
    """,
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive word-bigram Jaccard near-dup pairs (J ≥ 0.7) via
    the inverted shingle index — the exact twin MinHash is verified
    against."""
    return ngram_jaccard_pairs(t(spark, sf_dir, "documents"), n=2, threshold=0.7)


def _minhash_sql(
    num_hashes: int = 12, rows_per_band: int = 2, new_pred: str | None = None
) -> str:
    """Oracle replay of the full minhash pipeline. With ``new_pred``
    (a SQL predicate over ``a.doc_id``) the candidate join becomes
    the incremental batch-vs-corpus form: one side restricted to the
    new batch, pairs canonicalized with least/greatest."""
    from ..dedup.minhash import MOD, _A_MULT, _B_MULT

    # hash once into eh (the Spark side's per-doc ``ks`` array);
    # signatures, intersection join and sizes all reuse k
    h = (
        f"(((hi.i * {_A_MULT} + 1) % {MOD}) * (k % {MOD})"
        f" + ((hi.i * {_B_MULT} + 7) % {MOD})) % {MOD}"
    )
    if new_pred is None:
        cand = f"""
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    """
    else:
        cand = f"""
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS d1,
                      greatest(a.doc_id, b.doc_id) AS d2
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
      WHERE {new_pred}
    """
    eh_hash = _HASH60.format(expr="shingle")
    return f"""
    WITH {_JACCARD_TAIL_SQL},
    eh AS (SELECT doc_id, {eh_hash} AS k FROM e),
    szh AS (SELECT doc_id, COUNT(*) AS sz FROM eh GROUP BY doc_id),
    mh AS (
      SELECT doc_id, hi.i AS i, MIN({h}) AS m
      FROM eh, (SELECT unnest(generate_series(0, {num_hashes - 1})) AS i) hi
      GROUP BY doc_id, hi.i
    ),
    bands AS (
      SELECT doc_id, i // {rows_per_band} AS band,
             string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS bkey
      FROM mh GROUP BY doc_id, i // {rows_per_band}
    ),
    cand AS ({cand}),
    inter AS (
      SELECT c.d1, c.d2, COUNT(*) AS inter
      FROM cand c
      JOIN eh e1 ON e1.doc_id = c.d1
      JOIN eh e2 ON e2.doc_id = c.d2 AND e2.k = e1.k
      GROUP BY c.d1, c.d2
    )
    SELECT d1, d2,
           round(inter * 1.0 / (s1.sz + s2.sz - inter), 6) AS jaccard
    FROM inter
    JOIN szh s1 ON inter.d1 = s1.doc_id
    JOIN szh s2 ON inter.d2 = s2.doc_id
    WHERE inter * 1.0 / (s1.sz + s2.sz - inter) >= 0.7
    """


@register("dedup_minhash_lsh", oracle=_minhash_sql(12, 3), tags=("dedup", "minhash"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12 hashes) + LSH(4 bands × 3) near-dup pairs, exact-
    Jaccard-verified at J ≥ 0.7. The oracle replays signatures,
    banding, candidates and verification bit-for-bit. 4×3 banding
    puts the S-curve midpoint at J≈0.55: J≥0.9 pairs are caught with
    P>0.99 while the J≈0.1 background almost never collides — the
    candidate count is what the verify stage's cost scales with.
    At 100 TB the band equi-join is the only stage that touches
    pairs. Nothing caps boilerplate-driven bucket skew: every shingle
    is banded, so identical documents all meet in one band bucket and
    only the sort-merge join's spill bounds that bucket (ROADMAP
    direction 5 is the fix: collapse exact copies before banding)."""
    return minhash_near_dup_pairs(
        t(spark, sf_dir, "documents"), n=2, num_hashes=12, rows_per_band=3, threshold=0.7
    )


def _simhash_sql() -> str:
    h = _HASH60.format(expr="word")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents
    ),
    h AS (SELECT doc_id, {h} AS hv FROM tok),
    b AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM b
    """


@register("dedup_simhash", oracle=_simhash_sql(), tags=("dedup", "simhash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document (portable md5 token
    hashes; strict-majority bits)."""
    return simhash_docs(t(spark, sf_dir, "documents"))


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH s AS ({_simhash_sql()})
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs (Hamming ≤ 3) found via pigeonhole banding
    (4 bands × 4 bits) — never a cross join. The oracle brute-forces
    all pairs; the pigeonhole guarantee makes the results equal."""
    return simhash_near_pairs(t(spark, sf_dir, "documents"), max_hamming=3, n_bands=4)


_EMB_ROWS_PER_BAND = 2
_EMB_N_BANDS = 8


def _band_keys_sql(vec: str) -> str:
    """DuckDB replay of :func:`banded_band_keys`: one int key per
    band from the same md5-derived ±1 hyperplanes, inlined as
    literals (``list_dot_product`` folds sequentially like Spark's
    ``F.aggregate``, so the sign bits agree bit-for-bit)."""
    planes = hyperplane_signs(n_planes=_EMB_ROWS_PER_BAND * _EMB_N_BANDS)
    keys = []
    for b in range(_EMB_N_BANDS):
        terms = []
        for j in range(_EMB_ROWS_PER_BAND):
            lit = "[" + ", ".join(
                f"{v:.1f}" for v in planes[b * _EMB_ROWS_PER_BAND + j]
            ) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product({vec}, {lit}) >= 0"
                f" THEN {1 << j} ELSE 0 END)"
            )
        keys.append(
            f"({b * (1 << _EMB_ROWS_PER_BAND)} + " + " + ".join(terms) + ")"
        )
    return "[" + ", ".join(keys) + "]"


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, unnest({_band_keys_sql("v")}) AS bkey FROM e),
    cand AS (
      SELECT DISTINCT a.vec_id AS v1, b2.vec_id AS v2
      FROM b a JOIN b b2 ON a.bkey = b2.bkey AND a.vec_id < b2.vec_id
    )
    SELECT cand.v1, cand.v2,
           round(list_cosine_similarity(e1.v, e2.v), 6) AS cosine
    FROM cand
    JOIN e e1 ON e1.vec_id = cand.v1
    JOIN e e2 ON e2.vec_id = cand.v2
    WHERE list_cosine_similarity(e1.v, e2.v) >= 0.45
    """,
    tags=("dedup", "embedding", "lsh"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicates (cosine ≥ 0.45) via banded
    sign-LSH — bucket, band equi-join for candidates, exact-cosine
    verify on candidates only; NO cross join at any stage, so the
    plan survives 100 TB (the brute-force twin in
    ``similarity/brute_force.py`` is demoted to the differential
    recall test in ``tests/test_similarity.py``). The oracle replays
    bucketing, candidate generation, and verification exactly; 2×8
    banding puts candidate recall at ≈0.99 for this threshold."""
    return cosine_pairs_lsh(
        t(spark, sf_dir, "embeddings"),
        threshold=0.45,
        rows_per_band=_EMB_ROWS_PER_BAND,
        n_bands=_EMB_N_BANDS,
    )


@register(
    "dedup_incremental_minhash",
    oracle=_minhash_sql(
        12,
        3,
        new_pred=(
            "CAST(concat('0x', substr(md5(CAST(a.doc_id AS VARCHAR)), 1, 15))"
            " AS BIGINT) % 5 = 0"
        ),
    ),
    tags=("dedup", "minhash", "incremental"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup: TODAY'S batch (a deterministic
    ~20% hash bucket of doc ids stands in for an ingest-date
    predicate) against the whole corpus. Same MinHash(12)+LSH(4×3)
    index and J ≥ 0.7 verify as ``dedup_minhash_lsh``, but the
    candidate join requires a batch doc on one side — the old×old
    quadrant, which is asymptotically ALL the work as the corpus
    outgrows the daily batch, is never generated. This is THE
    operating mode of dedup at 100 TB (you dedup arrivals, not the
    lake); the oracle replays the asymmetric candidate join
    bit-for-bit."""
    from ..dedup.minhash import incremental_minhash_near_dup_pairs
    from ..functions.text import portable_hash60

    return incremental_minhash_near_dup_pairs(
        t(spark, sf_dir, "documents"),
        is_new=lambda c: f"{portable_hash60(f'CAST({c} AS STRING)')} % 5 = 0",
        n=2,
        num_hashes=12,
        rows_per_band=3,
        threshold=0.7,
    )


@register(
    "decontam_benchmark_overlap",
    oracle=f"""
    WITH {_JACCARD_TAIL_SQL},
    bench AS (SELECT DISTINCT shingle FROM e WHERE doc_id < 20),
    corpus AS (SELECT doc_id, shingle FROM e WHERE doc_id >= 20),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM corpus GROUP BY doc_id),
    hits AS (
      SELECT c.doc_id, COUNT(*) AS n_overlap
      FROM corpus c JOIN bench b ON c.shingle = b.shingle
      GROUP BY c.doc_id
    )
    SELECT sizes.doc_id,
           CAST(sizes.n_sh AS INT) AS n_shingles,
           CAST(COALESCE(h.n_overlap, 0) AS INT) AS n_overlap,
           round(CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
                 / CAST(sizes.n_sh AS DOUBLE), 6) AS overlap_frac,
           (CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
            / CAST(sizes.n_sh AS DOUBLE) >= 0.5) AS contaminated
    FROM sizes LEFT JOIN hits h USING (doc_id)
    """,
    tags=("dedup", "decontamination"),
)
def decontam_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (``dedup/decontam.py``): score every
    corpus document's bigram-shingle overlap against the benchmark
    set (docs with id < 20 stand in for the eval suite) and flag
    ≥ 50% overlap. The benchmark's distinct-shingle set broadcasts —
    the corpus-side probe is a broadcast hash join at scan speed, so
    the cost at 100 TB is one corpus pass + one per-doc count
    shuffle; the corpus is never joined with itself."""
    from ..dedup.decontam import contamination_report

    return contamination_report(
        t(spark, sf_dir, "documents"),
        is_benchmark=F.col("doc_id") < 20,
        n=2,
        flag_threshold=0.5,
    )


@register(
    "dedup_apply_exact",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, lang, n_chars, md5({_NORM_SQL}) AS fp FROM documents
    ),
    marked AS (
      SELECT lang, n_chars,
             doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS is_keeper
      FROM fp
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE is_keeper) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE NOT is_keeper) AS BIGINT) AS n_dropped,
           CAST(COALESCE(SUM(n_chars) FILTER (WHERE is_keeper), 0) AS BIGINT)
             AS chars_kept
    FROM marked
    GROUP BY lang
    """,
    tags=("dedup", "exact", "apply"),
)
def dedup_apply_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup step actually APPLIED, not just reported: keeper =
    min doc_id per normalized fingerprint (the deterministic policy
    from ``dedup_exact_groups``), then per-language corpus
    accounting of what survives. Shape: one shuffle on the
    fingerprint (window min), one on lang — at 100 TB the
    fingerprint window carries md5 hashes, never text, and the same
    marked frame IS the filtered corpus (``WHERE is_keeper``) that
    feeds the next pipeline stage."""
    from ..functions.text import fingerprint

    docs = t(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    w = Window.partitionBy("fp")
    marked = (
        docs.selectExpr("doc_id", "lang", "n_chars", f"{fingerprint('text')} AS fp")
        .withColumn("is_keeper", F.col("doc_id") == F.min("doc_id").over(w))
    )
    return marked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("is_keeper")).alias("n_kept"),
        F.count_if(~F.col("is_keeper")).alias("n_dropped"),
        F.coalesce(F.sum(F.when(F.col("is_keeper"), F.col("n_chars"))), F.lit(0))
        .cast("long")
        .alias("chars_kept"),
    )


@register(
    "dedup_fuzzy_names",
    oracle="""
    SELECT least(a.c_name, b.c_name) AS name_a,
           greatest(a.c_name, b.c_name) AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist,
           COUNT(*) AS n_pairs
    FROM customer a
    JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
    GROUP BY 1, 2, 3
    """,
    tags=("dedup", "fuzzy", "entity-resolution"),
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution (edit distance <= 1) WITHOUT a cross
    join: deletion-neighborhood blocking. Each name emits its
    1-deletion neighborhood as join keys ({s} plus s with the i-th
    char removed); two strings within one edit (substitution,
    insertion, deletion) necessarily share a key, so candidates come
    from a plain equi-join on the key and the exact ``levenshtein``
    verify touches candidates only. The oracle is the O(n^2)
    verification-scale twin; the blocked plan is the one that runs at
    100 TB — bucket sizes are bounded by alphabet x name-template
    density, never by corpus size.

    Shuffle discipline: deletion keys are xxhash64-ed to 8-byte longs
    at the scan, so the self-join and the candidate distinct() move
    (long, long) rows, never strings; names re-attach AFTER the
    distinct via two broadcast joins against the |customers|-row
    dimension. Measured 2.3x end-to-end vs joining and distinct-ing
    the string pairs (5.1 -> 2.2 s at sf0.1). Collision semantics
    are ASYMMETRIC between the two hashes: a BLOCK-key (kh)
    collision only adds a spurious candidate pair that the
    levenshtein verify rejects — harmless; a NAME-id (nh) collision
    between two distinct names is a silent FALSE NEGATIVE — the
    strict ``a.nh < b.nh`` canonicalization can never pair them
    (and the re-attach fans that nh out to both names, each still
    individually levenshtein-verified, so no wrong rows appear —
    only the colliding pair itself is lost). Probability over the
    whole catalog is ~C(n,2)/2^64 (~3e-9 at 100M distinct names),
    which is the accepted trade for string-free shuffles; a
    collision-intolerant deployment can re-attach by joining on the
    name itself as tiebreak at the cost of shuffling strings.

    Duplicate-multiplicity defense (in the operator since round 5,
    previously only an operating note): m verbatim copies of a name
    share every deletion key, so blocking the raw rows costs
    m²·|keys| candidate rows before the distinct — the scale sweep
    measured 88 s / leg ratios 4.4–8.9 on verbatim-replicated names.
    The standard entity-resolution pre-step fixes it structurally:
    collapse exact-duplicate names FIRST (one hash-aggregate; map-
    side combine absorbs the multiplicity before the shuffle), then
    run blocking + levenshtein verify over DISTINCT names only.

    Output contract — MATCH GROUPS, not expanded pairs: one row per
    unordered NAME pair within distance 1 (plus one per duplicated
    name, dist 0), carrying ``n_pairs``, the number of underlying
    record pairs (m_a·m_b across names, C(m,2) within one). The
    expanded pair list is recoverable exactly, but materializing it
    is Θ(n_pairs) BY DEFINITION — on this catalog's sequential name
    template the 16×-replica sweep measured 35 s / tail 7.9 purely
    generating the 69M expanded rows; no operator outruns its own
    output. The multiplicity form is the standard ER join artifact
    and keeps the query output-bounded by the DISTINCT-name pair
    count, flat under duplicate replication."""
    return fuzzy_name_match_groups(
        t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    )


def fuzzy_name_match_groups(cust: DataFrame) -> DataFrame:
    """Core of ``dedup_fuzzy_names`` over any (c_custkey, c_name)
    frame — factored out so the property suite can drive it with
    adversarial synthetic name sets (tiny alphabets force dense
    lev-1 neighborhoods, duplicates, and empty strings)."""
    # 1. exact-dup collapse: one row per distinct name + multiplicity.
    #    The exchange is PINNED (see functions/util.pinned_shuffle):
    #    the groupBy reuses the same partitioning — one exchange, as
    #    before (guide §2.4) — but the explicit count stops AQE's
    #    bytes-based coalescing from fusing the DOWNSTREAM deletion-
    #    neighborhood explode onto one task: r17 profiling showed that
    #    stage expanding a ~0.1 MB distinct-names input ~140× into the
    #    self-join shuffle on a single task (1.39 s of the query's
    #    3.2 s). Bytes are a bad proxy for work when a stage
    #    multiplies its input.
    from ..functions.util import pinned_shuffle

    groups = pinned_shuffle(cust, "c_name").groupBy("c_name").agg(
        F.count(F.lit(1)).alias("m")
    )
    nh = F.xxhash64("c_name")
    names_dim = groups.select(nh.alias("nh"), "c_name", "m")
    # 2. deletion-neighborhood blocking over distinct names; keys and
    #    name ids are xxhash64 longs so the self-join and distinct
    #    move (long, long) rows, never strings — a BLOCK-key (kh)
    #    collision only adds a spurious candidate the levenshtein
    #    verify rejects; a NAME-id (nh) collision is a ~2^-64 silent
    #    false negative (see the registered query's docstring)
    keys = groups.select(
        nh.alias("nh"),
        F.explode(
            F.array_union(
                F.array(F.col("c_name")),
                F.transform(
                    F.sequence(F.lit(1), F.length("c_name")),
                    lambda i: F.concat(
                        F.substring(F.col("c_name"), F.lit(1), i - 1),
                        F.col("c_name").substr(i + 1, F.length("c_name")),
                    ),
                ),
            )
        ).alias("block_key"),
    ).select("nh", F.xxhash64("block_key").alias("kh"))
    a = keys.alias("a")
    b = keys.alias("b")
    cand = (
        a.join(b, F.col("a.kh") == F.col("b.kh"))
        .where(F.col("a.nh") < F.col("b.nh"))
        .select(F.col("a.nh").alias("h1"), F.col("b.nh").alias("h2"))
        .distinct()
    )
    # 3. verify on distinct-name pairs; multiplicities multiply out
    d1 = F.broadcast(names_dim).alias("d1")
    d2 = F.broadcast(names_dim).alias("d2")
    cross = (
        cand.join(d1, F.col("h1") == F.col("d1.nh"))
        .join(d2, F.col("h2") == F.col("d2.nh"))
        .where(F.levenshtein(F.col("d1.c_name"), F.col("d2.c_name")) <= 1)
        .select(
            F.least(F.col("d1.c_name"), F.col("d2.c_name")).alias("name_a"),
            F.greatest(F.col("d1.c_name"), F.col("d2.c_name")).alias("name_b"),
            F.levenshtein(F.col("d1.c_name"), F.col("d2.c_name"))
            .cast("int")
            .alias("dist"),
            (F.col("d1.m") * F.col("d2.m")).alias("n_pairs"),
        )
    )
    # 4. duplicated names (dist 0): C(m, 2) record pairs each
    within = groups.where(F.col("m") >= 2).select(
        F.col("c_name").alias("name_a"),
        F.col("c_name").alias("name_b"),
        F.lit(0).cast("int").alias("dist"),
        (F.col("m") * (F.col("m") - 1) / 2).cast("long").alias("n_pairs"),
    )
    return cross.unionByName(within)


# word 5-gram spans of the token array (1-based inclusive slices),
# distinct per doc — the passage unit for corpus-level dedup
_SPANS5_SQL = f"""
  list_distinct(list_transform(
    generate_series(1, greatest(len({_TOKENS_SQL}) - 4, 0)),
    i -> array_to_string(({_TOKENS_SQL})[i:i+4], ' ')))
"""


@register(
    "dedup_repeated_passages",
    oracle=f"""
    WITH spans AS (
      SELECT doc_id, {portable_hash60_duckdb("unnest(" + _SPANS5_SQL + ")")} AS k
      FROM documents
    ),
    sdf AS (SELECT k, COUNT(*) AS df FROM spans GROUP BY k),
    per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_spans,
             COUNT(*) FILTER (WHERE df >= 2) AS n_repeated
      FROM spans s JOIN sdf USING (k)
      GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(n_repeated, 0) AS BIGINT) AS n_repeated,
           round(CAST(COALESCE(n_repeated, 0) AS DOUBLE)
                 / greatest(COALESCE(n_spans, 0), 1), 6) AS repeated_frac,
           (CAST(COALESCE(n_repeated, 0) AS DOUBLE)
            / greatest(COALESCE(n_spans, 0), 1) <= 0.5) AS keep
    FROM documents d LEFT JOIN per_doc USING (doc_id)
    """,
    tags=("dedup", "passages", "corpus-level"),
)
def dedup_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level passage dedup (the C4 / RefinedWeb rule, word
    5-gram spans standing in for three-sentence spans): a span's
    document frequency is counted across the WHOLE corpus, and a doc
    is dropped when more than half its spans also occur elsewhere —
    catching boilerplate and templated text that document-level
    near-dup misses. Distinct from doc-level MinHash: the unit is
    the passage, the index is global.

    Shape at 100 TB: spans shuffle as portable 60-bit hashes (8
    bytes, never text — the same trick as exact dedup); one shuffle
    counts span DF, one joins DF back to span rows, one re-groups
    per doc. Ultra-hot spans (empty boilerplate) are the classic
    skew keys — cap or salt them as in the inverted shingle index."""
    from ..dedup.jaccard import shingle_rows
    from ..functions.text import portable_hash60

    docs = t(spark, sf_dir, "documents")
    # the span frame feeds both the global DF count and the per-doc
    # join: materialize the tokenize+shingle+hash work once (8-byte
    # rows)
    spans = (
        shingle_rows(docs, n=5)
        .selectExpr("doc_id", f"{portable_hash60('shingle')} AS k")
        .localCheckpoint(eager=False)
    )
    sdf = spans.groupBy("k").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        spans.join(sdf, "k")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count_if(F.col("df") >= 2).alias("n_repeated"),
        )
    )
    frac = F.coalesce(F.col("n_repeated"), F.lit(0)).cast("double") / F.greatest(
        F.coalesce(F.col("n_spans"), F.lit(0)), F.lit(1)
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.col("n_repeated"), F.lit(0))
            .cast("bigint")
            .alias("n_repeated"),
            F.round(frac, 6).alias("repeated_frac"),
            (frac <= 0.5).alias("keep"),
        )
    )


#: boilerplate-shingle document-frequency cap for the containment
#: index — a shingle in more than half the sf0.01 corpus is
#: boilerplate, not signal (mirrored verbatim in the oracle below)
_CONTAIN_MAX_DF = 250

# dedup_substring_runs' boilerplate cap: grams occurring more often
# than this corpus-wide are dropped before the island merge — they
# are boilerplate, and they are also the skew key of the h-shuffle's
# hot window partition (the round-4 sweep's second-highest tail,
# 3.22, traced to exactly these). 250 occurrences at sf0.1 is ~50x
# the frequency of any legitimate duplicated passage in this corpus.
_SUBSTR_MAX_GRAM_DF = 250


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
    e0 AS (SELECT doc_id,
                  {portable_hash60_duckdb("unnest(shingles)")} AS shingle
           FROM sh),
    e AS (SELECT doc_id, shingle FROM e0
          QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {_CONTAIN_MAX_DF}),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM e GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           round(inter * 1.0 / s1.sz, 6) AS c1,
           round(inter * 1.0 / s2.sz, 6) AS c2
    FROM inter
    JOIN sz s1 ON inter.d1 = s1.doc_id
    JOIN sz s2 ON inter.d2 = s2.doc_id
    WHERE greatest(inter * 1.0 / s1.sz, inter * 1.0 / s2.sz) >= 0.8
    """,
    tags=("dedup", "containment"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (quote/excerpt detection): pairs
    where ≥80% of EITHER doc's shingles appear in the other —
    Broder's second resemblance measure, and the one that catches a
    short doc embedded verbatim in a long one (Jaccard dilutes that
    signal by the union size, so no Jaccard threshold separates it
    from noise). Same inverted shingle index as ``dedup_ngram_jaccard``
    with the boilerplate DF cap genuinely applied (shingles in more
    than ``_CONTAIN_MAX_DF`` docs are dropped before both the
    intersection and the normalizers — the oracle replays the same
    cap); only the verify normalizer differs. Since round 5 the
    index carries portable 60-bit shingle hashes instead of strings
    (oracle-mirrored), so both shuffles move 8-byte longs — the
    round-4 sweep's highest non-control tail (3.27) was the string
    shuffle/sort growing with the corpus."""
    from ..dedup.jaccard import containment_pairs

    return containment_pairs(
        t(spark, sf_dir, "documents"),
        n=2,
        threshold=0.8,
        max_shingle_df=_CONTAIN_MAX_DF,
    )


@register(
    "dedup_substring_runs",
    oracle=f"""
    WITH
    w AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    g AS (SELECT doc_id, unnest(generate_series(1, len(tk) - 9)) AS pos, tk
          FROM w WHERE len(tk) >= 10),
    grams AS (SELECT doc_id, pos,
                     {portable_hash60_duckdb("array_to_string(tk[pos:pos+9], ' ')")} AS h
              FROM g),
    dup AS (SELECT h FROM grams GROUP BY h
            HAVING COUNT(*) >= 2 AND COUNT(*) <= {_SUBSTR_MAX_GRAM_DF}),
    hits AS (SELECT doc_id, pos,
                    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             FROM grams WHERE h IN (SELECT h FROM dup))
    SELECT doc_id, MIN(pos) AS run_start, MAX(pos) + 9 AS run_end,
           MAX(pos) + 9 - MIN(pos) + 1 AS run_words
    FROM hits GROUP BY doc_id, grp
    """,
    tags=("dedup", "substring", "suffix-array"),
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup (Lee et al. 2022 ExactSubstr,
    fixed-k k-mer-index formulation): every maximal run of >= 10
    tokens whose every 10-gram occurs at least twice corpus-wide —
    the span-granular signal for CLIPPING duplicated text out of
    training data rather than dropping whole documents. The oracle
    replays the identical 60-bit gram hashes, duplicated-gram filter,
    and island merge, so the run boundaries are hash-checked exactly.

    Scale: grams shuffle as 8-byte hashes, the duplicated-position
    test is a count-over-window on the gram hash (one corpus scan,
    no join — plan-pinned), and the island-merge window sees only
    duplicated positions. The ``max_gram_df`` boilerplate cap is
    wired (and oracle-mirrored) since round 5: ultra-hot grams are
    both noise and the hot key of the h-window partition — dropping
    them bounds the largest window partition by the cap."""
    from ..dedup.substrings import duplicate_runs

    return duplicate_runs(
        t(spark, sf_dir, "documents"), k=10, max_gram_df=_SUBSTR_MAX_GRAM_DF
    )
