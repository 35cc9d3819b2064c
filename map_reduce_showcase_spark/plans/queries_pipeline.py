"""Pipeline-utility queries: reproducible splits and data-quality
profiling — the unglamorous operators every training-data pipeline
runs before anything else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import portable_hash60, portable_hash60_duckdb
from .queries_text import (
    _NBIGRAM_DISTINCT_SQL,
    _NDIST_SQL,
    _NTOK_SQL,
    _QUALITY_SQL,
    _TOKENS_SQL,
    _TOPCNT_SQL,
    _lang_case_sql,
    _lang_score_sql,
)
from .registry import register, t


def _salted_hash(salt: str, col: str = "doc_id") -> str:
    """:func:`portable_hash60` of ``'<salt>#' || col``: one
    deterministic draw per row and purpose, replayable by the oracle."""
    return portable_hash60(f"concat('{salt}#', CAST({col} AS STRING))")


# DuckDB twin of the funnel's repetition predicate (see
# pipeline_filter_funnel below) — the text_repetition_filter oracle's
# expression.
_REP_KEEP_SQL = f"""
    (CAST({_NDIST_SQL} AS DOUBLE) / CAST(greatest({_NTOK_SQL}, 1) AS DOUBLE) >= 0.2
     AND CAST({_TOPCNT_SQL} AS DOUBLE)
         / CAST(greatest({_NTOK_SQL}, 1) AS DOUBLE) <= 0.2
     AND CASE WHEN {_NTOK_SQL} > 1
         THEN 1.0 - CAST({_NBIGRAM_DISTINCT_SQL} AS DOUBLE)
                    / CAST({_NTOK_SQL} - 1 AS DOUBLE)
         ELSE 0.0 END <= 0.75)
"""
_FUNNEL_ORACLE = f"""
    WITH scores AS (
      SELECT doc_id, text,
             {_lang_score_sql('en')} AS s_en,
             {_lang_score_sql('de')} AS s_de,
             {_lang_score_sql('es')} AS s_es,
             {_lang_score_sql('fr')} AS s_fr
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             ({_lang_case_sql()} != 'und') AS c_lang,
             ({_QUALITY_SQL} >= 0.25) AS c_quality,
             {_REP_KEEP_SQL} AS c_rep,
             md5(array_to_string({_TOKENS_SQL}, ' ')) AS fp
      FROM scores
    ),
    staged AS (
      SELECT doc_id, fp,
             c_lang AS s1,
             (c_lang AND c_quality) AS s2,
             (c_lang AND c_quality AND c_rep) AS s3
      FROM feat
    ),
    marked AS (
      SELECT *,
             (s3 AND doc_id = MIN(CASE WHEN s3 THEN doc_id END)
                              OVER (PARTITION BY fp)) AS s4
      FROM staged
    ),
    agg AS (
      SELECT COUNT(*) AS n0,
             COUNT(*) FILTER (WHERE s1) AS n1,
             COUNT(*) FILTER (WHERE s2) AS n2,
             COUNT(*) FILTER (WHERE s3) AS n3,
             COUNT(*) FILTER (WHERE s4) AS n4
      FROM marked
    )
    SELECT 0 AS stage_ord, '0_input' AS stage, n0 AS n_docs,
           round(CAST(n0 AS DOUBLE) / n0, 6) AS pct_of_input FROM agg
    UNION ALL SELECT 1, '1_lang_id', n1, round(CAST(n1 AS DOUBLE) / n0, 6) FROM agg
    UNION ALL SELECT 2, '2_quality', n2, round(CAST(n2 AS DOUBLE) / n0, 6) FROM agg
    UNION ALL SELECT 3, '3_repetition', n3, round(CAST(n3 AS DOUBLE) / n0, 6) FROM agg
    UNION ALL SELECT 4, '4_exact_dedup', n4, round(CAST(n4 AS DOUBLE) / n0, 6) FROM agg
"""


@register(
    "pipeline_filter_funnel",
    oracle=_FUNNEL_ORACLE,
    tags=("pipeline", "funnel", "dedup"),
)
def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pre-training data pipeline as ONE funnel: input →
    language-ID known → quality score ≥ 0.25 → Gopher repetition
    rules → exact-dedup keeper (keeper chosen among the docs that
    survived filtering, as a real pipeline orders it). Emits one row
    per cumulative stage with survivor count and fraction of input.

    Shape at 100 TB: stages 0–3 are scan-local column predicates
    (one pass, zero shuffles); the dedup stage adds exactly one
    shuffle (window-min over the md5 fingerprint — 16-byte hashes,
    never text); the final funnel rollup is a single-row aggregate
    unpivoted driver-side-free via ``stack``."""
    from ..functions import text as T

    toks = F.expr(T.tokens("text"))
    n = F.size(toks)
    safe_n = F.greatest(n, F.lit(1)).cast("double")
    ndist = F.size(F.array_distinct(toks))
    topcnt = F.expr(T.top_token_count(T.tokens("text")))
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    dup_bigram = F.when(
        n > 1,
        F.lit(1.0)
        - F.size(F.array_distinct(bigrams)).cast("double") / (n - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    keep_rep = (
        (ndist.cast("double") / safe_n >= 0.2)
        & (topcnt.cast("double") / safe_n <= 0.2)
        & (dup_bigram <= 0.75)
    )

    s1 = F.expr(f"{T.language_id('text')} <> 'und'")
    s2 = s1 & F.expr(f"{T.quality_score('text')} >= 0.25D")
    s3 = s2 & keep_rep

    from pyspark.sql.window import Window

    fp = F.md5(F.concat_ws(" ", toks))
    marked = t(spark, sf_dir, "documents").select(
        "doc_id",
        s1.alias("s1"),
        s2.alias("s2"),
        s3.alias("s3"),
        fp.alias("fp"),
    )
    w = Window.partitionBy("fp")
    marked = marked.withColumn(
        "s4",
        F.col("s3")
        & (
            F.min(F.when(F.col("s3"), F.col("doc_id"))).over(w) == F.col("doc_id")
        ),
    )
    agg = marked.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count_if("s1").alias("n1"),
        F.count_if("s2").alias("n2"),
        F.count_if("s3").alias("n3"),
        F.count_if("s4").alias("n4"),
    )
    return agg.selectExpr(
        """stack(5,
             0, '0_input', n0, round(CAST(n0 AS DOUBLE) / n0, 6),
             1, '1_lang_id', n1, round(CAST(n1 AS DOUBLE) / n0, 6),
             2, '2_quality', n2, round(CAST(n2 AS DOUBLE) / n0, 6),
             3, '3_repetition', n3, round(CAST(n3 AS DOUBLE) / n0, 6),
             4, '4_exact_dedup', n4, round(CAST(n4 AS DOUBLE) / n0, 6)
           ) AS (stage_ord, stage, n_docs, pct_of_input)"""
    )


@register(
    "salted_event_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt
    FROM events
    GROUP BY event_type
    """,
    tags=("pipeline", "skew"),
)
def salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe hot-key counting: ``events.event_type`` has only ~5
    values, so a plain groupBy concentrates each key's final merge
    in one task. :func:`~..operators.skew.salted_count_by_key`
    splits every key into 16 deterministic xxhash64 salts —
    partial-aggregate per (key, salt), merge 16 rows per key — the
    answer is IDENTICAL to ``GROUP BY`` (the oracle is the plain
    form) but no single task ever owns a hot key's raw rows. This is
    the two-stage pattern for 100 TB skewed aggregations that
    map-side combine alone can't fix (e.g. collect_list/percentile
    states that don't pre-reduce)."""
    from ..operators.skew import salted_count_by_key

    return salted_count_by_key(
        t(spark, sf_dir, "events"), "event_type", salt_cols=["event_id"], n_salts=16
    )


_REBAL_U_SQL = (
    portable_hash60_duckdb("'rebal#' || CAST(doc_id AS VARCHAR)") + " % 1000000"
)


@register(
    "sample_rebalance_langs",
    oracle=f"""
    WITH counts AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ),
    tgt AS (SELECT MIN(n_docs) AS target FROM counts),
    flagged AS (
      SELECT d.lang, c.n_docs, t.target,
             (({_REBAL_U_SQL}) * c.n_docs < t.target * 1000000) AS keep
      FROM documents d JOIN counts c USING (lang) CROSS JOIN tgt t
    )
    SELECT lang, n_docs, CAST(target AS BIGINT) AS target,
           COUNT(*) FILTER (WHERE keep) AS n_kept,
           round(CAST(COUNT(*) FILTER (WHERE keep) AS DOUBLE)
                 / CAST(n_docs AS DOUBLE), 6) AS kept_frac
    FROM flagged
    GROUP BY lang, n_docs, target
    """,
    tags=("pipeline", "sampling", "rebalance"),
)
def sample_rebalance_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language rebalancing: downsample every language toward the
    smallest language's count with a deterministic per-doc Bernoulli
    draw — rate_l = target / count_l, doc kept iff
    ``hash(doc) % 1e6 * count_l < target * 1e6``. ALL-INTEGER
    comparison, so the draw replays exactly on any engine and on any
    rerun (the reproducibility property RNG-based samplers lack),
    and each language's expected share lands uniform. The standard
    move before multilingual pre-training (and the same machinery
    does temperature sampling: set target_l = total·p_l^(1/T)
    normalized).

    Shape at 100 TB: one count agg (tiny — |langs| rows, broadcast
    back), one scan with a scan-local keep predicate, one final agg.
    The doc table never shuffles at all."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    target = counts.agg(F.min("n_docs").alias("target"))
    u = F.expr(f"{_salted_hash('rebal')} % 1000000")
    keep = (u * F.col("n_docs")) < (F.col("target") * F.lit(1_000_000))
    return (
        docs.join(F.broadcast(counts), "lang")
        .join(F.broadcast(target))
        .groupBy("lang", "n_docs", "target")
        .agg(F.count_if(keep).alias("n_kept"))
        .select(
            "lang",
            "n_docs",
            "target",
            "n_kept",
            F.round(
                F.col("n_kept").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("kept_frac"),
        )
    )


@register(
    "sample_weighted_quality",
    oracle=f"""
    WITH sc AS (
      SELECT doc_id, lang, {_QUALITY_SQL} AS q,
             ({portable_hash60_duckdb("CAST(doc_id AS VARCHAR)")} + 1)
               / 1152921504606846976.0 AS u
      FROM documents
    )
    SELECT doc_id, lang, q AS quality
    FROM sc
    ORDER BY ln(u) / (q + 0.01) DESC, doc_id ASC
    LIMIT 100
    """,
    tags=("pipeline", "sampling", "weighted"),
)
def sample_weighted_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling without replacement (Efraimidis-
    Spirakis A-Res): each doc draws a deterministic uniform u from
    the md5 of its stable id and is ranked by ln(u)/w with weight
    w = quality + 0.01 (the epsilon keeps zero-quality docs drawable);
    the top-k by that key IS a weighted sample without replacement.
    Ordering by ln(u)/w is the standard monotone-equivalent of
    u^(1/w) that avoids pow().

    The workhorse for "sample 10M docs favoring high quality" —
    reproducible across engines and reruns (no RNG state), unlike
    rand()-based sampling.

    Scale: scan-local key computation + TakeOrderedAndProject
    (per-partition top-k heaps, tiny final merge) — no shuffle of
    the corpus, no global sort; at 100 TB this runs at scan speed."""
    from ..functions.text import quality_score

    docs = t(spark, sf_dir, "documents")
    q = F.expr(quality_score("text"))
    u = F.expr(f"({portable_hash60('CAST(doc_id AS STRING)')} + 1) / CAST({1 << 60}L AS DOUBLE)")
    key = F.log(u) / (q + F.lit(0.01))
    return (
        docs.select("doc_id", "lang", q.alias("quality"), key.alias("_k"))
        .orderBy(F.col("_k").desc(), F.col("doc_id").asc())
        .limit(100)
        .drop("_k")
    )


@register(
    "shuffle_train_order",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
    ),
    sharded AS (
      SELECT doc_id, h,
             CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS INT) AS shard
      FROM keyed
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INT)
             AS pos
    FROM sharded
    """,
    tags=("pipeline", "shuffle", "training-order"),
)
def shuffle_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every epoch-0
    data loader needs the corpus in a random but REPRODUCIBLE order.
    Key each doc by the md5 of its stable id (a seeded permutation —
    change the seed by salting the hashed string), route it to
    shard = first hex nibble, and number within the shard by hash
    order.

    The scale point is what this query avoids: a naive global
    ROW_NUMBER() OVER (ORDER BY h) is a single-partition window — one
    task sorts the corpus. Sharding first makes the window
    PARTITIONED (hash-distributed, each shard sorted independently),
    and (shard, pos) is still a total training order: readers consume
    shards in index order. 16 shards here; at 100 TB the shard count
    is O(cluster cores) via more nibbles — the plan shape is
    unchanged. The draw replays identically in any engine (pinned by
    the DuckDB oracle) and any partitioning."""
    from pyspark.sql.window import Window

    keyed = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("h", F.md5(F.col("doc_id").cast("string")))
    )
    sharded = keyed.withColumn(
        "shard", F.expr("CAST(instr('0123456789abcdef', substr(h, 1, 1)) - 1 AS INT)")
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return sharded.select(
        "doc_id", "shard", F.row_number().over(w).cast("int").alias("pos")
    )


_SPLIT_SQL = f"""CASE
      WHEN {portable_hash60_duckdb("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
      WHEN {portable_hash60_duckdb("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
      ELSE 'test'
    END"""

_FP_SQL = f"md5(list_aggregate({_TOKENS_SQL}, 'string_agg', ' '))"


@register(
    "pipeline_split_leakage",
    oracle=f"""
    WITH marked AS (
      SELECT doc_id, {_SPLIT_SQL} AS split, {_FP_SQL} AS fp FROM documents
    ),
    train_fps AS (SELECT DISTINCT fp FROM marked WHERE split = 'train')
    SELECT m.split, COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE t.fp IS NOT NULL) AS n_leaked
    FROM marked m LEFT JOIN train_fps t ON m.fp = t.fp
    WHERE m.split <> 'train'
    GROUP BY m.split
    """,
    tags=("pipeline", "split", "dedup", "decontam"),
)
def pipeline_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval contamination audit: how many val/test documents
    share a content fingerprint (whitespace-normalized md5 — the
    exact-dedup key) with ANY train document. Random splits leak
    exactly this way — the corpus's near/exact duplicate pairs
    straddle the split boundary and the eval set silently overlaps
    the training set; this is the check a training pipeline runs
    BEFORE trusting any held-out metric (same failure mode
    `decontam_benchmark_overlap` checks against external
    benchmarks, applied to the pipeline's own splits).

    Plan: split assignment is a scan-local hash of the doc id (no
    RNG state, replays identically);
    the eval side joins the distinct train fingerprint set on the
    16-byte md5 — the shuffle carries fingerprints, never text.
    The left join + conditional count (instead of a semi join)
    reports leaked AND clean in one pass. At 100 TB both sides
    hash-partition on the fingerprint; the train side pre-shrinks
    to distinct fingerprints, which is also what makes the join
    skew-safe (duplicate-heavy fingerprints collapse to one row)."""
    from ..functions.text import fingerprint

    docs = t(spark, sf_dir, "documents")
    bucket = F.expr(f"{portable_hash60('CAST(doc_id AS STRING)')} % 100")
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    marked = docs.select(
        split.alias("split"), F.expr(fingerprint("text")).alias("fp")
    )
    train_fps = (
        marked.filter(F.col("split") == "train").select("fp").distinct()
        .withColumnRenamed("fp", "tfp")
    )
    return (
        marked.filter(F.col("split") != "train")
        .join(train_fps, F.col("fp") == F.col("tfp"), "left_outer")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.col("tfp")).alias("n_leaked"),
        )
    )


@register(
    "quality_threshold_sweep",
    oracle=f"""
    WITH scored AS (SELECT {_QUALITY_SQL} AS q, n_chars FROM documents),
    thresholds AS (SELECT unnest([0.2, 0.4, 0.6, 0.8]) AS thr)
    SELECT t.thr,
           COUNT(*) FILTER (WHERE s.q >= t.thr) AS n_survivors,
           CAST(COALESCE(SUM(n_chars) FILTER (WHERE s.q >= t.thr), 0) AS BIGINT)
             AS surviving_chars
    FROM scored s CROSS JOIN thresholds t
    GROUP BY t.thr
    """,
    tags=("pipeline", "quality", "sweep"),
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter calibration sweep: survivor count and
    surviving character volume at each candidate quality threshold,
    in ONE corpus scan — the curve a pipeline operator reads to pick
    the cut-off that hits a token budget (run the sweep once, not
    one filter job per candidate threshold).

    The thresholds are a 4-element literal array exploded against
    each scored row — a constant ×4 scan-local fan-out feeding a
    4-row aggregate, NOT a data-dependent join (at 100 TB this adds
    4× the scan's row stream before map-side partial aggregation
    collapses it to 4 rows per partition; a per-threshold job would
    re-scan the corpus 4 times). Scoring is the same scan-speed
    expression as `text_quality`."""
    from ..functions import text as T

    docs = t(spark, sf_dir, "documents").select(
        F.expr(T.quality_score("text")).alias("q"), "n_chars"
    )
    swept = docs.select(
        "q", "n_chars", F.explode(F.array([F.lit(v) for v in (0.2, 0.4, 0.6, 0.8)])).alias("thr")
    )
    hit = F.col("q") >= F.col("thr")
    return swept.groupBy("thr").agg(
        F.count(F.when(hit, 1)).alias("n_survivors"),
        F.coalesce(F.sum(F.when(hit, F.col("n_chars"))), F.lit(0)).alias(
            "surviving_chars"
        ),
    )


_UPD_H_SQL = portable_hash60_duckdb("'upd#' || CAST(o_orderkey AS VARCHAR)")
_UPD_PRED_SQL = f"{_UPD_H_SQL} % 10 = 0"


@register(
    "pipeline_upsert_merge",
    oracle=f"""
    WITH updates AS (
      SELECT o_orderkey,
             round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.10, 2) AS new_price
      FROM orders WHERE {_UPD_PRED_SQL}
    ),
    merged AS (
      SELECT o.o_orderstatus,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.new_price
                  ELSE CAST(o.o_totalprice AS DECIMAL(18,2)) END AS price,
             (u.o_orderkey IS NOT NULL) AS was_updated
      FROM orders o LEFT JOIN updates u ON o.o_orderkey = u.o_orderkey
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE was_updated) AS n_updated,
           CAST(SUM(price) AS DOUBLE) AS total_after
    FROM merged GROUP BY o_orderstatus
    """,
    tags=("pipeline", "cdc", "merge", "upsert"),
)
def pipeline_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics on plain parquet — WHEN MATCHED THEN
    UPDATE expressed as a left join + CASE (the engine-level shape
    that table formats' MERGE compiles into): a deterministic CDC
    batch (10% hash slice, prices bumped 10%) applies onto the
    orders snapshot, verified by per-status row/updated counts and
    the post-merge decimal total.

    Scale story: the batch side is the small side — broadcast it
    (or, for huge batches, co-partition both sides on the key);
    rows NOT in the batch pass through untouched, so the merge is
    one scan + one join, never a rewrite-everything shuffle. On a
    lakehouse table format the same plan runs under MERGE INTO
    with file-level pruning of untouched files; this query pins
    the arithmetic those implementations must reproduce."""
    o = t(spark, sf_dir, "orders")
    upd_pred = F.expr(f"{_salted_hash('upd', 'o_orderkey')} % 10 = 0")
    # the bump factor must be a DECIMAL literal — a Python float
    # would degrade the whole expression to double and make the
    # post-merge sum partition-order-dependent
    bump = F.lit("1.10").cast("decimal(4,2)")
    updates = o.filter(upd_pred).select(
        F.col("o_orderkey").alias("u_key"),
        F.round(F.col("o_totalprice").cast("decimal(18,2)") * bump, 2).alias(
            "new_price"
        ),
    )
    merged = o.join(
        F.broadcast(updates), o.o_orderkey == F.col("u_key"), "left_outer"
    ).select(
        "o_orderstatus",
        F.when(F.col("u_key").isNotNull(), F.col("new_price"))
        .otherwise(F.col("o_totalprice").cast("decimal(18,2)"))
        .alias("price"),
        F.col("u_key").isNotNull().alias("was_updated"),
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("was_updated"), 1)).alias("n_updated"),
        F.sum("price").cast("double").alias("total_after"),
    )


@register(
    "salted_join_segment_value",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("pipeline", "skew", "join"),
)
def salted_join_segment_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-side salting registered end-to-end (`operators/skew.py::
    salted_join`): the event stream joins its user dimension on
    (key, salt) — the big side's salt derives from row content
    (xxhash64 of event_id: deterministic, no RNG), the small side
    replicates once per salt — so a hot user's probe rows spread
    over n_salts partitions instead of one straggler task. This is
    the fallback when the dim is too big to broadcast AND AQE's
    runtime split can't see the skew (e.g. the hot key is hot only
    after a filter upstream of the stats). Results are exactly
    plain-join semantics, which is what the oracle checks;
    integer-cents sums keep the rollup hash-stable."""
    from ..operators.skew import salted_join

    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    dim = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, dim, key="user_id", salt_cols=["event_id"], n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("total_cents"),
    )
