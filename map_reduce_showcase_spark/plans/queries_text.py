"""Text-analysis queries over ``documents`` — the training-data-
pipeline text surface (language ID, quality scoring, token stats,
fingerprints). All pure column expressions (functions/text.py); the
DuckDB oracles replay the identical rules so the driver hash-checks
them end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from .registry import register, t

# DuckDB twins of functions/text.py primitives ---------------------------
# tokens: lowercase letter/digit runs; DuckDB regex class mirrors
# TOKEN_SPLIT. list_filter drops empties like F.filter(length>0).
_TOKENS_SQL = (
    "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0)"
)


def _in_list_sql(var: str, words: tuple[str, ...]) -> str:
    return "(" + " OR ".join(f"{var} = '{w}'" for w in words) + ")"


_STOP_HITS_SQL = f"len(list_filter({_TOKENS_SQL}, x -> {_in_list_sql('x', T.STOPWORDS)}))"
_NTOK_SQL = f"len({_TOKENS_SQL})"
_PUNCT_SQL = (
    "CAST(len(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)"
    " / CAST(greatest(len(text), 1) AS DOUBLE)"
)
_STOPRATIO_SQL = (
    f"CAST({_STOP_HITS_SQL} AS DOUBLE) / CAST(greatest({_NTOK_SQL}, 1) AS DOUBLE)"
)
_QUALITY_SQL = f"""
    (round(greatest(least(
      0.5 * least(CAST({_NTOK_SQL} AS DOUBLE) / 64.0, 1.0)
      + 0.5 * ({_STOPRATIO_SQL}) - ({_PUNCT_SQL}), 1.0), 0.0), 6)
     * CASE WHEN text IS NOT NULL THEN CAST(1.0 AS DOUBLE) END)
"""


def _lang_score_sql(lang: str) -> str:
    return (
        f"len(list_filter({_TOKENS_SQL}, x -> {_in_list_sql('x', T.LANG_MARKERS[lang])}))"
    )


def _lang_case_sql() -> str:
    clauses = []
    for lang in T.LANG_PRECEDENCE:
        others = [f"s_{o}" for o in T.LANG_PRECEDENCE if o != lang]
        clauses.append(
            f"WHEN s_{lang} > 0 AND s_{lang} >= greatest({', '.join(others)}) THEN '{lang}'"
        )
    return "CASE " + " ".join(clauses) + " ELSE 'und' END"


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST({_NTOK_SQL} AS INT) AS n_tokens,
           CAST(len(list_distinct({_TOKENS_SQL})) AS INT) AS n_distinct_tokens,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts (whitespace/punct tokenizer) —
    the unit-economics column every corpus pipeline needs."""
    toks = T.tokens("text")
    return t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"CAST(size({toks}) AS INT) AS n_tokens",
        f"CAST(size(array_distinct({toks})) AS INT) AS n_distinct_tokens",
        "CAST(n_chars AS BIGINT) AS n_chars",
    )


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           round({_PUNCT_SQL}, 6) AS punct_ratio,
           round({_STOPRATIO_SQL}, 6) AS stopword_ratio,
           {_QUALITY_SQL} AS quality
    FROM documents
    """,
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal scoring: punctuation ratio, stopword ratio and
    a combined [0,1] score. Every signal is a scan-speed expression;
    at 100 TB this is a single pass with zero shuffles — rebalance()
    is a guarded no-op there (inputs have ≥cores splits) and only
    fires on few-split local inputs, where it moves the regex-heavy
    signal expressions off the single scan task onto every core
    (r17 profile: the whole query was one 0.34 s task)."""
    from ..functions.util import rebalance

    return rebalance(t(spark, sf_dir, "documents")).selectExpr(
        "doc_id",
        f"round({T.punct_ratio('text')}, 6) AS punct_ratio",
        f"round({T.stopword_ratio('text')}, 6) AS stopword_ratio",
        f"{T.quality_score('text')} AS quality",
    )


@register(
    "text_language_id",
    oracle=f"""
    SELECT lang AS labeled_lang, pred_lang, COUNT(*) AS n_docs
    FROM (
      SELECT lang, {_lang_case_sql()} AS pred_lang
      FROM (
        SELECT lang,
               {_lang_score_sql('en')} AS s_en,
               {_lang_score_sql('de')} AS s_de,
               {_lang_score_sql('es')} AS s_es,
               {_lang_score_sql('fr')} AS s_fr
        FROM documents
      )
    )
    GROUP BY labeled_lang, pred_lang
    """,
    tags=("text", "langid"),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled lang × predicted lang
    (marker-lexicon heuristic). The synthetic corpus is same-script,
    so the heuristic's behavior — not its accuracy — is under test."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.selectExpr("lang AS labeled_lang", f"{T.language_id('text')} AS pred_lang")
        .groupBy("labeled_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string({_TOKENS_SQL}, ' ')) AS fingerprint,
           {T.portable_hash60_duckdb("array_to_string(" + _TOKENS_SQL + ", ' ')")} AS fingerprint60
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-robust document fingerprints: md5 over the
    token-normalized text plus the portable 60-bit variant used by
    the sketch operators. The exact-dedup join key at any scale."""
    normalized = f"concat_ws(' ', {T.tokens('text')})"
    return t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"{T.fingerprint('text')} AS fingerprint",
        f"{T.portable_hash60(normalized)} AS fingerprint60",
    )


_NDIST_SQL = f"len(list_distinct({_TOKENS_SQL}))"
_TOPCNT_SQL = (
    f"list_max(list_transform(list_distinct({_TOKENS_SQL}),"
    f" x -> len(list_filter({_TOKENS_SQL}, y -> y = x))))"
)
_NBIGRAM_DISTINCT_SQL = f"""
  len(list_distinct(list_transform(
    generate_series(1, greatest({_NTOK_SQL} - 1, 0)),
    i -> array_to_string(({_TOKENS_SQL})[i:i+1], ' '))))
"""


@register(
    "text_repetition_filter",
    oracle=f"""
    SELECT doc_id,
           CAST({_NTOK_SQL} AS INT) AS n_tokens,
           round(CAST({_NDIST_SQL} AS DOUBLE)
                 / CAST(greatest({_NTOK_SQL}, 1) AS DOUBLE), 6) AS distinct_ratio,
           round(CAST({_TOPCNT_SQL} AS DOUBLE)
                 / CAST(greatest({_NTOK_SQL}, 1) AS DOUBLE), 6) AS top_token_frac,
           round(CASE WHEN {_NTOK_SQL} > 1
                 THEN 1.0 - CAST({_NBIGRAM_DISTINCT_SQL} AS DOUBLE)
                            / CAST({_NTOK_SQL} - 1 AS DOUBLE)
                 ELSE 0.0 END, 6) AS dup_bigram_frac,
           (CAST({_NDIST_SQL} AS DOUBLE) / CAST(greatest({_NTOK_SQL}, 1) AS DOUBLE) >= 0.2
            AND CAST({_TOPCNT_SQL} AS DOUBLE)
                / CAST(greatest({_NTOK_SQL}, 1) AS DOUBLE) <= 0.2
            AND CASE WHEN {_NTOK_SQL} > 1
                THEN 1.0 - CAST({_NBIGRAM_DISTINCT_SQL} AS DOUBLE)
                           / CAST({_NTOK_SQL} - 1 AS DOUBLE)
                ELSE 0.0 END <= 0.75) AS keep
    FROM documents
    """,
    tags=("text", "quality", "repetition"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (the Gopher/MassiveText
    rules): distinct-token ratio, most-frequent-token fraction, and
    duplicate-bigram fraction, plus the combined keep/drop verdict —
    the standard defense against boilerplate and degenerate
    repetition in web-scale corpora.

    All four signals are scan-local column expressions (zero
    shuffles): the top-token count is a sorted-run-max fold
    (``functions/text.py:top_token_count`` — O(n log n) per doc even
    on the adversarial high-vocabulary docs that made the naive
    distinct × filter scan quadratic). Thresholds: distinct_ratio ≥
    0.2, top_token_frac ≤ 0.2, dup_bigram_frac ≤ 0.75."""
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
    distinct_ratio = ndist.cast("double") / safe_n
    top_frac = topcnt.cast("double") / safe_n
    dup_bigram = F.when(
        n > 1,
        F.lit(1.0)
        - F.size(F.array_distinct(bigrams)).cast("double") / (n - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(top_frac, 6).alias("top_token_frac"),
        F.round(dup_bigram, 6).alias("dup_bigram_frac"),
        (
            (distinct_ratio >= 0.2) & (top_frac <= 0.2) & (dup_bigram <= 0.75)
        ).alias("keep"),
    )


# PII scrub: the synthetic corpus contains no PII (word-soup text,
# zero digits — verified), so both engines deterministically augment
# each doc with doc_id-derived synthetic PII (email / phone / IPv4 on
# disjoint doc_id residue classes) and the redaction pass is
# exercised against known-true counts. On production data the same
# scrub runs on the raw text column.
_EMAIL_PAT = "[a-z0-9]+@[a-z0-9.]+"
_PHONE_PAT = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
_IP_PAT = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

_AUG_SQL = """
    concat(text,
      CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@mail.example.com') ELSE '' END,
      CASE WHEN doc_id % 4 = 0 THEN concat(' call 555-', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END,
      CASE WHEN doc_id % 5 = 0 THEN concat(' host 10.', CAST(doc_id % 200 AS VARCHAR), '.', CAST(doc_id % 250 AS VARCHAR), '.', CAST(1 + doc_id % 254 AS VARCHAR)) ELSE '' END)
"""


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT lang, {_AUG_SQL} AS atext FROM documents
    ),
    scored AS (
      SELECT lang, atext,
             len(regexp_extract_all(atext, '{_EMAIL_PAT}')) AS n_emails,
             len(regexp_extract_all(atext, '{_PHONE_PAT}')) AS n_phones,
             len(regexp_extract_all(
               regexp_replace(atext, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
               '{_IP_PAT}')) AS n_ips,
             regexp_replace(regexp_replace(regexp_replace(
               atext, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
               '{_PHONE_PAT}', '<PHONE>', 'g'),
               '{_IP_PAT}', '<IP>', 'g') AS clean
      FROM aug
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE n_emails + n_phones + n_ips > 0) AS BIGINT)
             AS n_docs_with_pii,
           CAST(SUM(n_emails) AS BIGINT) AS n_emails,
           CAST(SUM(n_phones) AS BIGINT) AS n_phones,
           CAST(SUM(n_ips) AS BIGINT) AS n_ips,
           CAST(SUM(len(atext) - len(clean)) AS BIGINT) AS chars_redacted
    FROM scored
    GROUP BY lang
    """,
    tags=("text", "pii", "redaction"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction as a scan-speed pipeline stage: regex-count then
    regex-replace emails, phone numbers, and IPv4 addresses with
    typed placeholders, and report per-language redaction accounting.
    Pure column expressions — at 100 TB this fuses into the scan with
    zero extra shuffles beyond the final per-lang rollup. Redaction
    order (email before IP) is load-bearing: the email regex would
    otherwise claim digit runs that prefix a dotted quad."""
    doc_id = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            doc_id % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                doc_id.cast("string"),
                F.lit("@mail.example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 4 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((doc_id % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((doc_id % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 5 == 0,
            F.concat(
                F.lit(" host 10."),
                (doc_id % 200).cast("string"),
                F.lit("."),
                (doc_id % 250).cast("string"),
                F.lit("."),
                (1 + doc_id % 254).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    no_email = F.regexp_replace(aug, _EMAIL_PAT, "<EMAIL>")
    clean = F.regexp_replace(
        F.regexp_replace(no_email, _PHONE_PAT, "<PHONE>"), _IP_PAT, "<IP>"
    )
    scored = t(spark, sf_dir, "documents").select(
        "lang",
        aug.alias("atext"),
        F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_PAT), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(_PHONE_PAT), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all(no_email, F.lit(_IP_PAT), 0)).alias("n_ips"),
        clean.alias("clean"),
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(
            F.col("n_emails") + F.col("n_phones") + F.col("n_ips") > 0
        ).alias("n_docs_with_pii"),
        F.sum("n_emails").cast("bigint").alias("n_emails"),
        F.sum("n_phones").cast("bigint").alias("n_phones"),
        F.sum("n_ips").cast("bigint").alias("n_ips"),
        F.sum(F.length("atext") - F.length("clean"))
        .cast("bigint")
        .alias("chars_redacted"),
    )


# all-occurrence bigram strings ("w1 w2"); tokens never contain
# spaces (split is on non-alphanumerics), so the join key is exact
_BIGRAMS_ALL_SQL = f"""
  list_transform(
    generate_series(1, greatest(len({_TOKENS_SQL}) - 1, 0)),
    i -> ({_TOKENS_SQL})[i] || ' ' || ({_TOKENS_SQL})[i+1])
"""


@register(
    "text_bigram_pmi",
    oracle=f"""
    WITH uni AS (
      SELECT unnest({_TOKENS_SQL}) AS w FROM documents
    ),
    uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uc),
    bg AS (
      SELECT unnest({_BIGRAMS_ALL_SQL}) AS bg FROM documents
    ),
    bc AS (SELECT bg, COUNT(*) AS c_xy FROM bg GROUP BY bg),
    bt AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS b FROM bc)
    SELECT split_part(bg, ' ', 1) AS w1,
           split_part(bg, ' ', 2) AS w2,
           c_xy,
           round(ln((CAST(c_xy AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                    / (CAST(b AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))),
                 6) AS pmi
    FROM bc
    CROSS JOIN nt CROSS JOIN bt
    JOIN uc u1 ON u1.w = split_part(bg, ' ', 1)
    JOIN uc u2 ON u2.w = split_part(bg, ' ', 2)
    WHERE c_xy >= 5
    """,
    tags=("text", "ngrams", "collocations"),
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level collocation mining: pointwise mutual information
    of adjacent token pairs, PMI = ln(p(xy) / (p(x)p(y))) over ALL
    occurrences (not distinct-per-doc) — the classic phrase detector
    (Mikolov-style word2phrase uses exactly this with a discount).
    Support floor c_xy >= 5 keeps the tail noise out.

    Shape at 100 TB: token and bigram counting are map-side-combined
    hash aggs on words (the canonical MapReduce workload); the PMI
    join shuffles the BIGRAM vocabulary (counts, not occurrences)
    against the unigram vocabulary — both orders of magnitude
    smaller than the corpus. Totals N and B ride along as broadcast
    single-row frames, never a driver collect."""
    from ..functions import text as T

    docs = t(spark, sf_dir, "documents").selectExpr(f"{T.tokens('text')} AS toks")
    uc = (
        docs.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nt = uc.agg(F.sum("c").cast("bigint").alias("n"))
    tk = F.col("toks")
    bigrams = F.filter(
        F.zip_with(
            tk,
            F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda g: g.isNotNull(),
    )
    bc_all = (
        docs.select(F.explode(bigrams).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    bc = bc_all.filter(F.col("c_xy") >= 5)
    # total occurrences from the count frame (sum of counts), so the
    # bigram explode+agg subtree is shared — AQE reuses its exchange
    bt_all = bc_all.agg(F.sum("c_xy").cast("bigint").alias("b"))
    u1 = uc.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uc.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("c_xy").cast("double") * F.col("n").cast("double") * F.col("n").cast("double"))
            / (F.col("b").cast("double") * F.col("c1").cast("double") * F.col("c2").cast("double"))
        ),
        6,
    )
    return (
        bc.withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(nt))
        .join(F.broadcast(bt_all))
        .join(u1, "w1")
        .join(u2, "w2")
        .select("w1", "w2", "c_xy", pmi.alias("pmi"))
    )


@register(
    "docs_source_profile",
    oracle="""
    WITH lc AS (
      SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2
    ),
    s AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             COUNT(DISTINCT md5(text)) AS n_unique
      FROM documents GROUP BY 1
    )
    SELECT s.source,
           n_docs,
           COUNT(*) AS n_langs,
           round(-SUM((CAST(c AS DOUBLE) / n_docs)
                      * ln(CAST(c AS DOUBLE) / n_docs)), 6) + 0.0 AS lang_entropy,
           round(CAST(total_chars AS DOUBLE) / n_docs, 6) AS avg_chars,
           round(1.0 - CAST(n_unique AS DOUBLE) / n_docs, 6) AS exact_dup_rate
    FROM s JOIN lc USING (source)
    GROUP BY s.source, n_docs, total_chars, n_unique
    """,
    tags=("text", "profile", "corpus-report"),
)
def docs_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source corpus report every dataset card needs: doc
    count, language count + Shannon entropy of the language mix,
    mean document length, and exact-duplicate rate — one number per
    knob a curation pass would turn. Entropy and rates derive from
    EXACT integer counts (the only floats are the final ln/divide,
    rounded; ``+ 0.0`` normalizes the IEEE −0.0 a single-language
    source would produce).

    Shape at 100 TB: two hash aggs on (source) and (source, lang) —
    both map-side combined — plus a distinct-count of 16-byte
    fingerprints; the join is |sources|×|langs| rows. Nothing
    touches raw text twice."""
    docs = t(spark, sf_dir, "documents")
    lc = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.count_distinct(F.md5("text")).alias("n_unique"),
    )
    p = F.col("c").cast("double") / F.col("n_docs")
    return (
        s.join(lc, "source")
        .groupBy("source", "n_docs", "total_chars", "n_unique")
        .agg(
            F.count(F.lit(1)).alias("n_langs"),
            (F.round(-F.sum(p * F.log(p)), 6) + F.lit(0.0)).alias("lang_entropy"),
        )
        .select(
            "source",
            "n_docs",
            "n_langs",
            "lang_entropy",
            F.round(
                F.col("total_chars").cast("double") / F.col("n_docs"), 6
            ).alias("avg_chars"),
            F.round(
                F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs"), 6
            ).alias("exact_dup_rate"),
        )
    )


@register(
    "text_oov_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rnk
        FROM toks GROUP BY tok
      ) WHERE rnk <= 500
    )
    SELECT t.lang,
           COUNT(*) AS n_tokens,
           COUNT(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
           round(CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE)
                 / COUNT(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.lang
    """,
    tags=("text", "tokenizer", "oov"),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit diagnostic: out-of-vocabulary rate per language
    against a top-500 corpus vocabulary — the number you check
    before committing a tokenizer/vocab to a training run (a lang
    with a high OOV rate will fragment into bytes and waste
    context length).

    Two-phase: the vocabulary is a count aggregate + deterministic
    top-k (total tie-break on the token), small enough to BROADCAST
    into the second pass, where membership is a broadcast left join
    at scan speed — the corpus token stream is never shuffled for
    the membership test, only for the tiny per-lang rollup. At
    100 TB the vocab phase reuses the existing word-count output
    (`wc_word_count`) instead of re-counting."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.selectExpr("lang", f"explode({T.tokens('text')}) AS tok")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    # top-500 via orderBy+limit = TakeOrderedAndProject (distributed
    # top-k, bounded per-partition heaps) — NEVER a single-partition
    # ROW_NUMBER window over the whole vocabulary
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(500)
        .select(F.col("tok").alias("vtok"))
    )
    return (
        toks.join(F.broadcast(vocab), toks.tok == F.col("vtok"), "left_outer")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("vtok").isNull(), 1)).alias("n_oov"),
            F.round(
                F.count(F.when(F.col("vtok").isNull(), 1)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


# BPE pair mining + BM25 ranking ----------------------------------------
# Tokenizer TRAINING (vs the budgeting estimate above): one merge
# iteration of byte-pair encoding = the adjacent-symbol-pair counts
# over the word-frequency table (Sennrich et al. 2016). Real BPE
# trainers aggregate the corpus to its vocabulary ONCE and then
# iterate on vocab-sized data — exactly the shape used here.


@register(
    "bpe_pair_counts",
    oracle=f"""
    WITH uc AS (
      SELECT x AS w, COUNT(*) AS cnt
      FROM documents, UNNEST({_TOKENS_SQL}) AS t(x)
      GROUP BY x
    ),
    pr AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair, cnt
      FROM uc, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
      WHERE len(w) >= 2
    )
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
    FROM pr
    GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 20
    """,
    tags=("text", "tokenizer", "bpe"),
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge iteration: the 20 most frequent
    adjacent character pairs, weighted by word frequency — the next
    merge candidates a byte-pair-encoding tokenizer would pick.

    Shape at 100 TB: the ONLY corpus-sized operation is the word
    count (map-side-combined hash agg, the `wc_word_count` shuffle);
    pair generation and the pair rollup run on the vocabulary frame,
    orders of magnitude smaller than the corpus, and the final top-20
    is a TakeOrderedAndProject (bounded per-partition heaps). Later
    merge iterations would re-run only the vocab-sized half."""
    docs = t(spark, sf_dir, "documents")
    vocab = (
        docs.selectExpr(f"explode({T.tokens('text')}) AS w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.length("w") >= 2)
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.col("w").substr(i, F.lit(2)),
    )
    return (
        vocab.select(F.explode(pairs).alias("pair"), "cnt")
        .groupBy("pair")
        .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(20)
    )


_BM25_TERMS = ("hash", "join", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "text_bm25_search",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len({_TOKENS_SQL}) AS dl,
             len(list_filter({_TOKENS_SQL}, x -> x = 'hash')) AS tf_hash,
             len(list_filter({_TOKENS_SQL}, x -> x = 'join')) AS tf_join,
             len(list_filter({_TOKENS_SQL}, x -> x = 'merge')) AS tf_merge
      FROM documents
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
             SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
             SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS df_merge
      FROM d
    )
    SELECT doc_id,
           round(
             ln(1.0 + (CAST(n AS DOUBLE) - CAST(df_hash AS DOUBLE) + 0.5) / (CAST(df_hash AS DOUBLE) + 0.5))
               * (CAST(tf_hash AS DOUBLE) * 2.2) / (CAST(tf_hash AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + ln(1.0 + (CAST(n AS DOUBLE) - CAST(df_join AS DOUBLE) + 0.5) / (CAST(df_join AS DOUBLE) + 0.5))
               * (CAST(tf_join AS DOUBLE) * 2.2) / (CAST(tf_join AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             + ln(1.0 + (CAST(n AS DOUBLE) - CAST(df_merge AS DOUBLE) + 0.5) / (CAST(df_merge AS DOUBLE) + 0.5))
               * (CAST(tf_merge AS DOUBLE) * 2.2) / (CAST(tf_merge AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)),
             6) AS bm25
    FROM d CROSS JOIN s
    WHERE tf_hash + tf_join + tf_merge > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT 15
    """,
    tags=("text", "retrieval", "bm25"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of the corpus against a fixed 3-term query
    (k1=1.2, b=0.75, Lucene's ln(1 + (N-df+0.5)/(df+0.5)) idf) — the
    standard lexical-retrieval scorer next to the TF-IDF weights
    above.

    Shape at 100 TB: per-doc term frequencies and document length
    are scan-local array expressions (the corpus is never exploded
    or shuffled for the query terms); N / avgdl / per-term document
    frequencies collapse to ONE single-row aggregate that broadcasts
    back; scoring is scan-local column math and the final top-15 is
    a TakeOrderedAndProject. Query-term count scales the column
    width, not the shuffle volume."""
    docs = t(spark, sf_dir, "documents")
    toks = F.expr(T.tokens("text"))
    # factory, not a default-arg lambda: a two-parameter lambda would
    # make F.filter pass (element, index) and bind the index to term
    def _tf(term: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_cols = [_tf(term).alias(f"tf_{term}") for term in _BM25_TERMS]
    d = docs.select("doc_id", F.size(toks).alias("dl"), *tf_cols)
    s = d.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{term}") > 0).cast("int")).alias(f"df_{term}")
            for term in _BM25_TERMS
        ],
    )
    k1 = _BM25_K1
    contribs = []
    for term in _BM25_TERMS:
        tf = F.col(f"tf_{term}").cast("double")
        df = F.col(f"df_{term}").cast("double")
        idf = F.log(
            F.lit(1.0) + (F.col("n").cast("double") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        norm = tf + F.lit(k1) * (
            F.lit(1.0 - _BM25_B)
            + F.lit(_BM25_B) * F.col("dl").cast("double") / F.col("avgdl")
        )
        contribs.append(idf * (tf * F.lit(k1 + 1.0)) / norm)
    score = contribs[0] + contribs[1] + contribs[2]
    tf_sum = sum((F.col(f"tf_{term}") for term in _BM25_TERMS), F.lit(0))
    return (
        d.crossJoin(F.broadcast(s))
        .filter(tf_sum > 0)
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(15)
    )


# DSIR-style importance weighting ---------------------------------------
# Data SELECTION as opposed to data FILTERING: importance weights for
# matching a target distribution (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling") — per-doc
# log-likelihood ratio between a target-domain and a corpus-wide
# hashed n-gram language model, over a 'b#'-md5 1024-bucket feature
# hash that both engines compute identically.

_DSIR_B = 1024
_DSIR_BUCKET_SQL = "CAST(concat('0x', substr(md5('b#' || tk), 1, 8)) AS BIGINT) % 1024"


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({_TOKENS_SQL}) AS tk FROM documents
    ),
    counts AS (
      SELECT {_DSIR_BUCKET_SQL} AS b,
             COUNT(*) AS cs,
             COUNT(*) FILTER (WHERE lang = 'en') AS ct
      FROM toks GROUP BY 1
    ),
    tot AS (SELECT SUM(cs) AS ns, SUM(ct) AS nt FROM counts),
    grid AS (
      SELECT g.b, COALESCE(c.cs, 0) AS cs, COALESCE(c.ct, 0) AS ct
      FROM (SELECT unnest(generate_series(0, 1023)) AS b) g
      LEFT JOIN counts c ON c.b = g.b
    ),
    ratios AS (
      SELECT list(CAST(round(ln((CAST(ct + 1 AS DOUBLE) * CAST(ns + 1024 AS DOUBLE))
                                / (CAST(nt + 1024 AS DOUBLE) * CAST(cs + 1 AS DOUBLE))), 6)
                       AS DECIMAL(14,6)) ORDER BY b) AS rarr
      FROM grid CROSS JOIN tot
    ),
    scored AS (
      SELECT d.lang,
             len({_TOKENS_SQL.replace('text', 'd.text')}) AS ntok,
             CAST(list_aggregate(list_transform({_TOKENS_SQL.replace('text', 'd.text')},
                   tk -> rarr[CAST({_DSIR_BUCKET_SQL} + 1 AS INT)]),
                 'sum') AS DECIMAL(24,6)) AS logw
      FROM documents d CROSS JOIN ratios
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           round(CAST(SUM(logw) AS DOUBLE) / COUNT(*), 6) AS mean_logw,
           round(CAST(SUM(CAST(round(CAST(logw AS DOUBLE)
                                     / greatest(ntok, 1), 6) AS DECIMAL(14,6)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_logw_tok
    FROM scored GROUP BY lang
    """,
    tags=("text", "selection", "dsir"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights, rolled up per language: per-doc
    log-likelihood ratio between a hashed-bigram target LM (the
    ``lang='en'`` slice — the 'target domain') and the corpus-wide
    source LM, add-1 smoothed over a 1024-bucket feature space.
    Resampling ∝ exp(logw) matches the corpus to the target
    distribution; the per-lang means make the signal visible (the
    target language scores highest).

    Shape at 100 TB: ONE corpus-sized explode feeds ONE bucket-count
    aggregate whose partials are at most 1024 rows per task (a
    vocabulary-sized map-side-combined shuffle); both LMs come out
    of that single aggregate via a conditional count. The 1024
    log-ratios collapse to ONE broadcast array row, so per-doc
    scoring is a scan-local higher-order fold — the corpus is never
    shuffled for scoring, exactly like the k-means assignment and
    BM25 plans. Per-doc sums accumulate in DECIMAL over rounded
    per-bucket ratios: order-independent, hash-stable."""
    docs = t(spark, sf_dir, "documents")
    toks = F.expr(T.tokens("text"))

    def bucket(col):
        return (
            F.conv(F.substring(F.md5(F.concat(F.lit("b#"), col)), 1, 8), 16, 10)
            .cast("bigint")
            % _DSIR_B
        )

    counts = (
        docs.select("lang", F.explode(toks).alias("tk"))
        .groupBy(bucket(F.col("tk")).alias("b"))
        .agg(
            F.count(F.lit(1)).alias("cs"),
            F.count(F.when(F.col("lang") == "en", 1)).alias("ct"),
        )
    )
    tot = counts.agg(F.sum("cs").alias("ns"), F.sum("ct").alias("nt"))
    grid = (
        spark.range(_DSIR_B)
        .select(F.col("id").alias("b"))
        .join(counts, "b", "left_outer")
        .select(
            "b",
            F.coalesce(F.col("cs"), F.lit(0)).alias("cs"),
            F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
        )
    )
    r = F.round(
        F.log(
            ((F.col("ct") + 1).cast("double") * (F.col("ns") + _DSIR_B).cast("double"))
            / ((F.col("nt") + _DSIR_B).cast("double") * (F.col("cs") + 1).cast("double"))
        ),
        6,
    ).cast("decimal(14,6)")
    ratio_row = (
        grid.crossJoin(F.broadcast(tot))
        .select(F.struct(F.col("b"), r.alias("r")).alias("br"))
        .agg(F.array_sort(F.collect_list("br")).alias("srt"))
        .select(F.transform(F.col("srt"), lambda x: x.getField("r")).alias("rarr"))
    )
    logw = F.aggregate(
        F.transform(
            F.col("toks"),
            lambda tk: F.element_at(
                F.col("rarr"), (bucket(tk) + 1).cast("int")
            ).cast("decimal(24,6)"),
        ),
        F.lit(0).cast("decimal(24,6)"),
        lambda a, x: (a + x).cast("decimal(24,6)"),
    )
    scored = (
        docs.select("lang", toks.alias("toks"))
        .crossJoin(F.broadcast(ratio_row))
        .select(
            "lang",
            F.size("toks").alias("ntok"),
            logw.alias("logw"),
        )
    )
    n = F.count(F.lit(1))
    return scored.groupBy("lang").agg(
        n.alias("n_docs"),
        F.round(F.sum("logw").cast("double") / n, 6).alias("mean_logw"),
        F.round(
            F.sum(
                F.round(
                    F.col("logw").cast("double") / F.greatest(F.col("ntok"), F.lit(1)),
                    6,
                ).cast("decimal(14,6)")
            ).cast("double")
            / n,
            6,
        ).alias("mean_logw_tok"),
    )
