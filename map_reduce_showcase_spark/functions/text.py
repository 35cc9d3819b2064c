"""Text-analysis column expressions — all native Catalyst expressions.

Everything here is a ``Column``-in → ``Column``-out builder using only
built-in ``pyspark.sql.functions`` (JVM-side, whole-stage-codegen'd);
no Python UDFs in any hot path. The reference's text surface was
lowercase + split (``src/app/wc.rs:13-18``); this module adds what a
training-data pipeline needs: token stats, quality signals, language
ID, shingles, fingerprints, and a portable 60-bit hash.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

#: Tokens = maximal runs of letters/digits (BPE-ish pre-tokenization
#: boundary); keep in sync with the DuckDB oracle regexes.
TOKEN_CHARS = r"\p{L}\p{N}"
TOKEN_SPLIT = f"[^{TOKEN_CHARS}]+"

#: Tiny per-language marker lexicons for the n-gram/stopword
#: language-ID heuristic. Deterministic and SQL-portable.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "une"),
    "de": ("der", "die", "und", "das", "ein"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "it")


#: The parser setting the SQL-text helpers below depend on: they
#: double their regex backslashes because the default parser unescapes
#: string literals. With it true the doubled backslashes would reach
#: the regex engine and tokenize wrongly, with no error.
ESCAPED_LITERALS_CONF = "spark.sql.parser.escapedStringLiterals"

def require_sql_text_conf(spark: SparkSession) -> None:
    """Raise ``ValueError`` unless ``spark`` parses string literals as
    the SQL-text helpers of this module assume
    (:data:`ESCAPED_LITERALS_CONF` false). Every operator that builds
    a plan from them calls this first. The setting can change at run
    time, so it is read on every call."""
    if spark.conf.get(ESCAPED_LITERALS_CONF, "false").strip().lower() != "false":
        raise ValueError(
            f"{ESCAPED_LITERALS_CONF}=true is not supported: the SQL-text "
            "tokenizer writes its regex for the default parser, which "
            "unescapes string literals; set it to false"
        )


def tokens_sql(text: str) -> str:
    """:func:`tokens` as SQL text over a column-name fragment — ONE
    parsed expression instead of a py4j-built lambda tree (~20 ms of
    driver round trips per build; r18 build profile). The regex
    backslashes are doubled because the SQL parser unescapes string
    literals, where the Column API passes the pattern through
    verbatim; see :func:`require_sql_text_conf`."""
    pattern = TOKEN_SPLIT.replace("\\", "\\\\")
    return f"filter(split(lower({text}), '{pattern}'), t -> length(t) > 0)"


def has_token_sql(text: str) -> str:
    """True iff :func:`tokens` of ``text`` is non-empty (NULL for a
    NULL text): one regex search of the string the tokenizer splits,
    no split. Backslashes doubled as in :func:`tokens_sql`."""
    pattern = TOKEN_CHARS.replace("\\", "\\\\")
    return f"lower({text}) RLIKE '[{pattern}]'"


def tokens(text: Column | str) -> Column:
    """Lowercase letter/digit tokens, empties dropped. Accepts a
    Column, or SQL text (a column name) for the one-parse path."""
    if isinstance(text, str):
        return F.expr(tokens_sql(text))
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT), lambda t: F.length(t) > 0)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def _punct_ratio_sql(text: str) -> str:
    pattern = r"[\p{L}\p{N}\s]".replace("\\", "\\\\")
    return (
        f"(CAST(length(regexp_replace({text}, '{pattern}', '')) AS DOUBLE)"
        f" / CAST(greatest(length({text}), 1) AS DOUBLE))"
    )


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not letter/digit/whitespace —
    a classic boilerplate/garbage signal. SQL-text inputs take the
    one-parse path (r18 build profile: lambda construction costs
    ~20 ms of py4j round trips each)."""
    if isinstance(text, str):
        return F.expr(_punct_ratio_sql(text))
    stripped = F.regexp_replace(text, r"[\p{L}\p{N}\s]", "")
    return F.length(stripped).cast("double") / F.greatest(F.length(text), F.lit(1)).cast(
        "double"
    )


def _stopword_ratio_sql(text: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS)
    tk = tokens_sql(text)
    return (
        f"(CAST(size(filter({tk}, t -> t IN ({words}))) AS DOUBLE)"
        f" / CAST(greatest(size({tk}), 1) AS DOUBLE))"
    )


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are stopwords — low values flag
    keyword-stuffed or non-linguistic text."""
    if isinstance(text, str):
        return F.expr(_stopword_ratio_sql(text))
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: length band + stopword
    presence − punctuation noise. A stand-in for model-based quality
    classifiers; the *shape* (pure column expr, no UDF) is the point:
    it runs at scan speed over 100 TB."""
    if isinstance(text, str):
        return F.expr(
            f"round(greatest(least("
            f"(0.5D * least(CAST(size({tokens_sql(text)}) AS DOUBLE) / 64.0D, 1.0D))"
            f" + (0.5D * {_stopword_ratio_sql(text)})"
            f" - {_punct_ratio_sql(text)}, 1.0D), 0.0D), 6)"
        )
    n = token_count(text).cast("double")
    length_component = F.least(n / F.lit(64.0), F.lit(1.0))
    return F.round(
        F.greatest(
            F.least(
                F.lit(0.5) * length_component
                + F.lit(0.5) * stopword_ratio(text)
                - punct_ratio(text),
                F.lit(1.0),
            ),
            F.lit(0.0),
        ),
        6,
    )


#: CASE-chain precedence for language-ID ties (first wins).
LANG_PRECEDENCE: tuple[str, ...] = ("en", "de", "es", "fr")


def lang_marker_score(text: Column, lang: str) -> Column:
    """Count of marker-lexicon token hits for one language."""
    return F.size(
        F.filter(tokens(text), lambda t: t.isin(*LANG_MARKERS[lang]))
    )


def language_id(text: Column) -> Column:
    """Marker-lexicon language ID: count marker-token hits per
    language; the argmax is an explicit CASE chain in
    :data:`LANG_PRECEDENCE` order (ties → earlier language), no hits
    → 'und'. The identical CASE chain is replayed by the DuckDB
    oracle. Pure expression → scan-speed at 100 TB; swap in a real
    n-gram model via pandas_udf if needed."""
    scores = {lang: lang_marker_score(text, lang) for lang in LANG_PRECEDENCE}
    expr = F.lit("und")
    for lang in reversed(LANG_PRECEDENCE):
        others = [scores[o] for o in LANG_PRECEDENCE if o != lang]
        cond = (scores[lang] > 0) & (
            scores[lang] >= F.greatest(*others) if len(others) > 1 else scores[lang] >= others[0]
        )
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def top_token_count(toks: Column) -> Column:
    """Multiplicity of the most frequent element of ``toks`` (NULL on
    an empty array, matching ``array_max``'s convention and DuckDB's
    ``list_max``).

    Sorted-run-max: sort the array, then one linear fold tracking the
    current run length and the best run — O(n log n) per document,
    replacing the naive distinct × filter scan whose O(v·n) goes
    quadratic exactly on the degenerate-repetition docs this signal
    exists to catch (a 10k-token doc with 5k distinct tokens costs
    50M comparisons naive, ~140k sorted)."""
    folded = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc.prev.isNotNull() & (acc.prev == x), acc.run + F.lit(1))
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc.best,
                F.when(acc.prev.isNotNull() & (acc.prev == x), acc.run + F.lit(1))
                .otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return F.when(F.size(toks) > 0, folded)


def shingles_sql(toks: str, n: int) -> str:
    """Word n-grams of the token array ``toks`` (SQL text) as one
    parsed expression; empty when there are fewer than ``n`` tokens.
    Not de-duplicated."""
    if n == 2:
        # bigram fast path: one linear zip of the array with its own
        # tail (the indexed transform+slice form is O(n) per gram).
        # zip_with pads the shorter side with null and concat
        # propagates it, so the trailing (and single-token) null
        # grams filter out — no size guard needed
        return (
            f"filter(zip_with({toks}, "
            f"slice({toks}, 2, greatest(size({toks}) - 1, 0)), "
            f"(a, b) -> concat(a, ' ', b)), g -> g IS NOT NULL)"
        )
    return (
        f"CASE WHEN size({toks}) >= {n} THEN transform("
        f"sequence(0, size({toks}) - {n}), "
        f"i -> concat_ws(' ', slice({toks}, i + 1, {n}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def ngrams(text: str, n: int) -> Column:
    """Array of space-joined word n-grams of ``text`` (SQL text, e.g.
    a column name); empty when < n tokens."""
    return F.expr(shingles_sql(tokens_sql(text), n))


def word_shingles(text: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles — the MinHash/Jaccard unit."""
    return F.array_distinct(ngrams(text, n))


def portable_hash60(s: Column | str) -> Column:
    """Deterministic 60-bit hash portable across Spark and DuckDB:
    first 15 hex chars of md5 as a BIGINT.

    Spark:  ``cast(conv(substr(md5(s),1,15),16,10) as bigint)``
    DuckDB: ``cast('0x' || substr(md5(s),1,15) as bigint)``

    Used by MinHash/SimHash so the DuckDB oracle can replay the
    exact signatures. (Spark's native ``xxhash64`` is faster but not
    reproducible in the oracle; swap it in for production.) SQL text
    takes the :func:`portable_hash60_spark_sql` form, which a test
    pins equal to the Column form below and to the DuckDB twin."""
    if isinstance(s, str):
        return F.expr(portable_hash60_spark_sql(s))
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def portable_hash60_spark_sql(expr: str) -> str:
    """Spark SQL text of :func:`portable_hash60`, for embedding in
    one-parse expressions (lambdas included)."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def portable_hash60_sql(expr: str) -> str:
    """DuckDB SQL twin of :func:`portable_hash60`."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase
    text — the exact-dedup key that survives formatting noise."""
    normalized = F.concat_ws(" ", tokens(text))
    return F.md5(normalized)
