"""Text-analysis expressions as Spark SQL text — all native Catalyst
expressions.

Every helper here takes SQL text (a column name, or any expression
such as ``"CAST(doc_id AS STRING)"``) and returns SQL text, which the
caller composes inside ``selectExpr`` / ``F.expr``: one parsed
expression per projection, not one py4j round trip per node and per
lambda. No Python UDFs in any hot path. The reference's text surface
was lowercase + split (``src/app/wc.rs:13-18``); this module adds what
a training-data pipeline needs: token stats, quality signals, language
ID, shingles, fingerprints, and a portable 60-bit hash.

The regex patterns hold backslashes (``\\p{L}``), which the SQL parser
reads differently under ``spark.sql.parser.escapedStringLiterals``.
:func:`_regex` writes each one as ``chr(92)`` so no string literal
holds a backslash and the text parses the same under either setting;
``ConstantFolding`` folds the ``concat`` back to the literal pattern,
so the optimized plan compiles one constant regex.
"""

from __future__ import annotations

#: Tokens = maximal runs of letters/digits (BPE-ish pre-tokenization
#: boundary); keep in sync with the DuckDB oracle regexes.
TOKEN_CHARS = r"\p{L}\p{N}"
TOKEN_SPLIT = f"[^{TOKEN_CHARS}]+"
#: What :func:`punct_ratio` does NOT count: letters, digits, whitespace.
NON_PUNCT = r"[\p{L}\p{N}\s]"

#: Tiny per-language marker lexicons for the n-gram/stopword
#: language-ID heuristic. Deterministic and SQL-portable.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "une"),
    "de": ("der", "die", "und", "das", "ein"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "it")

#: CASE-chain precedence for language-ID ties (first wins).
LANG_PRECEDENCE: tuple[str, ...] = ("en", "de", "es", "fr")


def _regex(pattern: str) -> str:
    """``pattern`` as a SQL string expression with every backslash
    written ``chr(92)``, e.g. ``concat('[^', chr(92), 'p{L}', chr(92),
    'p{N}]+')``: no literal holds a backslash, so it parses the same
    whatever ``spark.sql.parser.escapedStringLiterals`` says (a raw
    ``'\\p'`` is dropped to ``p`` by the default parser, and a doubled
    one reaches the regex engine doubled when the setting is true)."""
    return "concat(" + ", chr(92), ".join(f"'{p}'" for p in pattern.split("\\")) + ")"


def _words(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def tokens(text: str) -> str:
    """Lowercase letter/digit tokens of ``text``, empties dropped."""
    return f"array_remove(split(lower({text}), {_regex(TOKEN_SPLIT)}), '')"


def has_token(text: str) -> str:
    """True iff :func:`tokens` of ``text`` is non-empty (NULL for a
    NULL text): one regex search of the string the tokenizer splits,
    no split."""
    return f"(lower({text}) RLIKE {_regex(f'[{TOKEN_CHARS}]')})"


def token_count(text: str) -> str:
    return f"size({tokens(text)})"


def punct_ratio(text: str) -> str:
    """Fraction of characters that are not letter/digit/whitespace —
    a classic boilerplate/garbage signal."""
    return (
        f"(CAST(length(regexp_replace({text}, {_regex(NON_PUNCT)}, '')) AS DOUBLE)"
        f" / CAST(greatest(length({text}), 1) AS DOUBLE))"
    )


def stopword_ratio(text: str) -> str:
    """Fraction of tokens that are stopwords — low values flag
    keyword-stuffed or non-linguistic text."""
    tk = tokens(text)
    return (
        f"(CAST(size(filter({tk}, t -> t IN ({_words(STOPWORDS)}))) AS DOUBLE)"
        f" / CAST(greatest(size({tk}), 1) AS DOUBLE))"
    )


def quality_score(text: str) -> str:
    """Deterministic [0,1] quality heuristic: length band + stopword
    presence − punctuation noise. A stand-in for model-based quality
    classifiers; the *shape* (pure expression, no UDF) is the point:
    it runs at scan speed over 100 TB.

    NULL for a NULL text: the clamp alone would score it 1.0, since
    ``least`` skips a NULL argument, so the score is multiplied by a
    factor that is 1 or NULL. A CASE around the whole score would hide
    its tokenizer from Spark's subexpression elimination, which skips
    conditional branches, and double the CPU of a projection that also
    selects :func:`stopword_ratio`."""
    return (
        f"(round(greatest(least("
        f"(0.5D * least(CAST({token_count(text)} AS DOUBLE) / 64.0D, 1.0D))"
        f" + (0.5D * {stopword_ratio(text)})"
        f" - {punct_ratio(text)}, 1.0D), 0.0D), 6)"
        f" * CASE WHEN {text} IS NOT NULL THEN 1.0D END)"
    )


def lang_marker_score(text: str, lang: str) -> str:
    """Count of marker-lexicon token hits for one language."""
    return f"size(filter({tokens(text)}, t -> t IN ({_words(LANG_MARKERS[lang])})))"


def language_id(text: str) -> str:
    """Marker-lexicon language ID: count marker-token hits per
    language; the argmax is an explicit CASE chain in
    :data:`LANG_PRECEDENCE` order (ties → earlier language), no hits
    → 'und'. The identical CASE chain is replayed by the DuckDB
    oracle. Pure expression → scan-speed at 100 TB; swap in a real
    n-gram model via pandas_udf if needed."""
    scores = {lang: lang_marker_score(text, lang) for lang in LANG_PRECEDENCE}
    whens = " ".join(
        f"WHEN {scores[lang]} > 0 AND {scores[lang]} >= greatest("
        + ", ".join(scores[o] for o in LANG_PRECEDENCE if o != lang)
        + f") THEN '{lang}'"
        for lang in LANG_PRECEDENCE
    )
    return f"CASE {whens} ELSE 'und' END"


def top_token_count(toks: str) -> str:
    """Multiplicity of the most frequent element of the array ``toks``
    (NULL on an empty array, matching ``array_max``'s convention and
    DuckDB's ``list_max``).

    Sorted-run-max: sort the array, then one linear fold tracking the
    current run length and the best run — O(n log n) per document,
    replacing the naive distinct × filter scan whose O(v·n) goes
    quadratic exactly on the degenerate-repetition docs this signal
    exists to catch (a 10k-token doc with 5k distinct tokens costs
    50M comparisons naive, ~140k sorted). ``acc.prev = x`` is NULL
    for the first element, which starts a run like a mismatch."""
    run = "CASE WHEN acc.prev = x THEN acc.run + 1 ELSE 1 END"
    return (
        f"CASE WHEN size({toks}) > 0 THEN aggregate(array_sort({toks}), "
        f"named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0), "
        f"(acc, x) -> named_struct('prev', x, 'run', {run}, 'best', greatest(acc.best, {run})), "
        f"acc -> acc.best) END"
    )


def shingles(toks: str, n: int) -> str:
    """Word n-grams of the token array ``toks``; empty when there are
    fewer than ``n`` tokens. Not de-duplicated."""
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


def portable_hash60(s: str) -> str:
    """Deterministic 60-bit hash portable across Spark and DuckDB:
    first 15 hex chars of md5 as a BIGINT.

    Spark:  ``cast(conv(substr(md5(s),1,15),16,10) as bigint)``
    DuckDB: ``cast('0x' || substr(md5(s),1,15) as bigint)``
    (:func:`portable_hash60_duckdb`)

    Used by MinHash/SimHash so the DuckDB oracle can replay the
    exact signatures. (Spark's native ``xxhash64`` is faster but not
    reproducible in the oracle; swap it in for production.)"""
    return f"CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"


def portable_hash60_duckdb(expr: str) -> str:
    """DuckDB SQL twin of :func:`portable_hash60`, for the oracles."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def fingerprint(text: str) -> str:
    """Document fingerprint: md5 of whitespace-normalized lowercase
    text — the exact-dedup key that survives formatting noise."""
    return f"md5(concat_ws(' ', {tokens(text)}))"
