"""Per-document sketches (MinHash, SimHash, sign-LSH buckets): edge cases
on a small in-memory corpus, the plans they build, and the SQL text they
are built from, which must parse the same under either setting of
``spark.sql.parser.escapedStringLiterals``."""

from __future__ import annotations

import hashlib
import re

import pytest

from map_reduce_showcase_spark.dedup import (
    incremental_minhash_near_dup_pairs,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_docs,
)
from map_reduce_showcase_spark.dedup.simhash import SIMHASH_BITS
from map_reduce_showcase_spark.functions.text import (
    TOKEN_SPLIT,
    punct_ratio,
    quality_score,
    stopword_ratio,
    tokens,
)
from map_reduce_showcase_spark.plans import REGISTRY
from map_reduce_showcase_spark.plans.registry import _load_all
from map_reduce_showcase_spark.similarity.lsh import hyperplane_signs, topk_cosine_lsh
from map_reduce_showcase_spark.sources.tables import load_table

_load_all()

_BASE = (
    "the quick brown fox jumps over the lazy dog while the small cat "
    "sleeps in the warm sun near the old red barn by the river"
)
#: doc_id -> text: docs without tokens, without shingles, non-ASCII
#: text, exact copies and near copies
DOCS = {
    1: "",
    2: "word",
    3: "!!! ... --- ???",
    4: None,
    5: "Café naïve Straße über die Brücke, ελλάδα и москва 東京 2024",
    6: "Café naïve Straße über die Brücke, ελλάδα и москва 東京 2024",
    7: _BASE,
    8: _BASE,
    9: _BASE.replace("lazy dog", "lazy hound"),
    10: _BASE.replace("small cat", "tiny kitten"),
    11: "an unrelated sentence about numbers 1 2 3 and letters a b c",
    12: "another unrelated line, with punctuation; and digits: 42!",
}
NO_SHINGLES = {1, 2, 3, 4}
NO_TOKENS = {1, 3, 4}

_TOKEN = re.compile(r"[^\W_]+")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(sorted(DOCS.items()), "doc_id long, text string")


def _pairs(df) -> dict[tuple[int, int], float]:
    return {(r["d1"], r["d2"]): r["jaccard"] for r in df.collect()}


def test_minhash_pairs_skip_shingleless_docs_and_match_exact_jaccard(docs):
    got = _pairs(minhash_near_dup_pairs(docs, n=2, threshold=0.5))
    exact = _pairs(ngram_jaccard_pairs(docs, n=2, threshold=0.5))
    assert {(5, 6), (7, 8)} <= got.keys()
    assert got[(7, 8)] == 1.0
    assert not {d for pair in got for d in pair} & NO_SHINGLES
    for pair, jac in got.items():
        assert pair[0] < pair[1]
        assert exact.get(pair) == jac, pair


def _python_simhash(text: str) -> int:
    words = {w.lower() for w in _TOKEN.findall(text.lower())}
    hashes = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in words]
    return sum(
        1 << j
        for j in range(SIMHASH_BITS)
        if 2 * sum((h >> j) & 1 for h in hashes) > len(hashes)
    )


def test_simhash_omits_tokenless_docs_and_matches_python_model(docs):
    got = {r["doc_id"]: r["simhash"] for r in simhash_docs(docs).collect()}
    assert got.keys() == DOCS.keys() - NO_TOKENS
    assert got == {d: _python_simhash(DOCS[d]) for d in got}
    assert got[5] == got[6] and got[7] == got[8]


def test_incremental_minhash_is_the_full_result_touching_the_batch(docs):
    def is_new(c):
        return f"{c} IN (6, 9, 10)"

    full = _pairs(minhash_near_dup_pairs(docs, n=2, threshold=0.5))
    inc = _pairs(incremental_minhash_near_dup_pairs(docs, is_new, n=2, threshold=0.5))
    touching = {p: j for p, j in full.items() if {6, 9, 10} & set(p)}
    assert touching and len(touching) < len(full)
    assert inc == touching


def _frames(session, sf_dir: str) -> dict:
    corpus = session.createDataFrame(sorted(DOCS.items()), "doc_id long, text string")
    sample = load_table(session, sf_dir, "documents").orderBy("doc_id").limit(64)
    frames = {
        "minhash_near_dup_pairs": minhash_near_dup_pairs(corpus, n=2, threshold=0.5),
        "simhash_docs": simhash_docs(corpus),
        "signals": sample.selectExpr(
            "doc_id",
            f"{tokens('text')} AS t",
            f"{punct_ratio('text')} AS p",
            f"{stopword_ratio('text')} AS s",
            f"{quality_score('text')} AS q",
        ),
    }
    for name in ("text_quality", "text_token_stats", "dedup_exact_stats"):
        frames[name] = REGISTRY[name].builder(session, sf_dir)
    return frames


def test_sql_text_operators_reject_escaped_string_literals(spark):
    """No string literal in the operators' SQL text holds a backslash
    escape, so the setting can change at run time: a session whose
    earlier builds ran flips ``escapedStringLiterals`` and its later
    builds return the same rows, while other sessions keep working."""
    for text in (tokens("text"), punct_ratio("text"), quality_score("text")):
        assert "\\" not in text, text
    other = spark.newSession()
    flipped = other.createDataFrame(sorted(DOCS.items()), "doc_id long, text string")
    before = [
        sorted(repr(tuple(r)) for r in f.collect())
        for f in (minhash_near_dup_pairs(flipped, n=2, threshold=0.5), simhash_docs(flipped))
    ]
    other.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    after = [
        sorted(repr(tuple(r)) for r in f.collect())
        for f in (minhash_near_dup_pairs(flipped, n=2, threshold=0.5), simhash_docs(flipped))
    ]
    assert before[0] and before[1]
    assert after == before
    assert spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"
    assert len(before[1]) == len(DOCS) - len(NO_TOKENS)


def test_sql_text_parses_the_same_with_escaped_string_literals(spark, sf_dir):
    """The helpers write each regex backslash as ``chr(92)``, so no
    string literal holds one: a session that reads string literals
    raw (``escapedStringLiterals=true``) returns, bit for bit, the rows
    of a default session, for the sketch operators, the text queries,
    exact dedup, and the token and quality signals of 64 documents."""
    escaped = spark.newSession()
    escaped.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    want = _frames(spark, sf_dir)
    got = _frames(escaped, sf_dir)
    for name, frame in want.items():
        rows = sorted(repr(tuple(r)) for r in frame.collect())
        assert rows, name
        assert sorted(repr(tuple(r)) for r in got[name].collect()) == rows, name


@pytest.mark.parametrize("name", ["text_quality", "dedup_simhash", "dedup_minhash_lsh"])
def test_token_regex_folds_to_a_literal(spark, sf_dir, name):
    """``ConstantFolding`` turns the ``concat(..., chr(92), ...)`` pattern
    into the one literal regex, so it is compiled once and not rebuilt
    per row."""
    optimized, _ = _plans(REGISTRY[name].builder(spark, sf_dir))
    assert TOKEN_SPLIT in optimized
    assert "chr(" not in optimized
    assert "concat('[" not in optimized and "concat([" not in optimized


def _plans(df) -> tuple[str, str]:
    qe = df._jdf.queryExecution()  # noqa: SLF001
    physical = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")  # noqa: SLF001
    return qe.optimizedPlan().toString(), physical


def test_minhash_plan_has_no_checkpoint_and_no_aggregate(spark, sf_dir):
    df = REGISTRY["dedup_minhash_lsh"].builder(spark, sf_dir)
    df.collect()  # AQE reuses the band exchange when it builds the stages
    optimized, physical = _plans(df)
    assert "LogicalRDD" not in optimized
    assert "ExistingRDD" not in physical
    assert "HashAggregate" not in physical  # ObjectHashAggregate included
    assert "SortMergeJoin" in physical and "ReusedExchange" in physical


@pytest.mark.parametrize(
    "name", ["dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_cosine", "sim_topk_lsh"]
)
def test_sketch_is_not_pushed_into_a_filter(spark, sf_dir, name):
    """An inferred or explicit filter on a sketch column would be pushed
    below the projection that computes it, the sketch inlined, and so
    computed twice. No filter may hash (MinHash, SimHash) or fold a
    hyperplane literal (sign-LSH)."""
    _, physical = _plans(REGISTRY[name].builder(spark, sf_dir))
    conditions = [line for line in physical.splitlines() if line.startswith("Condition :")]
    assert conditions
    for line in conditions:
        assert "md5" not in line and not re.search(r"\[-?1\.0,-?1\.0,", line), line


#: Spark jobs one collect() of ``dedup_minhash_lsh`` may run: the
#: rebalance exchange, the band exchange (reused by the other side of
#: the self-join) and the result stage
MINHASH_JOB_BUDGET = 3


def test_minhash_collect_job_count(spark, sf_dir):
    df = REGISTRY["dedup_minhash_lsh"].builder(spark, sf_dir)
    sc = spark.sparkContext
    group = "test-minhash-collect"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    assert rows
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup(group)) <= MINHASH_JOB_BUDGET


def test_topk_lsh_plan_folds_each_plane_once_per_side(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    optimized, _ = _plans(topk_cosine_lsh(emb.filter("vec_id < 10"), emb))
    for plane in hyperplane_signs():
        literal = "[" + ",".join(repr(v) for v in plane) + "]"
        assert optimized.count(literal) == 2, literal
