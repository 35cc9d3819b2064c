"""Golden-output parity: run the three reference applications on small
checked-in inputs (``tests/fixtures/``, described in its README) and
compare byte-for-byte against an independent Python reimplementation
of the reference semantics (``src/app/{wc,grep,vertex_degree}.rs`` of
the reference).

The reference's process_output_fn totally orders its output, making
results byte-comparable regardless of scheduling (SURVEY.md §5.3) —
the property these tests exploit.
"""

from __future__ import annotations

import collections
import glob
import os
import re

import pytest

from map_reduce_showcase_spark.operators.mapreduce import (
    format_grep,
    format_vertex_degree,
    format_word_count,
    grep_lines,
    parse_edge_lines,
    vertex_degree,
    word_count,
)
from map_reduce_showcase_spark.sources.text import (
    read_lines_with_path,
    read_whole_files,
)

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def fixture_files(name: str) -> list[str]:
    """The sorted ``*.txt`` files of one fixture set; never empty, so a
    golden test cannot pass on missing input."""
    paths = sorted(glob.glob(os.path.join(FIXTURES, name, "*.txt")))
    assert paths, f"no input files under {FIXTURES}/{name}"
    return paths


#: excerpts of two Project Gutenberg books plus the tokenizer's edge
#: cases: non-ASCII letters, digits and punctuation as separators, CRLF,
#: with and without a trailing newline, and an empty file
GUTENBERG = fixture_files("gutenberg")
ALPHABET = fixture_files("alphabet2")
EDGES = fixture_files("graph-edges")

# \p{L}-equivalent in Python re: letters only (is_alphabetic in Rust)
_WORD_RE = re.compile(r"[^\W\d_]+", re.UNICODE)


def _expected_wc(paths: list[str]) -> str:
    """wc semantics per src/app/wc.rs: split on non-alphabetic,
    lowercase, count, sort (count asc, word asc), '{count}\\t{word}'."""
    counts: collections.Counter[str] = collections.Counter()
    for p in paths:
        for tok in _WORD_RE.findall(open(p, encoding="utf-8").read()):
            counts[tok.lower()] += 1
    ordered = sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))
    return "".join(f"{c}\t{w}\n" for w, c in ordered)


def _expected_grep(paths: list[str], term: str) -> str:
    """grep semantics per src/app/grep.rs: substring filter, 1-based
    line numbers, files in path order, 'basename:' headers."""
    out = []
    for p in sorted(paths):
        matches = [
            (i + 1, line)
            for i, line in enumerate(open(p, encoding="utf-8").read().splitlines())
            if term in line
        ]
        if matches:
            out.append(p.rsplit("/", 1)[-1] + ":\n")
            out.extend(f"\t{no}: {line}\n" for no, line in matches)
    return "".join(out)


def _expected_vertex_degree(paths: list[str]) -> str:
    counts: collections.Counter[int] = collections.Counter()
    for p in paths:
        for line in open(p, encoding="utf-8").read().splitlines():
            if not line.strip():
                continue
            src, dst = line.split()
            counts[int(src)] += 1
            counts[int(dst)] += 1
    return "".join(f"{v}\t{d}\n" for v, d in sorted(counts.items()))


@pytest.mark.parametrize("paths", [ALPHABET, GUTENBERG], ids=["alphabet2", "gutenberg"])
def test_wc_golden(spark, paths):
    df = read_whole_files(spark, paths)
    got = format_word_count(word_count(df, "content").collect())
    assert got == _expected_wc(paths)


@pytest.mark.parametrize(
    "term,paths",
    [
        ("the", GUTENBERG[:2]),
        ("Elizabeth", GUTENBERG[:2]),
        ("whale", GUTENBERG),  # full 6-file corpus, multi-file ordering
    ],
)
def test_grep_golden(spark, term, paths):
    lines = read_lines_with_path(spark, paths)
    got = format_grep(grep_lines(lines, term).collect())
    assert got == _expected_grep(paths, term)


def test_vertex_degree_golden(spark):
    lines = read_lines_with_path(spark, EDGES).select("line")
    edges = parse_edge_lines(lines)
    # reference fails the whole job on malformed input (V1 semantics)
    assert edges.filter(~edges.valid).count() == 0
    got = format_vertex_degree(vertex_degree(edges, "src", "dst").collect())
    assert got == _expected_vertex_degree(EDGES)


def test_wc_multifile_union_is_one_job(spark):
    """Reference F1: N input files → one job (implicit union). Our
    scan unions all files into one DataFrame, one row per file. The
    scan skips zero-length files, which add nothing to any app's
    output, so the corpus's empty file has no row."""
    non_empty = [p for p in GUTENBERG if os.path.getsize(p) > 0]
    assert len(non_empty) < len(GUTENBERG), "the corpus must hold an empty file"
    df = read_whole_files(spark, GUTENBERG)
    assert df.count() == len(non_empty)
