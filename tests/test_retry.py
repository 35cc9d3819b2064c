"""Retry contract: a failed task is retried and the output does not
change (the reference re-runs a failed map or reduce task, SURVEY.md
§2.3 C8; here Spark's task scheduler does, up to
``spark.task.maxFailures``).

The shared ``local[4]`` test session allows one attempt per task, so
the check runs this file as a script in a subprocess whose session is
``local[4,2]`` (two attempts). The script collects each frame twice:
once clean, and once behind a filter UDF that raises in the first
attempt of partition 0's task, after touching a marker file so the
test knows the failure happened. The frames are the reference's three
apps over ``tests/fixtures/`` (``word_count`` and ``grep`` over the
gutenberg books, ``vertex_degree`` over the graph edges),
``q1_pricing_summary`` (whose money sums salt on
``spark_partition_id()``) and ``dedup_minhash_lsh`` (per-document
sketches, then a band self-join whose two sides reuse one exchange).
For the aggregates the UDF reads a grouping column, so Catalyst pushes
the filter below them: the task that fails is a map task (for q1, the
one that computes the ``spark_partition_id()`` salt).

    python tests/test_retry.py SF_DIR MARKER_DIR   # prints one JSON line
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
QUERIES = ("word_count", "grep", "vertex_degree", "q1_pricing_summary", "dedup_minhash_lsh")


def test_failed_task_is_retried_with_unchanged_rows(sf_dir, tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf_dir, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    for name in QUERIES:
        assert (tmp_path / f"{name}.failed").exists(), f"{name}: no task failed"
        assert out[name]["clean"], f"{name}: no rows"
        assert out[name]["faulty"] == out[name]["clean"], name


def _fail_first_attempt(marker: str):
    """Filter UDF keeping every row, except that in the first attempt
    of partition 0's task it touches ``marker`` and raises."""
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    def keep(_value):
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            open(marker, "a").close()
            raise RuntimeError("injected failure in the first attempt of partition 0")
        return True

    return F.udf(keep, "boolean")


def main(sf_dir: str, marker_dir: str) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from map_reduce_showcase_spark.operators.mapreduce import (
        grep_lines,
        parse_edge_lines,
        vertex_degree,
        word_count,
    )
    from map_reduce_showcase_spark.plans.registry import REGISTRY, _load_all
    from map_reduce_showcase_spark.session import get_spark
    from map_reduce_showcase_spark.sources.text import read_lines_with_path, read_whole_files

    _load_all()
    spark = get_spark(app_name="retry-check", master="local[4,2]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("OFF")
    def fixture(name: str) -> list[str]:
        folder = os.path.join(FIXTURES, name)
        return sorted(os.path.join(folder, f) for f in os.listdir(folder))

    gutenberg, edges = fixture("gutenberg"), fixture("graph-edges")
    frames = {
        "word_count": lambda: word_count(read_whole_files(spark, gutenberg), "content"),
        "grep": lambda: grep_lines(read_lines_with_path(spark, gutenberg), "the"),
        "vertex_degree": lambda: vertex_degree(
            parse_edge_lines(read_lines_with_path(spark, edges)), "src", "dst"
        ),
        "q1_pricing_summary": lambda: REGISTRY["q1_pricing_summary"].builder(spark, sf_dir),
        "dedup_minhash_lsh": lambda: REGISTRY["dedup_minhash_lsh"].builder(spark, sf_dir),
    }
    out = {}
    for name, build in frames.items():
        clean = build()
        df = build()
        faulty = df.filter(_fail_first_attempt(os.path.join(marker_dir, f"{name}.failed"))(df[0]))
        out[name] = {
            run: sorted(repr(tuple(r)) for r in frame.collect())
            for run, frame in (("clean", clean), ("faulty", faulty))
        }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
