"""Retry contract: a failed task is retried and the output does not
change (the reference re-runs a failed map or reduce task, SURVEY.md
§2.3 C8; here Spark's task scheduler does, up to
``spark.task.maxFailures``).

The shared ``local[4]`` test session allows one attempt per task, so
the check runs this file as a script in a subprocess whose session is
``local[4,2]`` (two attempts). The script collects ``word_count`` over
the gutenberg fixtures and ``q1_pricing_summary`` (whose money sums
salt on ``spark_partition_id()``) twice: once clean, and once behind a
filter UDF that raises in the first attempt of partition 0's task,
after touching a marker file so the test knows the failure happened.
The UDF reads a grouping column, so Catalyst pushes the filter below
the aggregates: the task that fails is a map task (for q1, the one
that computes the ``spark_partition_id()`` salt).

    python tests/test_retry.py SF_DIR MARKER_DIR   # prints one JSON line
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
QUERIES = ("word_count", "q1_pricing_summary")


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
    from map_reduce_showcase_spark.operators.mapreduce import word_count
    from map_reduce_showcase_spark.plans.registry import REGISTRY, _load_all
    from map_reduce_showcase_spark.session import get_spark
    from map_reduce_showcase_spark.sources.text import read_whole_files

    _load_all()
    spark = get_spark(app_name="retry-check", master="local[4,2]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("OFF")
    gutenberg = sorted(
        os.path.join(FIXTURES, "gutenberg", f)
        for f in os.listdir(os.path.join(FIXTURES, "gutenberg"))
    )
    frames = {
        "word_count": lambda: word_count(read_whole_files(spark, gutenberg), "content"),
        "q1_pricing_summary": lambda: REGISTRY["q1_pricing_summary"].builder(spark, sf_dir),
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
