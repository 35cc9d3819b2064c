"""The job façade's submit → ``n_reduce`` files → process contract on
small inputs written into the test's own directory: golden output,
failure paths, and the number of Spark jobs one submit runs."""

from __future__ import annotations

import glob

import pytest

from map_reduce_showcase_spark.operators.jobs import APPS, process_job, submit_job
from tests.test_parity_apps import _expected_grep, _expected_vertex_degree, _expected_wc

N_REDUCE = 4
GREP_TERM = "é"

#: Tokenizer edge cases: non-ASCII letters, digits and punctuation as
#: separators, CRLF, with and without a trailing newline, an empty file.
DOCS = {
    "a.txt": "Café au lait, naïve Straße!\r\nthe CAFÉ 42 étude-the\r\n",
    "b.txt": "Élan vital\nno match here\ncafé again_and_again",
    "c.txt": "",
}
#: A self-loop, CRLF, a missing trailing newline and an empty file.
EDGES = {
    "e1.txt": "0 1\n1 2\r\n2 2\n",
    "e2.txt": "3 0\n10 3",
    "e3.txt": "",
}

#: Spark jobs one submit may run with ``output_dir``: the app's single
#: pass (its write and the AQE stages under it) plus one read-back.
JOB_BUDGET = {"wc": 3 + 1, "grep": 2 + 1, "vertex-degree": 3 + 1}


def _write(root, files: dict[str, str]) -> list[str]:
    root.mkdir()
    for name, text in files.items():
        (root / name).write_bytes(text.encode("utf-8"))
    return sorted(str(root / name) for name in files)


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    root = tmp_path_factory.mktemp("jobs")
    docs = _write(root / "docs", DOCS)
    edges = _write(root / "edges", EDGES)
    return {
        "wc": (docs, [], _expected_wc(docs)),
        "grep": (docs, ["--term", GREP_TERM], _expected_grep(docs, GREP_TERM)),
        "vertex-degree": (edges, [], _expected_vertex_degree(edges)),
    }


@pytest.mark.parametrize("app", APPS)
def test_submit_and_process_give_the_same_bytes(spark, tmp_path, inputs, app):
    files, args, expected = inputs[app]
    assert expected
    out_dir = str(tmp_path / "out")
    written = submit_job(spark, app, files, output_dir=out_dir, n_reduce=N_REDUCE, args=args)
    collected = submit_job(spark, app, files, args=args)
    processed = process_job(spark, app, out_dir)
    assert written.output == expected
    assert collected.output == expected
    assert processed.output == expected
    assert 1 <= written.n_output_files <= N_REDUCE
    assert written.n_output_files == len(glob.glob(f"{out_dir}/part-*"))


@pytest.mark.parametrize("app", APPS)
def test_submit_runs_one_pass(spark, tmp_path, inputs, app):
    files, args, _ = inputs[app]
    sc = spark.sparkContext
    group = f"test-submit-{app}"
    sc.setJobGroup(group, group)
    try:
        submit_job(spark, app, files, output_dir=str(tmp_path / "out"), n_reduce=N_REDUCE, args=args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 1 <= n_jobs <= JOB_BUDGET[app]


@pytest.mark.parametrize("app", APPS)
def test_submit_rejects_an_empty_file_list(spark, app):
    with pytest.raises(ValueError, match="no input files"):
        submit_job(spark, app, [], args=["--term", "a"])


@pytest.mark.parametrize("with_output", [False, True], ids=["collect", "write"])
@pytest.mark.parametrize(
    "bad", ["x 7", "5", "", "-1 2"], ids=["non-numeric", "one-token", "empty", "negative"]
)
def test_malformed_edge_line_fails_the_job(spark, tmp_path, bad, with_output):
    files = _write(tmp_path / "edges", {"ok.txt": "0 1\n1 2\n", "bad.txt": f"3 4\n{bad}\n5 6\n"})
    out_dir = str(tmp_path / "out") if with_output else None
    with pytest.raises(ValueError, match="malformed edge line"):
        submit_job(spark, "vertex-degree", files, output_dir=out_dir, n_reduce=N_REDUCE)
