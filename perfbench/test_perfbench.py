"""Tests of the benchmark's own pieces (no Spark needed):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import types

import pytest

import checks
import cpu
import gen
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def _digests(path: str) -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    da, db, dc = (_digests(str(tmp_path / x)) for x in "abc")
    assert da == db
    assert a == b
    assert da.keys() == dc.keys()
    assert all(da[k] != dc[k] for k in da)
    assert a["input_bytes"] > 0 and a["input_rows"] > 0


def test_planted_near_duplicates_are_true_near_duplicates(tmp_path):
    m = gen.generate("llm_pipeline", 3, str(tmp_path / "in"))
    n_docs = m["tables"]["documents"]
    assert m["near_dup_planted"] == round(n_docs * gen.LLM_NEAR_DUP_SHARE) + round(n_docs * gen.EXACT_DUP_SHARE)
    # one inserted word keeps bigram Jaccard >= 0.7 for nearly every document
    assert len(m["near_dup_pairs"]) >= 0.95 * m["near_dup_planted"]
    assert all(a < b for a, b in m["near_dup_pairs"])


def test_generated_tables_have_the_sf01_shape(tmp_path):
    import numpy as np
    import pyarrow.parquet as pq

    gen.generate("llm_pipeline", 5, str(tmp_path / "in"))
    docs = pq.read_table(str(tmp_path / "in" / "documents.parquet")).to_pylist()
    words = [d["text"].split(" ") for d in docs]
    lengths = [len(w) for w in words]
    assert gen.DOC_WORDS[0] <= min(lengths) and max(lengths) <= gen.DOC_WORDS[1] + 1
    assert {w for ws in words for w in ws} == set(gen.VOCAB) | {gen.DUP_WORD}
    assert all(d["n_chars"] == len(d["text"]) and d["source"] == f"src{d['doc_id'] % 20}" for d in docs)
    assert {d["lang"] for d in docs} == set(gen.LANG_COUNTS)
    emb = pq.read_table(str(tmp_path / "in" / "embeddings.parquet"))
    vecs = np.array(emb.column("embedding").to_pylist())
    assert vecs.shape[1] == gen.EMB_DIM
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)


def test_cached_inputs_reuse_and_evict(tmp_path):
    cache = str(tmp_path / "cache")
    os.makedirs(cache)
    p1, m1 = gen.cached_inputs("llm_pipeline", 1, cache, keep=1)
    p1_again, m1_again = gen.cached_inputs("llm_pipeline", 1, cache, keep=1)
    assert (p1, m1) == (p1_again, m1_again)
    p2, _ = gen.cached_inputs("llm_pipeline", 2, cache, keep=1)
    assert os.listdir(cache) == [os.path.basename(p2)]


def test_jaccard_of_one_substitution():
    a = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9".split()
    b = list(a)
    b[4] = "x"
    # 9 bigrams each, 7 shared, 11 in the union
    assert gen.jaccard(a, b) == pytest.approx(7 / 11)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_follows_the_contract():
    path = os.path.join(ROOT, "BENCHMARK.json")
    assert os.path.getsize(path) <= 64 * 1024
    b = _benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 1 <= len(b["command"]) <= 32
    for arg in b["command"]:
        assert len(arg) <= 200 and not arg.startswith("/") and ".." not in arg.split("/")
    assert 1 <= len(b["paths"]) <= 16
    for p in b["paths"]:
        assert PATH.match(p) and ".." not in p.split("/")
        assert os.path.isdir(os.path.join(ROOT, p))
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert w["name"] in gen.WORKLOADS
        assert 0 < len(w["why"]) <= 200 and "\n" not in w["why"]
    assert 1 <= len(b["end_to_end"]) <= 16
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert 1 <= len(b["per_layer"]) <= 128
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_collected_rows_are_checked_against_the_oracle_in_any_order():
    con = checks.duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 'a', 2.5), (2, 'b', NULL)) v(id, s, x)")
    spec = types.SimpleNamespace(oracle="SELECT x, id, s FROM t", tags=())
    rows = [(2, "b", None), (1, "a", 2.5)]
    assert checks.check_query(con, "q", spec, checks.frame(["id", "s", "x"], rows), "") is None
    wrong = checks.frame(["id", "s", "x"], [(2, "b", None), (1, "a", 2.0)])
    assert checks.check_query(con, "q", spec, wrong, "") == "value hash mismatch"
    assert checks.check_query(con, "q", spec, checks.frame(["id", "s", "x"], []), "").startswith("vacuous")


def _task(stage, run_ms, read=0, written=0, rows_acc=None):
    accums = [{"ID": rows_acc[0], "Name": "number of output rows", "Update": str(rows_acc[1])}] if rows_acc else []
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Accumulables": accums},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6, "JVM GC Time": 0,
            "Disk Bytes Spilled": 0, "Shuffle Write Metrics": {}, "Shuffle Read Metrics": {},
            "Input Metrics": {"Bytes Read": read, "Records Read": read // 10},
            "Output Metrics": {"Bytes Written": written, "Records Written": written // 10},
        },
    }


def test_event_log_is_attributed_to_root_spans(tmp_path):
    plan = {"simpleString": "SortMergeJoin [bucket#1]", "metrics": [
        {"name": "number of output rows", "accumulatorId": 7}], "children": []}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "5", "spark.sql.execution.id": "0"}},
        _task(0, 200, read=1000),
        _task(1, 300, written=500, rows_acc=(7, 42)),
        _task(1, 100, written=500, rows_acc=(7, 8)),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1400}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Submission Time": 1400, "Completion Time": 2000}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [2],
         "Properties": {}},
        _task(2, 999, read=10),
    ]
    (tmp_path / "app-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    roots = tracing.event_log_metrics(str(tmp_path))
    assert set(roots) == {5}
    r = roots[5]
    assert (r["jobs"], r["stages"], r["tasks"], r["task_run_ms"], r["input_b"]) == (1, 2, 3, 600, 1000)
    assert tracing.union_seconds(r["scan_iv"]) == 0.4
    assert tracing.union_seconds(r["write_iv"]) == 0.6
    assert tracing.union_seconds(r["job_iv"]) == 1.0
    assert r["nodes"] == {"SortMergeJoin [bucket#1]": 50}


def test_union_seconds_merges_overlaps():
    assert tracing.union_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0


def test_cpu_groups_split_the_process_time():
    pid = os.getpid()
    a = cpu.thread_cpu(pid, pid)
    sum(i * i for i in range(2_000_000))
    b = cpu.thread_cpu(pid, pid)
    assert set(a) == {"jit", "gc", "tasks", "jvm_other", "python"}
    # this process has no JVM threads: all of its time is "other"
    assert a["jit"] == a["gc"] == a["tasks"] == 0
    assert b["jvm_other"] == b["python"] > a["python"]
    groups = {"jit": 2.0, "gc": 0.5, "tasks": 1.0, "jvm_other": 1.0, "python": 0.5}
    assert cpu.work_cpu(groups) == 3.0
