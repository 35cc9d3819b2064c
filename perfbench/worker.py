"""One Spark driver process of the benchmark.

``run.py`` starts this file as a child process, so set-up is timed
from process start: the package import and ``session.get_spark`` are
part of it. With ``--probe`` the process only sets up, records when
it was ready and exits (extra set-up samples). Otherwise it runs one
workload as a closed loop with one client — each query or job starts
when the previous one has finished — and writes its measurements to
``<run-dir>/result.json``.

Every run makes a cold pass and ``WARMUP_PASSES`` untimed warm passes,
then measures a fixed number of warm passes (``PASS_PACE_S``), each
for its wall time and its CPU time by thread group (``cpu.py``).
Traced runs alternate traced and untraced passes and report per-layer
numbers from the traced ones (spans, py4j counts, and Spark's event
log), plus the difference between the two kinds of pass.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import re
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from map_reduce_showcase_spark.operators import jobs  # noqa: E402
from map_reduce_showcase_spark.plans import registry  # noqa: E402
from map_reduce_showcase_spark.plans.queries_similarity import N_QUERIES  # noqa: E402
from map_reduce_showcase_spark.session import get_spark  # noqa: E402
from map_reduce_showcase_spark.sources import sinks, tables  # noqa: E402

registry._load_all()

import bench_constants  # noqa: E402
import cpu  # noqa: E402
import tracing  # noqa: E402

LLM_QUERIES = (
    "dedup_exact_stats",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality",
    "sim_topk_bruteforce",
    "sim_topk_lsh",
)
#: untimed warm passes after the cold pass. A count, not a time: the
#: JIT compiler keeps two to three cores busy for the first half minute
#: of warm passes, and a pass's CPU time falls from pass to pass as it
#: catches up, so the measured passes start at the same pass on any host
WARMUP_PASSES = 1
#: wall seconds of a warm pass of each workload on a 4-vCPU Xeon VM at
#: rest. A run measures as many passes as take ``--seconds`` at this
#: pace — a count, not a time, for the same reason as the warm-up
PASS_PACE_S = {"llm_pipeline": 3.3, "mapreduce_jobs": 3.9}
MR_APPS = ("wc", "grep", "vertex-degree")
MR_N_REDUCE = 4
MR_BUCKETS = 8
BUCKETED_TABLE = "perfbench_orders_bucketed"


class Workload:
    """Shared pass machinery; subclasses list their steps."""

    def __init__(self, spark, tracer: tracing.Tracer, inputs: str, manifest: dict, run_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.inputs = inputs
        self.manifest = manifest
        self.out = os.path.join(run_dir, "out")
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.py4j: tracing.Py4jCounter | None = None
        self.pids = ("self", self.sc._gateway.proc.pid)

    def steps(self) -> list[tuple[str, object]]:
        raise NotImplementedError

    def reset_outputs(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def run_pass(self) -> tuple[float, dict, dict, int]:
        """One pass: (wall seconds, CPU seconds by thread group (see
        ``cpu.thread_cpu``), step -> result, failed steps)."""
        self.reset_outputs()
        results: dict = {}
        failed = 0
        traced = self.tracer.enabled
        if traced:
            self.py4j = tracing.Py4jCounter(self.sc._gateway._gateway_client)
        cpu0 = cpu.thread_cpu(*self.pids)
        t0 = time.perf_counter()
        self.step_s = {}
        for name, fn in self.steps():
            t_step = time.perf_counter()
            try:
                results[name] = fn()
            except Exception as exc:  # noqa: BLE001 - a failed step is counted, not fatal
                results[name] = exc
                failed += 1
                print(f"step {name} failed: {type(exc).__name__}: {exc}"[:400], file=sys.stderr)
            finally:
                if traced:
                    self.sc.setJobDescription(None)
                self.step_s[name] = time.perf_counter() - t_step
        wall = time.perf_counter() - t0
        cpu1 = cpu.thread_cpu(*self.pids)
        groups = {k: cpu1[k] - cpu0[k] for k in cpu1}
        if traced:
            self.py4j.remove()
        return wall, groups, results, failed

    @contextlib.contextmanager
    def root_span(self, name: str):
        """The span of one query or job; its id tags the Spark jobs."""
        with self.tracer.span(name, "query") as s:
            if s is not None:
                self.sc.setJobDescription(str(s.id))
            yield s


class LlmPipeline(Workload):
    """Registry queries, each built and collected like a user would."""

    queries = LLM_QUERIES

    def steps(self):
        return [(q, lambda q=q: self.run_query(q)) for q in self.queries]

    def run_query(self, name: str):
        spec = registry.REGISTRY[name]
        tr = self.tracer
        if not tr.enabled:
            df = spec.builder(self.spark, self.inputs)
            return df, df.collect()
        with self.root_span(name):
            with tr.span("plans.build", "plans") as s:
                self.py4j.active = True
                c0 = self.py4j.count
                try:
                    df = spec.builder(self.spark, self.inputs)
                finally:
                    self.py4j.active = False
                s.counts["py4j"] = self.py4j.count - c0
            with tr.span("spark.plan", "spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("spark.exec", "spark.exec"):
                rows = df.collect()
        return df, rows


class MapReduceJobs(Workload):
    """The reference's submit/process surface plus the two writers."""

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.doc_files = sorted(
            os.path.join(self.inputs, "docs", f) for f in os.listdir(os.path.join(self.inputs, "docs"))
        )
        self.edge_files = sorted(
            os.path.join(self.inputs, "edges", f) for f in os.listdir(os.path.join(self.inputs, "edges"))
        )
        self.term = self.manifest["grep_term"]

    def reset_outputs(self):
        self.spark.sql(f"DROP TABLE IF EXISTS {BUCKETED_TABLE}")
        super().reset_outputs()

    def steps(self):
        out = []
        for app in MR_APPS:
            out.append((f"submit:{app}", lambda app=app: self.submit(app)))
        for app in MR_APPS:
            out.append((f"process:{app}", lambda app=app: self.process(app)))
        out.append(("write_partitioned", self.write_partitioned))
        out.append(("write_bucketed", self.write_bucketed))
        return out

    def submit(self, app: str) -> str:
        files = self.edge_files if app == "vertex-degree" else self.doc_files
        args = ["--term", self.term] if app == "grep" else None
        with self.root_span(f"submit:{app}"):
            with self.tracer.span(f"submit_job.{app}", "operators"):
                res = jobs.submit_job(
                    self.spark, app, files, output_dir=os.path.join(self.out, app),
                    n_reduce=MR_N_REDUCE, args=args,
                )
        return res.output

    def process(self, app: str) -> str:
        with self.root_span(f"process:{app}"):
            with self.tracer.span(f"process_job.{app}", "operators"):
                res = jobs.process_job(self.spark, app, os.path.join(self.out, app))
        return res.output

    def write_partitioned(self) -> None:
        from pyspark.sql import functions as F

        with self.root_span("write_partitioned"):
            df = tables.load_table(self.spark, self.inputs, "events").withColumn("day", F.to_date("ts"))
            with self.tracer.span("write_partitioned", "sinks"):
                sinks.write_partitioned(df, os.path.join(self.out, "events_by_day"), "day")

    def write_bucketed(self) -> None:
        with self.root_span("write_bucketed"):
            orders = tables.load_table(self.spark, self.inputs, "orders")
            with self.tracer.span("write_bucketed", "sinks"):
                sinks.write_bucketed(orders, BUCKETED_TABLE, "o_orderkey", n_buckets=MR_BUCKETS)


WORKLOADS = {
    "llm_pipeline": LlmPipeline,
    "mapreduce_jobs": MapReduceJobs,
}


# --- checks --------------------------------------------------------------


def _registry_checks(wl: LlmPipeline, passes: list[dict]) -> tuple[int, list[str], dict]:
    """Cold-pass results against the oracles; every later pass against
    the cold pass. Returns (mismatches, reasons, name -> (cols, rows))."""
    import checks

    con = checks.connect(wl.inputs)
    bad: list[str] = []
    reference: dict[str, tuple[list[str], list]] = {}
    ref_hash: dict[str, int] = {}
    for name in wl.queries:
        res = passes[0].get(name)
        if not isinstance(res, tuple):
            continue  # failed step: already counted
        df, rows = res
        spec = registry.REGISTRY[name]
        frame = checks.frame(df.columns, rows)
        why = checks.check_query(con, name, spec, frame, wl.inputs)
        if why:
            bad.append(f"{name}: {why}")
        reference[name] = (df.columns, rows)
        ref_hash[name] = checks.value_hash(frame)
    mismatches = len(bad)
    for i, results in enumerate(passes[1:], 1):
        for name, res in results.items():
            if isinstance(res, tuple) and name in ref_hash:
                if checks.value_hash(checks.frame(reference[name][0], res[1])) != ref_hash[name]:
                    bad.append(f"{name}: pass {i} differs from the cold pass")
                    mismatches += 1
    con.close()
    return mismatches, bad, reference


def _mapreduce_checks(wl: MapReduceJobs, passes: list[dict]) -> tuple[int, list[str]]:
    import checks

    want = checks.mapreduce_twins(wl.doc_files, wl.edge_files, wl.term)
    bad: list[str] = []
    mismatches = 0
    for i, results in enumerate(passes):
        for app in MR_APPS:
            got = results.get(f"submit:{app}")
            if isinstance(got, str) and got != want[app]:
                bad.append(f"pass {i} submit {app}: output differs from the DuckDB twin")
                mismatches += 1
            back = results.get(f"process:{app}")
            if isinstance(back, str) and back != got:
                bad.append(f"pass {i} process {app}: read-back differs from submit")
                mismatches += 1
    # the last pass's files are still on disk
    con = checks.connect(wl.inputs)
    for step, table, pattern, key, hive in (
        ("write_partitioned", "events", "events_by_day/*/*.parquet", "event_id", True),
        ("write_bucketed", "orders", None, "o_orderkey", False),
    ):
        if isinstance(passes[-1].get(step), Exception):
            continue
        if pattern is None:
            pattern = os.path.join(wl.warehouse, BUCKETED_TABLE, "*.parquet")
        else:
            pattern = os.path.join(wl.out, pattern)
        why = checks.check_written(con, table, pattern, key, hive)
        if why:
            bad.append(f"{step}: {why}")
            mismatches += 1
    con.close()
    return mismatches, bad


def _recalls(reference: dict, manifest: dict) -> dict[str, float]:
    """near-duplicate recall against the planted pairs, and ANN top-k
    overlap of the LSH search with the exact search."""
    out = {}
    truth = {tuple(p) for p in manifest.get("near_dup_pairs", ())}
    if "dedup_minhash_lsh" in reference and truth:
        cols, rows = reference["dedup_minhash_lsh"]
        i1, i2 = cols.index("d1"), cols.index("d2")
        found = {(r[i1], r[i2]) for r in rows}
        out["dedup.near_dup_recall"] = len(found & truth) / len(truth)
    if "sim_topk_lsh" in reference and "sim_topk_bruteforce" in reference:
        def topk(name):
            cols, rows = reference[name]
            qi, ci = cols.index("query_id"), cols.index("cand_id")
            return {(r[qi], r[ci]) for r in rows}

        exact = topk("sim_topk_bruteforce")
        out["similarity.ann_recall"] = len(topk("sim_topk_lsh") & exact) / len(exact)
    return out


# --- traced per-layer metrics --------------------------------------------

#: plan nodes whose output rows are the candidates: the MinHash band
#: join (its condition carries the first-colliding-band test) and the
#: sign-LSH bucket join of the ANN search
CANDIDATE_JOINS = {
    "dedup_minhash_lsh": re.compile(r"Join .*zip_with\(slice\("),
    "sim_topk_lsh": re.compile(r"Join \[bucket"),
}


def _node_rows(ev_root: dict | None, pattern: re.Pattern) -> int:
    """Output rows of the executed plan nodes whose description matches."""
    if ev_root is None:
        return 0
    return sum(rows for node, rows in ev_root["nodes"].items() if pattern.search(node))


def _query_metrics(spans, ev: dict, results: dict) -> dict[str, float]:
    """Candidate counts of the traced pass, as the program produced them."""
    root = {s.name: s.root for s in spans if s.parent is None}
    cand = _node_rows(ev.get(root.get("dedup_minhash_lsh")), CANDIDATE_JOINS["dedup_minhash_lsh"])
    res = results.get("dedup_minhash_lsh")
    verified = len(res[1]) if isinstance(res, tuple) else 0
    probed = _node_rows(ev.get(root.get("sim_topk_lsh")), CANDIDATE_JOINS["sim_topk_lsh"])
    return {
        "dedup.candidate_pairs": cand,
        "dedup.verified_pairs": verified,
        "dedup.candidate_precision": verified / cand if cand else 0.0,
        "similarity.candidates_per_query": probed / N_QUERIES,
    }


def _written(paths: list[str]) -> tuple[int, int]:
    files = size = 0
    for p in paths:
        for root, _dirs, names in os.walk(p):
            for n in names:
                if n.startswith("part-"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
    return files, size


def _layer_metrics(spans, ev: dict, cores: int, written: tuple[int, int]) -> dict[str, float]:
    """One traced pass's per-layer figures: spans for the driver-side
    layers, the event log for everything that ran inside Spark."""
    mine = [ev[r] for r in sorted({s.root for s in spans}) if r in ev]
    tot = {c: sum(e[c] for e in mine) for c in tracing.COUNTERS}
    job_s = tracing.union_seconds([iv for e in mine for iv in e["job_iv"]])
    build = [s for s in spans if s.layer == "plans"]
    ops = [s for s in spans if s.layer == "operators"]
    m = {
        "plans.build_s": sum(s.dur for s in build),
        "plans.py4j_calls": sum(s.counts.get("py4j", 0) for s in build),
        "spark.plan_s": sum(s.dur for s in spans if s.layer == "spark.plan"),
        "spark.exec_s": job_s,
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.task_run_s": tot["task_run_ms"] / 1e3,
        "spark.task_cpu_s": tot["task_cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.core_util": (tot["task_run_ms"] / 1e3) / (job_s * cores) if job_s else 0.0,
        "spark.shuffle_write_mb": tot["shuffle_write_b"] / 2**20,
        "spark.shuffle_read_mb": tot["shuffle_read_b"] / 2**20,
        "spark.spill_mb": tot["spill_b"] / 2**20,
        "sources.input_mb": tot["input_b"] / 2**20,
        "sources.input_rows": tot["input_rows"],
        "sources.files_read": tot["files_read"],
        "sources.scan_s": tracing.union_seconds([iv for e in mine for iv in e["scan_iv"]]),
        "sinks.write_s": tracing.union_seconds([iv for e in mine for iv in e["write_iv"]]),
        "sinks.files_written": written[0],
        "sinks.bytes_written": written[1],
        "sinks.write_amp": written[1] / tot["input_b"] if tot["input_b"] else 0.0,
        # driver time inside jobs.py: the operator calls minus the Spark
        # jobs they ran
        "operators.self_s": sum(
            s.dur - tracing.union_seconds(ev[s.root]["job_iv"] if s.root in ev else ())
            for s in ops
        ),
    }
    for kind in ("submit_job", "process_job"):
        for app in MR_APPS:
            m[f"operators.{kind}_s.{app}"] = sum(s.dur for s in ops if s.name == f"{kind}.{app}")
    return m


def _vm_hwm_kib(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit ends in a kill
            proc.kill()
            proc.wait(timeout=10)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--inputs")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--probe", action="store_true")
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    t_session = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    ready = time.monotonic()
    t_session = time.perf_counter() - t_session
    if args.probe:
        _stop(spark)
        with open(args.result, "w") as fh:
            json.dump({"ready": ready}, fh)
        return 0
    spark.sparkContext.setLogLevel("ERROR")
    with open(os.path.join(args.inputs, "manifest.json")) as fh:
        manifest = json.load(fh)
    cores = int(spark.sparkContext.defaultParallelism)
    tracer = tracing.Tracer()
    wl = WORKLOADS[args.workload](spark, tracer, args.inputs, manifest, args.run_dir)

    cold, _groups, cold_results, failed = wl.run_pass()
    passes = [cold_results]
    phases = {"cold": time.monotonic()}
    for _ in range(WARMUP_PASSES):
        _wall, _groups, results, f = wl.run_pass()
        failed += f
        passes.append(results)
    phases["warmup"] = time.monotonic()
    attempted = sum(len(p) for p in passes)
    measured: list[dict] = []
    # traced runs interleave untraced (U) and traced (T) passes in
    # U T T U blocks, so warm-up drift cancels out of the overhead
    order = "UTTU" if args.trace else "U"
    n_passes = max(2, math.ceil(args.seconds / PASS_PACE_S[args.workload]))
    n_passes = math.ceil(n_passes / len(order)) * len(order)
    while len(measured) < n_passes:
        trace_this = order[len(measured) % len(order)] == "T"
        tracer.enabled = trace_this
        n0 = len(tracer.spans)
        st0 = bench_constants.read_cpu_steal()
        wall, groups, results, f = wl.run_pass()
        steal = bench_constants.steal_record(st0, bench_constants.read_cpu_steal())
        tracer.enabled = False
        failed += f
        attempted += len(results)
        passes.append(results)
        measured.append(
            {
                "traced": trace_this,
                "wall": wall,
                "cpu": groups,
                "step_s": wl.step_s,
                "steal_pct": (steal or {}).get("steal_pct_of_demand"),
                "spans": tracer.spans[n0:],
                "results": results,
                "written": _written([wl.out, wl.warehouse]) if trace_this else None,
            }
        )
    phases["measure"] = time.monotonic()
    untraced = [m for m in measured if not m["traced"]]
    py_hwm = _vm_hwm_kib("self")
    from pyspark import SparkContext

    jvm_hwm = _vm_hwm_kib(SparkContext._gateway.proc.pid)

    if isinstance(wl, LlmPipeline):
        mismatches, bad, reference = _registry_checks(wl, passes)
        quality = _recalls(reference, manifest)
    else:
        mismatches, bad = _mapreduce_checks(wl, passes)
        quality = {}
    phases["checks"] = time.monotonic()
    _stop(spark)
    phases["stop"] = time.monotonic()
    result = {
        "ready": ready,
        "cores": cores,
        "cold_pass_s": cold,
        "pass_s": [m["wall"] for m in untraced],
        "pass_cpu_s": [cpu.work_cpu(m["cpu"]) for m in untraced],
        "pass_cpu_groups": {k: [round(m["cpu"][k], 2) for m in untraced] for k in untraced[0]["cpu"]},
        "step_s": {
            k: round(statistics.median(m["step_s"][k] for m in untraced), 3) for k in untraced[0]["step_s"]
        },
        "pass_steal_pct": [m["steal_pct"] for m in untraced],
        "phases": phases,
        "input_rows": manifest["input_rows"],
        "python_peak_rss_mb": py_hwm / 1024,
        "jvm_peak_rss_mb": jvm_hwm / 1024,
        "attempted": attempted,
        "failed": failed + mismatches,
        "check_failures": bad,
        "quality": quality,
    }
    if args.trace:
        traced = [m for m in measured if m["traced"]]
        ev = tracing.event_log_metrics(os.path.join(args.run_dir, "eventlog"))
        layers = [
            {
                **_layer_metrics(m["spans"], ev, cores, m["written"]),
                **_query_metrics(m["spans"], ev, m["results"]),
            }
            for m in traced
        ]
        for d, m in zip(layers, traced):
            d["spark.jit_cpu_s"] = m["cpu"]["jit"]
            d["spark.driver_cpu_s"] = m["cpu"]["jvm_other"]
        per_layer = {k: statistics.median(d[k] for d in layers) for k in layers[0]}
        traced_s = statistics.median(m["wall"] for m in traced)
        per_layer.update(
            {
                "session.start_s": t_session,
                "session.python_peak_rss_mb": result["python_peak_rss_mb"],
                "spark.jvm_peak_rss_mb": result["jvm_peak_rss_mb"],
                "dedup.near_dup_recall": quality.get("dedup.near_dup_recall", 0.0),
                "similarity.ann_recall": quality.get("similarity.ann_recall", 0.0),
                "trace.pass_s": traced_s,
                "trace.overhead_s": traced_s - statistics.median(result["pass_s"]),
                "trace.passes": len(traced),
            }
        )
        result["per_layer"] = per_layer
        tracer.dump(os.path.join(args.run_dir, "spans.jsonl"))
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
