"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs for ``(workload, seed)`` are
generated (and cached) under ``.perfbench_work/inputs``; every other
file a run writes — Spark outputs, warehouse, local and temp dirs,
event log — goes to ``.perfbench_work/run``, which is emptied first.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``
(set-up time, and the CPU time of a warm pass and the input rows it
reads per CPU second) and the per-layer metrics with ``--trace 1``.
The line before it carries diagnostics: input sizes, every pass's wall
and CPU time, where the run's time went, and the host's load and CPU
steal.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402

#: set-up samples per untraced run: the worker's own plus this many probes
#: (each costs a JVM start, about 7 s on 4 cores, out of the run's budget)
SETUP_PROBES = 1
#: a run must end within this many seconds
RUN_BUDGET_S = 170


def _host_state() -> dict:
    """Cores and 1 m / 5 m load averages now."""
    with open("/proc/loadavg") as fh:
        one, five = (float(x) for x in fh.read().split()[:2])
    return {"cores": len(os.sched_getaffinity(0)), "load1": one, "load5": five}


def _child_env(run_dir: str, trace: bool) -> dict:
    """Environment for the Spark processes: every file they write
    lands under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # the driver heap starts at its full size (``get_spark`` sets the
    # maximum): a heap that grows during the run changes how often, and
    # how long, GC runs from pass to pass and from JVM to JVM
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
    conf = [
        "--conf", f"spark.sql.warehouse.dir=file://{run_dir}/warehouse",
        "--conf", f"spark.local.dir={run_dir}/local",
        "--conf", f"spark.driver.extraJavaOptions=-Xms{heap}",
    ]
    if trace:
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{run_dir}/eventlog",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        {
            "PYSPARK_SUBMIT_ARGS": " ".join(conf + ["pyspark-shell"]),
            # a fixed set of JIT compiler threads, so cpu.thread_cpu can
            # keep their time apart
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "TZ": "UTC",
        }
    )
    return env


def _spawn(args: list[str], env: dict, deadline: float, log: str) -> tuple[float, int]:
    """Run one child (in its own process group) to completion, its
    output going to ``log``; returns (monotonic start time, exit code).
    Kills the group on timeout, and whatever the child left behind."""
    with open(log, "w") as fh:
        t0 = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            env=env, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = -1
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if code != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
    return t0, code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    deadline = t_start + RUN_BUDGET_S

    if not os.path.isfile(os.path.join(ROOT, "map_reduce_showcase_spark", "__init__.py")):
        print("perfbench: run from a checkout of the repository (package not found)", file=sys.stderr)
        return 2
    import bench_constants  # the repository's steal reader, next to the package

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(work, "inputs"), exist_ok=True)
    inputs, manifest = gen.cached_inputs(args.workload, args.seed, os.path.join(work, "inputs"))

    t_inputs = time.monotonic()
    env = _child_env(run_dir, bool(args.trace))
    host_before, steal_before = _host_state(), bench_constants.read_cpu_steal()
    setup: list[float] = []
    if not args.trace:
        for i in range(SETUP_PROBES):
            probe_file = os.path.join(run_dir, f"probe{i}.json")
            t0, code = _spawn(
                ["--probe", "--run-dir", run_dir, "--result", probe_file],
                env, deadline, os.path.join(run_dir, f"probe{i}.log"),
            )
            if code != 0:
                print(f"perfbench: set-up probe failed (exit {code})", file=sys.stderr)
                return 1
            with open(probe_file) as fh:
                setup.append(json.load(fh)["ready"] - t0)
    result_file = os.path.join(run_dir, "result.json")
    t0, code = _spawn(
        [
            "--workload", args.workload, "--inputs", inputs, "--run-dir", run_dir,
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--result", result_file,
        ],
        env,
        deadline,
        os.path.join(run_dir, "worker.log"),
    )
    host_after, steal_after = _host_state(), bench_constants.read_cpu_steal()
    if code != 0 or not os.path.exists(result_file):
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    with open(result_file) as fh:
        res = json.load(fh)
    setup.insert(0, res["ready"] - t0)
    # where the run's time went, in seconds: inputs, set-up probes, the
    # worker's set-up, cold pass, warm-up, measured passes, checks, stop
    marks = [t_start, t_inputs, t0, res["ready"], *res["phases"].values()]
    names = ("inputs", "probes", "setup", *res["phases"])
    phase_s = {n: round(b - a, 2) for n, a, b in zip(names, marks, marks[1:])}
    phase_s["total"] = round(time.monotonic() - t_start, 2)

    pass_cpu_s = statistics.median(res["pass_cpu_s"])
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": {k: v for k, v in manifest.items() if k != "near_dup_pairs"},
        "near_dup_truth_pairs": len(manifest.get("near_dup_pairs", ())),
        "cold_pass_s": res["cold_pass_s"],
        "pass_samples": len(res["pass_s"]),
        "pass_s": statistics.median(res["pass_s"]),
        "pass_s_all": res["pass_s"],
        "pass_cpu_s_all": res["pass_cpu_s"],
        "pass_cpu_groups": res["pass_cpu_groups"],
        "pass_steal_pct_all": res["pass_steal_pct"],
        "phase_s": phase_s,
        "step_s": res["step_s"],
        "setup_s_all": setup,
        "failed_frac": res["failed"] / res["attempted"],
        "check_failures": res["check_failures"],
        "host_before": host_before,
        "host_after": host_after,
        "steal": bench_constants.steal_record(steal_before, steal_after),
        "cores_used": res["cores"],
        "peak_rss_mb": res["python_peak_rss_mb"] + res["jvm_peak_rss_mb"],
    }
    diag.update(res["quality"])
    if args.trace:
        values = res["per_layer"]
    else:
        values = {
            "setup_s": statistics.median(setup),
            "pass_cpu_s": pass_cpu_s,
            "rows_per_cpu_s": res["input_rows"] / pass_cpu_s,
        }
    # the metrics BENCHMARK.json declares, each measured by this run
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    if {m["name"] for m in declared} != values.keys():
        print(
            f"perfbench: measured metrics {sorted(values)} differ from BENCHMARK.json's "
            f"{sorted(m['name'] for m in declared)}",
            file=sys.stderr,
        )
        return 1
    out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps(diag))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
