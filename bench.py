#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints TWO JSON lines: the full diagnostic record first, then a
compact FINAL line the driver grades:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>, ...}
The split exists because the driver records only a ~2,000-char TAIL
of stdout: round 13's single grown line overflowed it and the head
("value" + 5 query timings) was truncated away (``BENCH_r13.json``
``parsed: null``). The final line is budget-capped at
``FINAL_LINE_BUDGET_BYTES`` and byte-budget-tested in
``tests/test_bench_contract.py``; everything that grows with stamps
(load samples, idle-wait trajectory, protocol prose, error details)
lives only on the diagnostic line.

Each query is fully materialized through the ``noop`` sink (compute
everything, collect nothing) so the number is engine time, not
driver-transfer time. One warm-up action runs first so JVM/codegen
startup is not billed to the first query.

Per-query timing is the MIN over ``$SPARK_GRAFT_BENCH_REPS``
(default 3) same-JVM runs — the scale sweep's protocol
(``tools/scale_sweep.py::run``): min is the noise-robust estimator
on a shared box because GC pauses, page-cache misses, and competing
processes only ever ADD time. Three consecutive rounds (r7-r9) of
cross-round comparisons on this single-run harness were dominated by
box-session variance the artifact could only annotate (r9: +24.7%
on a tree whose headline files were all untouched); the sweep never
had that problem because it adopted min-of-3 from the start.
"""

from __future__ import annotations

import gc
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from map_reduce_showcase_spark.plans import REGISTRY
from map_reduce_showcase_spark.plans.registry import _load_all
from map_reduce_showcase_spark.session import get_spark

# Re-exported from the engine-free constants module so
# bench.BOX_LOAD_THRESHOLD_1M / bench.HEADLINE readers (tests) keep a
# single source of truth.
from bench_constants import (  # noqa: E402,F401
    ANCHOR_BAND_MIN_OF_3_SEC,
    BOX_LOAD_THRESHOLD_1M,
    BOX_LOAD_THRESHOLD_5M,
    EXTENDED,
    HEADLINE,
    IDLE_SETTLE_MIN_SEC,
)

#: Bounded wait-for-idle (round-12 verdict #2): ``box_load_ok:
#: false`` made a loaded run self-REPORTING, but the r12 driver run
#: still got graded at load 10.4 — the harness should spend bounded
#: wall-clock making the number good, not just annotating that it
#: isn't. Before creating the SparkSession the bench polls the 1m
#: loadavg every ``poll`` seconds until it drops under the threshold
#: or ``cap`` seconds elapse; the full trajectory is stamped so a
#: reader sees exactly what the box did. 600 s cap ≈ two residual
#: sweep/pytest sessions' 1m-average decay; override with
#: $SPARK_GRAFT_BENCH_IDLE_WAIT_CAP_SEC (tests set 0 — pytest itself
#: drives the load the wait would otherwise stall on).
IDLE_WAIT_CAP_SEC = 600.0
IDLE_WAIT_POLL_SEC = 30.0

#: Hard byte budget for the FINAL stdout line (r13 verdict #1). The
#: driver captures only a ~2,000-char stdout tail; 1,500 leaves a 25%
#: margin for trailing whitespace/log bleed. The budget is pinned by
#: tests/test_bench_contract.py against the worst-case shapes the real
#: HEADLINE/EXTENDED lists can produce (all-success with max-width
#: timings, and all-failed).
FINAL_LINE_BUDGET_BYTES = 1500


def compact_record(diag: dict) -> dict:
    """Driver-facing compact record derived from the full diagnostic
    record: everything the driver grades (metric/value/unit/queries/sf
    plus the adjudicated ``box_load_ok`` and the non-anchor extended
    timings), nothing that grows with stamps. Error DETAILS stay on
    the diagnostic line; here failures are sorted name lists, so even
    the all-18-failing worst case stays inside the byte budget."""
    compact = {
        "metric": diag["metric"],
        "value": diag["value"],
        "unit": diag["unit"],
        "queries": diag["queries"],
        "n_measured": diag["n_measured"],
        "n_expected": diag["n_expected"],
        "sf": diag["sf"],
        "runs_per_query": diag["runs_per_query"],
        "box_load_ok": diag["box_load_ok"],
        # run-level load stamps (fixed-size, ~90 bytes): without them
        # an above-band driver artifact with box_load_ok true could
        # not be adjudicated from the compact line at all — bench_trend
        # needs start load + final loadavg to tell external load from
        # a real regression (review r14). .get(): adjudication-optional,
        # so a stamp-less synthetic diag still compacts.
        "load_1m_at_start": diag.get("load_1m_at_start"),
        "loadavg_final": diag.get("loadavg_final"),
        "box_load_threshold_1m": diag.get("box_load_threshold_1m"),
        # settle stamps (r14 verdict #2): fixed-size, and the driver's
        # parsed record is what bench_trend adjudicates — without them
        # an unsettled run could not be graded load_suspect from the
        # compact line
        "box_settled": diag.get("box_settled"),
        "gate_criterion": diag.get("gate_criterion"),
        # hypervisor steal over the measured window, % of guest CPU
        # capacity (round 15): the adjudication signal for host-side
        # contention no loadavg can see; fixed-size (~20 bytes)
        "steal_pct": (diag.get("cpu_steal") or {}).get(
            "steal_pct_of_capacity"
        ),
        "steal_pct_demand": (diag.get("cpu_steal") or {}).get(
            "steal_pct_of_demand"
        ),
        # HEADLINE-window steal (ADVICE r15 medium): the whole-span
        # percentages above dilute a burst concentrated in the
        # headline loop ~3-5x and can be dominated by one landing in
        # the extended/child sections; bench_trend adjudicates
        # above-band HEADLINE readings on THIS window when present.
        # Fixed-size (~50 bytes).
        "steal_pct_headline": (diag.get("cpu_steal_headline") or {}).get(
            "steal_pct_of_capacity"
        ),
        "steal_pct_demand_headline": (
            diag.get("cpu_steal_headline") or {}
        ).get("steal_pct_of_demand"),
        # fixed-work host-speed probe [gate-pass, post-headline] (r16):
        # the one stamp that sees frequency-cap / memory-bandwidth
        # degradation. Fixed-size (~30 bytes). ADJUDICATING since r17
        # (r16 verdict #3): bench_trend grades an above-band headline
        # whose bracketing probe max crosses
        # bench_constants.CPU_WORK_PROBE_SLOW_SEC as host_slow_suspect.
        "cpu_work_probe_sec": diag.get("cpu_work_probe_sec"),
        # the fresh child's own probe (~10 bytes) — adjudicates the
        # fresh extended section the same way
        "extended_fresh_cpu_work_probe_sec": diag.get(
            "extended_fresh_cpu_work_probe_sec"
        ),
        "extended_queries": diag["extended_queries"],
        # era stamp for bench_trend's band dispatch (fresh-order vs
        # the legacy after-headline ranges)
        "extended_order": diag.get("extended_order"),
        "extended_queries_postheadline": diag.get(
            "extended_queries_postheadline"
        ),
        "diagnostics": "full record on preceding stdout line",
    }
    if diag.get("errors"):
        compact["failed"] = sorted(diag["errors"])
    if diag.get("extended_errors"):
        compact["extended_failed"] = sorted(diag["extended_errors"])
    if diag.get("extended_postheadline_errors"):
        compact["extended_postheadline_failed"] = sorted(
            diag["extended_postheadline_errors"]
        )
    # Runtime budget guard: the byte-budget test pins the default
    # HEADLINE/EXTENDED shapes, but SPARK_GRAFT_BENCH_SET=all sweeps
    # the whole registry, and its 171-entry queries dict (~6 KB) — or
    # a registry-wide FAILURE list (ADVICE r14: ~171 sorted names is
    # another ~4-5 KB the old loop never shrank) — would reintroduce
    # the r13 truncation. Degrade, never overflow: replace the
    # unbounded collections with a count (the full record on the
    # PRECEDING line keeps the detail) until the line fits.
    for victim in (
        "queries",
        "failed",
        "extended_queries",
        "extended_failed",
        "extended_queries_postheadline",
        "extended_postheadline_failed",
    ):
        if len(json.dumps(compact).encode()) <= FINAL_LINE_BUDGET_BYTES:
            break
        if isinstance(compact.get(victim), (dict, list)) and compact[victim]:
            compact[victim] = (
                f"<{len(compact[victim])} entries — over final-line "
                "budget, see full record on preceding stdout line>"
            )
    # everything left is fixed-size; a line still over budget here is
    # a bug in THIS function, and overflowing silently is exactly the
    # r13 parsed:null failure — fail loudly instead. RuntimeError, not
    # assert (ADVICE r15): an assert is stripped under python -O /
    # PYTHONOPTIMIZE, silently reintroducing the oversized-line
    # failure mode this guard exists to prevent.
    line = json.dumps(compact).encode()
    if len(line) > FINAL_LINE_BUDGET_BYTES:
        raise RuntimeError(
            f"compact record {len(line)} bytes > {FINAL_LINE_BUDGET_BYTES} "
            "after degrading every unbounded field"
        )
    return compact


def wait_for_idle(
    cap_sec: float,
    poll_sec: float = IDLE_WAIT_POLL_SEC,
    threshold: float = BOX_LOAD_THRESHOLD_1M,
    threshold_5m: float = BOX_LOAD_THRESHOLD_5M,
    settle_min_sec: float = IDLE_SETTLE_MIN_SEC,
    sample=os.getloadavg,
    sleep=time.sleep,
) -> dict:
    """Poll the loadavg until the box is idle AND settled, or
    ``cap_sec`` elapses. Two criteria must hold to pass (r14 verdict
    #2 — the 1m threshold alone passed a run at load 1.58 that still
    read 1.25x its idle twin, because the 1m average decays minutes
    before a heavy job's residue actually drains):

    1. the 1m loadavg is under ``threshold``, and
    2. EITHER the 5m loadavg is under ``threshold_5m`` (idle on the
       5-minute scale too — the instant-pass path on a genuinely
       quiet box) OR at least ``settle_min_sec`` elapsed since the
       trajectory's last above-threshold 1m sample (bounded settle
       when the 5m average would take several more minutes to decay
       below threshold after a long heavy job). The settle clock
       starts at the wait's own start when no hot sample was ever
       observed — arriving mid-drain (1m already decayed, 5m still
       high) gets the same minimum settle.

    Returns a dict with the stamped record: ``load_trajectory_1m``,
    ``load_trajectory_5m``, ``waited_sec``, and ``gate_criterion``
    (``"1m_and_5m_idle"`` | ``"1m_idle_settled"`` |
    ``"cap_exhausted"``) so ``tools/bench_trend.py`` can grade an
    unsettled (cap-exhausted) run ``load_suspect`` mechanically.
    Comparisons use the ROUNDED samples so the stamped trajectory and
    the adjudicated booleans can't disagree at the boundary.
    ``sample`` (returning an ``os.getloadavg()``-shaped triple) and
    ``sleep`` are injectable so the contract test can drive every
    path — including the r14 must-wait trajectory — without a
    10-minute pytest stall."""
    traj_1m: list[float] = []
    traj_5m: list[float] = []
    waited = 0.0
    hot_anchor = None  # waited-time of the last 1m sample >= threshold
    criterion = "cap_exhausted"
    while True:
        la = sample()
        l1, l5 = round(la[0], 2), round(la[1], 2)
        traj_1m.append(l1)
        traj_5m.append(l5)
        if l1 >= threshold:
            hot_anchor = waited
        elif l5 < threshold_5m:
            criterion = "1m_and_5m_idle"
            break
        elif waited - (hot_anchor if hot_anchor is not None else 0.0) >= settle_min_sec:
            criterion = "1m_idle_settled"
            break
        if waited >= cap_sec:
            break
        step = min(poll_sec, cap_sec - waited)
        sleep(step)
        waited += step
    return {
        "load_trajectory_1m": traj_1m,
        "load_trajectory_5m": traj_5m,
        "waited_sec": round(waited, 1),
        "gate_criterion": criterion,
        "settle_min_sec": settle_min_sec,
        "threshold_5m": threshold_5m,
    }


def _measure_set(
    spark, names: list[str], sf_dir: str, reps: int, jvm_gc
) -> tuple[dict[str, float], dict[str, str], dict[str, list[float]]]:
    """Min-of-``reps`` same-JVM timing loop over ``names`` — shared by
    the anchor headline set and the non-anchor extended set so the two
    sections can never drift onto different protocols. Returns
    ``(times, errors, load_1m_samples)``; failure-isolated per query
    (round-2 lesson: one broken query must never destroy the whole
    artifact)."""
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    load_1m: dict[str, list[float]] = {}
    for name in names:
        best = math.inf
        l_before = os.getloadavg()[0]
        try:
            fn = REGISTRY[name].builder
            for _ in range(reps):
                # Drop dead python-side DataFrame refs BEFORE the JVM
                # gc (py4j keeps their JVM objects alive until python
                # collects the wrappers), then nudge the JVM: earlier
                # queries' localCheckpoint blocks are only released
                # when the ContextCleaner runs, which is GC-driven —
                # without this, query N is measured under query N-1's
                # cached partitions squeezing the shared local heap.
                gc.collect()
                jvm_gc()
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            times[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001 — record and continue
            msg = f"{type(exc).__name__}: {exc}"
            errors[name] = msg[:300]
            print(f"bench: {name} FAILED: {msg}", file=sys.stderr)
        finally:
            load_1m[name] = [round(l_before, 2), round(os.getloadavg()[0], 2)]
    return times, errors, load_1m


# Steal helpers live in engine-free bench_constants (shared with
# perfbench, which must not import the registry chain); thin aliases
# keep bench-internal call sites readable.
# Why the stamp exists: hypervisor-denied cycles are the one form of
# external load no loadavg/idle-gate stamp can see (measured live in
# round 15: clean gate, start load 0.2, zero competing guest
# processes — and the headline read 39.8 s, 3.5x the band, while a
# 32-core burn probe showed 8.2% of guest capacity stolen). Stamped
# as a delta across the measured window.
from bench_constants import read_cpu_steal as _read_cpu_steal  # noqa: E402
from bench_constants import steal_record as _steal_record  # noqa: E402


def cpu_work_probe(reps: int = 3, mb: int = 256) -> float:
    """Min-of-``reps`` seconds for a FIXED unit of engine-independent
    work: memset ``mb`` MiB (memory-bandwidth-bound) + sha256 over it
    (per-core-compute-bound), both C-speed with the GIL released.

    Round 16 observed the failure mode this exists for: a headline
    total of 17.5 s (1.36x the band edge) on 0.18% headline-window
    steal — the host degraded the guest's effective speed (frequency
    cap / memory-bandwidth contention) in a way NO steal or loadavg
    stamp can see; only a lucky warm-up-arrival load sample caught it.
    This probe is the direct measurement: the work is constant and
    engine-free, so the stamped seconds track the box's effective
    speed and nothing else. Like steal, it is self-masking-safe: an
    engine regression cannot slow a probe that never touches the
    engine. Stamped before and after the headline loop (and inside
    the fresh child); recorded-only until enough rounds of provenance
    exist to band it."""
    import hashlib

    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        buf = b"\x00" * (mb << 20)
        hashlib.sha256(buf).digest()
        best = min(best, time.perf_counter() - t0)
        del buf
    return round(best, 4)


def _reps_from_env() -> int:
    # clamp to >= 1: reps=0 would leave every `best` at math.inf and
    # json.dumps would emit the non-RFC `Infinity` token — breaking
    # the one-JSON-line contract with no error recorded anywhere.
    # A NON-NUMERIC value falls back to 3 the same way (ADVICE r10:
    # an uncaught ValueError here aborted before any JSON printed —
    # the exact broken-artifact mode the clamp exists to prevent).
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    except ValueError:
        print(
            "bench: ignoring non-numeric SPARK_GRAFT_BENCH_REPS="
            f"{os.environ['SPARK_GRAFT_BENCH_REPS']!r}, using 3",
            file=sys.stderr,
        )
        return 3


def _extended_fresh_child() -> None:
    """``python bench.py --extended-fresh`` — the r14-verdict-#4
    child: measure the extended heavies in their OWN fresh JVM, so
    the primary extended numbers stop riding on Spark's in-JVM
    accumulated self-load (the reason the r13/r14 observed ranges
    were ±30% wide). The parent runs this child AFTER its own
    sections — the before-headline ordering was measured to perturb
    the headline anchor (see main()) — and passes the names via
    $SPARK_GRAFT_BENCH_EXTENDED; the child prints ONE JSON line —
    ``{"extended_queries", "extended_errors",
    "extended_load_1m_per_query"}`` — on a single stdout line the
    parent parses. Same warm-up + min-of-N protocol as every other
    measured section (``_measure_set``)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = [n for n in os.environ.get("SPARK_GRAFT_BENCH_EXTENDED", "").split(",") if n]
    reps = _reps_from_env()
    steal0 = _read_cpu_steal()
    calib = cpu_work_probe()
    _load_all()
    spark = get_spark(app_name="mrs-bench-ext")
    spark.sparkContext.setLogLevel("FATAL")
    warm_sf = "/root/testdata/sf0.001"
    for name in names:
        try:
            REGISTRY[name].builder(spark, warm_sf).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
    jvm_gc = spark.sparkContext._jvm.System.gc  # noqa: SLF001
    times, errors, load_1m = _measure_set(spark, names, sf_dir, reps, jvm_gc)
    out = {
        "extended_queries": times,
        "extended_load_1m_per_query": load_1m,
        "cpu_steal": _steal_record(steal0, _read_cpu_steal()),
        "cpu_work_probe_sec": calib,
    }
    if errors:
        out["extended_errors"] = errors
    print(json.dumps(out))


def _extended_fresh_subprocess(
    names: list[str], reps: int
) -> tuple[
    dict[str, float],
    dict[str, str],
    dict[str, list[float]],
    dict | None,
    float | None,
]:
    """Run the fresh-JVM extended child and parse its one-line JSON.
    Failure-isolated like every measured section: a crashed or
    unparseable child records a synthetic ``_fresh_jvm`` error and
    never touches the headline anchor."""
    import subprocess

    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_EXTENDED"] = ",".join(names)
    env["SPARK_GRAFT_BENCH_REPS"] = str(reps)
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--extended-fresh"],
            env=env,
            capture_output=True,
            text=True,
            timeout=1800,
        )
        for line in reversed(proc.stdout.strip().splitlines()):
            line = line.strip()
            if line.startswith("{"):
                rec = json.loads(line)
                return (
                    rec.get("extended_queries", {}),
                    rec.get("extended_errors", {}),
                    rec.get("extended_load_1m_per_query", {}),
                    rec.get("cpu_steal"),
                    rec.get("cpu_work_probe_sec"),
                )
        raise ValueError(
            f"no JSON line in child stdout (rc={proc.returncode}, "
            f"stderr tail: {proc.stderr[-200:]!r})"
        )
    except Exception as exc:  # noqa: BLE001 — record and continue
        msg = f"{type(exc).__name__}: {exc}"
        print(f"bench: extended fresh-JVM child FAILED: {msg}", file=sys.stderr)
        return {}, {"_fresh_jvm": msg[:300]}, {}, None, None


def main() -> None:
    if "--extended-fresh" in sys.argv[1:]:
        _extended_fresh_child()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # External-load reading taken BEFORE any Spark work (r11 verdict
    # #4): the per-query samples below include the bench's own decay
    # (warm-up alone pushes the 1m average past any idle threshold on
    # local[32]), so the one sample that cleanly discriminates "box
    # was busy when the run started" is this pre-SparkSession one —
    # and since r13 the bench WAITS (bounded) for it to go idle
    # before falling through to ``box_load_ok: false``.
    try:
        idle_cap = max(
            0.0,
            float(
                os.environ.get(
                    "SPARK_GRAFT_BENCH_IDLE_WAIT_CAP_SEC", IDLE_WAIT_CAP_SEC
                )
            ),
        )
    except ValueError:
        print(
            "bench: ignoring non-numeric SPARK_GRAFT_BENCH_IDLE_WAIT_CAP_SEC="
            f"{os.environ['SPARK_GRAFT_BENCH_IDLE_WAIT_CAP_SEC']!r}, "
            f"using {IDLE_WAIT_CAP_SEC}",
            file=sys.stderr,
        )
        idle_cap = IDLE_WAIT_CAP_SEC
    gate = wait_for_idle(idle_cap)
    load_at_start = gate["load_trajectory_1m"][-1]
    # settled iff the gate passed on a criterion, not by burning the
    # cap (r14 verdict #2): a cap-exhausted exit means the box was
    # either still loaded on the 1m scale or inside the settle window
    # of a recent heavy job when measurement began
    box_settled = gate["gate_criterion"] != "cap_exhausted"
    _load_all()
    # SPARK_GRAFT_BENCH_SET=all sweeps every registered query instead
    # of the stable 18-query headline set (which stays the default so
    # cross-round totals compare like sets) — the local profiling mode
    # used to catch scale pathologies outside the headline window.
    bench_all = os.environ.get("SPARK_GRAFT_BENCH_SET") == "all"
    headline = list(REGISTRY) if bench_all else HEADLINE
    # the "all" sweep already contains every extended query — running
    # the section would just measure four names twice in one artifact
    extended = [] if bench_all else [q for q in EXTENDED if q not in headline]
    reps = _reps_from_env()
    # steal window opens AFTER the idle gate (steal during an idle
    # wait is ~0 by construction and would only dilute the percentage)
    steal0 = _read_cpu_steal()
    # effective-host-speed probe (r16): fixed engine-free work timed at
    # gate-pass — the only stamp that sees frequency-cap / memory-
    # bandwidth degradation (observed live: 1.36x headline on 0.18%
    # steal). Recorded-only until banded; a second reading after the
    # headline shows whether the box's speed CHANGED during the run.
    calib_pre = cpu_work_probe()
    spark = get_spark(app_name="mrs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # The accumulator-GC ERROR spam (Python GC reaps accumulators
    # while late tasks report in) starts during the rapid-fire
    # warm-up, not just the measured loop — silence below FATAL for
    # BOTH phases so the artifact tail stays clean; real failures
    # still surface via the errors dict and stderr prints.
    spark.sparkContext.setLogLevel("FATAL")

    # warm-up: JVM, whole-stage codegen, Python worker pool, parquet
    # footer caches — run EVERY headline query once at the smallest
    # SF so plan construction + codegen compilation (identical plan
    # shapes, cached by the JVM) isn't billed to the measured sf0.1
    # runs. Warm-up failures are ignored; the measured loop records
    # them properly.
    warm_sf = "/root/testdata/sf0.001"
    for name in headline + extended:
        try:
            REGISTRY[name].builder(spark, warm_sf).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass

    jvm_gc = spark.sparkContext._jvm.System.gc  # noqa: SLF001
    # 1-minute loadavg sampled around each query (round-10 verdict
    # #4): the min-of-3 protocol kills within-JVM noise, but a loaded
    # BOX still inflates a whole driver run (r10: 17.2 s driver-graded
    # vs 11.9 s idle on identical code) — with the samples in the
    # artifact that call needs no cross-referencing. On local[32] the
    # bench itself drives load toward ~32 while a query runs; what the
    # samples discriminate is a NONZERO BASELINE before the first
    # query and between-queries floors well above the core count.
    times, errors, load_1m = _measure_set(spark, headline, sf_dir, reps, jvm_gc)
    # HEADLINE-window steal record, closed right here (ADVICE r15
    # medium): the run-level window below spans the whole measured
    # span (headline + postheadline + fresh child), of which the
    # headline loop is a minority — a host-steal burst landing only in
    # the extended sections could grade a genuine above-band headline
    # regression load_suspect, and a burst concentrated IN the
    # headline is diluted ~3-5x by the rest of the span and may miss
    # the thresholds (the same dilution the child's own stamp fixes
    # for the fresh section). Window = idle gate -> end of the
    # headline loop; it deliberately includes session creation and the
    # warm-up pass — denial there perturbs the same section this stamp
    # adjudicates. tools/bench_trend.py grades above-band HEADLINE
    # readings on THIS window when present, keeping the whole-span
    # stamp on the artifact for the extended sections and provenance.
    cpu_steal_headline = _steal_record(steal0, _read_cpu_steal())
    calib_post = cpu_work_probe()
    # SECONDARY extended trend: the legacy after-headline order, kept
    # so the r13/r14 observed ranges stay comparable while the fresh-
    # order bands accumulate provenance (r14 verdict #4 "keep the
    # after-headline numbers as a secondary trend"). The headline
    # anchor section sees the same JVM history it has since round 10
    # — warm-up then the 18 headline queries, FIRST measured thing in
    # the process.
    ext_post_times, ext_post_errors, ext_post_load = _measure_set(
        spark, extended, sf_dir, reps, jvm_gc
    )
    # PRIMARY extended measurement LAST, in its own fresh JVM (r14
    # verdict #4): a fresh JVM is what kills the ±30% in-JVM
    # accumulated-self-load noise of the legacy section (heap/GC/code-
    # cache state — the physical mechanism), independent of where in
    # the run it executes. The verdict's child-BEFORE-headline variant
    # was implemented first and measured HARMFUL on quiet-box pairs
    # (child-first headline 14.08 s vs 12.62 s headline-only minutes
    # apart, steal stamps low on both): a heavy child finishing
    # seconds before the headline warm-up re-creates the exact
    # just-finished-job drain the r14 13.78 s incident demonstrated
    # and the settle gate exists to prevent — with no gate in
    # between. Running the child AFTER the parent's sections has no
    # such mechanism (the parent's JVM is idle while it waits), and
    # the child stamps its own steal window for adjudication.
    ext_fresh_times: dict[str, float] = {}
    ext_fresh_errors: dict[str, str] = {}
    ext_fresh_load: dict[str, list[float]] = {}
    ext_fresh_steal: dict | None = None
    ext_fresh_calib: float | None = None
    if extended:
        (
            ext_fresh_times,
            ext_fresh_errors,
            ext_fresh_load,
            ext_fresh_steal,
            ext_fresh_calib,
        ) = _extended_fresh_subprocess(extended, reps)

    spark.sparkContext.setLogLevel("ERROR")
    total = round(sum(times.values()), 3)
    # close the steal window over the whole measured span (child +
    # headline + postheadline) — hypervisor-denied cycles are the one
    # external load no guest loadavg stamp can see (round 15: a clean-
    # gate run read 3.5x the band while the host stole 8.2% of
    # capacity). Cannot be self-caused, so bench_trend may threshold
    # it without the ADVICE-r14 self-masking failure mode.
    cpu_steal = _steal_record(steal0, _read_cpu_steal())
    out = {
        "metric": "headline_queries_total_sec",
        # A partial total compares unlike sets across rounds, so when
        # any query failed the headline value is null — consumers must
        # look at "queries"/"errors" instead of misreading a partial
        # sum as a full-run total.
        "value": total if not errors else None,
        "unit": "sec",
        "queries": times,
        "n_measured": len(times),
        "n_expected": len(headline),
        "sf": sf,
        # Self-describing comparability. Since round 10 each query is
        # the MIN over ``runs_per_query`` same-JVM runs (the sweep's
        # protocol) — totals are NOT comparable to the single-run
        # figures of BENCH_r01..r09, whose fresh-JVM spread on
        # identical code was 13.94-16.45 s on an idle box and 19.75 s
        # in a loaded round-9 session (the r9 +24.7% the protocol
        # change exists to kill). ``single_run_era`` preserves those
        # reference numbers; within the min-of-N era, treat residual
        # per-query deltas under ~1.3x between rounds as box state —
        # only interleaved same-JVM A/Bs attribute a cross-variant
        # difference.
        "runs_per_query": reps,
        "protocol": (
            f"min of {reps} same-JVM runs per query after a full "
            f"sf0.001 warm-up pass; gc.collect + JVM System.gc "
            f"between runs"
        ),
        "noise_band_ref": "SCALING.md#noise-band",
        # per-query [before, after] 1-minute loadavg samples plus the
        # full (1m, 5m, 15m) triple at artifact time: a driver-graded
        # total outside the idle spread should be adjudicated from
        # THESE fields (elevated pre-first-query baseline / 15m
        # average ≫ what this bench alone would drive), not by
        # cross-referencing three artifacts as in round 10.
        "load_1m_per_query": load_1m,
        "loadavg_final": [round(x, 2) for x in os.getloadavg()],
        # Self-ADJUDICATING box-load verdict (r11 verdict #4 — raw
        # samples still required a grader to interpret them by hand):
        # ok iff the 1m loadavg BEFORE any Spark work was under the
        # threshold. Sampled pre-SparkSession, not pre-first-query —
        # the warm-up pass alone drives the 1m average well past any
        # idle threshold on local[32], so the pre-first-query sample
        # (r11: 4.34 after warm-up) conflates the bench's own load
        # with the box's. 2.0 on this 32-core box = ~6% busy, ample
        # margin over a truly idle baseline while catching any
        # concurrent JVM/sweep/pytest session (those run 8-32 wide).
        # adjudicated on the ROUNDED stamped value so the artifact is
        # self-consistent (a reader re-deriving ok from the fields
        # must get the same boolean, including at the boundary).
        # Since r15 "ok" additionally requires the SETTLE criterion
        # (r14 verdict #2): the 1m threshold alone passed a run at
        # load 1.58 that still read 1.25x its idle twin while the box
        # drained a just-finished heavy job.
        "box_load_threshold_1m": BOX_LOAD_THRESHOLD_1M,
        "load_1m_at_start": round(load_at_start, 2),
        "box_settled": box_settled,
        "gate_criterion": gate["gate_criterion"],
        "box_load_ok": (
            round(load_at_start, 2) < BOX_LOAD_THRESHOLD_1M and box_settled
        ),
        # Bounded wait-for-idle record (r12 verdict #2): the samples
        # the bench took while waiting for the box to go idle, plus
        # how long it actually waited and WHICH criterion let it
        # proceed (r14 verdict #2). ``load_1m_at_start`` above is
        # the LAST trajectory sample — i.e. post-wait — so a run that
        # still stamps ``box_load_ok: false`` did so only after
        # burning the full cap without the box going idle+settled.
        "idle_wait": {
            "cap_sec": idle_cap,
            "poll_sec": IDLE_WAIT_POLL_SEC,
            **gate,
        },
        # the idle-box band on headline-identical code — run
        # provenance and maintenance rules live on the constant
        # (bench_constants.ANCHOR_BAND_MIN_OF_3_SEC; twelve runs as of
        # round 15, absorbing per-round DATA regimes as well as box
        # state). Totals outside this band on code-identical headline
        # files indicate box load or a new data regime, not
        # regression. This band is also the min-of-3-era ANCHOR the
        # 2x bar compares against (BASELINE.md "Bench anchor,
        # min-of-3 era"): the single-run 18.444 s anchor includes
        # noise min-of-3 removes, so ratios against it flatter ~18%.
        "cpu_steal": cpu_steal,
        "cpu_steal_headline": cpu_steal_headline,
        "extended_fresh_cpu_steal": ext_fresh_steal,
        "extended_fresh_cpu_work_probe_sec": ext_fresh_calib,
        # fixed-work host-speed probe (r16), [gate-pass, post-headline]:
        # identical work, so a rise between the two means the box's
        # effective speed DEGRADED during the run — the signal steal
        # cannot see. Child's own reading rides in its section.
        "cpu_work_probe_sec": [calib_pre, calib_post],
        "min_of_3_fresh_jvm_spread_sec": list(ANCHOR_BAND_MIN_OF_3_SEC),
        "anchor_ref": "BASELINE.md#new-engine-targets-driver-contract",
        "single_run_era": {
            "rounds": "r01-r09",
            "fresh_jvm_total_spread_sec": [13.94, 16.45],
            "loaded_box_session_total_sec": 19.75,
        },
    }
    if errors:
        out["errors"] = errors
    # Non-anchor trend section (r12 verdict #4): same min-of-N
    # protocol; NOT in "value" and its failures never null the anchor
    # total — the headline set stays the frozen 18 so totals compare
    # like sets. Since r15 the PRIMARY numbers come from the fresh-JVM
    # before-headline child (r14 verdict #4) and the legacy after-
    # headline order rides along as the secondary trend; the
    # ``extended_order`` stamp is what tools/bench_trend.py dispatches
    # its band choice (fresh vs legacy) on.
    out["extended_queries"] = ext_fresh_times
    out["extended_order"] = "fresh_jvm_after_headline"
    out["extended_note"] = (
        "non-anchor sf-dir trend for the sweep heavies; excluded "
        "from 'value' and from the min_of_3_fresh_jvm_spread_sec "
        "anchor band; measured in its own fresh JVM since r15 — "
        "after the parent's sections, so the headline keeps its "
        "r10-r14 position (the postheadline section keeps the "
        "legacy same-JVM order as a secondary trend)"
    )
    # per-query [before, after] load for the extended sections too
    # (r13 verdict #3): the postheadline one runs LAST, on the most-
    # loaded box state of the whole run (r13: loadavg 5.6-7.0 by
    # then; pagerank's 1.34x-vs-idle driver point was unexplainable
    # from the artifact alone because these samples were measured and
    # then discarded).
    out["extended_load_1m_per_query"] = ext_fresh_load
    if ext_fresh_errors:
        out["extended_errors"] = ext_fresh_errors
    out["extended_queries_postheadline"] = ext_post_times
    out["extended_postheadline_load_1m_per_query"] = ext_post_load
    if ext_post_errors:
        out["extended_postheadline_errors"] = ext_post_errors
    # Two-line artifact (r13 verdict #1): full diagnostic record
    # first, compact budget-capped record LAST — the driver's ~2,000-
    # char stdout tail capture must always contain the whole final
    # line (BENCH_r13.json parsed:null is what one grown line does).
    print(json.dumps(out))
    print(json.dumps(compact_record(out)))


if __name__ == "__main__":
    main()
