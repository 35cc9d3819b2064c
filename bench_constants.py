"""Measurement constants and host-steal helpers — importable WITHOUT
the engine.

``bench.py``'s module top level imports the full plans REGISTRY /
session chain (it has to — it runs queries). This module imports
nothing from the package, so ``perfbench`` reads the steal helpers
(:func:`read_cpu_steal`, :func:`steal_record`) without paying for, or
inheriting a failure from, that import chain. ``bench.py`` re-exports
the box-load and anchor-band constants so ``bench.BOX_LOAD_THRESHOLD_1M``
readers keep working.
"""

#: Headline set: reference-app parity + the heavy relational /
#: window / dedup / similarity representatives. Frozen since round 10
#: so cross-round anchor totals compare like sets.
HEADLINE = [
    "wc_word_count",
    "grep_docs",
    "vertex_degree_lineitem",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_revenue_by_nation",
    "join_brand_revenue",
    "join_outer_order_counts",
    "window_rank_orders",
    "topk_orders",
    "events_tumbling_1h",
    "events_session_10m",
    "events_asof_purchase_click",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality",
    "sim_topk_bruteforce",
    "sim_topk_lsh",
]

#: Non-anchor trend section (round-12 verdict #4): the sweep's most
#: expensive entries have no per-round sf0.1 wall-time trend — a
#: regression there is only visible through the sweep's 16x tail,
#: which moves ~1.4x cross-round on box state alone. Measured with
#: the SAME min-of-N protocol, stamped under ``extended_queries``,
#: and EXCLUDED from the anchor total.
EXTENDED = [
    "graph_triangle_summary",
    "graph_pagerank",
    "dedup_fuzzy_names",
    "dedup_containment_pairs",
]

#: 1-minute loadavg above which a measurement run is stamped
#: ``box_load_ok: false`` — on this 32-core box an idle baseline reads
#: well under 1; 2.0 (~6% busy) catches any concurrent
#: Spark/pytest/sweep session without false-tripping on the OS's own
#: background flutter.
BOX_LOAD_THRESHOLD_1M = 2.0

#: Settle criterion (r14 verdict #2): the 1m gate alone passed a run
#: at load 1.58 that still read 1.25x its idle twin — the 1m average
#: decays minutes before the box actually finishes draining a heavy
#: job. The gate now additionally requires EITHER the 5m loadavg
#: under this threshold (box demonstrably idle on the 5-minute
#: scale too) OR ``IDLE_SETTLE_MIN_SEC`` elapsed since the wait
#: trajectory's last above-threshold 1m sample (bounded settle when
#: the 5m average would take too long to decay). ``bench.py`` stamps
#: which criterion gated (``gate_criterion``).
BOX_LOAD_THRESHOLD_5M = 2.0
IDLE_SETTLE_MIN_SEC = 120.0

#: Host-speed probe SUSPECT threshold (r16 verdict #3): above this,
#: the fixed-work probe (``bench.cpu_work_probe_sec`` — memset 256
#: MiB + sha256, min-of-3, engine-free) says the box's effective
#: speed is degraded in the way NO steal or loadavg stamp can see
#: (frequency cap / memory-bandwidth denial — the r16 episode's
#: 17.506 s clean-stamped run). An above-band reading whose
#: bracketing probe maximum crosses this threshold is
#: ``host_slow_suspect`` (box state, like load_suspect).
#: Self-masking-safe: an engine regression cannot slow a probe that
#: never touches the engine. CALIBRATION (every point committed):
#:   clean, quiet-hunt builder sessions (r16, in-band/recovery runs
#:   12.861/11.885/11.325): pre 0.3917/0.3853/0.3833, post-headline
#:   0.3681/0.3716/0.3689, child 0.3805/0.3755/0.3751
#:     (BENCH_LOCAL_r16.json + the recovery pair, evidence/r16/)
#:   clean, r16 DRIVER session (11.566 s — best driver total ever):
#:   pre 0.3887, post 0.3955 (BENCH_r16.json) — driver-session
#:   probes read ~5% above the builder sessions', which is why the
#:   threshold sits above the full clean envelope, not its center
#:   clean, r17 builder sessions (2026-08-16 evening, steal-volatile
#:   host): every steal-clean window read pre 0.3756-0.3968, post
#:   0.3615-0.3851, child 0.3764-0.3934 — all under threshold,
#:   including the immaculate 13.515 primary (BENCH_LOCAL_r17.json:
#:   [0.3894, 0.3722]); the evening's steal regime was probe-
#:   invisible except at its peak (below)
#:   DEGRADED (the episode's only probe-stamped run — 13.348 s at
#:   3.43% headline demand-steal): pre 0.3953, post 0.4071, child
#:   0.3865 (evidence/r16/BENCH_LOCAL_r16_episode_13348.json)
#:   DEGRADED (r17, 16.9 s at 39.33% headline demand-steal): pre
#:   0.4278 — the probe's second above-threshold reading, taken
#:   INSIDE a steal storm (evidence/r17/BENCH_LOCAL_r17_steal_16900
#:   .json); steal adjudicates it first, but the probe agreeing is
#:   the first cross-validation of the 0.40 threshold
#: Threshold 0.40 = above every committed clean reading (max 0.3955)
#: with the one stamped degraded run caught via its post-probe
#: 0.4071. The adjudicated statistic is the MAX of the bracketing
#: [gate-pass, post-headline] pair (one slow end means the probed
#: window overlapped degradation); the verdict's pre-probe-only
#: phrasing would catch NO committed degraded reading (the degraded
#: pre, 0.3953, sits 0.05% under the clean driver post, 0.3955 — the
#: two single-reading populations overlap). Borderline episodes
#: reading 0.39-0.40 fall through to ``investigate`` — the
#: conservative direction: a too-low threshold would let ordinary
#: clean-box probe flutter excuse a REAL above-band regression.
CPU_WORK_PROBE_SLOW_SEC = 0.40

#: Min-of-3 idle-box fresh-JVM headline-total ANCHOR band (the value
#: ``bench.py`` stamps as ``min_of_3_fresh_jvm_spread_sec``). ELEVEN idle runs on
#: headline-identical code: 11.90/12.19 s (round-10, back to back),
#: 11.889 s (r11), 11.862 s (r12), 11.17/10.529 s (r13 pair, after
#: that round's testdata regeneration — a faster data regime), and
#: the round-14 post-regeneration QUINTUPLET
#: 12.364/12.53/11.852/12.245/11.083 s (2026-08-16, freshly-booted
#: box, start loads 1.26/0.17/0.00/0.00/0.01; one further run was
#: EXCLUDED as polluted — its own load stamps caught external load
#: arriving during warm-up). The regime spans the band's upper
#: region, 11.08-12.53 s. A TWELFTH point (round 15, 2026-08-16
#: daytime, 6h-churned box): 12.898 s with the strongest cleanliness
#: evidence any point carries — gate 1m_and_5m_idle, start 0.79,
#: hypervisor steal 0.28% of capacity / 1.71% of demand — moved the
#: high edge to 12.90. Same code (zero engine diffs, LOCAL_DIFF_r15
#: fingerprint-fresh) and same data as the in-band 11.248 s driver
#: point graded at 07:09 the same day: the box's quiet-window
#: baseline drifted ~10% between fresh-boot morning and churned
#: afternoon (a headline-only control read 12.617 minutes earlier;
#: five steal-suspect runs 13.3-16.5 bracket the same baseline plus
#: denial — full incident in SCALING.md#noise-band). The band
#: absorbs per-round DATA regimes and box state; within one regime
#: the spread is ~3-13% (the r14 regime's three clean-start points
#: alone span 11.08-12.25 — the old ~3-6% figure came from
#: two-point pairs and underestimated it). Maintained edge-by-edge
#: with provenance, never point-to-point (SCALING.md#noise-band).
#: ROUND-16 high-edge move 12.90 -> 13.98, the first under the
#: codified two-clean-points rule below. The round-16 session ran on
#: the same box, same code (zero engine diffs since the r15-audited
#: tree) and same testdata (regenerated 01:40, BEFORE every r15
#: measurement) — and the quiet-window hunter (tools/quiet_hunt.py)
#: collected a six-run cohort showing the host in a day-long
#: degradation episode: 14.711 s at 13.5% demand-steal, 13.285 s at
#: 2.8% headline-window demand-steal, probe windows up to 21%
#: demand-steal, and one 17.506 s reading whose steal stamps were
#: CLEAN (0.18% demand) — stamp-invisible degradation (frequency cap
#: or memory-bandwidth denial), caught only by the first-headline-
#: query pre-sample (3.36) and motivating the ``cpu_work_probe_sec``
#: stamp added the same day. Within that episode, two runs passed
#: EVERY stamp (gate criterion, start load, first-query pre-sample,
#: headline-window steal): 13.062 s (headline steal 0.28%/1.95%) and
#: 13.975 s (0.28%/1.95%). With r15's 12.898 that is three clean
#: points above the 12.53 stable edge; the edge moves to cover the
#: maximum.
#: --- r17 RE-ANCHOR (code era, not an edge move) ------------------
#: Everything in the long provenance block above describes the
#: r10-r16 ENGINE's band [10.53, 13.98]. Round 17 was the first
#: OPTIMIZATION round: the headline code itself changed
#: (integer-cents money aggregation, table-handle cache, pinned
#: expansion/window exchanges, PageRank per-vertex decimal cast,
#: rebalanced single-row-group scans), so the band is re-SEEDED, the same act as the r13/r14 original seeding, not an
#: edge move against the old stable edge. Seed cohort (quiet_hunt,
#: 2026-08-18, evidence/r17/HUNT_r17opt.jsonl — the whole session
#: sat inside a documented external-load/steal episode; 0 of 12
#: attempts produced an immaculate stamp set):
#:   7.618 — attempt 1 (the committed primary BENCH_LOCAL_r17.json):
#:     gate 1m_and_5m_idle, box_load_ok, headline-window steal
#:     0.29%/1.72% (both under the 2.0 thresholds), probes
#:     [0.3315, 0.3473] — disqualified from "immaculate" only by a
#:     2.38 first-query pre-sample (warm-up residue of the prior
#:     pytest run, not host state).
#:   8.399 — attempt 8 (evidence/r17/BENCH_LOCAL_r17opt_support_8399
#:     .json): headline window 0.27%/1.68%, probes [0.3489, 0.3346],
#:     pre-sample 2.57 — same pattern.
#:   8.050 — second hunt session same night (attempt 3,
#:     evidence/r17/BENCH_LOCAL_r17opt_support_8050.json): the
#:     cleanest headline window of all ten runs (0.13%/0.82%), gate
#:     1m_and_5m_idle, probes [0.3622, 0.3605]; pre-sample 3.32 —
#:     the external load kept every pre-sample hot. A fourth point,
#:     7.596 @ 0.53%/3.11% (mildly over the demand threshold), also
#:     lands in-band (…_nearclean_7596.json). Three sub-threshold
#:     points across two sessions now support the seeded edges.
#: EXCLUDED as episode outliers (headline demand-steal far over
#: threshold): 8.804 @ 7.32%, 9.843 @ 5.0%, 8.343 @ 6.94%,
#: 9.254 @ 8.82% — note the total tracks the steal monotonically,
#: which is the episode signature, not plan variance. Both edges are
#: PROVISIONAL in the r15 sense: the next quiet-box session must
#: corroborate or re-pin them (top r18 evidence task). Low edge
#: 6.80 ≈ 0.9× the cleanest point (below_band is recorded-only
#: maintenance); high edge 8.48 = 1.01× the 8.399 support point.
ANCHOR_BAND_MIN_OF_3_SEC = [6.80, 8.48]

#: Edge-move discipline (r15 verdict #1, codified): an ANCHOR_BAND
#: edge may only move when at least ``ANCHOR_EDGE_MIN_CLEAN_POINTS``
#: clean-stamp runs (gate passed on a criterion, steal under both
#: thresholds) land in the new region — beyond the previous stable
#: edge. Until then the moved edge is PROVISIONAL: it still grades
#: (a band that under-covers would flag known-clean readings), but
#: the next quiet-window run must either corroborate it (append the
#: point to the support list; the flag clears mechanically) or
#: retract it (clear the support list and restore
#: ``ANCHOR_HIGH_EDGE_STABLE_SEC``, recording the orphan point as an
#: excluded outlier in the provenance above). The rule is pinned in
#: ``tests/test_bench_contract.py``: the high edge must equal the
#: stable edge unless the support list is non-empty, the edge must
#: cover every support point within rounding, and the provisional
#: flag must be exactly ``len(support) < MIN`` — so an edge cannot
#: ratchet on single near-threshold points without the constant
#: visibly saying so (ADVICE r15: the r15 high-edge move, the
#: containment 1.99 and fresh-pagerank 7.10 moves each rested on ONE
#: point collected during the round-15 host-contention incident).
ANCHOR_EDGE_MIN_CLEAN_POINTS = 2
#: the last edge supported by >=2 clean points from a HEALTHY-host
#: regime. r17 era seed: no immaculate point exists yet (see the
#: re-anchor block), so the stable edge IS the seeded high edge and
#: the support list is empty — the first two clean-stamp runs above
#: it move it under the normal rule. (Pre-r17 engine value: 12.53,
#: the r14 quintuplet's maximum — archived with the retired band.)
ANCHOR_HIGH_EDGE_STABLE_SEC = 8.48
#: clean-stamp runs above the stable edge supporting the current high
#: edge, in evidence-quality order:
#:   12.861 — r16, the committed BENCH_LOCAL_r16.json: headline-window
#:     steal 0.02%/0.15%, first-query pre-sample 1.46 — the cleanest
#:     full run ever stamped, landing 0.3% under r15's 12.898 and
#:     CONFIRMING the churned-box ~12.86-12.90 quiet baseline (the
#:     r15-verdict ask: a second clean point for the 12.90 region).
#:   12.898 — r15 (gate 1m_and_5m_idle, start 0.79, steal 0.28%/1.71%).
#:   13.062 / 13.975 — r16 pair, committed as
#:     evidence/r16/BENCH_LOCAL_r16_support_*.json: every stamp
#:     clean (gate,
#:     pre-samples 1.81/1.84, headline-window steal 0.28%/1.95% each)
#:     but measured DURING the documented degradation episode with
#:     demand-steal at 97.5% of the suspect threshold — the top of
#:     the observed clean envelope, not its center. Full cohort:
#:     evidence/r16/HUNT_r16.jsonl + SCALING.md#noise-band. A
#:     post-episode
#:     recovery PAIR (evidence/r16/BENCH_LOCAL_r16_recovery_*.json:
#:     11.885 and
#:     11.325 s, headline windows 0.01%/0.06% each) read squarely
#:     inside the healthy r14 regime on the same code+data ~40 min
#:     later — the episode was host state end to end.
#:   13.515 — r17 (2026-08-16 evening, quiet-hunt attempt 16,
#:     committed then as the round primary, now evidence/r17/BENCH_LOCAL_r17_preopt_13515.json): the FIRST
#:     NON-episode immaculate point in the 13.0-14.0 region — gate
#:     1m_and_5m_idle, start 1.45, pre-sample 1.77, headline window
#:     0.1%/0.7%, probes [0.3894, 0.3722] under the r17 threshold.
#:     Measured the same evening as an 11.764 and an 11.921 on the
#:     same code: the one-evening clean spread 11.76-13.52 is HOST
#:     variance, not episode residue — the strongest evidence yet
#:     that the widened edge describes this host's real clean
#:     envelope (and why the retirement rule's trigger should stay
#:     strict: contraction to ~12.9 would have flagged this clean
#:     reading as investigate).
#: (r17 era: empty — the seed points are band-definition provenance,
#: not post-seed edge-move support. Pre-r17 engine list at freeze:
#: [12.861, 12.898, 13.062, 13.515, 13.975] — the 13.515 primary now
#: lives at evidence/r17/BENCH_LOCAL_r17_preopt_13515.json.)
ANCHOR_HIGH_EDGE_SUPPORT_SEC = []
ANCHOR_HIGH_EDGE_PROVISIONAL = (
    len(ANCHOR_HIGH_EDGE_SUPPORT_SEC) < ANCHOR_EDGE_MIN_CLEAN_POINTS
)

#: Edge-RETIREMENT discipline (r16 verdict #2 — the contraction twin
#: of the edge-move rule; until r17 the band could only ever widen,
#: so every host episode would permanently ratchet it). Support
#: points collected DURING a documented host-degradation episode
#: (listed below; the r16 pair was measured at 97.5%-of-threshold
#: demand-steal, and the same episode produced a 17.5 s run whose
#: steal stamps were clean — 'stamp-clean' does not certify host
#: health inside such an episode, ADVICE r16 medium) retire to
#: provenance-only once the box demonstrates sustained health: at
#: least ``ANCHOR_EDGE_RETIRE_MIN_CLEAN_POINTS`` CONSECUTIVE
#: clean-stamp headline totals (gate passed on a criterion, steal
#: under both thresholds on the headline window, host-speed probe —
#: where stamped — under ``CPU_WORK_PROBE_SLOW_SEC``), spanning at
#: least ``ANCHOR_EDGE_RETIRE_MIN_SESSIONS`` distinct measurement
#: sessions, every one at or below ``ANCHOR_HIGH_EDGE_STABLE_SEC``.
#: "Consecutive" counts clean-stamp runs only (a steal-polluted run
#: is excluded from the sequence by definition — it says nothing
#: about the healthy baseline); a CLEAN run above the stable edge
#: resets the chain (the churned-box ~12.9 baseline is real and
#: must keep its non-episode support points). When the rule fires,
#: the episode points move from ``ANCHOR_HIGH_EDGE_SUPPORT_SEC`` to
#: provenance-only and the high edge recomputes from the remaining
#: support (or reverts to the stable edge if none remain).
ANCHOR_EDGE_RETIRE_MIN_CLEAN_POINTS = 4
ANCHOR_EDGE_RETIRE_MIN_SESSIONS = 2
#: the episode-collected subset of the support points, with their
#: retirement state tracked by the test via ANCHOR_EDGE_RETIREMENT_MET
#: (r17 era: empty; pre-r17 engine value at freeze: [13.062, 13.975].)
ANCHOR_HIGH_EDGE_EPISODE_SUPPORT_SEC = []
#: consecutive clean-stamp headline totals at or below the stable
#: edge, newest last, as ``[seconds, session-label]`` — the chain the
#: retirement rule counts. Provenance:
#:   11.885 / 11.325 — the r16 post-episode recovery pair
#:     (evidence/r16/BENCH_LOCAL_r16_recovery_*.json), headline
#:     windows 0.01%/0.06% steal each, probes 0.3833-0.3853 pre /
#:     0.3689-0.3716 post — immaculate.
#:   11.566 — the r16 DRIVER run (BENCH_r16.json): rc 0, 18/18,
#:     box_load_ok, headline window 0.03%/0.2%, probe
#:     [0.3887, 0.3955] — a separate session, satisfying the
#:     >=2-sessions requirement.
#: The r17 run at 17:18 (13.899 s, headline demand-steal 5.64% —
#: /tmp, not committed) was steal-polluted and is excluded from the
#: sequence per the rule; it neither extends nor resets the chain.
#: (r17 era: chain reset with the re-anchor — observations compare
#: against the NEW stable edge; pre-r17 engine chain at freeze:
#: [[11.885, r16-builder-quiet-hunt], [11.325, r16-builder-quiet-hunt],
#: [11.566, r16-driver]].)
ANCHOR_EDGE_RETIRE_OBSERVATIONS = []


def anchor_edge_retirement_met(
    observations=None,
    min_points=None,
    min_sessions=None,
    stable_edge=None,
) -> bool:
    """True when the committed observation chain satisfies the
    retirement rule. Pure (all inputs injectable) so
    ``tests/test_bench_contract.py`` pins both the retain and the
    retire direction on synthetic chains as well as the live
    constants."""
    obs = ANCHOR_EDGE_RETIRE_OBSERVATIONS if observations is None else observations
    mp = ANCHOR_EDGE_RETIRE_MIN_CLEAN_POINTS if min_points is None else min_points
    ms = ANCHOR_EDGE_RETIRE_MIN_SESSIONS if min_sessions is None else min_sessions
    edge = ANCHOR_HIGH_EDGE_STABLE_SEC if stable_edge is None else stable_edge
    return (
        len(obs) >= mp
        and len({s for _, s in obs}) >= ms
        and all(v <= edge for v, _ in obs)
    )


ANCHOR_EDGE_RETIREMENT_MET = anchor_edge_retirement_met()


def read_cpu_steal():
    """``(steal, busy, total)`` jiffies from the aggregate cpu line of
    ``/proc/stat``, or None where unavailable. Engine-free on purpose:
    ``perfbench`` stamps steal windows without importing the registry
    chain. busy = user+nice+system+irq+softirq (idle/iowait excluded, steal
    itself excluded). See ``steal_record`` for why both a capacity and
    a demand view are derived."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        busy = vals[0] + vals[1] + vals[2] + vals[5] + vals[6]
        return vals[7], busy, sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def steal_record(before, after):
    """Two views of the same hypervisor denial over a window, both
    stamped: % of total CAPACITY (window x all cpus — conservative,
    diluted by idle phases) and % of DEMAND (denied/(granted+denied))
    — the barrier-relevant number: a run that only bursts wide for
    part of its window can lose 10% of its demanded cycles while
    capacity-steal reads under 2% (observed live in r15). Demand-
    steal is self-masking-safe in the conservative direction: a guest
    regression grows busy, LOWERING the percentage — a regression can
    only become more visible, never excused."""
    if before is None or after is None:
        return None
    ds = after[0] - before[0]
    db = after[1] - before[1]
    dt = after[2] - before[2]
    return {
        "steal_jiffies": ds,
        "busy_jiffies": db,
        "total_jiffies": dt,
        "steal_pct_of_capacity": round(100.0 * ds / dt, 2) if dt > 0 else None,
        "steal_pct_of_demand": (
            round(100.0 * ds / (ds + db), 2) if ds + db > 0 else None
        ),
    }
