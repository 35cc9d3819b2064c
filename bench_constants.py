"""Host-steal helpers that ``perfbench`` stamps each run with.

:func:`read_cpu_steal` reads the aggregate cpu line of ``/proc/stat``
and :func:`steal_record` turns two reads into the steal share of a
window. The module imports nothing from the package, so perfbench reads
them without importing the engine.
"""


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
