"""CPU time of the benchmark's driver process and its JVM, by thread group.

A pass's end-to-end cost is measured as the CPU seconds it takes
rather than its wall time: on a shared host the hypervisor takes
cycles away from the guest in bursts (CPU steal), which stretches wall
time but is not charged to any process. The JVM's JIT compiler threads
are counted apart: they take a quarter to a half of the process's CPU
time in the first warm passes, and their share falls from pass to pass
and differs from JVM to JVM as compilation catches up.
"""

from __future__ import annotations

import os

#: JVM thread-name prefixes (as /proc shows them: 15 characters at most)
#: of the groups ``thread_cpu`` reports; the rest is ``jvm_other``
THREAD_GROUPS = (
    ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("gc", ("GC Thread", "G1 ")),
    ("tasks", ("Executor task",)),
)


def _stat_cpu(path: str) -> float:
    """User + system CPU seconds from a /proc stat file."""
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def thread_cpu(me: int | str, jvm: int | str) -> dict[str, float]:
    """CPU seconds so far of process ``me`` (``python``) and of the JVM's
    threads by group: ``jit`` (the JIT compiler), ``gc``, ``tasks``
    (Spark task threads) and ``jvm_other`` (the driver's own threads —
    Catalyst, the scheduler, py4j — and threads that have exited). Run
    the JVM with ``-XX:-UseDynamicNumberOfCompilerThreads`` so the
    compiler threads never exit and take their time into ``jvm_other``."""
    out = dict.fromkeys((g for g, _ in THREAD_GROUPS), 0.0)
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as fh:
                name = fh.read()
            for group, prefixes in THREAD_GROUPS:
                if name.startswith(prefixes):
                    out[group] += _stat_cpu(f"/proc/{jvm}/task/{tid}/stat")
                    break
        except OSError:  # the thread exited
            continue
    out["jvm_other"] = _stat_cpu(f"/proc/{jvm}/stat") - sum(out.values())
    out["python"] = _stat_cpu(f"/proc/{me}/stat")
    return out


def work_cpu(groups: dict[str, float]) -> float:
    """CPU seconds of every group but the JIT compiler's."""
    return sum(groups.values()) - groups["jit"]
