"""Benchmark-side tracing: spans, a py4j command counter, and Spark
event-log parsing.

Nothing here edits the package. Spans are recorded around the calls
the benchmark makes into each layer. Spark's own figures are tied to
spans through ``setJobDescription``: every job a query span starts
carries that span's id in its properties, and the event log written by
the session records them. Time spent inside Spark — in scans, in
writes, in jobs at all — is taken from the event log, not from spans,
because the package's source and sink calls are lazy or run whole
plans.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

_PY4J_GC_PREFIX = "m\nd\n"  # py4j memory-delete: sent by finalizers, not by the caller


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    root: int
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled`` False makes every span a
    no-op, so the same pass code runs traced and untraced."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 1

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=self._next,
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            root=parent.root if parent else self._next,
            start=time.perf_counter(),
        )
        self._next += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s.id, "name": s.name, "layer": s.layer,
                            "parent": s.parent, "root": s.root,
                            "start": s.start, "end": s.end, "counts": s.counts,
                        }
                    )
                    + "\n"
                )


class Py4jCounter:
    """Counts py4j commands sent by the calling thread while ``active``
    (finalizer-driven memory deletes excluded, so the count is exact
    for a fixed input). Installed on the gateway client instance;
    ``remove`` restores the class method."""

    def __init__(self, client) -> None:
        self.client = client
        self.count = 0
        self.active = False
        self._thread = threading.get_ident()
        original = client.send_command

        def send_command(command, *args, **kwargs):
            if (
                self.active
                and threading.get_ident() == self._thread
                and not command.startswith(_PY4J_GC_PREFIX)
            ):
                self.count += 1
            return original(command, *args, **kwargs)

        client.send_command = send_command

    def remove(self) -> None:
        self.client.__dict__.pop("send_command", None)


# --- Spark event log ----------------------------------------------------


def union_seconds(intervals) -> float:
    """Seconds covered by at least one of the (start ms, end ms) intervals."""
    total = 0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def _plan_accums(plan: dict, rows: dict[int, str], files: set[int]) -> None:
    """Collect, over a SQL plan tree, the accumulator id of each node's
    "number of output rows" (-> the node's one-line description) and
    of each scan's "number of files read"."""
    for m in plan.get("metrics", ()):
        if m["name"] == "number of output rows":
            rows[m["accumulatorId"]] = plan.get("simpleString", plan.get("nodeName", ""))
        elif m["name"] == "number of files read":
            files.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _plan_accums(child, rows, files)


#: summed Spark counters of one root span
COUNTERS = (
    "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms",
    "shuffle_write_b", "shuffle_read_b", "spill_b", "input_b", "input_rows",
    "files_read",
)


def _new_root() -> dict:
    return {**dict.fromkeys(COUNTERS, 0), "job_iv": [], "scan_iv": [], "write_iv": [], "nodes": {}}


def event_log_metrics(log_dir: str) -> dict[int, dict]:
    """Spark's own figures per root span id (the description of the
    jobs it started): the COUNTERS summed; the (start, end) ms
    intervals of its jobs (``job_iv``), of its stages whose tasks read
    input — files or cached blocks — (``scan_iv``) and of its stages
    whose tasks wrote output files (``write_iv``); and ``nodes``, the
    output rows of every executed plan node, keyed by the node's
    description. Jobs without a numeric description are ignored."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    roots: dict[int, dict] = {}
    job_root: dict[int, int] = {}
    job_start: dict[int, int] = {}
    stage_root: dict[int, int] = {}
    stage_kind: dict[int, set] = {}
    exec_root: dict[int, int] = {}
    row_nodes: dict[int, str] = {}  # accumulator id -> node description
    row_counts: dict[int, int] = {}  # accumulator id -> rows, summed over tasks
    accum_exec: dict[int, int] = {}  # accumulator id -> SQL execution id
    files_read: list[tuple[int, int, int]] = []
    file_accums: set[int] = set()

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description")
                if desc is None or not desc.isdigit():
                    continue
                root, jid = int(desc), ev["Job ID"]
                job_root[jid] = root
                job_start[jid] = ev["Submission Time"]
                roots.setdefault(root, _new_root())["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_root[sid] = root
                xid = props.get("spark.sql.execution.id")
                if xid is not None:
                    exec_root[int(xid)] = root
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    roots[job_root[jid]]["job_iv"].append((job_start[jid], ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stage_root:
                    continue
                a = roots[stage_root[sid]]
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                im = m.get("Input Metrics") or {}
                om = m.get("Output Metrics") or {}
                a["tasks"] += 1
                a["task_run_ms"] += m.get("Executor Run Time", 0)
                a["task_cpu_ns"] += m.get("Executor CPU Time", 0)
                a["gc_ms"] += m.get("JVM GC Time", 0)
                a["spill_b"] += m.get("Disk Bytes Spilled", 0)
                a["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                a["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                a["input_b"] += im.get("Bytes Read", 0)
                a["input_rows"] += im.get("Records Read", 0)
                seen = stage_kind.setdefault(sid, set())
                if im.get("Bytes Read", 0) or im.get("Records Read", 0):
                    seen.add("scan")
                if om.get("Bytes Written", 0) or om.get("Records Written", 0):
                    seen.add("write")
                if ev.get("Task End Reason", {}).get("Reason") == "Success":
                    for u in (ev.get("Task Info") or {}).get("Accumulables", ()):
                        if u.get("Name") == "number of output rows" and "Update" in u:
                            row_counts[u["ID"]] = row_counts.get(u["ID"], 0) + int(u["Update"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                if sid in stage_root:
                    a = roots[stage_root[sid]]
                    a["stages"] += 1
                    iv = (info["Submission Time"], info["Completion Time"])
                    for k in stage_kind.get(sid, ()):
                        a[f"{k}_iv"].append(iv)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                nodes: dict[int, str] = {}
                _plan_accums(ev.get("sparkPlanInfo") or {}, nodes, file_accums)
                row_nodes.update(nodes)
                for acc_id in nodes:
                    accum_exec[acc_id] = ev["executionId"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev.get("accumUpdates", ()):
                    files_read.append((ev["executionId"], acc_id, value))
    for xid, acc_id, value in files_read:
        if xid in exec_root and acc_id in file_accums:
            roots[exec_root[xid]]["files_read"] += value
    for acc_id, rows in row_counts.items():
        root = exec_root.get(accum_exec.get(acc_id))
        if root is not None:
            nodes = roots[root]["nodes"]
            nodes[row_nodes[acc_id]] = nodes.get(row_nodes[acc_id], 0) + rows
    return roots

