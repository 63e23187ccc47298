"""Measurement primitives: process CPU and memory from /proc, the span
tracer, and the Spark-side counters read at span boundaries.

Nothing here changes what the engine does.  CPU and memory come from the
kernel; job, stage and task counts from ``sc.statusTracker()``; executor
CPU, shuffle and spill from the status store; Python and scan metrics from
the executed plan's SQL metrics.  All of them work with the Spark UI off.
"""

from __future__ import annotations

import contextlib
import os
import time
import uuid

_TICK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# /proc
# --------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(b")") + 2 :].decode().split()


def tree_cpu_seconds(root_pid: int | None = None) -> float:
    """utime+stime, plus that of reaped children, summed over ``root_pid``
    and every live descendant.  For the benchmark's own process that is
    itself, the JVM it launched and every Python worker the JVM
    forked; a worker that exited was reaped by its parent, so its time is
    in that parent's cutime/cstime and is not lost."""
    root_pid = root_pid or os.getpid()
    children: dict[int, list[int]] = {}
    times: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        # after the name: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        children.setdefault(int(f[1]), []).append(int(name))
        times[int(name)] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += times.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


class Tracer:
    """Spans around the benchmark's calls into each layer.

    A span is a dict with ``id``, ``name``, ``layer`` (the name up to the
    first dot), ``start``, ``end``, ``parent`` and the shared ``run``.
    While a span is innermost, Spark jobs run under the job group
    ``<run>:<id>``, so counters can be read per span after the pass.
    Disabled, ``span`` costs one generator step and records nothing.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.run = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def group(self, span: dict) -> str:
        return f"{self.run}:{span['id']}"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setLocalProperty("spark.jobGroup.id", self.group(rec))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            outer = self.spans[self._stack[-1]] if self._stack else None
            self.sc.setLocalProperty("spark.jobGroup.id", self.group(outer) if outer else None)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its direct
    children cover (overlapping children are merged, not double counted)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    """``root_id`` and all spans below it."""
    keep = {root_id}
    for s in spans:  # parents are always recorded before their children
        if s["parent"] in keep:
            keep.add(s["id"])
    return [s for s in spans if s["id"] in keep]


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


# --------------------------------------------------------------------------
# Spark counters
# --------------------------------------------------------------------------


def group_counters(sc, groups: list[str]) -> dict[str, float]:
    """Jobs, completed tasks, executor CPU seconds, shuffle-write bytes and
    spilled bytes of every job run under ``groups``.  A stage shared by
    several jobs counts once; skipped stages carry no work."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs, stages = 0, set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            stages.update(int(s) for s in info.stageIds)
    out = {"jobs": jobs, "tasks": 0, "cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — stage evicted or never submitted
            continue
        out["tasks"] += int(sd.numCompleteTasks())
        out["cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_bytes"] += int(sd.shuffleWriteBytes())
        out["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
    return out


def plan_metrics(df) -> dict[str, float]:
    """Python-worker seconds and file-scan bytes from the executed plan of
    ``df``, whose own action must already have run.  Adaptive plans are
    read through their final plan and query stages through their child."""
    out = {"python_s": 0.0, "scan_bytes": 0}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metrics = node.metrics()
        for key, field in (("pythonTotalTime", "python_s"), ("filesSize", "scan_bytes")):
            if metrics.contains(key):
                v = metrics.apply(key).value()
                out[field] += v / 1000.0 if field == "python_s" else v
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker files."""
    total, n = 0, 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, name))
            n += 1
    return total, n
