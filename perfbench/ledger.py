"""Timing statistics, spans and the Spark event-log ledger.

Everything here is plain Python over numbers and dicts, so the unit tests
exercise it without a SparkSession:

* :func:`tail_percentile` / :func:`latency_summary` — the percentile rule:
  a timing is reported as its median and the highest percentile that has
  at least ten samples beyond it.
* :func:`union_length` / :func:`self_time` — interval-union arithmetic for
  a span's self time (span time not covered by any of its Spark jobs).
* :class:`Tracer` — in-memory spans; in a traced run each span tags the
  Spark jobs it submits with ``setJobGroup(span_id)``.
* :func:`read_event_log` / :func:`attribute` / :func:`op_ledger` — parse a
  Spark event log and attribute jobs, stages and tasks to spans.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """Highest of :data:`PERCENTILES` with at least ten of ``n`` samples
    beyond it, or None when even the median has fewer than ten beyond."""
    best = None
    for p in PERCENTILES:
        if n - _rank(n, p) >= TAIL_MIN_BEYOND:
            best = p
    return best


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples, in
    integer arithmetic (p has at most one decimal)."""
    return max(1, -(-round(p * 10) * n // 1000))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (a value that was actually observed)."""
    return sorted(values)[_rank(len(values), p) - 1]


def latency_summary(values: list[float]) -> dict:
    """Median, tail percentile by the rule above, and the sample count."""
    out = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    p = tail_percentile(len(values))
    if p is not None and p > 50.0:
        out["tail_p"] = p
        out["tail"] = percentile(values, p)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds used so far by process ``root`` (default:
    this one) and all its live descendants, including their reaped
    children — here the driver, its JVM and the JVM's Python workers.
    Unlike wall time it does not count time other tenants of the machine
    took from our CPUs."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(name)
        kids.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span time not covered by any child interval (children are clipped
    to the span, overlaps between them counted once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


@dataclass
class Span:
    id: str
    name: str
    op: str
    parent: str | None
    start: float
    end: float
    run: str
    failed: bool = False


@dataclass
class Tracer:
    """Spans kept in memory for one run. ``sc`` is set only in a traced
    run; then every span's Spark jobs carry the span id as job group."""

    run: str
    sc: object | None = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _n: int = 0

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        sp = Span(
            id=f"{self.run}.{self._n}",
            name=name,
            op=op or (parent.op if parent else name),
            parent=parent.id if parent else None,
            start=0.0,
            end=0.0,
            run=self.run,
        )
        if self.sc is not None:
            self.sc.setJobGroup(sp.id, f"perfbench:{sp.op}:{name}")
        self._stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        except BaseException:
            sp.failed = True
            raise
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, f"perfbench:{parent.op}:{parent.name}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# ------------------------------------------------------------ event log ----


def read_event_log(lines) -> dict:
    """Jobs, stages and tasks from Spark event-log JSON lines.

    Returns ``{"jobs": {id: {group, start, end, stages}}, "tasks":
    {stage_id: [task dicts]}}``; times are epoch seconds, byte counts
    bytes, task run time seconds."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            im = tm.get("Input Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append(
                {
                    "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "input": im.get("Bytes Read", 0),
                }
            )
    return {"jobs": jobs, "tasks": tasks}


def attribute(log: dict, spans: list[Span]) -> dict[str, dict]:
    """Per top-level op span: its jobs, the stages those jobs ran and the
    stages' tasks. A job belongs to the span whose id was its job group;
    a span's descendants count toward their top-level ancestor. A stage
    shared by several jobs (a reused shuffle) is charged to the first job
    that lists it, the one that ran its tasks."""
    by_id = {s.id: s for s in spans}

    def root(sid: str) -> Span:
        s = by_id[sid]
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
        return s

    owner: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for st in log["jobs"][jid]["stages"]:
            owner.setdefault(st, jid)
    out: dict[str, dict] = {
        s.id: {"span": s, "jobs": [], "stages": {}} for s in spans if s.parent is None
    }
    for jid, job in sorted(log["jobs"].items()):
        if job["group"] not in by_id:
            continue
        rec = out[root(job["group"]).id]
        rec["jobs"].append(job)
        for st in job["stages"]:
            if owner.get(st) == jid and st in log["tasks"]:
                rec["stages"][st] = log["tasks"][st]
    return out


def span_metrics(rec: dict) -> dict:
    """The six per-op numbers of one attributed span."""
    sp = rec["span"]
    ivs = [(j["start"], j["end"] if j["end"] is not None else sp.end) for j in rec["jobs"]]
    all_tasks = [t for ts in rec["stages"].values() for t in ts]
    skew = 0.0
    if rec["stages"]:
        longest = max(rec["stages"].values(), key=lambda ts: sum(t["run_s"] for t in ts))
        runs = [t["run_s"] for t in longest]
        med = statistics.median(runs)
        skew = max(runs) / med if med > 0 else 1.0
    return {
        "jobs": len(rec["jobs"]),
        "driver_self_s": self_time(sp.start, sp.end, ivs),
        "task_s": sum(t["run_s"] for t in all_tasks),
        "task_skew": skew,
        "shuffle_mb": sum(t["shuffle_write"] for t in all_tasks) / 1e6,
        "input_mb": sum(t["input"] for t in all_tasks) / 1e6,
    }


OP_FIELDS = ("jobs", "driver_self_s", "task_s", "task_skew", "shuffle_mb", "input_mb")


def op_ledger(log: dict, spans: list[Span], ops: list[str]) -> dict[str, float]:
    """``<op>.<field>`` for every op in ``ops``: the median over the run's
    spans of that op. An op the workload never ran reads 0 (no work)."""
    per_op: dict[str, list[dict]] = {}
    for rec in attribute(log, spans).values():
        per_op.setdefault(rec["span"].op, []).append(span_metrics(rec))
    out = {}
    for op in ops:
        rows = per_op.get(op, [])
        for f in OP_FIELDS:
            out[f"{op}.{f}"] = float(statistics.median([r[f] for r in rows])) if rows else 0.0
    return out
