"""Spans and Spark event-log attribution for the traced run.

Spans are recorded from the benchmark's own files only: around the
calls the benchmark makes into each layer, and around the layer entry
points the engine calls internally (wrapped at their import site for the
life of the traced run, never edited). Each span has a name, start,
end, parent and run id; spans stay in memory and are written once, at
the end of the run.

Spark stage and task metrics come from the uncompressed Spark event
log, attributed to the job group the benchmark sets around each
operation. Catalyst time comes from Spark's own meter of the rule
executors (analyzer, optimizer, adaptive re-optimization), read at the
start and end of a span, so it covers every query the engine plans
internally without planning anything again.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory span recorder. Disabled, every call is a no-op."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spark = None  # set once the session exists, for job groups
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.missing: list[str] = []  # entry points that could not be wrapped
        self.wall_offset = time.time() - time.perf_counter()  # span time -> epoch

    @contextmanager
    def span(self, name: str, group: str | None = None, catalyst: bool = False, **attrs):
        """Record a span; with ``group``, Spark jobs started inside it
        carry that job group (restored to the enclosing one after);
        with ``catalyst``, it records the Catalyst rule time spent
        within it as ``catalyst_s``."""
        if not self.enabled:
            yield {}
            return
        rule_s = catalyst_seconds(self.spark) if catalyst else None
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev_group = None
        if group is not None and self.spark is not None:
            sc = self.spark.sparkContext
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            rec["group"] = group
            sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            if group is not None and self.spark is not None:
                if prev_group is None:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.spark.sparkContext.setJobGroup(prev_group, "")
            rec["end"] = time.perf_counter()
            if rule_s is not None:
                rec["catalyst_s"] = catalyst_seconds(self.spark) - rule_s
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Record a span around every call of ``owner.attr`` until
        ``unwrap``. ``on_result(span, result)`` may add counts."""
        if not self.enabled:
            return
        fn = getattr(owner, attr, None)
        if fn is None:
            self.missing.append(f"{getattr(owner, '__name__', owner)}.{attr}")
            return

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, fn=attr) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")

    # -- queries over the recorded spans ----------------------------------
    def children(self) -> dict[int | None, list[dict]]:
        kids: dict[int | None, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        return kids

    def within(self, root: dict) -> list[dict]:
        """Every span under ``root`` (excluding it)."""
        kids, out, todo = self.children(), [], [root["id"]]
        while todo:
            for s in kids.get(todo.pop(), []):
                out.append(s)
                todo.append(s["id"])
        return out


def catalyst_seconds(spark) -> float:
    """Seconds the JVM has spent in Catalyst rule executors so far, from
    Spark's global ``RuleExecutor`` meter. Physical planning strategies
    are not rule executors and are not in it."""
    rules = spark.sparkContext._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
    return rules.getCurrentMetrics().time() / 1e9


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(span: dict, kids: dict) -> float:
    """Span duration minus the part its direct child spans cover."""
    return dur(span) - sum(dur(c) for c in kids.get(span["id"], []))


def outermost(spans: list[dict], prefix: str, by_id: dict) -> list[dict]:
    """Spans named ``prefix*`` with no ancestor of the same prefix."""
    out = []
    for s in spans:
        if not s["name"].startswith(prefix):
            continue
        p = s["parent"]
        while p is not None and not by_id[p]["name"].startswith(prefix):
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


SPARK_COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "input_bytes",
                  "executor_run_s", "executor_cpu_s", "gc_s", "scheduler_delay_s",
                  "job_s")


def spark_by_group(eventlog_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, shuffle-write and input bytes,
    executor run/CPU/GC time, scheduler delay and summed job wall time,
    from the Spark event logs in ``eventlog_dir``."""
    out: dict[str, dict[str, float]] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stages_seen: set[tuple[str, int]] = set()

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(SPARK_COUNTERS, 0.0))

    # one directory per application (rolling event log), parts in order
    parts = sorted(eventlog_dir.rglob("events_*"), key=lambda p: (
        p.parent.name, int(p.name.split("_")[1])))
    for f in parts:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "-"
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev.get("Submission Time", 0)
                    acc(g)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    g = job_group.get(jid, "-")
                    acc(g)["job_s"] += (ev.get("Completion Time", 0) - job_start.get(jid, 0)) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = stage_group.get(sid, "-")
                    a = acc(g)
                    if (g, sid) not in stages_seen:
                        stages_seen.add((g, sid))
                        a["stages"] += 1
                    a["tasks"] += 1
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    run_ms = m.get("Executor Run Time", 0)
                    a["executor_run_s"] += run_ms / 1e3
                    a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    a["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    busy = (run_ms + m.get("Executor Deserialize Time", 0)
                            + m.get("Result Serialization Time", 0))
                    getting = info.get("Getting Result Time", 0) or 0
                    if getting:
                        busy += info.get("Finish Time", 0) - getting
                    a["scheduler_delay_s"] += max(0, wall - busy) / 1e3
    return out


def spark_layer(spark: dict, n: int) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics, per pass, from summed counters."""
    return {
        "spark.exec_s": spark["job_s"] / n,
        "spark.jobs": spark["jobs"] / n,
        "spark.stages": spark["stages"] / n,
        "spark.tasks": spark["tasks"] / n,
        "spark.shuffle_bytes": spark["shuffle_bytes"] / n,
        "spark.input_bytes": spark["input_bytes"] / n,
        "spark.executor_run_s": spark["executor_run_s"] / n,
        "spark.executor_cpu_s": spark["executor_cpu_s"] / n,
        "spark.gc_s": spark["gc_s"] / n,
        "spark.scheduler_delay_s": spark["scheduler_delay_s"] / n,
    }


def sum_groups(stats: dict[str, dict[str, float]], pred) -> dict[str, float]:
    total = dict.fromkeys(SPARK_COUNTERS, 0.0)
    for g, a in stats.items():
        if pred(g):
            for k, v in a.items():
                total[k] += v
    return total
