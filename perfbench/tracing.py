"""Spans kept in memory, and Spark task metrics read from the event log.

A span is one timed call: an id, its parent, a name, start and end
(``time.perf_counter`` seconds) and the Spark job group that was set
around the call, so the jobs the call fired can be found in the event
log. Self time is a span's duration minus the part of that interval
its children cover.

The event log is Spark's own (``spark.eventLog.enabled``, uncompressed,
not rolling), read with ``json`` once the session has stopped. Tasks,
stages and jobs are attributed to the job group carried in each job's
properties; ``Exchange`` operators are counted in the last physical
plan of every SQL execution those jobs ran under.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    group: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans nest strictly (a stack), so a span's children never overlap
    and its self time is its duration minus theirs."""

    def __init__(self, sc) -> None:
        self.sc = sc  # SparkContext whose job group is set around spans
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), parent, name, group, time.perf_counter(),
                  attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        if group is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_time(self, sp: Span) -> float:
        return (sp.end - sp.start) - sum(
            c.end - c.start for c in self.spans if c.parent == sp.span_id)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"id": s.span_id, "parent": s.parent, "name": s.name,
                        "group": s.group, "start": s.start, "end": s.end,
                        "self_s": self.self_time(s), **s.attrs}
                       for s in self.spans], f)


_EXCHANGE = re.compile(r"(?<![A-Za-z])(?:Broadcast)?Exchange \(\d+\)")


def _exchanges(plan: str) -> int:
    """Shuffle and broadcast exchanges in a formatted physical plan: the
    operator tree before the per-node details, and under adaptive
    execution only its final (or current) plan, not the initial one."""
    tree = plan.split("\n\n", 1)[0]
    tree = tree.split("+- == Initial Plan ==", 1)[0]
    return len(_EXCHANGE.findall(tree))


@dataclass
class GroupMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    exchanges: int = 0


def read_event_log(log_dir: str) -> dict[str, GroupMetrics]:
    """job group -> metrics aggregated over every job run under it."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p)]
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, str] = {}
    out: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    ran_stages: set = set()
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    g.tasks += 1
                    ran_stages.add(ev["Stage ID"])
                    g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g.spill_bytes += (m.get("Disk Bytes Spilled", 0)
                                      + m.get("Memory Bytes Spilled", 0))
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plans[int(ev["executionId"])] = ev.get("physicalPlanDescription", "")
    for sid in ran_stages:
        out[stage_group[sid]].stages += 1
    for eid, group in exec_group.items():
        out[group].exchanges += _exchanges(plans.get(eid, ""))
    return dict(out)
