"""Offline parser for a local Spark event log (JSON lines).

Jobs and stages are attributed through the local properties Spark
copies into ``SparkListenerJobStart`` / ``SparkListenerStageSubmitted``
events: the job group (unique per workload, pass, query and phase)
and the innermost trace span that was open in the submitting thread.
Counting from the log, rather than from ``statusTracker``, holds over
long runs: the status tracker forgets jobs past its retention limit
(about 1000), and a reused group name would merge passes.

SQL executions keep the plan of their last adaptive update, which after
the execution has ended is the final adaptive plan; the start event
carries the job group the execution ran under.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
SPAN_KEY = "perfbench.span"
SQL_EVENTS = "org.apache.spark.sql.execution.ui.SparkListenerSQL"
# nodes the plan's tree string folds into their child (``*(n)`` prefixes)
WRAPPERS = ("WholeStageCodegen", "InputAdapter")
EXCHANGES = {"Exchange", "BroadcastExchange", "ReusedExchange"}


@dataclass
class Stage:
    group: str | None = None
    span: int | None = None
    tasks: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    peak_heap_bytes: int = 0
    completed: bool = False


@dataclass
class Execution:
    group: str | None = None
    plan: dict | None = None      # sparkPlanInfo tree


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)
    executions: dict[int, Execution] = field(default_factory=dict)


def plan_counts(info: dict) -> tuple[int, int]:
    """(nodes, exchanges) of a ``sparkPlanInfo`` tree. Codegen wrappers
    are not counted, and a reused exchange counts once without the plan
    it reuses."""
    nodes = exchanges = 0
    stack = [info]
    while stack:
        node = stack.pop()
        name = node["nodeName"]
        if not name.startswith(WRAPPERS):
            nodes += 1
            exchanges += name in EXCHANGES
        if not name.startswith("Reused"):
            stack.extend(node.get("children") or ())
    return nodes, exchanges


def _span(props: dict) -> int | None:
    v = props.get(SPAN_KEY)
    return int(v) if v not in (None, "") else None


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = {
                    "group": props.get(GROUP_KEY),
                    "span": _span(props),
                    "submit_ms": ev.get("Submission Time"),
                }
            elif kind == "SparkListenerStageSubmitted":
                info, props = ev["Stage Info"], ev.get("Properties") or {}
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                st = log.stages.setdefault(key, Stage())
                st.group, st.span = props.get(GROUP_KEY), _span(props)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                log.stages.setdefault(key, Stage()).completed = True
            elif kind == SQL_EVENTS + "ExecutionStart":
                ex = log.executions.setdefault(ev["executionId"], Execution())
                ex.group, ex.plan = ev.get("jobGroupId"), ev.get("sparkPlanInfo")
            elif kind == SQL_EVENTS + "AdaptiveExecutionUpdate":
                log.executions.setdefault(ev["executionId"], Execution()).plan = ev["sparkPlanInfo"]
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                st = log.stages.setdefault(key, Stage())
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st.tasks += 1
                st.task_ms += m.get("Executor Run Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
                st.peak_heap_bytes = max(st.peak_heap_bytes, heap)
    return log
