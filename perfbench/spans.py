"""Spans for the traced run, and the Spark event-log parser that fills in
the Spark-job and stage spans beneath them.

Spans are kept in memory and written once, at the end of the run. Every
span has an id, its parent's id, a name, start and end (epoch seconds) and
free-form attributes; self time is its duration minus the part of it that
its children cover. The hierarchy is workload -> job call -> Spark job ->
stage; in-process kernel timings hang off the workload span.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; ``span`` nests under the innermost open span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": start, "end": end, "attrs": attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["id"]] = max(0.0, s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        rows = [{**s, "dur_s": s["end"] - s["start"], "self_s": selfs[s["id"]]}
                for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f, indent=1, default=str)


# ---------------------------------------------------------------- event log

def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Events of one application, from its uncompressed single-file log."""
    with open(os.path.join(log_dir, app_id)) as f:
        return [json.loads(line) for line in f if line.strip()]


def _walk_plan(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk_plan(child)


def summarize_events(events: list[dict]) -> dict:
    """Spark jobs, stages with their task metrics and per-operator SQL
    metrics, and SQL executions with their Exchange counts.

    SQL metrics are matched to plan nodes through the accumulator ids of
    each execution's final (adaptive) plan, and read from the accumulables
    of the stages that completed."""
    jobs, stages, tasks, executions = {}, {}, {}, {}
    plans: dict[int, dict] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1e3,
                                 "stages": e["Stage IDs"],
                                 "execution": int(eid) if eid else None}
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                "stage": si["Stage ID"],
                "name": si["Stage Name"],
                "tasks": si["Number of Tasks"],
                "start": si.get("Submission Time", 0) / 1e3,
                "end": si.get("Completion Time", 0) / 1e3,
                "accums": {a["ID"]: a.get("Value")
                           for a in si.get("Accumulables", [])},
            }
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            ti = e["Task Info"]
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            t = tasks.setdefault(e["Stage ID"], _no_tasks())
            t["run_ms"] += m.get("Executor Run Time", 0)
            t["cpu_ns"] += m.get("Executor CPU Time", 0)
            t["gc_ms"] += m.get("JVM GC Time", 0)
            t["sw"] += sw.get("Shuffle Bytes Written", 0)
            t["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t["spill"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
            t["durs"].append((ti["Finish Time"] - ti["Launch Time"]) / 1e3)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            executions[e["executionId"]] = {"start": e["time"] / 1e3}
            plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            plans[e["executionId"]] = e["sparkPlanInfo"]

    owner: dict[int, tuple[str, str]] = {}
    exchanges = {}
    for eid, plan in plans.items():
        nodes = list(_walk_plan(plan))
        exchanges[eid] = sum(n.get("nodeName") == "Exchange" for n in nodes)
        executions[eid]["mapinarrow"] = any(
            n.get("nodeName") == "MapInArrow" for n in nodes)
        for n in nodes:
            for m in n.get("metrics", []):
                owner[m["accumulatorId"]] = (n.get("nodeName", ""), m["name"])
    stage_exec = {s: job["execution"] for job in jobs.values() for s in job["stages"]}
    out_stages = []
    for st in stages.values():
        operators: dict[tuple[str, str], float] = {}
        for aid, value in st.pop("accums").items():
            if aid not in owner:
                continue
            try:  # SQL metric values are logged as decimal strings
                v = float(value)
            except (TypeError, ValueError):
                continue
            operators[owner[aid]] = operators.get(owner[aid], 0.0) + v
        out_stages.append({**st, **tasks.get(st["stage"], _no_tasks()),
                           "operators": operators,
                           "execution": stage_exec.get(st["stage"])})
    return {"jobs": jobs, "stages": out_stages, "executions": executions,
            "exchanges": exchanges}


def _no_tasks() -> dict:
    return {"run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "sw": 0, "sr": 0,
            "spill": 0, "durs": []}


def attach_spark_spans(tracer: Tracer, summary: dict) -> None:
    """Hang each Spark job under the job-call, check or set-up span whose
    interval contains its submission, and each stage under its job."""
    calls = [s for s in tracer.spans
             if s["attrs"].get("kind") in ("call", "check", "setup")]
    for jid, job in sorted(summary["jobs"].items()):
        parent = next((c["id"] for c in calls
                       if c["start"] <= job["start"] <= c["end"]), None)
        if parent is None:
            continue
        job_sid = tracer.add(f"spark_job.{jid}", job["start"],
                             job.get("end", job["start"]), parent, kind="spark_job")
        for st in summary["stages"]:
            if st["stage"] in job["stages"]:
                tracer.add(f"stage.{st['stage']}", st["start"], st["end"], job_sid,
                           kind="stage", tasks=st["tasks"],
                           executor_run_s=st["run_ms"] / 1e3,
                           cpu_s=st["cpu_ns"] / 1e9)
