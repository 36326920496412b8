"""Spans kept in memory, and Spark's own stage counters read from its event log.

A span is recorded around one call into the program: name, start, end,
parent span and run id. Every Spark job started inside a span carries the
span's key as its job description, so the event log maps stages, tasks and
SQL plans back to spans. Nothing is recorded inside the program itself.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans; ``sc`` (a SparkContext) gets the span key as job description."""

    def __init__(self, sc=None):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = sc

    @staticmethod
    def key(span: dict) -> str:
        return f"{span['name']}#{span['id']}"

    def _describe(self) -> None:
        if self._sc is not None:
            top = self.key(self.spans[self._stack[-1]]) if self._stack else None
            self._sc.setJobDescription(top)

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": 0.0,
            "end": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._describe()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it that child spans cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


class EventLog:
    """Stage, task and SQL-plan counters per job description, from one
    Spark event log directory (read after the SparkContext has stopped)."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
        files += [
            p for p in glob.glob(os.path.join(log_dir, "*"))
            if os.path.isfile(p) and not p.endswith(".inprogress")
        ]
        self.jobs: dict[str, list[int]] = defaultdict(list)
        stage_desc: dict[int, str] = {}
        exec_desc: dict[int, str] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        plans: dict[int, dict] = {}
        self.accum: dict[int, float] = defaultdict(float)
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), stage_desc, exec_desc, plans)
        self.stage_desc = stage_desc
        # the last plan posted for an execution is its final adaptive plan
        self.plans: dict[str, list[dict]] = defaultdict(list)
        for eid, plan in plans.items():
            if eid in exec_desc:
                self.plans[exec_desc[eid]].append(plan)

    def _event(self, e: dict, stage_desc, exec_desc, plans) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description")
            if desc is None:
                return
            self.jobs[desc].append(e["Job ID"])
            for sid in e["Stage IDs"]:
                stage_desc[sid] = desc
            if "spark.sql.execution.id" in props:
                exec_desc[int(props["spark.sql.execution.id"])] = desc
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            self.tasks[e["Stage ID"]].append({
                "run_ms": m.get("Executor Run Time", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "sread": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "swrite": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                "out": m.get("Output Metrics", {}).get("Bytes Written", 0),
            })
            for acc in e.get("Task Info", {}).get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    self.accum[acc["ID"]] += float(acc.get("Update") or 0)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in e["accumUpdates"]:
                self.accum[aid] = max(self.accum[aid], float(val))
        elif kind.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
            plans[e["executionId"]] = e["sparkPlanInfo"]

    def counters(self, descs: list[str]) -> dict:
        """Summed counters over every job whose description is in ``descs``."""
        stages = [s for s, d in self.stage_desc.items() if d in descs]
        tasks = [t for s in stages for t in self.tasks.get(s, [])]
        mb = 1024.0 * 1024.0
        skew = 1.0
        if stages:
            heavy = max(stages, key=lambda s: sum(t["run_ms"] for t in self.tasks.get(s, [])))
            times = sorted(t["run_ms"] for t in self.tasks.get(heavy, []))
            if times and times[len(times) // 2] > 0:
                skew = times[-1] / times[len(times) // 2]
        return {
            "jobs": sum(len(self.jobs.get(d, [])) for d in descs),
            "task_s": sum(t["run_ms"] for t in tasks) / 1000.0,
            "spill_mb": sum(t["spill"] for t in tasks) / mb,
            "shuffle_read_mb": sum(t["sread"] for t in tasks) / mb,
            "shuffle_write_mb": sum(t["swrite"] for t in tasks) / mb,
            "bytes_written_mb": sum(t["out"] for t in tasks) / mb,
            "task_skew": skew,
        }

    def plan_nodes(self, descs: list[str]) -> list[dict]:
        return [n for d in descs for p in self.plans.get(d, []) for n in _plan_nodes(p)]

    def count_nodes(self, descs: list[str], node_name: str) -> int:
        return sum(1 for n in self.plan_nodes(descs) if n["nodeName"] == node_name)

    def metric_sum(self, descs: list[str], node_part: str, metric: str) -> float:
        """Sum of SQL metric ``metric`` over plan nodes whose name contains
        ``node_part`` (e.g. the output rows of every join node)."""
        total = 0.0
        for n in self.plan_nodes(descs):
            if node_part in n["nodeName"]:
                for m in n.get("metrics", []):
                    if m["name"] == metric:
                        total += self.accum.get(m["accumulatorId"], 0.0)
        return total
