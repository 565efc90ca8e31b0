"""Spans recorded by the benchmark, and the join of Spark's event log onto them.

A span wraps one public engine call. It carries a name, a batch label, wall
start/end (epoch seconds, comparable with the event log's millisecond
timestamps), its parent span and the run id. With tracing on, each span also
sets the Spark job group ``<workload>:<span>:<batch>``, so every job, stage and
task the call starts can be joined back to it by group.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import ast
import bisect
import contextlib
import glob
import json
import os
import time
import uuid


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    @contextlib.contextmanager
    def span(self, name: str, batch: str = "-"):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "run": self.run_id, "name": name,
            "batch": batch, "parent": parent["id"] if parent else None,
            "group": f"{self.workload}:{name}:{batch}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.enabled:
            self._set_group(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            self._stack.pop()
            if self.enabled:
                self._set_group(parent)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _plan_nodes(node: dict, parents: tuple = ()):
    yield node, parents
    for child in node.get("children", []):
        yield from _plan_nodes(child, parents + (node["nodeName"],))


class EventLog:
    """Jobs, their stages' task totals, and SQL metric sums from one
    uncompressed, non-rolling Spark event log directory."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.exec_details: dict[int, str] = {}
        self.exec_plans: dict[int, list[dict]] = {}
        self.stage_tasks: dict[int, dict] = {}
        self.accum: dict[int, int] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            if os.path.basename(path).startswith("."):
                continue
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": int(exec_id) if exec_id is not None else None,
                "call_site": props.get("callSite.short"),
                "start": e["Submission Time"] / 1000.0,
                "stages": list(e["Stage IDs"]),
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            st = self.stage_tasks.setdefault(e["Stage ID"], {
                "run_s": 0.0, "gc_s": 0.0, "spill_bytes": 0,
                "shuffle_write_bytes": 0, "input_records": 0,
            })
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    self.accum[acc["ID"]] = self.accum.get(acc["ID"], 0) + int(acc["Update"])
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.exec_details[e["executionId"]] = e.get("details", "")
            self.exec_plans.setdefault(e["executionId"], []).append(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self.exec_plans.setdefault(e["executionId"], []).append(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                self.accum[acc_id] = self.accum.get(acc_id, 0) + int(value)

    def jobs_in_group(self, group: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] == group and "end" in j]

    def task_totals(self, jobs: list[dict]) -> dict:
        out = {"run_s": 0.0, "gc_s": 0.0, "spill_bytes": 0, "shuffle_write_bytes": 0}
        for j in jobs:
            for sid in j["stages"]:
                for k in out:
                    out[k] += self.stage_tasks.get(sid, {}).get(k, 0)
        return out

    def _metric_ids(self, exec_id: int, want) -> dict[str, set[int]]:
        """Accumulator ids, by metric name, of the plan nodes ``want``
        selects, over every adaptive version of the execution's plan."""
        ids: dict[str, set[int]] = {}
        for plan in self.exec_plans.get(exec_id, []):
            for node, parents in _plan_nodes(plan):
                if want(node, parents):
                    for m in node.get("metrics", []):
                        ids.setdefault(m["name"], set()).add(
                            (m["accumulatorId"], m.get("metricType")))
        return ids

    def sql_metric(self, exec_ids, want, name: str) -> float:
        """Sum of one SQL metric over the selected plan nodes; timings in
        seconds, everything else as counted."""
        scale = {"timing": 1e-3, "nsTiming": 1e-9}
        total = 0.0
        for x in exec_ids:
            for acc_id, kind in self._metric_ids(x, want).get(name, ()):
                total += self.accum.get(acc_id, 0) * scale.get(kind, 1)
        return total


def is_udf(node: dict, parents: tuple) -> bool:
    return node["nodeName"] == "ArrowEvalPython"


def is_lww_exchange(node: dict, parents: tuple) -> bool:
    """The batch-local LWW shuffle: the nearest Exchange under the
    html→text/lang UDF, which runs on the LWW winners."""
    if node["nodeName"] != "Exchange" or "ArrowEvalPython" not in parents:
        return False
    below_udf = parents[parents.index("ArrowEvalPython") + 1:]
    return "Exchange" not in below_udf


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class CallSites:
    """Maps ``<file>:<line>`` call sites in the engine's lake/table.py to
    the enclosing function, so a job names its engine phase."""

    def __init__(self, table_py: str):
        with open(table_py) as f:
            tree = ast.parse(f.read())
        spans = [
            (n.lineno, n.end_lineno, n.name) for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        # innermost function wins: sort by start so the last match is deepest
        self._spans = sorted(spans)
        self._starts = [s[0] for s in self._spans]

    def function(self, call_site: str | None) -> str | None:
        if not call_site or "lake/table.py:" not in call_site:
            return None
        line = int(call_site.rsplit(":", 1)[1])
        best = None
        for lo, hi, name in self._spans[: bisect.bisect_right(self._starts, line)]:
            if lo <= line <= hi:
                best = name
        return best


_PHASE_BY_FUNCTION = {"_batch_stats": "stats", "_exact_probe": "probe"}


def merge_phases(log: EventLog, sites: CallSites, span: dict) -> dict:
    """Split one apply span into its Spark jobs by engine phase. Returns
    per-phase busy seconds (union of job intervals clipped to the span),
    the driver-only remainder, job count and the SQL executions."""
    jobs = log.jobs_in_group(span["group"])
    exec_site: dict[int, str] = {}
    for j in jobs:
        if j["exec"] is not None and j["call_site"]:
            exec_site.setdefault(j["exec"], j["call_site"])
    by_phase: dict[str, list[tuple[float, float]]] = {}
    write_execs, all_iv = set(), []
    for j in jobs:
        lo, hi = max(j["start"], span["start"]), min(j["end"], span["end"])
        if hi <= lo:
            continue
        details = log.exec_details.get(j["exec"], "")
        if "DataFrameWriter" in details.split("\n", 1)[0]:
            phase = "write"
            write_execs.add(j["exec"])
        else:
            fn = sites.function(exec_site.get(j["exec"], j["call_site"]))
            phase = _PHASE_BY_FUNCTION.get(fn, f"collect:{fn}" if fn else "other")
        by_phase.setdefault(phase, []).append((lo, hi))
        all_iv.append((lo, hi))
    phase_s = {p: union_s(iv) for p, iv in by_phase.items()}
    return {
        "jobs": len(jobs),
        "phase_s": phase_s,
        "driver_s": span["dur_s"] - union_s(all_iv),
        "write_execs": write_execs,
        "job_list": jobs,
    }
