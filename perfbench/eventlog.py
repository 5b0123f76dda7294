"""Spark event-log reader: per-layer numbers and a span tree for the ops
the benchmark timed.

Input is an uncompressed event log (one JSON object per line) plus the
benchmark's own op records::

    {"group": "<workload>/<op>#<pass>", "op": ..., "pass": ..., "module":
     ..., "build0": ms, "build1": ms, "exec1": ms, "rows": n}

Jobs are attributed to an op by their ``spark.jobGroup.id``; jobs from
other threads (a streaming query runs its micro-batches on its own thread
under its own group) fall back to the op whose wall-clock window holds
their submission time. SQL plan metrics are resolved through the
accumulator ids declared in ``SQLExecutionStart.sparkPlanInfo``, the
adaptive re-plans and ``SQLAdaptiveSQLMetricUpdates``; their values come
from the stage accumulables and driver accumulator updates.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from statistics import median

# plan nodes that run Python code in a Python worker
_PYTHON_NODES = ("Python", "Pandas", "Arrow")


def read_events(path: str):
    """Yield the events of an uncompressed, non-rolling log file."""
    with open(path) as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def find_log(log_dir: str) -> str:
    """The single application log written into ``log_dir``."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {apps}")
    return os.path.join(log_dir, apps[0])


class EventLog:
    """The parts of an event log the per-layer table needs."""

    def __init__(self, events):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list] = defaultdict(list)
        self.plans: dict[int, dict] = {}  # execution id -> latest plan
        # execution id -> {accumulator id: (node, metric name, metric type)}
        self.metric_defs: dict[int, dict] = defaultdict(dict)
        self.accums: dict[int, float] = defaultdict(float)
        for e in events:
            kind = e["Event"]
            handler = getattr(self, "_" + kind.rsplit(".", 1)[-1], None)
            if handler is not None:
                handler(e)

    # -- scheduler events -------------------------------------------------
    def _SparkListenerJobStart(self, e):
        props = e.get("Properties") or {}
        exec_id = props.get("spark.sql.execution.id")
        self.jobs[e["Job ID"]] = {
            "id": e["Job ID"],
            "group": props.get("spark.jobGroup.id"),
            "submit": e["Submission Time"],
            "end": e["Submission Time"],
            "stage_ids": list(e.get("Stage IDs", [])),
            "exec_id": int(exec_id) if exec_id is not None else None,
        }

    def _SparkListenerJobEnd(self, e):
        job = self.jobs.get(e["Job ID"])
        if job is not None:
            job["end"] = e["Completion Time"]

    def _SparkListenerStageCompleted(self, e):
        info = e["Stage Info"]
        self.stages[info["Stage ID"]] = {
            "id": info["Stage ID"],
            "submit": info.get("Submission Time", 0),
            "end": info.get("Completion Time", 0),
            "n_tasks": info["Number of Tasks"],
        }
        for acc in info.get("Accumulables", []):
            # SQL plan metrics, logged as numeric strings; the task metrics
            # are read from the task ends
            if acc["Name"].startswith("internal.metrics."):
                continue
            try:
                self.accums[acc["ID"]] += float(acc["Value"])
            except (KeyError, TypeError, ValueError):
                pass  # an accumulator without a numeric value

    def _SparkListenerTaskEnd(self, e):
        info, m = e["Task Info"], e.get("Task Metrics")
        if m is None:
            return
        sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
        duration = info["Finish Time"] - info["Launch Time"]
        busy = (
            m["Executor Run Time"]
            + m["Executor Deserialize Time"]
            + m["Result Serialization Time"]
        )
        self.tasks[e["Stage ID"]].append(
            {
                "run_ms": m["Executor Run Time"],
                "cpu_ns": m["Executor CPU Time"],
                "gc_ms": m["JVM GC Time"],
                "sched_ms": max(0, duration - busy),
                "shuffle_read": sr["Remote Bytes Read"] + sr["Local Bytes Read"],
                "shuffle_write": sw["Shuffle Bytes Written"],
                "shuffle_records": sw["Shuffle Records Written"],
                "spill": m["Disk Bytes Spilled"],
                "input_bytes": m["Input Metrics"]["Bytes Read"],
                "input_rows": m["Input Metrics"]["Records Read"],
            }
        )

    # -- SQL events -------------------------------------------------------
    def _plan(self, exec_id, info):
        self.plans[exec_id] = info
        for node in _walk(info):
            for metric in node.get("metrics", []):
                self.metric_defs[exec_id][metric["accumulatorId"]] = (
                    node["nodeName"].strip(), metric["name"], metric["metricType"]
                )

    def _SparkListenerSQLExecutionStart(self, e):
        self._plan(e["executionId"], e["sparkPlanInfo"])

    def _SparkListenerSQLAdaptiveExecutionUpdate(self, e):
        self._plan(e["executionId"], e["sparkPlanInfo"])

    def _SparkListenerSQLAdaptiveSQLMetricUpdates(self, e):
        for metric in e.get("sqlPlanMetrics", []):
            self.metric_defs[e["executionId"]][metric["accumulatorId"]] = (
                "", metric["name"], metric["metricType"]
            )

    def _SparkListenerDriverAccumUpdates(self, e):
        for acc_id, value in e.get("accumUpdates", []):
            self.accums[acc_id] += float(value)

    # -- queries ----------------------------------------------------------
    def metric_total(self, exec_ids, predicate) -> float:
        """Sum of the SQL metric values whose (node, name, type) matches,
        over every plan version of ``exec_ids`` (timings in ms)."""
        total = 0.0
        for x in exec_ids:
            for acc_id, (node, name, mtype) in self.metric_defs[x].items():
                if predicate(node, name, mtype):
                    v = self.accums.get(acc_id, 0.0)
                    total += v / 1e6 if mtype == "nsTiming" else v
        return total

    def count_nodes(self, exec_ids, name: str) -> int:
        n = 0
        for x in exec_ids:
            plan = self.plans.get(x)
            if plan is not None:
                n += sum(1 for node in _walk(plan) if node["nodeName"].strip() == name)
        return n


def _walk(info):
    """Every node of a ``sparkPlanInfo`` tree."""
    yield info
    for child in info.get("children", []):
        yield from _walk(child)


def attribute_jobs(log: EventLog, ops: list[dict]) -> dict[str, list[dict]]:
    """Jobs per op group: by job group, else by submission-time window."""
    by_group = {op["group"]: [] for op in ops}
    windows = sorted((op["build0"], op["exec1"], op["group"]) for op in ops)
    for job in sorted(log.jobs.values(), key=lambda j: j["submit"]):
        group = job["group"] if job["group"] in by_group else None
        if group is None:
            group = next(
                (g for lo, hi, g in windows if lo <= job["submit"] <= hi), None
            )
        if group is not None:
            by_group[group].append(job)
    return by_group


def _union_ms(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered


def layer_metrics(log: EventLog, ops: list[dict], n_passes: int, slots: int):
    """Per-pass Spark-engine and per-operator-module numbers for ``ops``."""
    jobs_of = attribute_jobs(log, ops)
    out: dict[str, float] = defaultdict(float)
    tasks, stage_ids, exec_ids = [], set(), set()
    op_wall_ms = collect_gap_ms = rows_out = rows_examined = 0.0
    worst_skew = 1.0
    for op in ops:
        jobs = jobs_of[op["group"]]
        mod = op["module"]
        out[f"{mod}.build_s"] += (op["build1"] - op["build0"]) / 1e3
        out[f"{mod}.exec_s"] += (op["exec1"] - op["build1"]) / 1e3
        out[f"{mod}.eager_jobs"] += sum(
            1 for j in jobs if j["submit"] < op["build1"]
        )
        op_wall_ms += op["exec1"] - op["build0"]
        collect_gap_ms += (op["exec1"] - op["build1"]) - _union_ms(
            [(j["submit"], j["end"]) for j in jobs], op["build1"], op["exec1"]
        )
        op_execs = {j["exec_id"] for j in jobs if j["exec_id"] is not None}
        exec_ids |= op_execs
        for j in jobs:
            for s in j["stage_ids"]:
                if s in log.stages and s not in stage_ids:
                    stage_ids.add(s)
                    tasks.extend(log.tasks.get(s, []))
                    runs = [t["run_ms"] for t in log.tasks.get(s, [])]
                    if len(runs) >= 4:
                        worst_skew = max(
                            worst_skew, max(runs) / max(median(runs), 1.0)
                        )
        if op.get("rows"):
            rows_out += op["rows"]
            rows_examined += log.metric_total(
                op_execs, lambda n, name, t: name == "number of output rows"
            )
    n = max(n_passes, 1)
    for key in list(out):
        out[key] /= n
    task_run_ms = sum(t["run_ms"] for t in tasks)
    out.update(
        {
            "driver.collect_gap_s": collect_gap_ms / 1e3 / n,
            "spark.jobs": sum(len(jobs_of[op["group"]]) for op in ops) / n,
            "spark.stages": len(stage_ids) / n,
            "spark.tasks": len(tasks) / n,
            "spark.exchanges": log.count_nodes(exec_ids, "Exchange") / n,
            "spark.task_run_s": task_run_ms / 1e3 / n,
            "spark.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9 / n,
            "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3 / n,
            "spark.sched_delay_s": sum(t["sched_ms"] for t in tasks) / 1e3 / n,
            "spark.slot_busy_frac": task_run_ms / max(op_wall_ms * slots, 1.0),
            "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks)
            / 1e6 / n,
            "spark.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks)
            / 1e6 / n,
            "spark.shuffle_records": sum(t["shuffle_records"] for t in tasks) / n,
            "spark.spill_mb": sum(t["spill"] for t in tasks) / 1e6 / n,
            "spark.input_mb": sum(t["input_bytes"] for t in tasks) / 1e6 / n,
            "spark.input_rows": sum(t["input_rows"] for t in tasks) / n,
            "spark.python_eval_s": log.metric_total(
                exec_ids,
                lambda node, name, t: any(p in node for p in _PYTHON_NODES)
                and t in ("timing", "nsTiming"),
            )
            / 1e3 / n,
            "spark.task_skew": worst_skew,
            "spark.rows_examined_per_row_out": rows_examined / max(rows_out, 1.0),
            "spark.in_memory_scans": log.count_nodes(exec_ids, "InMemoryTableScan")
            / n,
        }
    )
    return dict(out)


def span_tree(log: EventLog, ops: list[dict], run: dict) -> dict:
    """run → pass → op → {build, execute} → job → stage, with self time
    (a span's duration minus the union of its children) on every span."""
    jobs_of = attribute_jobs(log, ops)
    passes: dict[int, list] = defaultdict(list)
    for op in ops:
        passes[op["pass"]].append(op)

    def span(name, start, end, children=()):
        children = list(children)
        covered = _union_ms([(c["start"], c["end"]) for c in children], start, end)
        return {
            "name": name,
            "start": start,
            "end": end,
            "self_ms": max(0.0, (end - start) - covered),
            "children": children,
        }

    def job_span(j):
        stages = [
            span(f"stage {s}", log.stages[s]["submit"], log.stages[s]["end"])
            for s in j["stage_ids"]
            if s in log.stages
        ]
        return span(f"job {j['id']}", j["submit"], j["end"], stages)

    pass_spans = []
    for p, p_ops in sorted(passes.items()):
        op_spans = []
        for op in p_ops:
            jobs = jobs_of[op["group"]]
            build = span(
                "build", op["build0"], op["build1"],
                [job_span(j) for j in jobs if j["submit"] < op["build1"]],
            )
            execute = span(
                "execute", op["build1"], op["exec1"],
                [job_span(j) for j in jobs if j["submit"] >= op["build1"]],
            )
            op_spans.append(span(op["group"], op["build0"], op["exec1"], [build, execute]))
        pass_spans.append(
            span(f"pass {p}", p_ops[0]["build0"], p_ops[-1]["exec1"], op_spans)
        )
    return span(run["name"], run["start"], run["end"], pass_spans)
