"""Spans around public calls, and per-layer metrics from Spark's event log.

In a traced run every span runs under its own Spark job group
(``<layer.call>#<n>``), so every job, stage, task and SQL execution in
the event log can be attributed to the span that caused it. After the
session stops, ``span_metrics`` and ``ratio_metrics`` join the log with
the spans.

Besides ``S.calls``, every ``S.*`` metric is a mean per call of span ``S``:

- ``wall_s``: span duration (the call plus the sink that runs its plan);
- ``driver_s``: span time with none of its jobs running (plan build,
  driver-side work, scheduling gaps);
- ``jobs``, ``executor_cpu_s``, ``gc_s``, ``shuffle_write_mb``,
  ``spill_mb`` (memory bytes spilled): summed over the span's tasks;
- ``python_s``: the SQL metric "time to run Python workers".
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

SPANS = (
    "session.get_spark",
    "flattener.aggregate_timeseries",
    "plans.tiers.materialize",
    "plans.tiers.read_points",
    "plans.tiers.compact_day",
    "streaming.incremental.ingest_new_files",
    "plans.gapfill.fill_gaps",
    "functions.gorilla.encode_chunks",
    "functions.gorilla.decode_chunks",
    "operators.dedup.minhash_dedup_pairs",
    "operators.dedup.duplicate_clusters",
)
SPAN_FIELDS = (
    "calls", "wall_s", "driver_s", "jobs", "executor_cpu_s",
    "shuffle_write_mb", "spill_mb", "gc_s", "python_s",
)
#: ratios measured where the work happens; see README.md for the
#: end-to-end metric each one should move
LAYER_RATIOS = (
    "operators.temporal.join_rows_per_pred_row",
    "operators.temporal.agg_build_s",
    "aggregators.agg_peak_memory_mb",
    "aggregators.sort_aggregate_nodes",
    "plans.rollup.shuffle_records_per_raw_row",
    "plans.tiers.jobs_per_ingest",
    "plans.tiers.files_per_partition",
    "plans.tiers.stored_bytes_per_raw_byte",
    "functions.gorilla.bytes_per_point",
    "operators.dedup.candidates_per_pair",
    "operators.dedup.peak_agg_memory_mb",
    "trace.overhead_frac",
)
PER_LAYER = tuple(f"{s}.{f}" for s in SPANS for f in SPAN_FIELDS) + LAYER_RATIOS

MB = 1024 * 1024
_UNITS = {"calls": "count", "jobs": "count", "sort_aggregate_nodes": "count"}


def unit(metric: str) -> str:
    last = metric.rsplit(".", 1)[-1]
    if last in _UNITS:
        return _UNITS[last]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    return "ratio"


class Spans:
    """Records spans; with ``sc`` given, each span is its own job group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.records: list[dict] = []

    @property
    def tracing(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields the span's record; callers may add counts to it."""
        if name not in SPANS:
            raise ValueError(f"unknown span {name}")
        rec = {"name": name, "group": f"{name}#{len(self.records)}", **attrs}
        if self.tracing:
            self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            if self.tracing:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.records.append(rec)

    def add(self, name: str, t0: float, t1: float) -> None:
        """A span timed by the caller (no jobs of its own)."""
        self.records.append({"name": name, "group": f"{name}#{len(self.records)}", "t0": t0, "t1": t1})


# ------------------------------------------------------------ event log

def _plan_metrics(info: dict, out: dict, node_of: dict) -> None:
    """accumulatorId -> (nodeName, simpleString, metric name, metric type)."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], info["simpleString"], m["name"], m["metricType"])
    node_of.setdefault(info["nodeName"], []).append(info["simpleString"])
    for child in info.get("children", []):
        _plan_metrics(child, out, node_of)


class EventLog:
    """The parts of a Spark event log the per-layer metrics need."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str] = {}
        self.group_tasks: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self.exec_group: dict[int, str] = {}
        self.acc: dict[int, tuple] = {}  # acc id -> node/metric
        self.acc_exec: dict[int, int] = {}
        self.acc_sum: dict[int, float] = defaultdict(float)
        self.acc_task_max: dict[int, float] = defaultdict(float)
        self.exec_nodes: dict[int, dict] = defaultdict(dict)  # exec -> nodeName -> [simpleString]
        files = sorted(
            glob.glob(os.path.join(log_dir, "*", "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000.0,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                self.stage_group[e["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = self.stage_group.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if group and m:
                t = self.group_tasks[group]
                t["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                t["gc_s"] += m["JVM GC Time"] / 1e3
                t["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                t["shuffle_records"] += m["Shuffle Write Metrics"]["Shuffle Records Written"]
                t["spill_mb"] += m["Memory Bytes Spilled"] / MB
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Metadata") == "sql" and a.get("Update") is not None:
                    v = float(a["Update"])
                    self.acc_sum[a["ID"]] += v
                    self.acc_task_max[a["ID"]] = max(self.acc_task_max[a["ID"]], v)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            ex = int(e["executionId"])
            if "jobGroupId" in e:
                self.exec_group[ex] = e["jobGroupId"]
            found: dict = {}
            nodes: dict = {}
            _plan_metrics(e["sparkPlanInfo"], found, nodes)
            self.acc.update(found)
            self.acc_exec.update({i: ex for i in found})
            self.exec_nodes[ex] = nodes  # the latest (final) adaptive plan wins
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.acc_sum[acc_id] += float(value)

    # ---- queries
    def group_jobs(self, group: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] == group]

    def sql_metrics(self, groups: set[str]):
        """(nodeName, simpleString, metric, type, total, task max) of the
        SQL executions run under ``groups``."""
        for acc_id, (node, simple, name, mtype) in self.acc.items():
            if self.exec_group.get(self.acc_exec[acc_id]) in groups:
                yield node, simple, name, mtype, self.acc_sum.get(acc_id, 0.0), self.acc_task_max.get(acc_id, 0.0)

    def plan_nodes(self, groups: set[str]) -> list[tuple[str, str]]:
        return [
            (node, simple)
            for ex, nodes in self.exec_nodes.items()
            if self.exec_group.get(ex) in groups
            for node, simples in nodes.items()
            for simple in simples
        ]


def _busy(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _seconds(mtype: str, value: float) -> float:
    return value / 1e9 if mtype == "nsTiming" else value / 1e3


def span_metrics(log: EventLog, records: list[dict]) -> dict[str, float]:
    by_name: dict[str, list[dict]] = defaultdict(list)
    for r in records:
        by_name[r["name"]].append(r)
    out: dict[str, float] = {}
    for name in SPANS:
        recs = by_name.get(name, [])
        sums = defaultdict(float)
        for r in recs:
            jobs = log.group_jobs(r["group"])
            wall = r["t1"] - r["t0"]
            busy = _busy([(j["start"], j["end"] or r["t1"]) for j in jobs], r["t0"], r["t1"])
            sums["wall_s"] += wall
            sums["driver_s"] += wall - busy
            sums["jobs"] += len(jobs)
            for k in ("executor_cpu_s", "shuffle_write_mb", "spill_mb", "gc_s"):
                sums[k] += log.group_tasks.get(r["group"], {}).get(k, 0.0)
        groups = {r["group"] for r in recs}
        sums["python_s"] = sum(
            _seconds(mtype, total)
            for _, _, metric, mtype, total, _ in log.sql_metrics(groups)
            if metric == "time to run Python workers"
        )
        n = len(recs)
        out[f"{name}.calls"] = n
        for k in SPAN_FIELDS[1:]:
            out[f"{name}.{k}"] = sums[k] / n if n else 0.0
    return out


def _groups(records: list[dict], name: str) -> set[str]:
    return {r["group"] for r in records if r["name"] == name}


def ratio_metrics(log: EventLog, records: list[dict]) -> dict[str, float]:
    """The layer ratios the event log can give; the rest come from the run."""
    out: dict[str, float] = {}

    flat = _groups(records, "flattener.aggregate_timeseries")
    pred_rows = sum(r.get("pred_rows", 0) for r in records if r["group"] in flat)
    join_rows = agg_build = agg_peak = 0.0
    for node, simple, metric, mtype, total, task_max in log.sql_metrics(flat):
        # the temporal range join is the only join whose condition holds
        # the prediction-time micros (static/timedelta joins are equi-joins)
        if "Join" in node and "__pred_micros" in simple and metric == "number of output rows":
            join_rows += total
        if node == "HashAggregate" and "prediction_time_uuid" in simple:
            if metric == "time in aggregation build":
                agg_build += _seconds(mtype, total)
            elif metric == "peak memory":
                agg_peak = max(agg_peak, task_max / MB)
    n_flat = len(flat)
    out["operators.temporal.join_rows_per_pred_row"] = join_rows / pred_rows if pred_rows else 0.0
    out["operators.temporal.agg_build_s"] = agg_build / n_flat if n_flat else 0.0
    out["aggregators.agg_peak_memory_mb"] = agg_peak
    sort_aggs = sum(1 for node, _ in log.plan_nodes(flat) if node == "SortAggregate")
    out["aggregators.sort_aggregate_nodes"] = sort_aggs / n_flat if n_flat else 0.0

    ingest = [r for r in records if r["name"] == "streaming.incremental.ingest_new_files"]
    raw_rows = sum(r.get("raw_rows", 0) for r in ingest)
    shuffled = sum(log.group_tasks.get(r["group"], {}).get("shuffle_records", 0.0) for r in ingest)
    out["plans.rollup.shuffle_records_per_raw_row"] = shuffled / raw_rows if raw_rows else 0.0
    out["plans.tiers.jobs_per_ingest"] = (
        sum(len(log.group_jobs(r["group"])) for r in ingest) / len(ingest) if ingest else 0.0
    )

    pairs_groups = _groups(records, "operators.dedup.minhash_dedup_pairs")
    pairs = sum(r.get("pairs", 0) for r in records if r["group"] in pairs_groups)
    candidates = peak = 0.0
    for group in pairs_groups:
        # the aggregate that de-duplicates the (doc_a, doc_b) rows exploded
        # out of each LSH bucket outputs the candidate pairs; the later
        # intersection count has the same keys and at most as many rows
        candidates += max(
            (
                total
                for node, simple, metric, _, total, _ in log.sql_metrics({group})
                if node == "HashAggregate"
                and simple.startswith("HashAggregate(keys=[doc_a#")
                and metric == "number of output rows"
            ),
            default=0.0,
        )
    for node, _, metric, _, _, task_max in log.sql_metrics(pairs_groups):
        if "Aggregate" in node and metric == "peak memory":
            peak = max(peak, task_max / MB)
    out["operators.dedup.candidates_per_pair"] = candidates / pairs if pairs else 0.0
    out["operators.dedup.peak_agg_memory_mb"] = peak
    return out
