"""Tracing for the per-layer run: plan metrics, event log and spans.

Everything here reads what Spark already records. Plan metrics come from
the final adaptive plan of the DataFrame each key returns, walked through
py4j after its action; task metrics and job and stage times come from the
event log, which ``build_session(extra_conf=...)`` turns on for a traced
session. Jobs are tied to a key by the job group the benchmark sets
around each build and action (``pb:<key>:build`` / ``pb:<key>:action``).
"""

from __future__ import annotations

import glob
import json
from collections import defaultdict

#: node group -> [(plan metric key, per-layer metric)]; a node belongs to
#: "any", to its own class name, and to "scan" / "aggregate" by name
_PLAN_METRICS = {
    "scan": [
        ("numOutputRows", "catalog.scan_rows"),
        ("filesSize", "catalog.scan_bytes"),
        ("numFiles", "catalog.scan_files"),
        ("scanTime", "catalog.scan_s"),
        ("metadataTime", "catalog.metadata_s"),
    ],
    "ShuffleExchangeExec": [
        ("shuffleBytesWritten", "exchange.shuffle_bytes"),
        ("shuffleRecordsWritten", "exchange.shuffle_records"),
        ("shuffleWriteTime", "exchange.write_s"),
    ],
    "BroadcastExchangeExec": [
        ("dataSize", "exchange.broadcast_bytes"),
        ("collectTime", "exchange.broadcast_s"),
        ("buildTime", "exchange.broadcast_s"),
        ("broadcastTime", "exchange.broadcast_s"),
    ],
    "AQEShuffleReadExec": [
        ("numCoalescedPartitions", "exchange.coalesced_partitions"),
    ],
    "aggregate": [
        ("aggTime", "operators.agg_s"),
        ("numTasksFallBacked", "operators.agg_fallback_tasks"),
    ],
    "SortExec": [("sortTime", "operators.sort_s")],
    "any": [
        ("fetchWaitTime", "exchange.fetch_wait_s"),
        ("spillSize", "operators.spill_bytes"),
        ("peakMemory", "operators.peak_mem_bytes"),
        ("pythonTotalTime", "python.total_s"),
        ("pythonBootTime", "python.boot_s"),
        ("pythonDataSent", "python.bytes_sent"),
        ("pythonDataReceived", "python.bytes_received"),
        ("pythonNumRowsReceived", "python.rows_received"),
    ],
}

PLAN_METRICS = sorted({m for rules in _PLAN_METRICS.values() for _, m in rules})

TASK_METRICS = (
    "tasks.count", "tasks.run_s", "tasks.cpu_s", "tasks.gc_s",
    "driver.result_bytes", "sources.bytes_written", "sources.records_written",
)


def _node_groups(cls: str) -> list[str]:
    groups = ["any", cls]
    if "Scan" in cls:
        groups.append("scan")
    if "Aggregate" in cls:
        groups.append("aggregate")
    return groups


def _scaled(metric) -> float:
    """SQLMetric value in its natural unit: seconds for timings."""
    kind = metric.metricType()
    value = float(metric.value())
    if kind == "timing":
        return value / 1e3
    if kind == "nsTiming":
        return value / 1e9
    return value


def _physical_nodes(plan):
    """Every executed node of a physical plan: through the final adaptive
    plan, into query stages and subqueries; a reused exchange is skipped
    because its metrics live on the exchange it reuses."""
    stack, seen = [plan], set()
    while stack:
        node = stack.pop()
        if node is None or node.id() in seen:
            continue
        seen.add(node.id())
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls.startswith("Reused"):
            continue
        yield cls, node
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))


def plan_metrics(df) -> dict[str, float]:
    """Per-layer sums of the SQL metrics on ``df``'s executed plan."""
    out: dict[str, float] = dict.fromkeys(PLAN_METRICS, 0.0)
    for cls, node in _physical_nodes(df._jdf.queryExecution().executedPlan()):
        wanted = {}
        for group in _node_groups(cls):
            for src, dst in _PLAN_METRICS.get(group, ()):
                wanted.setdefault(src, []).append(dst)
        if not wanted:
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            pair = it.next()
            for dst in wanted.get(pair._1(), ()):
                out[dst] += _scaled(pair._2())
    return out


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs, and stages with their task metric sums, from the event logs
    under ``log_dir`` (the session must be stopped so the log is whole)."""
    jobs: dict[tuple, dict] = {}
    stages: dict[tuple, dict] = {}
    tasks: dict[tuple, dict] = defaultdict(lambda: dict.fromkeys(TASK_METRICS, 0.0))
    for app in sorted(glob.glob(f"{log_dir}/*")):
        with open(app) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[(app, ev["Job ID"])] = {
                        "app": app,
                        "id": ev["Job ID"],
                        "start": ev["Submission Time"] / 1e3,
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "stage_ids": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[(app, ev["Job ID"])]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (app, info["Stage ID"], info["Stage Attempt ID"])
                    stages[key] = {
                        "app": app,
                        "id": info["Stage ID"],
                        "start": info["Submission Time"] / 1e3,
                        "end": info["Completion Time"] / 1e3,
                    }
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    m = ev["Task Metrics"]
                    out = m.get("Output Metrics") or {}
                    t = tasks[(app, ev["Stage ID"], ev["Stage Attempt ID"])]
                    t["tasks.count"] += 1
                    t["tasks.run_s"] += m["Executor Run Time"] / 1e3
                    t["tasks.cpu_s"] += m["Executor CPU Time"] / 1e9
                    t["tasks.gc_s"] += m["JVM GC Time"] / 1e3
                    t["driver.result_bytes"] += m["Result Size"]
                    t["sources.bytes_written"] += out.get("Bytes Written", 0)
                    t["sources.records_written"] += out.get("Records Written", 0)
    job_list = [j for j in jobs.values() if "end" in j]
    # a stage belongs to the latest job submitted before it that lists it
    for key, st in stages.items():
        owners = [
            j for j in job_list
            if j["app"] == st["app"] and st["id"] in j["stage_ids"] and j["start"] <= st["start"]
        ]
        st["job"] = max(owners, key=lambda j: j["start"])["id"] if owners else None
        st["metrics"] = tasks.get(key, dict.fromkeys(TASK_METRICS, 0.0))
    return job_list, list(stages.values())


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            total += b - a
            cursor = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Sum of self time per span kind: each span's duration minus the part
    of it that its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["end"] - s["start"]
        out[s["kind"]] += dur - _covered(s["start"], s["end"], children[s["id"]])
    return dict(out)
