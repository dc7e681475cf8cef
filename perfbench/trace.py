"""Per-layer metrics from Spark's own status store.

Each execution runs under two job groups (plan build, then delivery),
so every job, stage and SQL execution it launched can be found again
afterwards. :class:`Harvester` reads them after the execution's timer
has stopped and the listener bus has delivered their events (jobs from
the status tracker; stages, SQL node metrics and storage from the local
UI's REST API; RDD operation graphs from the status store) and reduces
them to the per-layer counters named in ``SUMMED``. Nothing inside the
package is instrumented.

SQL node metrics arrive as display strings ("1.8 s", "395.2 MiB",
"12,950,000", or a "total (min, med, max ...)" block). A cached subtree
is rendered again under every InMemoryTableScan that reads it, with new
node ids but the same accumulators, so nodes of one SQL execution are
de-duplicated by their name and metric values before summing.
"""

from __future__ import annotations

import json
import re
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone

# Layer counters summed per execution (and then per pass). Times are
# task-time in milliseconds unless the name says otherwise.
SUMMED = (
    "plans.build_jobs",
    "sources.scan_ms",
    "sources.scan_rows",
    "sources.scan_bytes",
    "operators.exchange_count",
    "operators.shuffle_write_bytes",
    "operators.shuffle_read_bytes",
    "operators.shuffle_write_ms",
    "operators.fetch_wait_ms",
    "operators.agg_build_ms",
    "operators.partial_agg_rows_in",
    "operators.partial_agg_rows_out",
    "operators.sort_ms",
    "operators.hashjoin_build_ms",
    "operators.broadcast_ms",
    "operators.python_rows",
    "operators.python_bytes",
    "operators.python_stage_ms",
    "operators.spill_bytes",
    "caching.inmemory_scan_rows",
    "session.jobs",
    "session.stages",
    "session.tasks",
    "session.executor_run_ms",
    "sql_ms",
)

# Node-level task times that partition a task's run time; their sum must
# not exceed the executor run time of the same stages.
TASK_LAYERS = (
    "sources.scan_ms",
    "operators.shuffle_write_ms",
    "operators.fetch_wait_ms",
    "operators.agg_build_ms",
    "operators.sort_ms",
    "operators.hashjoin_build_ms",
)

# Relative error allowed when reconciling layer sums (see reconcile()).
RECONCILE_TOL = 0.05
RECONCILE_SLACK_MS = 50.0
# Longest wait for the listener bus to deliver an execution's events.
DRAIN_TIMEOUT_MS = 30_000

_UNITS = {
    "ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")
_PY_MARK = "data sent to Python workers"
# RDD operation-graph cluster labels of plan nodes that run Python workers.
_PY_NODE = re.compile(r'label="[A-Za-z]*(InPandas|EvalPython|InArrow)')


def _epoch(stamp: str) -> float:
    """Seconds since the epoch of a REST timestamp such as
    ``2026-10-17T03:06:05.653GMT``."""
    t = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z")
    return t.replace(tzinfo=timezone.utc).timestamp()


def parse_metric(text: str) -> float | None:
    """Numeric value of a SQL metric display string: milliseconds for
    times, bytes for sizes, the count otherwise. ``None`` for the
    min/med/max-only averages, which carry no total."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    elif text.startswith("("):
        return None
    m = _VALUE.match(text)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _UNITS.get(unit, 1.0) if unit else value


def _node_metrics(node: dict) -> dict[str, float]:
    out = {}
    for m in node.get("metrics", []):
        v = parse_metric(m["value"])
        if v is not None:
            out[m["name"]] = v
    return out


def sql_layers(execution: dict) -> dict[str, float]:
    """Layer counters of one SQL execution from its node metrics."""
    acc: dict[str, float] = defaultdict(float)
    seen = set()
    nodes = {}
    for node in execution.get("nodes", []):
        key = (node["nodeName"], json.dumps(node.get("metrics", []), sort_keys=True))
        metrics = _node_metrics(node)
        nodes[node["nodeId"]] = (node["nodeName"], metrics)
        if key in seen and metrics:
            continue
        seen.add(key)
        name = node["nodeName"]
        if name.startswith("Scan parquet"):
            acc["sources.scan_ms"] += metrics.get("scan time", 0.0)
            acc["sources.scan_rows"] += metrics.get("number of output rows", 0.0)
            acc["sources.scan_bytes"] += metrics.get("size of files read", 0.0)
        elif name == "Exchange":
            acc["operators.exchange_count"] += 1
        elif name == "BroadcastExchange":
            acc["operators.broadcast_ms"] += sum(
                metrics.get(k, 0.0)
                for k in ("time to collect", "time to build", "time to broadcast")
            )
        elif name == "InMemoryTableScan":
            acc["caching.inmemory_scan_rows"] += metrics.get("number of output rows", 0.0)
        acc["operators.agg_build_ms"] += metrics.get("time in aggregation build", 0.0)
        acc["operators.sort_ms"] += metrics.get("sort time", 0.0)
        acc["operators.hashjoin_build_ms"] += metrics.get("time to build hash map", 0.0)
        if _PY_MARK in metrics:
            acc["operators.python_rows"] += metrics.get("number of output rows", 0.0)
            acc["operators.python_bytes"] += metrics[_PY_MARK] + metrics.get(
                "data returned from Python workers", 0.0
            )
    _partial_aggs(execution, nodes, acc)
    return acc


def _partial_aggs(execution: dict, nodes: dict, acc: dict) -> None:
    """Rows in and out of partial aggregates: aggregate nodes whose
    output feeds a shuffle Exchange. Input rows are the output rows of
    the nearest descendants that count rows."""
    children = defaultdict(list)
    parents = defaultdict(list)
    for e in execution.get("edges", []):
        children[e["toId"]].append(e["fromId"])
        parents[e["fromId"]].append(e["toId"])

    def rows(nid: int, depth: int = 0) -> float:
        name, metrics = nodes.get(nid, ("", {}))
        if "number of output rows" in metrics or depth > 32:
            return metrics.get("number of output rows", 0.0)
        return sum(rows(c, depth + 1) for c in children[nid])

    seen = set()
    for nid, (name, metrics) in nodes.items():
        if not name.endswith("HashAggregate") or "number of output rows" not in metrics:
            continue
        if not any(nodes.get(p, ("",))[0] == "Exchange" for p in parents[nid]):
            continue
        key = (name, json.dumps(sorted(metrics.items())))
        if key in seen:
            continue
        seen.add(key)
        acc["operators.partial_agg_rows_out"] += metrics["number of output rows"]
        acc["operators.partial_agg_rows_in"] += sum(rows(c) for c in children[nid])


class Harvester:
    """Reads one application's jobs, stages and SQL executions by job
    group; the REST calls go to the driver's UI on localhost."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._graph = spark._jvm.org.apache.spark.ui.scope.RDDOperationGraph
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_seen = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def _runs_python(self, stage_id: int) -> bool:
        """Whether the stage's RDD operation graph holds a plan node that
        runs Python workers (pandas/Arrow UDF and kernel nodes)."""
        dot = self._graph.makeDotFile(self._store.operationGraphForStage(stage_id))
        return bool(_PY_NODE.search(dot))

    def cached_bytes(self) -> float:
        return float(
            sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self._get("/storage/rdd"))
        )

    def execution(self, build_group: str, run_group: str, since: float) -> dict[str, float]:
        """Layer counters of one execution (its build and run groups),
        which started at epoch seconds ``since``. A job that reads a
        cache or a reused shuffle lists the stages that produced it as
        skipped; those attempts ran before ``since`` and are not counted
        again. Jobs, stages and SQL executions of the groups that have
        not finished are counted in ``incomplete``."""
        # The status store is fed by the listener bus; wait until it has
        # delivered every event the execution caused.
        self._bus.waitUntilEmpty(DRAIN_TIMEOUT_MS)
        acc: dict[str, float] = defaultdict(float)
        tracker = self._sc.statusTracker()
        stage_ids = set()
        for group in (build_group, run_group):
            job_ids = list(tracker.getJobIdsForGroup(group))
            acc["session.jobs"] += len(job_ids)
            if group == build_group:
                acc["plans.build_jobs"] += len(job_ids)
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info.status not in ("SUCCEEDED", "FAILED"):
                    acc["incomplete"] += 1
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            python = None
            for attempt in self._get(f"/stages/{sid}?details=false"):
                if attempt["status"] in ("ACTIVE", "PENDING"):
                    acc["incomplete"] += 1
                    continue
                if attempt["status"] == "SKIPPED":
                    continue
                if _epoch(attempt["submissionTime"]) < since:
                    continue
                acc["session.stages"] += 1
                acc["session.tasks"] += attempt["numCompleteTasks"]
                acc["session.executor_run_ms"] += attempt["executorRunTime"]
                acc["operators.shuffle_write_bytes"] += attempt["shuffleWriteBytes"]
                acc["operators.shuffle_read_bytes"] += attempt["shuffleReadBytes"]
                acc["operators.shuffle_write_ms"] += attempt["shuffleWriteTime"] / 1e6
                acc["operators.fetch_wait_ms"] += attempt["shuffleFetchWaitTime"]
                acc["operators.spill_bytes"] += attempt["diskBytesSpilled"]
                if python is None:
                    python = self._runs_python(sid)
                if python:
                    acc["operators.python_stage_ms"] += attempt["executorRunTime"]
        groups = {build_group, run_group}
        new = self._get(
            f"/sql?details=true&planDescription=false&offset={self._sql_seen}&length=100000"
        )
        prefix_done = True
        for execution in new:
            finished = execution.get("status") in ("COMPLETED", "FAILED")
            # Never move past a running execution: its metrics are final
            # only when it ends.
            prefix_done = prefix_done and finished
            if prefix_done:
                self._sql_seen += 1
            if execution.get("description") not in groups:
                continue
            if not finished:
                acc["incomplete"] += 1
                continue
            acc["sql_ms"] += execution.get("duration", 0)
            for k, v in sql_layers(execution).items():
                acc[k] += v
        return acc


def reconcile(layers: dict[str, float], span_ms: float, deliver_ms: float, cores: int) -> float:
    """Relative error of Spark's accounting for one execution against
    what it must contain; 0 when it reconciles. Upper bounds (nothing
    counted twice):

    - node-level task times (``TASK_LAYERS``) fit in executor run time;
    - executor run time fits in span wall time x cores;
    - SQL execution durations fit in the measured span (build +
      delivery), up to ``RECONCILE_SLACK_MS`` of clock skew.

    Lower bounds (nothing missed):

    - every job, stage and SQL execution of the execution has finished
      (else the error is 1);
    - every job ran at least its own result stage;
    - SQL execution durations cover the ``toPandas`` time
      ``deliver_ms``, up to the same slack.

    A result above ``RECONCILE_TOL`` means the layer accounting is
    incomplete or double-counted for that execution."""
    if layers.get("incomplete", 0.0):
        return 1.0
    task = sum(layers.get(k, 0.0) for k in TASK_LAYERS)
    run = layers.get("session.executor_run_ms", 0.0)
    sql = layers.get("sql_ms", 0.0)
    jobs = layers.get("session.jobs", 0.0)
    errs = [
        max(0.0, task - run) / run if run else 0.0,
        max(0.0, run - span_ms * cores) / (span_ms * cores) if span_ms else 0.0,
        max(0.0, sql - span_ms - RECONCILE_SLACK_MS) / span_ms if span_ms else 0.0,
        max(0.0, jobs - layers.get("session.stages", 0.0)) / jobs if jobs else 0.0,
        max(0.0, deliver_ms - RECONCILE_SLACK_MS - sql) / deliver_ms if deliver_ms else 0.0,
    ]
    return max(errs)
