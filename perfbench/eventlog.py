"""Fold Spark's own event log into per-op execution metrics.

The benchmark runs each op under ``setJobGroup(op_id)`` with an
uncompressed event log in a per-run directory.  :func:`parse` reads
that log once, after the session has stopped, and returns one record
per op id.

Units, as Spark writes them (pinned by tests/test_eventlog_units.py):

- ``Executor Run Time``, ``JVM GC Time``: milliseconds per task;
- ``Executor CPU Time``: nanoseconds per task;
- SQL metrics of type ``timing`` (codegen ``duration``, "time to run
  Python workers", ...): milliseconds, summed over tasks — a sum over
  parallel tasks, not a wall time;
- SQL metrics of type ``nsTiming``: nanoseconds;
- bytes everywhere else.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

PYTHON_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow",
                "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                "AggregateInPandas", "WindowInPandas",
                "FlatMapCoGroupsInPandas")
JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")


def _event_files(log_dir: str) -> list[str]:
    files = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        if os.path.isdir(path):  # rolling event log: eventlog_v2_*/
            files += sorted(glob.glob(os.path.join(path, "events_*")),
                            key=lambda p: int(
                                os.path.basename(p).split("_")[1]))
        elif not path.endswith(".inprogress"):
            files.append(path)
    return files


def _walk(plan: dict, out: dict) -> None:
    """accumulatorId -> (node name, metric name, metric type) and the
    node names / descriptions of one SQL plan tree.  The "records
    read" metrics of the exchanges feeding a join are tagged as the
    join's input rows."""
    for m in plan.get("metrics", []):
        out["acc"][m["accumulatorId"]] = (plan["nodeName"], m["name"],
                                          m["metricType"])
    out["nodes"].append((plan["nodeName"], plan.get("simpleString", "")))
    if plan["nodeName"].startswith(JOIN_NODES):
        for child in plan.get("children", []):
            _tag_join_inputs(child, out)
    for child in plan.get("children", []):
        _walk(child, out)


PASS_THROUGH = ("Project", "InputAdapter", "WholeStageCodegen", "Sort",
                "AQEShuffleRead", "ShuffleQueryStage", "BroadcastQueryStage",
                "ColumnarToRow")


def _tag_join_inputs(plan: dict, out: dict) -> None:
    """Descend through a join input's pass-through nodes (projections,
    sorts, stage wrappers, shuffle reads) to the first node that counts
    rows — an exchange's "records read" or an operator's "number of
    output rows" — and tag that metric as join input."""
    for m in plan.get("metrics", []):
        if m["name"] in ("records read", "number of output rows"):
            out["join_in"].add(m["accumulatorId"])
            return
    if plan["nodeName"].startswith(PASS_THROUGH):
        for child in plan.get("children", []):
            _tag_join_inputs(child, out)


def parse(log_dir: str) -> dict[str, dict]:
    """Per-op execution metrics keyed by job group (op id)."""
    acc: dict[int, tuple] = {}
    join_in: set[int] = set()
    exec_nodes: dict[int, list] = {}  # execution id -> latest plan nodes
    stage_group: dict[int, str] = {}
    ops: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_submit: dict[str, list] = defaultdict(list)
    exec_of_op: dict[str, set] = defaultdict(set)
    driver_updates: list[tuple] = []  # (execution id, acc id, value)
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind in ("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate"):
                    tree = {"acc": {}, "nodes": [], "join_in": set()}
                    _walk(e["sparkPlanInfo"], tree)
                    acc.update(tree["acc"])
                    join_in |= tree["join_in"]
                    exec_nodes[e["executionId"]] = tree["nodes"]
                elif kind == "SparkListenerDriverAccumUpdates":
                    driver_updates += [(e["executionId"], a, v)
                                       for a, v in e["accumUpdates"]]
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    ops[group]["jobs"] += 1
                    job_submit[group].append(e["Submission Time"] / 1e3)
                    if "spark.sql.execution.id" in props:
                        exec_of_op[group].add(
                            int(props["spark.sql.execution.id"]))
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(e["Stage Info"]["Stage ID"])
                    if group is not None:
                        ops[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(e["Stage ID"])
                    if group is None:
                        continue
                    _fold_task(ops[group], e, acc, join_in)
    group_of_exec = {x: g for g, xs in exec_of_op.items() for x in xs}
    for xid, acc_id, value in driver_updates:  # e.g. broadcast sides
        if acc_id in join_in and xid in group_of_exec:
            ops[group_of_exec[xid]]["join_rows_in"] += value
    for group, xids in exec_of_op.items():
        rec = ops[group]
        for xid in xids:
            for name, desc in exec_nodes.get(xid, []):
                if name.startswith(PYTHON_NODES):
                    rec["python_nodes"] += 1
                if name == "Exchange" and "RoundRobinPartitioning" in desc:
                    rec["spread_exchanges"] += 1
    out = {}
    for group, rec in ops.items():
        rec = dict(rec)
        rec["job_submit_times"] = sorted(job_submit.get(group, []))
        out[group] = rec
    return out


def _fold_task(rec: dict, e: dict, acc: dict, join_in: set) -> None:
    tm = e.get("Task Metrics") or {}
    rec["tasks"] += 1
    rec["task_run_ms"] += tm.get("Executor Run Time", 0)
    rec["task_cpu_ns"] += tm.get("Executor CPU Time", 0)
    rec["gc_ms"] += tm.get("JVM GC Time", 0)
    rec["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                           + tm.get("Disk Bytes Spilled", 0))
    sr = tm.get("Shuffle Read Metrics") or {}
    rec["shuffle_read_bytes"] += (sr.get("Local Bytes Read", 0)
                                  + sr.get("Remote Bytes Read", 0))
    sw = tm.get("Shuffle Write Metrics") or {}
    rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    rec["scan_bytes"] += (tm.get("Input Metrics") or {}).get(
        "Bytes Read", 0)
    written = (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    rec["bytes_written"] += written
    if written:
        rec["write_tasks"] += 1
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        meta = acc.get(a.get("ID"))
        if meta is None or a.get("Update") is None:
            continue
        node, metric, _ = meta
        try:
            v = float(a["Update"])
        except (TypeError, ValueError):
            continue
        if a["ID"] in join_in:
            rec["join_rows_in"] += v
        if node.startswith("WholeStageCodegen") and metric == "duration":
            rec["codegen_ms"] += v
        elif node.startswith(PYTHON_NODES):
            if metric == "time to run Python workers":
                rec["python_run_ms"] += v
            elif metric == "time to initialize Python workers":
                rec["python_init_ms"] += v
            elif metric == "number of output rows":
                rec["python_rows"] += v
        elif node.startswith(JOIN_NODES) and metric == \
                "number of output rows":
            rec["join_rows_out"] += v
