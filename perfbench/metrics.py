"""Metric catalog and the arithmetic that fills it.

:data:`END_TO_END` and :data:`PER_LAYER` are the names and units the
benchmark reports (``--trace 0`` and ``--trace 1``); BENCHMARK.json
lists the same names, and tests/test_schema.py keeps the two in step.
Per-layer values are per-op means over the traced half of a traced
run unless the name says otherwise; a layer a workload never enters
reports 0.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

from spans import layer_of

END_TO_END = [
    ("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_s", "s"),
    ("op_tail_s", "s"), ("rows_per_s", "1/s"),
    ("freshness_p50_s", "s"), ("peak_rss_mb", "MB"),
]

OP_TYPES = [
    "agg_time_1h", "rollup_entity", "join_asof", "win_moving_avg",
    "text_token_stats", "text_c4_rules", "corpus.dedup_simhash",
    "corpus.text_token_stats", "ingest_batch",
]

LAYERS = ["queries", "registry", "plans", "ext", "sources", "storage",
          "operators", "exec"]

PER_LAYER = [
    ("session.start_s", "s"),
    ("queries.plan_s", "s"), ("queries.plan_share", "ratio"),
    ("queries.eager_jobs", "count"),
    ("registry.load_table_calls", "count"), ("registry.load_table_s", "s"),
    ("plans.footer_stats_calls", "count"), ("plans.footer_stats_s", "s"),
    ("ext.python_s", "s"), ("ext.python_rows", "count"),
    ("ext.kernel_ops", "ratio"), ("ext.jvm_ops", "ratio"),
    ("ext.spread_exchanges", "count"),
    ("ext.dedup.band_join_rows_in", "count"),
    ("ext.dedup.band_join_rows_out", "count"),
    ("ext.dedup.pairs_out", "count"), ("ext.dedup.useful_ratio", "ratio"),
    ("sources.avro.read_s", "s"),
    ("storage.snaptable.merge_s", "s"), ("storage.snaptable.changes_s", "s"),
    ("operators.apply_changes_s", "s"), ("operators.change_rows", "count"),
    ("storage.read_s", "s"), ("storage.write_tasks", "count"),
    ("storage.snaptable.pruned_share", "ratio"),
    ("storage.bytes_written", "bytes"), ("storage.files_written", "count"),
    ("storage.snaptable.files_live", "count"),
    ("storage.bytes_per_input_byte", "ratio"),
    ("exec.force_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"), ("exec.cpu_util", "ratio"),
    ("exec.gc_s", "s"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.scan_bytes", "bytes"), ("exec.codegen_s", "s"),
    *[(f"{layer}.self_s", "s") for layer in LAYERS],
    ("unattributed_s", "s"),
    ("trace.overhead_frac", "ratio"), ("trace.reconcile_max_err", "ratio"),
    ("trace.reconciled_share", "ratio"),
    *[(f"op.{op}.p50_s", "s") for op in OP_TYPES],
]

# A traced op type reconciles when its traced median wall time (the
# sum of its layers' self times plus unattributed time) is within this
# share of its untraced median from the same run.
RECONCILE_TOLERANCE = 0.25


def cores() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    live descendant: this process, the JVM and the Python workers."""
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            parent[int(pid)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def tail_percentile(values: list[float]) -> tuple[int, int, float]:
    """(p, n, value): the highest whole percentile with at least ten
    samples above it, the sample count, and the value there."""
    v = np.asarray(values, dtype=float)
    for p in range(99, 0, -1):
        q = float(np.percentile(v, p))
        if int((v > q).sum()) >= 10:
            return p, len(v), q
    return 0, len(v), float(v.min())


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(ops: list[dict], window: float, setup_s: float,
               peak_rss: float) -> dict:
    walls = [r["wall"] for r in ops]
    fresh = [r["fresh_s"] for r in ops if r.get("fresh_s") is not None]
    vals = {
        "setup_s": setup_s,
        "ops_per_s": len(ops) / window,
        "op_p50_s": statistics.median(walls),
        "op_tail_s": tail_percentile(walls)[2],
        "rows_per_s": sum(r["rows_in"] for r in ops) / sum(walls),
        "freshness_p50_s": statistics.median(fresh),
        "peak_rss_mb": peak_rss,
    }
    return {name: _m(vals[name], unit) for name, unit in END_TO_END}


def _span_stats(tracer, op_id: str):
    """Inclusive time and call count per span name (a span nested in
    one of the same name counts once), and self time per layer."""
    incl: dict[str, float] = {}
    calls: dict[str, int] = {}
    spans = [s for s in tracer.spans if s[4] == op_id]
    for s in spans:
        if s[3] >= 0 and tracer.spans[s[3]][0] == s[0]:
            continue
        incl[s[0]] = incl.get(s[0], 0.0) + (s[2] - s[1])
        calls[s[0]] = calls.get(s[0], 0) + 1
    layer_self: dict[str, float] = {}
    for name, t in tracer.self_times(op_id).items():
        layer = layer_of(name)
        layer_self[layer] = layer_self.get(layer, 0.0) + t
    return incl, calls, layer_self, spans


def per_layer(ops: list[dict], windows: dict, tracer, exec_recs: dict,
              session_s: float, wl) -> dict:
    a = [r for r in ops if r["phase"] == "a"]
    b = [r for r in ops if r["phase"] == "b"]
    n = max(len(b), 1)
    tot: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    kernel = jvm = 0
    dedup = {"rows_in": 0.0, "rows": 0.0, "pairs": 0.0, "n": 0}
    pruned: list[float] = []
    live, per_byte = [], []
    wall_b = sum(r["wall"] for r in b)
    for r in sorted(b, key=lambda r: r["t0"]):
        incl, calls, layer_self, spans = _span_stats(tracer, r["id"])
        ex = exec_recs.get(r["id"], {})
        tot["queries.plan_s"] += incl.get("queries.plan", 0.0)
        plan = [s for s in spans if s[0] == "queries.plan"]
        if plan:
            t0 = plan[0][1] + tracer.epoch_offset
            t1 = plan[0][2] + tracer.epoch_offset
            tot["queries.eager_jobs"] += sum(
                1 for t in ex.get("job_submit_times", []) if t0 <= t <= t1)
        tot["registry.load_table_calls"] += calls.get(
            "registry.load_table", 0)
        tot["registry.load_table_s"] += incl.get("registry.load_table", 0)
        tot["plans.footer_stats_calls"] += calls.get(
            "plans.footer_stats", 0)
        tot["plans.footer_stats_s"] += incl.get("plans.footer_stats", 0)
        tot["ext.python_s"] += ex.get("python_run_ms", 0) / 1e3
        tot["ext.python_rows"] += ex.get("python_rows", 0)
        tot["ext.spread_exchanges"] += ex.get("spread_exchanges", 0)
        if any(name.startswith("ext.") for name in incl):
            if ex.get("python_nodes", 0):
                kernel += 1
            else:
                jvm += 1
        if r["op"] == "corpus.dedup_simhash":
            dedup["rows_in"] += ex.get("join_rows_in", 0)
            dedup["rows"] += ex.get("join_rows_out", 0)
            dedup["pairs"] += r.get("rows_out", 0)
            dedup["n"] += 1
        tot["sources.avro.read_s"] += incl.get("sources.avro.read", 0)
        for key, span in (
                ("storage.snaptable.merge_s", "storage.snaptable.merge"),
                ("storage.snaptable.changes_s",
                 "storage.snaptable.changes"),
                ("operators.apply_changes_s", "operators.apply_changes"),
                ("storage.read_s", "storage.read"),
                ("exec.force_s", "exec.force")):
            tot[key] += incl.get(span, 0.0)
        tot["operators.change_rows"] += r.get("change_rows", 0)
        tot["storage.write_tasks"] += ex.get("write_tasks", 0)
        tot["storage.bytes_written"] += ex.get("bytes_written", 0)
        if "files_written" in r:
            tot["storage.files_written"] += r["files_written"]
            if r["pruned_share"] is not None:
                pruned.append(r["pruned_share"])
            live.append(r["snap_files_live"])
            per_byte.append(r["bytes_per_input_byte"])
        for key, field, scale in (
                ("exec.jobs", "jobs", 1), ("exec.stages", "stages", 1),
                ("exec.tasks", "tasks", 1),
                ("exec.task_run_s", "task_run_ms", 1e-3),
                ("exec.task_cpu_s", "task_cpu_ns", 1e-9),
                ("exec.gc_s", "gc_ms", 1e-3),
                ("exec.shuffle_read_bytes", "shuffle_read_bytes", 1),
                ("exec.shuffle_write_bytes", "shuffle_write_bytes", 1),
                ("exec.spill_bytes", "spill_bytes", 1),
                ("exec.scan_bytes", "scan_bytes", 1),
                ("exec.codegen_s", "codegen_ms", 1e-3)):
            tot[key] += ex.get(field, 0) * scale
        attributed = 0.0
        for layer in LAYERS:
            t = layer_self.get(layer, 0.0)
            tot[f"{layer}.self_s"] += t
            attributed += t
        tot["unattributed_s"] += r["wall"] - attributed
    vals = {k: v / n for k, v in tot.items()}
    vals["session.start_s"] = session_s
    vals["queries.plan_share"] = (tot["queries.plan_s"] / wall_b
                                  if wall_b else 0.0)
    vals["exec.cpu_util"] = (tot["exec.task_cpu_s"] / (wall_b * cores())
                             if wall_b else 0.0)
    vals["ext.kernel_ops"] = kernel / n
    vals["ext.jvm_ops"] = jvm / n
    if dedup["n"]:
        vals["ext.dedup.band_join_rows_in"] = dedup["rows_in"] / dedup["n"]
        vals["ext.dedup.band_join_rows_out"] = dedup["rows"] / dedup["n"]
        vals["ext.dedup.pairs_out"] = dedup["pairs"] / dedup["n"]
        # pairs found per row entering the band join: the Hamming
        # filter runs inside the join condition, so the join's own
        # output is already the pair set and its input is the work
        vals["ext.dedup.useful_ratio"] = (
            dedup["pairs"] / dedup["rows_in"] if dedup["rows_in"] else 0.0)
    vals["storage.snaptable.pruned_share"] = (
        statistics.mean(pruned) if pruned else 0.0)
    vals["storage.snaptable.files_live"] = (
        statistics.mean(live) if live else 0.0)
    vals["storage.bytes_per_input_byte"] = (
        statistics.mean(per_byte) if per_byte else 0.0)
    rate_a = len(a) / windows["a"]
    rate_b = len(b) / windows["b"]
    vals["trace.overhead_frac"] = 1.0 - rate_b / rate_a
    errs = []
    for op in wl.op_types:
        wa = [r["wall"] for r in a if r["op"] == op]
        wb = [r["wall"] for r in b if r["op"] == op]
        if wa and wb:
            base = statistics.median(wa)
            errs.append(abs(statistics.median(wb) - base) / base)
        if wa:
            vals[f"op.{op}.p50_s"] = statistics.median(wa)
    vals["trace.reconcile_max_err"] = max(errs) if errs else 0.0
    vals["trace.reconciled_share"] = (
        sum(e <= RECONCILE_TOLERANCE for e in errs) / len(errs)
        if errs else 0.0)
    return {name: _m(vals.get(name, 0.0), unit) for name, unit in PER_LAYER}
