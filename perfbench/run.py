#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload query_mix --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout.  One process, one Spark session at
``local[<cores>]``, one closed-loop client.  Inputs are generated
from ``--seed`` and cached with their reference answers under
``perfbench/.work/<workload>/seed<n>/``; every op's result is checked
against them.  The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; earlier lines carry
the run record (input properties, yardstick, tail percentile).

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
same loop twice — first untraced, then with spans around the
package's entry points — under an uncompressed Spark event log, and
reports the per-layer metrics (see README.md); spans and the event
log are kept under the run directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "python_minerva_etl_spark")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402


class NullTracer:
    op = None

    def span(self, name):
        return contextlib.nullcontext()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="inputs at a tenth of the size, own work dir")
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Everything a run writes stays under the work directory, and
    Python workers find the package wherever the run starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(M.cores())
    # one client on a shared box: a 2 GB Spark driver heap fits every
    # workload here with room to spare
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(run_dir: str, conf: dict, event_log: bool):
    from python_minerva_etl_spark.session import get_spark
    tmp = os.path.join(run_dir, "tmp")
    extra = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp}",
        **conf,
    }
    if event_log:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + log_dir,
                      "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{M.cores()}]",
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM (and
    with it the Python workers it started) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def yardstick(spark) -> float:
    """The repository's fixed synthetic Spark job, once — recorded as
    run metadata only (no gate, no waiting)."""
    from benchgate import rebaseline
    return rebaseline(spark, warmups=0, measured=1)


def run_loop(wl, spark, rng, seconds: float, tracer, ops: list,
             phase: str) -> float:
    """Closed loop, whole rounds, until ``seconds`` have passed.
    Returns the measured wall time."""
    sc = spark.sparkContext
    t_start = time.perf_counter()
    for n_round, round_ops in enumerate(wl.rounds(rng)):
        for op in round_ops:
            op_id = f"{phase}{n_round}-{op}"
            sc.setJobGroup(op_id, op)
            tracer.op = op_id
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    rec = wl.run(op, op_id, tracer)
            except Exception as exc:  # a failed op is counted, not fatal
                rec = {"ok": False, "error": repr(exc)[:500],
                       "wall": time.perf_counter() - t0, "fresh_s": None,
                       "rows_in": 0}
            rec.update({"op": op, "id": op_id, "phase": phase,
                        "t0": t0, "t1": time.perf_counter()})
            ops.append(rec)
            if not rec["ok"]:
                print(f"# FAILED op {op_id}: {rec.get('error', 'mismatch')}",
                      file=sys.stderr)
        if time.perf_counter() - t_start >= seconds:
            break
    sc.setJobGroup("idle", "idle")
    tracer.op = None
    return time.perf_counter() - t_start


def warmup(wl, spark, tracer) -> tuple[dict, float]:
    """One checked run of every op type.  Independent op types warm in
    parallel threads — their first runs are dominated by single-threaded
    planning and code generation in the Spark driver — and a dependent chain
    (the ingest batches) runs in order.  Returns the per-op results and
    the time spent in the benchmark's own checks, which set-up time
    excludes when the warmup ran in order."""
    from concurrent.futures import ThreadPoolExecutor

    def one(op: str) -> dict:
        spark.sparkContext.setJobGroup(f"warm-{op}", op)
        t = time.perf_counter()
        try:
            res = wl.warm(op, tracer)
        except Exception as exc:  # reported as a failed op
            res = {"ok": False, "check_s": 0.0, "detail": repr(exc)[:500]}
        res["wall"] = time.perf_counter() - t - res["check_s"]
        return res

    if wl.parallel_warmup:
        with ThreadPoolExecutor(M.cores()) as pool:
            results = list(pool.map(one, wl.warm_ops))
        own = 0.0
    else:
        results = [one(op) for op in wl.warm_ops]
        own = sum(r["check_s"] for r in results)
    return {f"{i}:{op}": r for i, (op, r) in
            enumerate(zip(wl.warm_ops, results))}, own


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: package not found at {PKG_DIR}",
              file=sys.stderr)
        return 2
    import numpy as np

    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(workloads.WORKLOADS)})", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](0.1 if args.smoke else 1.0)
    work = os.path.join(WORK, "smoke") if args.smoke else WORK
    seed_dir = os.path.join(work, args.workload, f"seed{args.seed}")
    run_dir = os.path.join(work, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(seed_dir, exist_ok=True)
    prepare_env(run_dir)

    own_s = 0.0  # the benchmark's own generation and checking
    t = time.perf_counter()
    inputs = wl.prepare(seed_dir, args.seed)
    own_s += time.perf_counter() - t

    spark, session_s = start_session(run_dir, wl.conf, args.trace == 1)
    wl.start(spark, seed_dir)

    null = NullTracer()
    warm, warm_own_s = warmup(wl, spark, null)
    own_s += warm_own_s
    # references that need a (by now warm) session, then the checks
    t = time.perf_counter()
    wl.references()
    for key, res in warm.items():
        wl.verify(key.split(":", 1)[1], res)
        if not res["ok"]:
            print(f"# FAILED warmup {key}: {res['detail']}",
                  file=sys.stderr)
    own_s += time.perf_counter() - t
    # a second, checked round in the measured order: the JIT is still
    # compiling after the first, and the first measured round ran
    # ~20% slower than the second without it
    rng = np.random.default_rng([args.seed, 7])
    ops: list[dict] = []
    run_loop(wl, spark, rng, 0.0, null, ops, "w")
    setup_s = time.perf_counter() - T_PROCESS - own_s
    attempted = len(warm)
    failed = sum(1 for r in warm.values() if not r["ok"])
    yard_start = yardstick(spark)

    if args.trace == 0:
        window = run_loop(wl, spark, rng, args.seconds, null, ops, "m")
        windows = {"m": window}
        tracer = None
    else:
        import spans as T
        half = args.seconds / 2
        windows = {"a": run_loop(wl, spark, rng, half, null, ops, "a")}
        tracer = T.Tracer()
        undo = T.install(tracer)
        windows["b"] = run_loop(wl, spark, rng, half, tracer, ops, "b")
        T.uninstall(undo)
    peak_rss = M.peak_rss_mb()
    yard_end = yardstick(spark)
    bad_end = wl.finish()
    if bad_end:
        print(f"# FAILED end-of-run check: {bad_end}", file=sys.stderr)
        for r in ops:
            r["ok"] = False
    stop_session(spark)

    attempted += len(ops)
    failed += sum(1 for r in ops if not r["ok"])
    ops = [r for r in ops if r["phase"] != "w"]
    record = {
        "workload": args.workload, "seed": args.seed,
        "cores": M.cores(), "master": f"local[{M.cores()}]",
        "inputs": inputs, "session_start_s": session_s,
        "yardstick_s": {"start": yard_start, "end": yard_end},
        "warmup": {op: {"ok": r["ok"], "wall": r["wall"]}
                   for op, r in warm.items()},
        "failed_warmup": {op: r["detail"] for op, r in warm.items()
                          if not r["ok"]},
        "failed_op_frac": failed / attempted,
        "end_check": bad_end or "ok",
    }
    if args.trace == 0:
        result = M.end_to_end(ops, windows["m"], setup_s, peak_rss)
        tail = M.tail_percentile([r["wall"] for r in ops])
        record["op_tail"] = {"percentile": tail[0], "samples": tail[1]}
        print(f"# op_tail_s is p{tail[0]} over {tail[1]} ops")
    else:
        import eventlog
        tracer.write(os.path.join(run_dir, "spans.jsonl"))
        exec_recs = eventlog.parse(os.path.join(run_dir, "eventlog"))
        result = M.per_layer(ops, windows, tracer, exec_recs, session_s,
                             wl)
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump({"record": record, "ops": ops}, fh, indent=1,
                  default=str)
    print("# run " + json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
