"""The workloads: inputs, reference answers and the op loop.

A workload is prepared once per seed (inputs plus reference answers,
cached under the work directory) and then run as rounds: every op
type once per round, in a seeded order.  ``query_mix`` ops are
declared read-only queries; an ``ingest_5k`` op applies the next Avro
drop file to a growing table.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import check
import gen

# query_mix: read-only declared queries over two generated datasets.
#
# "tables" — the fixture tables at sf0.01: Minerva's time and entity
# rollups where fixed Spark-driver and planning costs dominate; their text
# input is one small file below the text-kernel crossover, so the JVM
# text forms run.  (One sf0.1 round of these takes ~9 s at local[4].)
#
# "corpus" — a 3k-document corpus in >= nproc files with near-duplicate
# cliques: the Arrow text kernels run, no spread repartition fires and
# the simhash band join sees clique volume.  The kernels switch on past
# spark.minerva.text.kernelMinInputBytes (16 MB by default); a 16 MB+
# corpus makes one round take longer than a run may, so the session
# lowers the crossover to 256 KB — above the ~60 KB sf0.01 documents
# file, below the ~0.65 MB corpus.
READ_SF = 0.01
CORPUS_DOCS = 3_000
QUERY_OPS = [  # (op name, declared query, dataset)
    ("agg_time_1h", "agg_time_1h", "tables"),
    ("rollup_entity", "rollup_entity", "tables"),
    ("join_asof", "join_asof", "tables"),
    ("win_moving_avg", "win_moving_avg", "tables"),
    ("text_token_stats", "text_token_stats", "tables"),
    ("text_c4_rules", "text_c4_rules", "tables"),
    ("corpus.dedup_simhash", "dedup_simhash", "corpus"),
    ("corpus.text_token_stats", "text_token_stats", "corpus"),
]
QUERY_CONF = {"spark.minerva.text.kernelMinInputBytes": str(256 << 10)}

# 30 drop files of ~5.75k rows: more than a run applies, so every
# op is a merge into a growing table.
INGEST_ROWS = 150_000
INGEST_BATCHES = 30
INGEST_KEY = ["user_id", "bucket"]


def _cached(path: str, build):
    """JSON cache of ``build()`` at ``path`` (built at most once per
    seed; a partial write never survives because of the rename)."""
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = build()
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(value, fh, indent=1)
    os.replace(tmp, path)
    return value


def signature(obs) -> dict:
    """An op's observed result signature: row count and an
    order-insensitive sum of 32-bit row hashes."""
    got = obs.get
    return {"rows": int(got["n"]), "hash": int(got["h"] or 0)}


def observe(df, name: str, **exprs):
    """``df`` with named metrics collected as it runs, and the
    Observation that holds them once an action has finished."""
    from pyspark.sql import Observation
    obs = Observation(name)
    return df.observe(obs, *[e.alias(k) for k, e in exprs.items()]), obs


def observed(df, name: str):
    """``df`` observing its result signature (see :func:`signature`)."""
    from pyspark.sql import functions as F
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).bitwiseAND(
        F.lit(0xFFFFFFFF))
    return observe(df, name, n=F.count(F.lit(1)), h=F.sum(h))


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    """``query_mix``: declared queries (``QUERY_OPS``), each forced
    with a noop write."""

    parallel_warmup = True

    def __init__(self, scale: float = 1.0):
        self.scale = scale
        self.conf = QUERY_CONF
        self.op_types = [op for op, _, _ in QUERY_OPS]
        self.warm_ops = self.op_types
        self.spec = {op: (query, data) for op, query, data in QUERY_OPS}
        self.ref_sig: dict[str, dict | None] = {}
        self.rows_in: dict[str, int] = {}

    # -- inputs ------------------------------------------------------
    def prepare(self, work: str, seed: int) -> dict:
        self.dirs = {d: os.path.join(work, d) for d in ("tables", "corpus")}
        marker = os.path.join(work, "inputs.json")
        if not os.path.exists(marker):
            for d in self.dirs.values():
                shutil.rmtree(d, ignore_errors=True)
        self.inputs = _cached(marker, lambda: self.generate(seed))
        self.oracle = _cached(os.path.join(work, "oracle.json"),
                              self.oracles)
        return self.inputs

    def generate(self, seed: int) -> dict:
        sf = READ_SF * self.scale
        corpus = gen.write_corpus(self.dirs["corpus"], seed,
                                  int(CORPUS_DOCS * self.scale),
                                  n_files=max(4, os.cpu_count() or 4))
        return {"tables": {"sf": sf, "rows": gen.write_tables(
                    self.dirs["tables"], seed, sf)},
                "corpus": corpus}

    def oracles(self) -> dict:
        from python_minerva_etl_spark.queries.catalog import all_queries
        queries = all_queries()
        out = {}
        for data, path in self.dirs.items():
            con = check.duckdb_connection(path)
            try:
                for op, (query, d) in self.spec.items():
                    if d == data and queries[query].oracle is not None:
                        out[op] = check.oracle_digest(
                            con, queries[query].oracle)
            finally:
                con.close()
        return out

    def table_rows(self, data: str) -> dict[str, int]:
        if data == "corpus":
            return {"documents": self.inputs["corpus"]["rows"]}
        return self.inputs["tables"]["rows"]

    # -- ops ---------------------------------------------------------
    def start(self, spark, work: str) -> None:
        from python_minerva_etl_spark.queries.catalog import all_queries
        self.spark = spark
        self.queries = all_queries()
        self.work = work

    def references(self) -> None:
        """``dedup_simhash`` has no SQL twin: its reference is an
        exhaustive pair search over the corpus fingerprints (cached
        per seed with the other references)."""
        path = os.path.join(self.work, "simhash_ref.json")

        def build():
            from python_minerva_etl_spark.ext.dedup import simhash64
            from python_minerva_etl_spark.registry import load_table
            docs = load_table(self.spark, self.dirs["corpus"], "documents")
            fp = simhash64(docs, "doc_id", "text").toPandas()
            pairs = check.simhash_pairs(fp["doc"].to_numpy(),
                                        fp["simhash"].to_numpy())
            return check.digest(pairs)
        self.oracle["corpus.dedup_simhash"] = _cached(path, build)

    def rounds(self, rng):
        while True:
            yield [self.op_types[i]
                   for i in rng.permutation(len(self.op_types))]

    def warm(self, op: str, tracer) -> dict:
        """First run of ``op``: collect its result and its observed
        signature; :meth:`verify` compares them with the reference."""
        query, data = self.spec[op]
        df = self.queries[query].spark(self.spark, self.dirs[data])
        files = df.inputFiles()
        self.rows_in[op] = sum(
            rows for table, rows in self.table_rows(data).items()
            if any(f"/{table}.parquet" in f for f in files))
        df, obs = observed(df, f"warm_{op}")
        pdf = df.toPandas()
        t0 = time.perf_counter()
        got = check.digest(pdf)
        return {"ok": True, "check_s": time.perf_counter() - t0,
                "digest": got, "sig": signature(obs), "detail": None}

    def finish(self) -> dict:
        """Nothing to check at the end: every op checked itself."""
        return {}

    def verify(self, op: str, res: dict) -> None:
        """Check a warmup result against the reference; only a correct
        result's signature becomes the one later ops must repeat."""
        want = self.oracle[op]
        res["ok"] = res["ok"] and res["digest"] == want
        if res["ok"]:
            self.ref_sig[op] = res["sig"]
        elif res["detail"] is None:
            res["detail"] = {"got": res["digest"], "want": want}

    def run(self, op: str, op_id: str, tracer) -> dict:
        t0 = time.perf_counter()
        query, data = self.spec[op]
        with tracer.span("queries.plan"):
            df = self.queries[query].spark(self.spark, self.dirs[data])
        t1 = time.perf_counter()
        df, obs = observed(df, op_id)
        with tracer.span("exec.force"):
            force(df)
        t2 = time.perf_counter()
        sig = signature(obs)
        return {"ok": sig == self.ref_sig.get(op), "wall": t2 - t0,
                "plan_s": t1 - t0, "force_s": t2 - t1, "fresh_s": t2 - t0,
                "rows_in": self.rows_in.get(op, 0),
                "rows_out": sig["rows"]}


class IngestWorkload:
    """Continuous ingest into one growing table set.  An op applies
    the next Avro drop file: read_avro, SnapTable.merge keyed on
    (user_id, hour bucket), then the change feed between the two
    snapshots applied to the maintained per-user aggregate, which is
    written out — the freshness point.  The checked warmup applies the
    first two batches (the create path and the merge path) and
    compares the tables in full; the end of the run compares them
    again."""

    conf: dict = {}
    op_types = ["ingest_batch"]
    warm_ops = ["ingest_batch", "ingest_batch"]
    parallel_warmup = False

    def __init__(self, scale: float = 1.0):
        self.scale = scale

    def prepare(self, work: str, seed: int) -> dict:
        self.batch_dir = os.path.join(work, "batches")
        self.frames_path = os.path.join(work, "batches.parquet")

        def build():
            import pandas as pd
            shutil.rmtree(self.batch_dir, ignore_errors=True)
            paths, props, frames = gen.write_ingest_batches(
                self.batch_dir, seed, int(INGEST_ROWS * self.scale),
                INGEST_BATCHES)
            pd.concat([f.assign(batch=b) for b, f in enumerate(frames)]
                      ).to_parquet(self.frames_path)
            return {"batches": props,
                    "paths": [os.path.basename(p) for p in paths],
                    "signatures": [sig for _, sig in
                                   check.last_wins_states(frames)]}
        self.inputs = _cached(os.path.join(work, "inputs.json"), build)
        props = self.inputs["batches"]
        return {"batches": len(props),
                "rows_per_batch": props[1]["rows"],
                "updated_key_share_p50": statistics.median(
                    p["updated_key_share"] for p in props[1:]),
                "first_batches": props[:3]}

    def start(self, spark, work: str) -> None:
        self.spark = spark
        self.root = os.path.join(work, "tables")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self.applied = 0
        self.version = None
        self.stored = None
        self.last_files = 0

    def references(self) -> None:
        """The last-wins references were built with the inputs."""

    def verify(self, op: str, res: dict) -> None:
        """The warmup checked the tables itself."""

    def rounds(self, rng):
        while self.applied < len(self.inputs["paths"]):
            yield list(self.op_types)

    def warm(self, op: str, tracer) -> dict:
        res = self.run(op, f"warm{self.applied}", tracer)
        out = {"ok": res["ok"], "check_s": 0.0, "detail": None}
        if self.applied == len(self.warm_ops):
            t0 = time.perf_counter()
            out["detail"] = self.check_state()
            out["ok"] = out["ok"] and not out["detail"]
            out["check_s"] = time.perf_counter() - t0
        return out

    def finish(self) -> dict:
        """End-of-run check; a wrong final state fails every op of the
        window, since each of them built on it."""
        return self.check_state()

    def check_state(self) -> dict:
        """The SnapTable and the maintained aggregate against the
        last-wins state recomputed from the batches applied so far."""
        import pandas as pd
        from pyspark.sql import functions as F

        from python_minerva_etl_spark.storage.snaptable import SnapTable
        frames = pd.read_parquet(self.frames_path)
        frames = [g.drop(columns="batch") for _, g in
                  frames[frames["batch"] < self.applied].groupby("batch")]
        state = None
        for state, _ in check.last_wins_states(frames):
            pass
        bad = {}
        snap = SnapTable(self._path("snap")).read(self.spark).select(
            "user_id", F.unix_micros("bucket").alias("bucket_us"),
            "event_id", "value")
        got = check.digest(snap.toPandas())
        if got != check.digest(state):
            bad["snaptable"] = got
        agg = self.stored.select(
            "user_id", "samples",
            F.col("sum_value").cast("double").alias("sum_value"))
        got = check.digest(agg.toPandas())
        if got != check.digest(check.user_aggregate(state)):
            bad["aggregate"] = got
        return bad

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def run(self, op: str, op_id: str, tracer) -> dict:
        from decimal import Decimal

        from pyspark.sql import functions as F

        from python_minerva_etl_spark.operators.materialization import \
            apply_changes_to_agg
        from python_minerva_etl_spark.sources.avro import read_avro
        from python_minerva_etl_spark.storage.snaptable import SnapTable
        b = self.applied
        spark = self.spark
        path = os.path.join(self.batch_dir, self.inputs["paths"][b])
        t0 = time.perf_counter()
        rows = read_avro(spark, path).select(
            "user_id",
            F.date_trunc("hour", F.timestamp_micros("ts")).alias("bucket"),
            "event_id", "value")
        snap = SnapTable(self._path("snap"))
        v = snap.merge(spark, rows, INGEST_KEY, "event_id")
        if self.version is None:
            changes = snap.read(spark, v).withColumn(
                "_change_type", F.lit("insert"))
            stored = spark.createDataFrame(
                [], "user_id bigint, samples bigint, "
                    "sum_value decimal(28,4)")
        else:
            changes = snap.changes(spark, self.version, v)
            stored = self.stored
        changes, obs_changes = observe(changes, f"{op_id}-changes",
                                       n=F.count(F.lit(1)))
        agg, obs = observe(
            apply_changes_to_agg(stored, changes, ["user_id"], "value"),
            op_id, groups=F.count(F.lit(1)), samples=F.sum("samples"),
            sum_value=F.sum("sum_value").cast("string"))
        agg_path = os.path.join(self.root, "agg", f"v{v}")
        with tracer.span("exec.force"):
            agg.write.parquet(agg_path)
        self.stored = spark.read.parquet(agg_path)
        t1 = time.perf_counter()
        prev, self.version, self.applied = self.version, v, b + 1
        got, want = obs.get, self.inputs["signatures"][b]
        rec = {"ok": (int(got["groups"]) == want["groups"]
                      and int(got["samples"]) == want["samples"]
                      and Decimal(got["sum_value"])
                      == Decimal(want["sum_value"])),
               "wall": t1 - t0, "plan_s": 0.0, "force_s": 0.0,
               "fresh_s": t1 - t0,
               "rows_in": self.inputs["batches"][b]["rows"],
               "change_rows": int(obs_changes.get["n"])}
        if getattr(tracer, "spans", None) is not None:
            rec.update(self._storage_stats(snap, prev, v))
        return rec

    def _storage_stats(self, snap, prev: int | None, v: int) -> dict:
        """Storage counts after a traced op (outside its timing): the
        share of SnapTable files the merge carried over untouched, and
        the files and bytes now under the table roots."""
        before = {e["path"] for e in snap.files(prev)} if prev else set()
        after = {e["path"] for e in snap.files(v)}
        files = size = 0
        for dirpath, _, names in os.walk(self.root):
            files += len(names)
            size += sum(os.path.getsize(os.path.join(dirpath, n))
                        for n in names)
        written, self.last_files = files - self.last_files, files
        input_bytes = sum(p["bytes"]
                          for p in self.inputs["batches"][:self.applied])
        return {"pruned_share": (len(before & after) / len(before)
                                 if before else None),
                "files_written": written, "snap_files_live": len(after),
                "bytes_per_input_byte": size / input_bytes}


# name -> factory(scale); scale < 1 shrinks every input (smoke tests)
WORKLOADS = {"query_mix": QueryWorkload, "ingest_5k": IngestWorkload}
