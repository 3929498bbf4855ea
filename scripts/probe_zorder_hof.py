#!/usr/bin/env python
"""Before/after probe for the r9 verdict #2 ("What's wrong" #1) fix:
`zorder_cluster` used to INLINE the bucket proxy expression inside
the boundary-filter HOF lambda —
``size(filter(<255 bounds>, b -> b <= (<proxy expr>)))`` — so for a
STRING zorder key the proxy
(``conv(hex(rpad(substring(CAST(col AS BINARY),1,4),4,X'00')),16,10)``)
re-evaluated once per boundary element, ~255x per row.  The fix binds
the proxy as a column before the filter (storage/core.py).

This probe times BOTH expression shapes on the same synthetic string
column (bucket assignment only — the stage the fix touches), plus an
end-to-end string-keyed OPTIMIZE ZORDER on a Delta table with the
fixed code, and prints one JSON line for PERF.md.

Usage: python scripts/probe_zorder_hof.py [n_rows]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def timed(fn, passes=3, warmup=1):
    for _ in range(warmup):
        fn()
    samples = []
    for _ in range(passes):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 3)


def main() -> None:
    from pyspark.sql import types as T

    from python_minerva_etl_spark.session import get_spark
    from python_minerva_etl_spark.storage.core import zorder_proxy_sql

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    spark = get_spark(app_name="probe-zorder-hof")
    spark.sparkContext.setLogLevel("ERROR")

    df = spark.range(n).select(
        F.concat(F.lit("key-"), F.col("id").cast("string"))
        .alias("k"),
        (F.col("id") % 997).alias("v")).cache()
    df.count()

    px = zorder_proxy_sql("k", T.StringType())
    bounds = "array(" + ", ".join(
        f"CAST({float(v)!r} AS DOUBLE)"
        for v in range(1, 256)) + ")"

    def inline():  # the r9 shape: proxy re-evaluated per element
        df.select(F.expr(
            f"size(filter({bounds}, b -> b <= ({px})))")
            .alias("zb")).write.format("noop").mode(
            "overwrite").save()

    def bound():   # the fix: proxy bound once per row
        (df.withColumn("__zp", F.expr(px))
         .select(F.expr(f"size(filter({bounds}, b -> b <= __zp))")
                 .alias("zb"))
         .write.format("noop").mode("overwrite").save())

    t_inline = timed(inline)
    t_bound = timed(bound)

    # end-to-end: string-keyed OPTIMIZE ZORDER with the fixed code
    from python_minerva_etl_spark.storage.delta import DeltaTable
    base = "/tmp/probe_zorder_hof_tbl"
    shutil.rmtree(base, ignore_errors=True)
    dt = DeltaTable(base)
    dt.write(spark, df.repartition(8))
    t0 = time.perf_counter()
    dt.optimize(spark, zorder_by=["k"],
                target_file_bytes=8 << 20)
    t_e2e = round(time.perf_counter() - t0, 3)
    shutil.rmtree(base, ignore_errors=True)

    print(json.dumps({
        "metric": "zorder_hof_probe", "rows": n,
        "bucket_stage_inline_sec": t_inline,
        "bucket_stage_bound_sec": t_bound,
        "speedup": round(t_inline / t_bound, 2),
        "optimize_zorder_string_e2e_sec": t_e2e}))


if __name__ == "__main__":
    main()
