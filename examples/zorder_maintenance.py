#!/usr/bin/env python
"""OPTIMIZE ZORDER maintenance loop — multi-dimensional data
skipping on a Delta table, kept clustered INCREMENTALLY:

  1. a 256x256 (x, y) grid lands shuffled across files — every file
     spans nearly the full range of BOTH columns, so a small box
     predicate has to open everything
  2. `optimize(zorder_by=['x','y'])` rewrites the table clustered on
     a quantile-binned Morton curve — per-file stats now cover
     narrow hyper-rectangles and the same box touches a few files
  3. new data keeps arriving; `optimize(zorder_by=...,
     incremental=True)` clusters ONLY the new files as their own
     run (the big clustered set is untouched — the 100 TB shape)
  4. file counts planned for the box predicate are printed at each
     stage, from the log's per-file stats alone

Run: python examples/zorder_maintenance.py
     (writes under .scratch/zorder_demo)
"""

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from python_minerva_etl_spark.session import get_spark  # noqa: E402
from python_minerva_etl_spark.storage.core import may_match  # noqa: E402
from python_minerva_etl_spark.storage.delta import (  # noqa: E402
    DeltaTable, add_bounds)

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "..", ".scratch", "zorder_demo")


def planned(dt, preds):
    snap = dt._replay()
    t_of = {"x": T.LongType(), "y": T.LongType(),
            "v": T.LongType()}
    m = [f for f in snap["files"]
         if may_match(add_bounds(f, [], t_of), preds)]
    return len(m), len(snap["files"])


def grid(spark, lo, hi):
    return spark.range(lo, hi).select(
        (F.col("id") % 256).alias("x"),
        ((F.col("id") / 256).cast("long") % 256).alias("y"),
        F.col("id").alias("v"))


def main():
    shutil.rmtree(BASE, ignore_errors=True)
    spark = get_spark(app_name="zorder-demo", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    p = os.path.join(BASE, "t")
    dt = DeltaTable(p)
    dt.write(spark, grid(spark, 0, 65536).repartition(16))

    box = [("x", ">=", 0), ("x", "<=", 15),
           ("y", ">=", 0), ("y", "<=", 15)]
    m, n = planned(dt, box)
    print(f"unclustered: 16x16 box plans {m}/{n} files")

    total = sum(f["size"] for f in dt._replay()["files"])
    dt.optimize(spark, target_file_bytes=max(1, total // 64),
                zorder_by=["x", "y"])
    m, n = planned(dt, box)
    print(f"after ZORDER(x,y): box plans {m}/{n} files")

    # steady-state: appends arrive, only THEY get clustered
    dt.write(spark, grid(spark, 65536, 98304).repartition(8))
    before = {f["path"] for f in dt._replay()["files"]}
    dt.optimize(spark, target_file_bytes=max(1, total // 64),
                zorder_by=["x", "y"], incremental=True)
    after = {f["path"] for f in dt._replay()["files"]}
    kept = len(before & after)
    m, n = planned(dt, box)
    print(f"incremental pass: {kept} clustered files untouched, "
          f"box plans {m}/{n} files")

    got = dt.read(spark, where=box).count()
    print(f"box rows: {got} (exact residual filter on top of "
          "pruned scan)")
    spark.stop()


if __name__ == "__main__":
    main()
