"""Iceberg maintenance ops: compact_iceberg (rewrite_data_files — a
REPLACE snapshot of delete-free files) and expire_snapshots
(retention by count + physical deletion of files only expired
snapshots reach)."""

from __future__ import annotations

import os

import pytest

from python_minerva_etl_spark.storage.iceberg import (IcebergTable,
                                                      read_iceberg)
from python_minerva_etl_spark.storage.iceberg_write import (
    compact_iceberg, delete_iceberg, expire_snapshots, write_iceberg)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _current_files(p):
    t = IcebergTable(p)
    md = t.metadata()
    return t._data_files(t._snapshot(md, None))


def test_compact_binpacks_appends(spark, tmp_path):
    p = str(tmp_path / "t")
    for lo in (0, 10, 20):
        write_iceberg(spark, spark.range(lo, lo + 10).toDF("id"), p)
    before, _ = _current_files(p)
    assert len(before) >= 3
    sid = compact_iceberg(spark, p)
    assert sid is not None
    after, deletes = _current_files(p)
    assert len(after) < len(before) and not deletes
    got = read_iceberg(spark, p)
    assert _rows(got) == [(i,) for i in range(30)]
    # prior snapshots survive until expiry: time travel still works
    md = IcebergTable(p).metadata()
    old = [s["snapshot-id"] for s in md["snapshots"]
           if s["snapshot-id"] != sid]
    assert old
    assert read_iceberg(spark, p, snapshot_id=old[-1]).count() == 30
    assert md["snapshots"][-1]["summary"]["operation"] == "replace"


def test_compact_absorbs_delete_files(spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.range(0, 50).toDF("id"), p)
    delete_iceberg(spark, p, [("id", "<", 10)])
    _, deletes = _current_files(p)
    assert deletes
    assert compact_iceberg(spark, p) is not None
    data, deletes = _current_files(p)
    assert not deletes
    got = read_iceberg(spark, p)
    assert got.count() == 40
    assert got.filter("id < 10").count() == 0


def test_compact_noop_single_clean_file(spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.range(0, 5).toDF("id").coalesce(1), p)
    assert compact_iceberg(spark, p) is None


def test_compact_partitioned_keeps_pruning(spark, tmp_path):
    p = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")],
                                "id long, k string")
    df2 = spark.createDataFrame([(3, "a"), (4, "b")],
                                "id long, k string")
    write_iceberg(spark, df1, p, partition_by="k")
    write_iceberg(spark, df2, p, partition_by="k")
    assert compact_iceberg(spark, p) is not None
    assert _rows(read_iceberg(spark, p)) == [
        (1, "a"), (2, "b"), (3, "a"), (4, "b")]
    # predicate pruning on the partition column still works
    assert _rows(read_iceberg(spark, p, where=[("k", "=", "a")])) == [
        (1, "a"), (3, "a")]


def test_expire_keeps_reachable_files(spark, tmp_path):
    """Fast appends carry prior manifests into the current snapshot,
    so expiring old snapshots must delete NOTHING the current one
    reaches."""
    p = str(tmp_path / "t")
    for lo in (0, 10, 20):
        write_iceberg(spark, spark.range(lo, lo + 10).toDF("id"), p)
    md = IcebergTable(p).metadata()
    assert len(md["snapshots"]) == 3
    old_ids = [s["snapshot-id"] for s in md["snapshots"][:-1]]
    deleted = expire_snapshots(p, keep_last=1)
    # only the expired snapshots' manifest-LIST files go (the kept
    # snapshot references their manifests and data, not their lists)
    assert all(os.path.basename(d).startswith("snap-")
               for d in deleted) and len(deleted) == 2
    md = IcebergTable(p).metadata()
    assert [s["snapshot-id"] for s in md["snapshots"]] == [3]
    assert read_iceberg(spark, p).count() == 30
    with pytest.raises(ValueError, match="not in metadata"):
        read_iceberg(spark, p, snapshot_id=old_ids[0])


def test_expire_after_compact_deletes_old_files(spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.range(0, 20).toDF("id"), p)
    write_iceberg(spark, spark.range(20, 40).toDF("id"), p)
    delete_iceberg(spark, p, [("id", "<", 5)])
    old_data = {os.path.abspath(f["file_path"])
                for f in _current_files(p)[0]}
    old_deletes = {os.path.abspath(f["file_path"])
                   for f in _current_files(p)[1]}
    compact_iceberg(spark, p)
    deleted = set(expire_snapshots(p, keep_last=1))
    # every pre-compaction data AND delete file became unreachable
    assert old_data <= deleted
    assert old_deletes <= deleted
    for f in old_data | old_deletes:
        assert not os.path.exists(f)
    got = read_iceberg(spark, p)
    assert got.count() == 35
    assert got.filter("id < 5").count() == 0
    # the new current snapshot's files are untouched
    data, deletes = _current_files(p)
    assert data and not deletes
    for f in data:
        assert os.path.exists(f["file_path"])


def test_expire_validates_keep_last(spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.range(0, 3).toDF("id"), p)
    with pytest.raises(ValueError, match="keep_last"):
        expire_snapshots(p, keep_last=0)
    assert expire_snapshots(p, keep_last=1) == []  # nothing to expire


# ------------------------------------------ compaction policy (r8)


def test_maybe_compact_thresholds(spark, tmp_path):
    """Policy mode: no-op below both bounds; compacts (and clears
    every delete file) once the delete-FILE count bound is crossed;
    content parity throughout."""
    from python_minerva_etl_spark.storage.iceberg_write import (
        compaction_stats, equality_delete_iceberg,
        maybe_compact_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"), p)
    for k in range(3):
        equality_delete_iceberg(spark, p, spark.createDataFrame(
            [(k * 10 + j,) for j in range(3)], "id long")
            .coalesce(1))
    st = compaction_stats(p)
    assert st["delete_files"] == 3
    # below both bounds: no-op
    assert maybe_compact_iceberg(spark, p, max_delete_files=8,
                                 max_deleted_ratio=0.5) is None
    assert compaction_stats(p)["delete_files"] == 3
    # delete-file bound crossed: compacts, read state clean again
    sid = maybe_compact_iceberg(spark, p, max_delete_files=2,
                                max_deleted_ratio=0.5)
    assert sid is not None
    st = compaction_stats(p)
    assert st["delete_files"] == 0
    got = sorted(r.id for r in read_iceberg(spark, p).collect())
    assert got == [i for i in range(100)
                   if i not in {j for k in range(3)
                                for j in range(k * 10, k * 10 + 3)}]


def test_maybe_compact_ratio_trigger(spark, tmp_path):
    """The deleted-row-ratio bound triggers independently of the
    file-count bound (position deletes: record_count is exact)."""
    from python_minerva_etl_spark.storage.iceberg_write import (
        compaction_stats, delete_iceberg, maybe_compact_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "id long, v double"), p)
    delete_iceberg(spark, p, [("id", "<", 20)])  # 40% masked
    assert compaction_stats(p)["deleted_ratio"] > 0.3
    nfiles = compaction_stats(p)["delete_files"]
    assert maybe_compact_iceberg(spark, p,
                                 max_delete_files=nfiles,
                                 max_deleted_ratio=0.5) is None
    sid = maybe_compact_iceberg(spark, p,
                                max_delete_files=nfiles,
                                max_deleted_ratio=0.3)
    assert sid is not None
    assert compaction_stats(p)["deleted_ratio"] == 0.0
    assert read_iceberg(spark, p).count() == 30


def test_policy_cadence_bounds_delete_files(spark, tmp_path):
    """The CDC-upsert cadence: an equality-delete epoch per
    micro-batch, the policy called after each — the live delete-file
    count stays bounded by the policy (never grows past
    max_delete_files + 1) and parity holds after every epoch."""
    from python_minerva_etl_spark.storage.iceberg_write import (
        compaction_stats, equality_delete_iceberg,
        maybe_compact_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(i, float(i)) for i in range(60)], "id long, v double"), p)
    dead: set[int] = set()
    for epoch in range(6):
        keys = [epoch * 9 + j for j in range(2)]
        dead.update(keys)
        equality_delete_iceberg(spark, p, spark.createDataFrame(
            [(k,) for k in keys], "id long").coalesce(1))
        maybe_compact_iceberg(spark, p, max_delete_files=2,
                              max_deleted_ratio=1.0)
        assert compaction_stats(p)["delete_files"] <= 3
        got = {r.id for r in read_iceberg(spark, p).collect()}
        assert got == set(range(60)) - dead


def test_policy_from_foreach_batch_sink(spark, tmp_path):
    """maybe_compact_iceberg as the foreachBatch cadence hook: a
    streaming query applies each micro-batch of keys as an equality
    delete then runs the policy — after the run the table is
    compacted and correct."""
    from python_minerva_etl_spark.storage.iceberg_write import (
        compaction_stats, equality_delete_iceberg,
        maybe_compact_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id long, v double"), p)
    # a keys stream: one parquet file per micro-batch
    src = str(tmp_path / "keys")
    os.makedirs(src)
    spark.createDataFrame([(3,), (7,)], "id long") \
        .coalesce(1).write.mode("append").parquet(src)

    def apply_batch(batch_df, batch_id):
        equality_delete_iceberg(spark, p, batch_df)
        maybe_compact_iceberg(spark, p, max_delete_files=0,
                              max_deleted_ratio=1.0)

    q = (spark.readStream.schema("id long").parquet(src)
         .writeStream.foreachBatch(apply_batch)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert compaction_stats(p)["delete_files"] == 0
    got = sorted(r.id for r in read_iceberg(spark, p).collect())
    assert got == [i for i in range(40) if i not in (3, 7)]


def test_compact_zorder_prunes_every_dimension(spark, tmp_path):
    """compact_iceberg(zorder_by=['x','y']): after the Morton
    clustering rewrite, manifest lower/upper bounds prune range
    predicates on EITHER dimension; proven never-opened by deleting
    the excluded parquet files before the filtered read."""
    from pyspark.sql import functions as F

    from python_minerva_etl_spark.storage.iceberg import (
        _file_may_match, _localize)

    p = str(tmp_path / "t")
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        ((F.col("id") / 64).cast("long") % 64).alias("y"),
        F.col("id").alias("v"))
    write_iceberg(spark, df.repartition(8), p)

    t = IcebergTable(p)
    expected = sorted((r.x, r.y, r.v) for r in t.read(spark).collect()
                      if r.x <= 7 and r.y <= 7)
    total = sum(int(f["file_size_in_bytes"])
                for f in t._data_files(t._snapshot(t.metadata(),
                                                   None))[0])
    sid = compact_iceberg(spark, p, zorder_by=["x", "y"],
                          target_file_bytes=max(1, total // 16))
    assert sid is not None

    md = t.metadata()
    ice_schema = t._current_schema(md)
    field_id = {f["name"]: f["id"] for f in ice_schema["fields"]}
    field_type = {f["name"]: f["type"]
                  for f in ice_schema["fields"]}
    files, dels = t._data_files(t._snapshot(md, None))
    assert not dels and len(files) >= 8

    box = [("x", ">=", 0), ("x", "<=", 7),
           ("y", ">=", 0), ("y", "<=", 7)]
    y_only = [("y", ">=", 0), ("y", "<=", 7)]
    match_y = [f for f in files
               if _file_may_match(f, y_only, field_id, field_type)]
    match_box = [f for f in files
                 if _file_may_match(f, box, field_id, field_type)]
    assert len(match_y) < len(files)      # y alone prunes
    assert len(match_box) < len(files) // 2

    keep = {f["file_path"] for f in match_box}
    for f in files:
        if f["file_path"] not in keep:
            os.remove(_localize(f["file_path"]))
    got = sorted((r.x, r.y, r.v)
                 for r in t.read(spark, where=box).collect())
    assert got == expected

def test_compact_zorder_partitioned(spark, tmp_path):
    """Partitioned specs cluster PER PARTITION VALUE: every output
    file carries exactly one partition value, manifest bounds prune
    a 2-D box within each partition (never-opened proof: the
    excluded parquet is deleted before the filtered read), partition
    pruning itself still works, and incremental mode clusters only
    the new files while the clustered set's parquet is untouched."""
    import os as _os

    from pyspark.sql import functions as F

    from python_minerva_etl_spark.storage.iceberg import (
        _file_may_match, _localize)

    p = str(tmp_path / "t")

    def grid(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 64).alias("x"),
            ((F.col("id") / 64).cast("long") % 64).alias("y"),
            (F.col("id") % 2).alias("pt"),
            F.col("id").alias("v"))

    write_iceberg(spark, grid(0, 4096).repartition(8), p,
                  partition_by="pt")
    t = IcebergTable(p)
    expected = sorted(
        (r.x, r.y, r.pt, r.v) for r in t.read(spark).collect()
        if r.x <= 7 and r.y <= 7)
    total = sum(int(f["file_size_in_bytes"]) for f in
                t._data_files(t._snapshot(t.metadata(), None))[0])
    sid = compact_iceberg(spark, p, zorder_by=["x", "y"],
                          target_file_bytes=max(1, total // 16))
    assert sid is not None

    md = t.metadata()
    sch = t._current_schema(md)
    fid = {f["name"]: f["id"] for f in sch["fields"]}
    fty = {f["name"]: f["type"] for f in sch["fields"]}
    files, dels = t._data_files(t._snapshot(md, None))
    assert not dels and len(files) >= 8
    # every rewritten file carries exactly one partition value
    assert all(f.get("partition", {}).get("pt") in (0, 1)
               for f in files)
    both = {f["partition"]["pt"] for f in files}
    assert both == {0, 1}

    # partition pruning still works after the clustering rewrite
    pt_files = [f for f in files
                if _file_may_match(f, [("pt", "=", 0)], fid, fty)]
    assert 0 < len(pt_files) < len(files)
    assert all(f["partition"]["pt"] == 0 for f in pt_files)

    # the 2-D box prunes within partitions; never-opened proof
    box = [("x", ">=", 0), ("x", "<=", 7),
           ("y", ">=", 0), ("y", "<=", 7)]
    match_box = [f for f in files
                 if _file_may_match(f, box, fid, fty)]
    assert len(match_box) < len(files) // 2
    keep = {f["file_path"] for f in match_box}
    for f in files:
        if f["file_path"] not in keep:
            os.remove(_localize(f["file_path"]))
    got = sorted((r.x, r.y, r.pt, r.v)
                 for r in t.read(spark, where=box).collect())
    assert got == expected

    # incremental on the partitioned spec: only the new run rewrites
    p2 = str(tmp_path / "t2")
    write_iceberg(spark, grid(0, 4096).repartition(8), p2,
                  partition_by="pt")
    t2 = IcebergTable(p2)
    total2 = sum(int(f["file_size_in_bytes"]) for f in
                 t2._data_files(t2._snapshot(t2.metadata(),
                                             None))[0])
    assert compact_iceberg(spark, p2, zorder_by=["x", "y"],
                           target_file_bytes=max(1, total2 // 8))
    clustered = {f["file_path"]: _os.path.getmtime(
        _localize(f["file_path"]))
        for f in t2._data_files(t2._snapshot(t2.metadata(),
                                             None))[0]}
    write_iceberg(spark, grid(4096, 8192).repartition(4), p2,
                  partition_by="pt")
    assert compact_iceberg(spark, p2, zorder_by=["x", "y"],
                           target_file_bytes=max(1, total2 // 8),
                           incremental=True) is not None
    files2, _ = t2._data_files(t2._snapshot(t2.metadata(), None))
    for fp, mt in clustered.items():
        assert _os.path.getmtime(_localize(fp)) == mt
        assert fp in {f["file_path"] for f in files2}
    assert all(f.get("partition", {}).get("pt") in (0, 1)
               for f in files2)
    got2 = sorted(r.v for r in t2.read(spark).collect())
    assert got2 == list(range(8192))
    # drained
    assert compact_iceberg(spark, p2, zorder_by=["x", "y"],
                           incremental=True) is None


def test_compact_zorder_incremental(spark, tmp_path):
    """Incremental clustering: files appended after the marker
    snapshot rewrite as their own run; the clustered set's parquet
    is untouched on disk (mtime), its manifests are rewritten
    schema-preservingly (stats/bounds survive -> pruning still
    works on BOTH runs), deletes stay correct, a drained table
    no-ops, and an intervening plain compaction invalidates the
    marker (falls back to full)."""
    import os as _os

    from pyspark.sql import functions as F

    from python_minerva_etl_spark.storage.iceberg import (
        _file_may_match, _localize)

    p = str(tmp_path / "t")

    def grid(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 64).alias("x"),
            ((F.col("id") / 64).cast("long") % 64).alias("y"),
            F.col("id").alias("v"))

    write_iceberg(spark, grid(0, 4096).repartition(8), p)
    t = IcebergTable(p)
    total = sum(int(f["file_size_in_bytes"]) for f in
                t._data_files(t._snapshot(t.metadata(), None))[0])
    assert compact_iceberg(spark, p, zorder_by=["x", "y"],
                           target_file_bytes=max(1, total // 8))
    clustered = {f["file_path"]: _os.path.getmtime(
        _localize(f["file_path"]))
        for f in t._data_files(t._snapshot(t.metadata(), None))[0]}

    # appended run + a delete against the OLD clustered set
    write_iceberg(spark, grid(4096, 8192).repartition(4), p)
    delete_iceberg(spark, p, [("v", "<", 10)])
    sid = compact_iceberg(spark, p, zorder_by=["x", "y"],
                          target_file_bytes=max(1, total // 8),
                          incremental=True)
    assert sid is not None
    files, dels = t._data_files(t._snapshot(t.metadata(), None))
    # old clustered parquet untouched on disk
    for fp, mt in clustered.items():
        assert _os.path.getmtime(_localize(fp)) == mt
        assert fp in {f["file_path"] for f in files}
    # the delete against the old set still applies
    assert dels
    got = sorted(r.v for r in t.read(spark).collect())
    assert got == list(range(10, 8192))

    # pruning works across both runs (bounds survived the
    # schema-preserving manifest rewrite)
    md = t.metadata()
    sch = t._current_schema(md)
    fid = {f["name"]: f["id"] for f in sch["fields"]}
    fty = {f["name"]: f["type"] for f in sch["fields"]}
    box = [("x", ">=", 0), ("x", "<=", 7),
           ("y", ">=", 0), ("y", "<=", 7)]
    match = [f for f in files if _file_may_match(f, box, fid, fty)]
    assert len(match) < len(files)

    # drained: nothing new since the incremental pass
    assert compact_iceberg(spark, p, zorder_by=["x", "y"],
                           incremental=True) is None

    # a plain compaction wipes the marker: incremental falls back
    # to the FULL rewrite (every file fresh)
    assert compact_iceberg(spark, p) is not None
    before = {f["file_path"] for f in
              t._data_files(t._snapshot(t.metadata(), None))[0]}
    assert compact_iceberg(spark, p, zorder_by=["x", "y"],
                           target_file_bytes=max(1, total // 8),
                           incremental=True) is not None
    after = {f["file_path"] for f in
             t._data_files(t._snapshot(t.metadata(), None))[0]}
    assert not (before & after)          # full rewrite, no carry

    with pytest.raises(ValueError, match="needs zorder_by"):
        compact_iceberg(spark, p, incremental=True)


def test_maybe_zorder_iceberg_policy(spark, tmp_path):
    """Manifest-stats-only trigger: below bounds -> None (no new
    snapshot); over the file bound -> incremental clustering fires
    and resets the debt; no marker counts the whole table as debt."""
    from pyspark.sql import functions as F

    from python_minerva_etl_spark.storage.iceberg_write import (
        maybe_zorder_iceberg)

    p = str(tmp_path / "t")
    df = spark.range(2048).select(
        (F.col("id") % 32).alias("x"),
        ((F.col("id") / 32).cast("long") % 32).alias("y"),
        F.col("id").alias("v"))
    write_iceberg(spark, df.repartition(4), p)
    t = IcebergTable(p)

    # all 4 files are debt (no marker); bound 8 holds it back
    assert maybe_zorder_iceberg(
        spark, p, ["x", "y"], max_unclustered_files=8) is None
    n_snaps = len(t.metadata()["snapshots"])
    assert len(t.metadata()["snapshots"]) == n_snaps  # no commit

    # tighter bound: first firing is the full rewrite + marker
    sid = maybe_zorder_iceberg(spark, p, ["x", "y"],
                               max_unclustered_files=3,
                               target_file_bytes=1 << 62)
    assert sid is not None
    # debt reset
    assert maybe_zorder_iceberg(
        spark, p, ["x", "y"], max_unclustered_files=0) is None

    # appends accumulate debt; byte bound fires incrementally
    write_iceberg(spark, df.limit(100).coalesce(1), p)
    assert maybe_zorder_iceberg(
        spark, p, ["x", "y"], max_unclustered_files=4) is None
    assert maybe_zorder_iceberg(
        spark, p, ["x", "y"], max_unclustered_files=99,
        max_unclustered_bytes=1,
        target_file_bytes=1 << 62) is not None
    got = sorted(r.v for r in t.read(spark).collect())
    assert got == sorted(list(range(2048)) + list(range(100)))


def test_compact_zorder_transformed_partition_spec(spark, tmp_path):
    """Per-partition Z-order must also hold for TRANSFORMED specs
    (days(ts)): groups form on the transformed partition value, every
    rewritten file carries one value, and the table reads back exact
    with manifest partition summaries intact."""
    import datetime

    from pyspark.sql import functions as F

    p = str(tmp_path / "t")
    base = datetime.datetime(2024, 1, 1)
    df = spark.range(2048).select(
        (F.col("id") % 32).alias("x"),
        ((F.col("id") / 32).cast("long") % 32).alias("y"),
        (F.lit(base) + F.make_interval(
            days=(F.col("id") % 3).cast("int"))).alias("ts"),
        F.col("id").alias("v"))
    write_iceberg(spark, df.repartition(4), p,
                  partition_by="days(ts)")
    t = IcebergTable(p)
    expected = sorted(r.v for r in t.read(spark).collect())
    total = sum(int(f["file_size_in_bytes"]) for f in
                t._data_files(t._snapshot(t.metadata(), None))[0])
    assert compact_iceberg(spark, p, zorder_by=["x", "y"],
                           target_file_bytes=max(1, total // 8))
    files, dels = t._data_files(t._snapshot(t.metadata(), None))
    assert not dels
    # one transformed partition value per file; all 3 days present
    days = {f["partition"]["ts_day"] for f in files}
    assert len(days) == 3
    got = sorted(r.v for r in t.read(spark).collect())
    assert got == expected
    # time-range pruning still works post-rewrite
    mid = base + datetime.timedelta(days=2)
    n = t.read(spark, where=[("ts", ">=", mid)]).count()
    assert n == sum(1 for i in range(2048) if i % 3 == 2)


def test_nan_left_out_of_bounds_does_not_prune(tmp_path):
    """pyarrow leaves NaN out of float footer bounds, so the upper
    bound 50.0 of [1.0, NaN, 50.0] does not prove ``x > 100`` false:
    Spark orders NaN above every value."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_minerva_etl_spark.storage.iceberg import _file_may_match
    from python_minerva_etl_spark.storage.iceberg_write import _file_bounds

    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"x": [1.0, float("nan"), 50.0]}), path)
    ice_schema = {"fields": [{"id": 1, "name": "x", "required": False,
                              "type": "double"}]}
    lo, hi = _file_bounds(path, ice_schema)
    entry = {"lower_bounds": lo, "upper_bounds": hi}
    assert _file_may_match(entry, [("x", ">", 100.0)], {"x": 1},
                           {"x": "double"})
    # lower-side pruning stays
    assert not _file_may_match(entry, [("x", "<", 0.5)], {"x": 1},
                               {"x": "double"})
