"""Delta, Iceberg and SnapTable commit through one optimistic-commit
loop (``storage.core.commit_with_retries``): a publish that always
loses the race raises the format's own exception after exactly
``core.COMMIT_ATTEMPTS`` attempts, and a stale-scan conflict raises on
the first attempt without publishing anything."""

import pytest

from python_minerva_etl_spark.storage import core, iceberg_write
from python_minerva_etl_spark.storage.delta import (DeltaConcurrentCommit,
                                                    DeltaTable, read_delta,
                                                    write_delta)
from python_minerva_etl_spark.storage.iceberg import IcebergTable
from python_minerva_etl_spark.storage.iceberg_write import (
    IcebergConcurrentCommit, write_iceberg)
from python_minerva_etl_spark.storage.snaptable import (CommitConflict,
                                                        SnapTable)


def _delta(spark, path, mp, lose):
    write_delta(spark, spark.createDataFrame([(1,)], "id long"), path)
    t = DeltaTable(path)

    def commit(version, actions):
        lose()
        raise DeltaConcurrentCommit(
            f"concurrent Delta commit at version {version}")

    mp.setattr(t, "_commit", commit)
    return (lambda: t.write(spark, spark.createDataFrame([(2,)], "id long")),
            DeltaConcurrentCommit, lambda: DeltaTable(path).versions())


def _iceberg(spark, path, mp, lose):
    write_iceberg(spark, spark.createDataFrame([(1,)], "id long"), path)

    def publish(final, text):
        lose()
        return False

    # the metadata CAS is a put-if-absent that always finds its
    # version taken
    mp.setattr(iceberg_write, "publish_if_absent", publish)
    return (lambda: write_iceberg(
                spark, spark.createDataFrame([(2,)], "id long"), path),
            IcebergConcurrentCommit,
            lambda: IcebergTable(path).metadata()["current-snapshot-id"])


def _snaptable(spark, path, mp, lose):
    SnapTable(path).append(spark, spark.createDataFrame([(1,)], "id long"),
                           ["id"])

    def publish(self, manifest, version):
        lose()
        return False

    mp.setattr(SnapTable, "_publish", publish)
    return (lambda: SnapTable(path).append(
                spark, spark.createDataFrame([(2,)], "id long"), ["id"]),
            CommitConflict, lambda: SnapTable(path).versions())


@pytest.mark.parametrize("fmt", [_delta, _iceberg, _snaptable],
                         ids=["delta", "iceberg", "snaptable"])
def test_commit_gives_up_after_commit_attempts(spark, tmp_path, fmt):
    calls = []

    def lose():
        calls.append(1)
        if len(calls) > core.COMMIT_ATTEMPTS:
            pytest.fail("commit retried past core.COMMIT_ATTEMPTS")

    with pytest.MonkeyPatch.context() as mp:
        run, exc, state = fmt(spark, str(tmp_path / "t"), mp, lose)
        before = state()
        with pytest.raises(exc, match="concurrent"):
            run()
    assert len(calls) == core.COMMIT_ATTEMPTS
    assert state() == before  # nothing was committed


def test_delta_stale_scan_conflict_is_not_retried(spark, tmp_path):
    """A racer compacts away the file a deletion-vector DELETE scanned
    between the scan and the commit: the DELETE raises on its first
    attempt and never publishes a commit."""
    p = str(tmp_path / "t")
    for rows in ([(1,), (2,)], [(3,)]):
        write_delta(spark, spark.createDataFrame(rows, "id long"), p)
    t = DeltaTable(p)
    write_dvs, commits = t._write_dvs, []

    def scan_then_race(*args):
        touched = write_dvs(*args)
        DeltaTable(p).optimize(spark)  # rewrites every small file
        return touched

    t._write_dvs = scan_then_race
    t._commit = lambda version, actions: commits.append(version)
    with pytest.raises(DeltaConcurrentCommit, match="changed"):
        t.delete(spark, "id = 1")
    assert commits == []
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [1, 2, 3]
