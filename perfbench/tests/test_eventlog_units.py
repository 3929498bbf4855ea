"""Pin the units of the event-log metrics the benchmark cites.

One job group runs a mapInPandas stage whose four tasks each sleep a
known time, so wall-clock quantities have a known floor while CPU time
stays small.  If Spark ever changes a unit, these bounds break before a
wrong number is reported.
"""

import os

import pytest

import eventlog

SLEEP_S = 0.3
TASKS = 4


@pytest.fixture(scope="module")
def record(tmp_path_factory):
    from pyspark.sql import SparkSession
    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (SparkSession.builder.master("local[2]")
             .appName("perfbench-units")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + str(log_dir))
             .config("spark.eventLog.compress", "false")
             .getOrCreate())
    try:
        def sleepy(batches):
            import time
            for pdf in batches:
                time.sleep(SLEEP_S)
                yield pdf
        spark.sparkContext.setJobGroup("units", "units")
        (spark.range(0, 4000, numPartitions=TASKS)
         .mapInPandas(sleepy, "id long")
         .write.format("noop").mode("overwrite").save())
    finally:
        spark.stop()
    return eventlog.parse(str(log_dir))["units"]


def test_task_run_time_is_milliseconds(record):
    # each task sleeps SLEEP_S: at least TASKS * SLEEP_S * 1000 ms
    assert record["tasks"] == TASKS
    assert TASKS * SLEEP_S * 1e3 <= record["task_run_ms"] < 60e3


def test_task_cpu_time_is_nanoseconds(record):
    # sleeping burns little CPU, but any task burns well over 1 ms of
    # CPU-nanoseconds; as milliseconds this would be < run time / 1000
    assert record["task_cpu_ns"] > 1e6
    assert record["task_cpu_ns"] / 1e6 < record["task_run_ms"]


def test_python_run_time_is_summed_milliseconds(record):
    # "time to run Python workers" is a per-task timing (ms), summed
    # over tasks: it covers every task's sleep and cannot exceed the
    # tasks' own run time
    assert TASKS * SLEEP_S * 1e3 <= record["python_run_ms"]
    assert record["python_run_ms"] <= record["task_run_ms"] * 1.05


def test_python_init_time_is_per_task_not_wall(record):
    # "time to initialize Python workers" sums over tasks too: it may
    # exceed the job's wall time but never the tasks' summed run time
    assert 0 <= record["python_init_ms"] <= record["task_run_ms"]
    assert record["python_nodes"] >= 1


def test_event_files_found(tmp_path):
    assert eventlog.parse(str(tmp_path)) == {}
    assert os.path.isdir(tmp_path)
