"""Plan building stays on the driver: a plan over tables already read
runs no Spark job (the schema memo of ``io.parquet.read_parquet``), the
memo follows changes to the files it remembers, and the session's
PySpark call-site capture is off without losing directed errors."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dask_awkward_sandbox_spark.io.parquet import read_parquet
from dask_awkward_sandbox_spark.session import _raw_conf_get, scoped_conf

SF = "/root/testdata/sf0.001"


def _jobs_during(spark, fn):
    """Run ``fn`` under a fresh job group; returns its result and the
    ids of the Spark jobs it started."""
    sc = spark.sparkContext
    group = f"plan-build-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_plan_build_runs_no_job(spark):
    from dask_awkward_sandbox_spark.plans import QUERIES

    def build():
        return QUERIES["q_reduce_order_count"](spark, SF)

    build()
    _, jobs = _jobs_during(spark, build)
    assert jobs == []


def test_read_memo_sees_appended_file(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), d / "part-0.parquet")
    assert read_parquet(spark, str(d)).count() == 2
    df, jobs = _jobs_during(spark, lambda: read_parquet(spark, str(d)))
    assert jobs == []  # unchanged files: the remembered schema is used
    assert df.count() == 2
    pq.write_table(pa.table({"k": [3]}), d / "part-1.parquet")
    assert sorted(r.k for r in read_parquet(spark, str(d)).collect()) == [1, 2, 3]


def test_read_memo_sees_rewritten_schema(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), d / "part-0.parquet")
    assert read_parquet(spark, str(d)).columns == ["k"]
    shutil.rmtree(d)
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), d / "part-0.parquet")
    df = read_parquet(spark, str(d))
    assert df.columns == ["k", "v"]
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]


def test_events_memo_under_scoped_nanos_conf(spark, tmp_path):
    """Nanosecond ``ts`` infers to long only under the events read's
    scoped ``nanosAsLong``; the memoized read must give the same frame
    and leave the conf as it found it."""
    from dask_awkward_sandbox_spark.plans.common import read

    key = "spark.sql.legacy.parquet.nanosAsLong"
    (tmp_path / "events.parquet").mkdir()
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_100_000_000_001], pa.timestamp("ns"))
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": ts}),
        tmp_path / "events.parquet" / "part-0.parquet",
    )
    before = _raw_conf_get(spark, key)
    inferred = read(spark, str(tmp_path), "events")
    memoized = read(spark, str(tmp_path), "events")
    assert _raw_conf_get(spark, key) == before
    assert memoized.schema == inferred.schema
    assert memoized.schema["ts"].dataType.simpleString() == "timestamp"
    assert memoized.collect() == inferred.collect()
    assert [r.ts.microsecond for r in memoized.orderBy("event_id").collect()] == [123456, 0]


def test_session_call_site_capture_off_errors_stay_directed(spark):
    from pyspark.errors import ArithmeticException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with scoped_conf(spark, "spark.sql.ansi.enabled", "true"):
        with pytest.raises(ArithmeticException) as err:
            spark.range(1).select(F.lit(1) / F.col("id")).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
