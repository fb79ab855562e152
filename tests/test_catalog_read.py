"""catalog.read_parquet: the engine's one parquet read path.

A repeat read of an unchanged path must skip the schema-inference job
and return the same DataFrame; any change to what the path holds, or to
a reader conf, must infer afresh. The session from ``get_spark`` must
reuse generated classes across rebuilt plans, and no engine module may
read parquet around ``read_parquet``.
"""

import glob
import os
import time
import uuid

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import __spark_entry__ as ent
from etl_jlp_spark import catalog
from etl_jlp_spark.catalog import read_parquet
from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# perfbench's fleet_overhead list: one sweep generates more classes than
# Spark's default 100-entry codegen cache holds.
FLEET = (
    "cdc_merge",
    "weekday_seasonality_index",
    "token_count",
    "benford_digit_report",
    "ingest_full_load_csv",
    "media_metadata_report",
    "mann_whitney_ab",
    "revenue_gini_by_nation",
    "rollup_incremental",
)


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn launched)``. Job events reach the
    status tracker asynchronously but in order, so a marker job in a
    second group is awaited before the first group is counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, marker = f"read-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc.setJobGroup(marker, marker)
        sc.parallelize([0], 1).count()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(marker) and time.monotonic() < deadline:
            time.sleep(0.01)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(tracker.getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_repeat_read_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(50).select("id", (F.col("id") * 2).alias("v")).write.parquet(path)
    first, n_first = _jobs(spark, lambda: read_parquet(spark, path))
    again, n_again = _jobs(spark, lambda: read_parquet(spark, path))
    assert n_first == 1  # the footer job
    assert n_again == 0
    assert again.schema == first.schema
    assert _rows(again) == _rows(first)


def test_repeat_table_load_is_identical(spark):
    first = catalog.load_table(spark, SF_SMALL, "orders")
    again, n = _jobs(spark, lambda: catalog.load_table(spark, SF_SMALL, "orders"))
    assert n == 0
    assert again.schema == first.schema
    assert _rows(again) == _rows(first)


def test_overwrite_with_new_schema_infers_afresh(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    read_parquet(spark, path)
    spark.range(5).select(F.col("id").cast("string").alias("s")).write.mode("overwrite").parquet(path)
    df, n = _jobs(spark, lambda: read_parquet(spark, path))
    assert n == 1
    assert df.dtypes == [("s", "string")]
    assert _rows(df) == [(str(i),) for i in range(5)]


def test_new_partition_directory_infers_afresh(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(4).withColumn("p", F.lit(1)).write.partitionBy("p").parquet(path)
    assert read_parquet(spark, path).count() == 4
    spark.range(3).withColumn("p", F.lit(2)).write.mode("append").partitionBy("p").parquet(path)
    df, n = _jobs(spark, lambda: read_parquet(spark, path))
    assert n == 1
    assert sorted(r["p"] for r in df.select("p").distinct().collect()) == [1, 2]
    assert df.count() == 7


def test_reader_conf_toggle_infers_afresh(spark, tmp_path, monkeypatch):
    """A schema inferred with nanosAsLong on must not serve a read with
    it off: inference then rejects TIMESTAMP(NANOS), where a stale
    schema would silently read the column as long."""
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    path = str(tmp_path / "nanos")
    os.makedirs(path)
    ts = pa.array([1_000_000_000_123, 2_000_000_000_456], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), os.path.join(path, "part-0.parquet"))
    assert read_parquet(spark, path).dtypes == [("ts", "bigint")]
    key = "spark.sql.legacy.parquet.nanosAsLong"
    # a caller's session the engine has not pinned
    monkeypatch.setattr(catalog, "_ensure_session_confs", lambda s: None)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(key, "true")


def test_rebuilt_queries_compile_no_classes(spark):
    qs = ent.queries()
    metric = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metric.METRIC_COMPILATION_TIME()

    def sweep():
        before = compiled.getCount()
        for name in FLEET:
            qs[name](spark, SF_SMALL).write.mode("overwrite").format("noop").save()
        return compiled.getCount() - before

    sweep()  # builds the rollup store and fills the cache
    assert sweep() == 0


def test_engine_reads_parquet_only_through_catalog():
    modules = glob.glob(os.path.join(REPO, "etl_jlp_spark", "**", "*.py"), recursive=True)
    offenders = []
    for path in modules:
        rel = os.path.relpath(path, REPO)
        with open(path) as fh:
            if rel != os.path.join("etl_jlp_spark", "catalog.py") and "spark.read.parquet(" in fh.read():
                offenders.append(rel)
    assert len(modules) > 50
    assert offenders == []
