"""Star export (`sinks.export_star`): both formats hold the same rows,
every write job is attributed to the caller's job group, and a failed
table export fails the call."""

from __future__ import annotations

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from etl_power_bi_dashboard_spark import sinks
from etl_power_bi_dashboard_spark.pipeline import run_pipeline

from .parity import canonicalize


@pytest.fixture(scope="module")
def star(spark, olist_raw_dir):
    return run_pipeline(spark, olist_raw_dir)


def _tables(dims, fact, aggs) -> dict:
    out = {f"dim_{n}": df for n, df in dims.items()}
    out["fact_sales"] = fact
    out.update({f"agg_{n}": df for n, df in aggs.items()})
    return out


@pytest.mark.parametrize("partition_fact", [False, True])
def test_csv_equals_parquet(spark, tmp_path, star, partition_fact):
    """For every exported table the CSV, read back with the table's
    schema, equals its Parquet as a multiset; the Parquet equals the
    table itself; the CSV header is the table's column order."""
    dims, fact, aggs = star
    tables = _tables(dims, fact, aggs)
    written = sinks.export_star(
        dims, fact, aggs, str(tmp_path), partition_fact=partition_fact
    )
    assert written == list(tables)
    for name, df in tables.items():
        parquet = spark.read.parquet(str(tmp_path / f"{name}_parquet"))
        # a partitioned read-back puts date_id last
        parquet = parquet.select(*df.columns)
        csv_dir = str(tmp_path / f"{name}_csv")
        csv = spark.read.schema(df.schema).option("header", True).csv(csv_dir)
        expected = canonicalize(df.toPandas())
        assert canonicalize(parquet.toPandas()) == expected, name
        assert canonicalize(csv.toPandas()) == expected, name
        (part,) = glob.glob(os.path.join(csv_dir, "part-*.csv"))
        with open(part) as f:
            assert f.readline().rstrip("\n").split(",") == df.columns, name
    if partition_fact:
        assert glob.glob(str(tmp_path / "fact_sales_parquet" / "date_id=*"))


def _job_ids(sc, group: str, timeout_s: float = 30.0) -> list[int]:
    """Job ids of ``group``; the status store is fed by the listener
    bus, so wait until the group's jobs are visible."""
    deadline = time.time() + timeout_s
    while True:
        ids = list(sc.statusTracker().getJobIdsForGroup(group))
        if ids or time.time() > deadline:
            return ids
        time.sleep(0.05)


def test_export_jobs_keep_callers_job_group(spark, tmp_path, star):
    """Every job run between two probe jobs bracketing export_star
    belongs to the caller's job group, pool threads included."""
    sc = spark.sparkContext
    dims, fact, aggs = star
    try:
        sc.setJobGroup("export-before", "probe")
        spark.range(1).collect()
        sc.setJobGroup("export-star", "export_star under test")
        sinks.export_star(dims, fact, aggs, str(tmp_path))
        sc.setJobGroup("export-after", "probe")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    after = _job_ids(sc, "export-after")
    before = _job_ids(sc, "export-before")
    assert before and after
    between = set(range(max(before) + 1, min(after)))
    assert between, "export_star ran no jobs"
    assert between <= set(_job_ids(sc, "export-star"))


def test_failed_table_export_raises(spark, tmp_path, star):
    """A table whose plan fails at execution fails the whole export
    instead of being left out of the returned list."""
    dims, fact, _ = star
    boom = F.udf(lambda x: 1 // (x - x), "int")
    bad = {"broken": spark.range(3).select(boom("id").alias("v"))}
    with pytest.raises(Exception, match="ZeroDivisionError"):
        sinks.export_star(dims, fact, bad, str(tmp_path))
