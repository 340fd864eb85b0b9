"""Memoized parquet schemas in ``catalog``.

A plain ``spark.read.parquet`` runs one Spark job to infer the schema.
``catalog.read_parquet`` (behind ``catalog.table``) keeps each file's
schema keyed on the file's identity and the inference confs, so a repeat
read runs no job. These tests pin that the memo saves the job and that it
never changes what a read returns: the schema follows a rewritten file,
a schema inferred under one ``nanosAsLong`` value is never served under
the other, directory tables keep the plain read, and every fixture
table's scan reads the same columns warm as cold.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_ingestion_poc_spark import catalog

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_in_group(spark, body) -> int:
    """Number of Spark jobs ``body()`` runs. The status store is fed by
    the listener bus, which delivers events in order: once a marker job
    started after ``body`` is visible, every job ``body`` started is too."""
    sc = spark.sparkContext
    group, marker = f"g-{uuid.uuid4().hex}", f"m-{uuid.uuid4().hex}"
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup(group, group)
        body()
        sc.setJobGroup(marker, marker)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for _ in range(200):
        if tracker.getJobIdsForGroup(marker):
            break
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(marker), "status store never saw the marker"
    return len(tracker.getJobIdsForGroup(group))


def _scan(df):
    """The FileSourceScanExec of a single-scan plan."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    assert leaves.size() == 1
    return leaves.apply(0)


def test_warm_table_read_runs_no_job(spark, sf_dir):
    catalog.table(spark, sf_dir, "orders")  # fills the memo if cold
    assert _jobs_in_group(
        spark, lambda: catalog.table(spark, sf_dir, "orders")
    ) == 0
    # the counter does see inference jobs: an uncached read runs one
    path = f"{sf_dir}/orders.parquet"
    assert _jobs_in_group(spark, lambda: spark.read.parquet(path)) >= 1
    # the schema-only accessor shares the memo and hands out a copy
    schema = catalog.parquet_schema(spark, path)
    assert schema == spark.read.parquet(path).schema
    assert _jobs_in_group(spark, lambda: catalog.parquet_schema(spark, path)) == 0
    schema.add("scratch", "integer")
    assert "scratch" not in catalog.parquet_schema(spark, path).fieldNames()


def test_rewritten_file_gets_its_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    first = catalog.table(spark, str(tmp_path), "region")
    assert first.columns == ["r_regionkey", "r_name"]
    assert catalog.table(spark, str(tmp_path), "region").schema == first.schema

    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([0, 1, 2], pa.int32()),
                "r_name": ["A", "B", "C"],
                "r_comment": ["x", "y", "z"],
            }
        ),
        path,
    )
    again = catalog.table(spark, str(tmp_path), "region")
    assert again.schema == spark.read.parquet(str(path)).schema
    assert dict(again.dtypes) == {
        "r_regionkey": "int",
        "r_name": "string",
        "r_comment": "string",
    }
    assert sorted(tuple(r) for r in again.collect()) == [
        (0, "A", "x"),
        (1, "B", "y"),
        (2, "C", "z"),
    ]


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_events_ts_dtype_matches_cold_read(spark, sf_dir, nanos_as_long):
    """The fixture's ts (timestamp[us], no UTC flag) reads as
    timestamp_ntz under either value; the memoized read must agree with
    a cold one before and after normalize_event_ts."""
    path = f"{sf_dir}/events.parquet"
    prev = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, nanos_as_long)
        catalog.read_parquet(spark, path)  # fills the memo if cold
        warm = catalog.read_parquet(spark, path)
        cold = spark.read.parquet(path)
        assert warm.dtypes == cold.dtypes
        warm_ts = dict(catalog.normalize_event_ts(warm).dtypes)["ts"]
        cold_ts = dict(catalog.normalize_event_ts(cold).dtypes)["ts"]
        assert warm_ts == cold_ts == "timestamp"
    finally:
        spark.conf.set(NANOS, prev)


def test_nanos_schema_is_never_served_under_the_other_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) column infers as bigint only under nanosAsLong;
    without it the read is an error. Handed the bigint schema, Spark
    would read the column as longs under either value, so a memo that
    ignored the conf would turn that error into a silent success."""
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "events.parquet")
    ns = [1_700_000_000_000_000_000, 1_700_000_001_000_000_000]
    pq.write_table(
        pa.table({"ts": pa.array(ns, pa.timestamp("ns")), "x": [1, 2]}), path
    )
    prev = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "true")
        catalog.read_parquet(spark, path)
        warm = catalog.read_parquet(spark, path)
        assert warm.dtypes == spark.read.parquet(path).dtypes
        assert dict(warm.dtypes)["ts"] == "bigint"
        normalized = catalog.normalize_event_ts(warm)
        assert dict(normalized.dtypes)["ts"] == "timestamp"

        spark.conf.set(NANOS, "false")
        with pytest.raises(AnalysisException, match="TIMESTAMP\\(NANOS"):
            spark.read.parquet(path)
        with pytest.raises(AnalysisException, match="TIMESTAMP\\(NANOS"):
            catalog.read_parquet(spark, path)
    finally:
        spark.conf.set(NANOS, prev)


def test_directory_table_keeps_the_plain_read(spark, sf_dir, tmp_path):
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    src.repartition(3).write.parquet(str(tmp_path / "nation.parquet"))
    n_memo = len(catalog._SCHEMAS)
    df = catalog.table(spark, str(tmp_path), "nation")
    assert len(catalog._SCHEMAS) == n_memo
    assert df.schema == src.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, src.collect()))


@pytest.mark.parametrize("name", catalog.TABLES)
def test_warm_scan_reads_the_cold_columns(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    catalog.table(spark, sf_dir, name)  # fills the memo if cold
    warm = catalog.read_parquet(spark, path)
    cold = spark.read.parquet(path)
    assert warm.schema == cold.schema
    first = cold.columns[0]
    for w, c in ((warm, cold), (warm.select(first), cold.select(first))):
        w_scan, c_scan = _scan(w), _scan(c)
        assert w_scan.requiredSchema().json() == c_scan.requiredSchema().json()
        assert (
            w_scan.relation().dataSchema().json()
            == c_scan.relation().dataSchema().json()
        )
