"""Catalog over the driver-generated parquet tables (TESTDATA.md).

Maps the reference's schema-less file model (SURVEY.md section 1.3) to named
DataFrames. Reads are ``spark.read.parquet`` so Catalyst gets predicate
pushdown / column pruning for free. A plain parquet read runs one Spark job to
infer the schema, so each file's schema is memoized per file identity (real
path, mtime, size) and per the session confs that change inference; later
reads pass it with ``.schema(...)`` and run no job. At 100 TB these would be
external tables with partition columns, and the same accessors would resolve
their schema once through the metastore instead of paths.
"""

from __future__ import annotations

import copy
import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TimestampType regardless of how the fixture
    generation wrote it. Two physical encodings have been observed across
    driver rounds:

    - parquet TIMESTAMP(NANOS): with spark.sql.legacy.parquet.nanosAsLong
      it arrives as long ns. Convert via INTEGER ns->us division (values
      ~1.7e18 overflow double precision, so never divide as float). The
      data is us-aligned: lossless.
    - parquet timestamp[us] without isAdjustedToUTC: Spark reads it as
      TIMESTAMP_NTZ, which unix_micros()/window() time arithmetic rejects.
      Cast to TimestampType — the session zone is pinned UTC
      (ensure_session_confs), so the wall-clock reinterpretation is
      identity and matches the DuckDB oracle's naive timestamps.
    """
    ensure_session_confs(df.sparkSession)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def ensure_session_confs(spark: SparkSession) -> None:
    """Set the load-bearing runtime confs on whatever session we are handed.

    The engine cannot assume its own ``session.builder()`` built the session
    (the correctness driver constructs a vanilla one): events.parquet is
    parquet TIMESTAMP(NANOS) which Spark only reads with nanosAsLong, and
    datetime-emitting queries compare against a UTC DuckDB oracle. Both are
    runtime-settable, so pin them at every catalog entry point.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


#: Session confs whose value changes the schema Spark infers from a parquet
#: footer (e.g. nanosAsLong turns TIMESTAMP(NANOS) into bigint). A schema
#: memoized under one value must never be served under another.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)

#: (realpath, st_mtime_ns, st_size, inference conf values) -> inferred
#: schema. Rewriting a file changes its mtime and size, so a stale entry is
#: never hit; StructType is session-independent, so entries outlive sessions.
_SCHEMAS: dict[tuple, StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """Memo key of a parquet file, or None when ``path`` is not a regular
    local file (a Spark-written directory, a remote URI): those always get
    the plain inferring read."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return (os.path.realpath(path), st.st_mtime_ns, st.st_size, confs)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job when the
    file's schema is already memoized under the session's current confs."""
    key = _schema_key(spark, path)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key:
        _SCHEMAS[key] = df.schema
    return df


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, memoized like
    ``read_parquet``. Returns a copy: StructType.add mutates in place."""
    schema = _SCHEMAS.get(_schema_key(spark, path))
    if schema is None:
        schema = read_parquet(spark, path).schema
    return copy.deepcopy(schema)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


class Tables:
    """Attribute-style access: ``t = Tables(spark, sf); t.lineitem``."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        return table(self._spark, self._sf_dir, name)


def load(spark: SparkSession, sf_dir: str) -> Tables:
    return Tables(spark, sf_dir)


def footer_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count from parquet footer metadata — the local stand-in for
    catalog/table statistics. Size-dispatch operators (embed_hubness,
    win_sessionize-style) need a corpus cardinality SIGNAL, not a scan:
    parquet footers carry num_rows per file, so this costs one
    driver-side metadata read (~ms) instead of a Spark count() job. At
    100 TB the same number comes from the metastore's table stats
    (ANALYZE TABLE / Delta stats); falls back to a count() job only if
    the footers are unreadable (e.g. non-local filesystem)."""
    try:
        import pyarrow.dataset as ds

        return ds.dataset(
            f"{sf_dir}/{name}.parquet", format="parquet"
        ).count_rows()
    except Exception:
        return table(spark, sf_dir, name).count()


def fanout_repartition(df: DataFrame, par: int) -> DataFrame:
    """Round-robin repartition before heavy per-row work, SKIPPED when
    the plan already provides >= par partitions (r15, VERDICT r14
    item 3 / guide §2.4 "make partitioning scale-adaptive").

    The r14 rounds spread per-row-heavy stages (HOF folds, hash
    fan-outs, n-gram explodes) with an unconditional ``repartition(par)``
    because every local fixture table is ONE parquet row group — a
    single scan task otherwise runs the whole stage on 1 of 32 cores.
    But ``repartition(N)`` is always a full round-robin Exchange of
    every row, and at 100 TB the same input arrives in thousands of
    scan splits: the unconditional call would both shuffle every row
    for nothing AND CAP the stage's parallelism at the conf value
    (200-default cluster => 500 GB partitions from a 100 TB input).
    This helper asks the compiled physical plan for its partition count
    (driver-side metadata, no job) and no-ops when the source is
    already at least ``par``-way parallel, so the sf0.1 plans keep the
    exact Exchange the r14 baselines measured while a pre-split input
    keeps its natural layout."""
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        n = 0
    if n >= par:
        return df
    return df.repartition(par)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a temp view for spark.sql() queries."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
