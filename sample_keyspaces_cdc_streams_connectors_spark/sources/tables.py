"""Batch table sources over the driver-provided parquet fixtures.

The reference resolves its single input stream from config
(``KeyspacesConfig.java:180-215``); our batch analog is a tiny
path-based catalog.  Scans stay fully declarative so Catalyst applies
column pruning and predicate pushdown into the parquet reader.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: parquet path -> schema (r14 optimization): ``spark.read.parquet``
#: resolves the datasource EAGERLY — file listing + footer schema
#: inference, measured ~60-90 ms of driver time PER CALL — and the
#: query registry re-reads the same fixture/index paths on every
#: invocation.  Passing the (immutable) schema back via
#: ``read.schema(...)`` skips the inference entirely.  This caches
#: SCHEMAS (metadata), never data or results: every action still
#: scans the parquet from disk.  Safe because a path's schema is
#: stable within a session (fixtures are read-only; index appends /
#: compactions preserve their layout's schema by construction).
_SCHEMA_CACHE: dict = {}


def read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with per-path schema memoization
    (see ``_SCHEMA_CACHE``).  Use for paths re-read many times per
    session (declared-query fixtures, standing-index directories);
    one-shot reads gain nothing."""
    sch = _SCHEMA_CACHE.get(path)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


#: parquet path -> estimated scan-split count (metadata only, cached;
#: None = unstatable).  See :func:`parquet_scan_splits`.
_SCAN_SPLITS_CACHE: dict[str, int | None] = {}

#: Spark's file-split planning defaults (spark.sql.files.*): splits
#: are byte ranges of at most maxPartitionBytes, and each file charges
#: openCostInBytes when files are packed into splits.
_MAX_SPLIT_BYTES = 128 * 1024 * 1024
_OPEN_COST_BYTES = 4 * 1024 * 1024

#: a directory with more data files than this is presumed large (the
#: estimate is ``None``) without statting the rest: the walk is driver
#: time, and the open cost alone puts that many files above 300 splits.
_MAX_WALK_FILES = 10_000


def parquet_scan_splits(path: str) -> int | None:
    """Estimate how many scan tasks Spark will plan for ``path``
    WITHOUT reading any data.

    - single file: ``min(row_groups, ceil(size / maxPartitionBytes))``
      — one pyarrow footer read; byte-range splits cannot exceed the
      row-group count, and a small file is one task no matter how many
      row groups it holds;
    - directory: ``ceil(sum(size_i + openCost) / maxPartitionBytes)``
      over the data files (Spark's split-packing arithmetic; no footer
      reads — at scale a table has thousands of files and the file
      sizes alone decide); past :data:`_MAX_WALK_FILES` files the walk
      stops and the estimate is ``None``;
    - unstatable (object-store URI): ``None`` — presumed large and
      already parallel, the at-scale default.

    Used by :func:`spread_scan` to decide whether a RoundRobin spread
    of a scan feeding a CPU-heavy kernel would add parallelism or just
    shuffle an already-parallel input (r15; guide §2.5)."""
    if path not in _SCAN_SPLITS_CACHE:
        est: int | None = None
        try:
            if os.path.isfile(path):
                import pyarrow.parquet as pq

                n_rg = pq.ParquetFile(path).metadata.num_row_groups
                size = os.path.getsize(path)
                est = max(1, min(n_rg, -(-size // _MAX_SPLIT_BYTES)))
            elif os.path.isdir(path):
                total, n_files = 0, 0
                for root, _dirs, files in os.walk(path):
                    data = [f for f in files if not f.startswith(("_", "."))]
                    n_files += len(data)
                    if n_files > _MAX_WALK_FILES:
                        break
                    for f in data:
                        try:
                            total += (
                                os.path.getsize(os.path.join(root, f))
                                + _OPEN_COST_BYTES
                            )
                        except OSError:
                            pass
                else:
                    est = max(1, -(-total // _MAX_SPLIT_BYTES))
        except Exception:
            est = None
        _SCAN_SPLITS_CACHE[path] = est
    return _SCAN_SPLITS_CACHE[path]


def spread_scan(df: DataFrame, nparts: int, path: str) -> DataFrame:
    """RoundRobin-spread a scan feeding a CPU-heavy kernel UNLESS the
    scan already yields >= ``nparts`` splits (r15 — VERDICT r14 #5:
    the r14 spreads were unconditional, so at 100 TB an
    already-well-partitioned table would pay a full-payload shuffle
    for zero added parallelism).  The local single-row-group fixtures
    estimate 1 split and keep the measured spread win; a multi-file /
    large input (or an unstatable one, estimate ``None``) skips the
    exchange outright."""
    est = parquet_scan_splits(path)
    if est is None or est >= nparts:
        return df
    return df.repartition(nparts)


def table_path(sf_dir: str, name: str) -> str:
    """The on-disk parquet path :func:`load_table` reads for ``name``."""
    return f"{sf_dir}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # fixture stores timestamp[ns] (read as long under the legacy
            # conf); truncate to micros exactly like DuckDB/Arrow do.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif isinstance(ts_type, TimestampNTZType):
            # fixture stores naive timestamp[us]; DuckDB reads it as a
            # wall-clock UTC instant, so the cast under the pinned UTC
            # session timezone is value-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}
