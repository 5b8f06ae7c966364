"""Parquet star-schema loaders for the driver-generated testdata.

Tables (see TESTDATA.md): TPC-H-ish ``region nation customer supplier part
orders lineitem`` plus ``events`` (stream-shaped), ``documents`` (text
corpus), ``embeddings`` (64-dim float vectors).

Scans stay declarative (``spark.read.parquet``) so Catalyst gets predicate
pushdown, column pruning and partition pruning for free. At 100 TB these
would be partitioned/bucketed parquet or Iceberg tables — the reader call
does not change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load ``events.parquet``, normalizing ``ts`` across physical encodings.

    The upstream generator has produced (at different times) TIMESTAMP(NANOS)
    — which Spark surfaces as int64 with ``nanosAsLong`` — and plain
    ``timestamp[us]`` (TIMESTAMP or TIMESTAMP_NTZ depending on
    ``isAdjustedToUTC``). Rather than hard-code one encoding, branch on the
    dtype Spark actually infers and derive the same two columns every time:

    - ``ts_us``: exact integer epoch-microseconds (long)
    - ``ts``: session-TZ timestamp (session TZ is pinned UTC in session.py,
      so NTZ→TZ casts are wall-clock identity)

    DuckDB reads the same file as microsecond TIMESTAMP, so the oracle-side
    ``epoch_us(ts)`` matches ``ts_us`` exactly in every encoding.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    # Harmless for non-NANOS files; required to read the NANOS encoding at all.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # int64 nanoseconds since epoch
        df = df.withColumn("ts_us", F.expr("ts DIV 1000"))
    elif isinstance(ts_type, (TimestampType, TimestampNTZType)):
        # unix_micros rejects TIMESTAMP_NTZ; the cast is a no-op for
        # TIMESTAMP and a UTC wall-clock-identity conversion for NTZ.
        df = df.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    else:
        raise TypeError(
            f"events.ts has unsupported dtype {ts_type}; expected int64 nanos "
            "or a timestamp type"
        )
    return df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))


# Target rows per spread task (r16, r15 verdict #4). The r15 spreads used
# defaultParallelism unconditionally, which anti-scaled at low data volume:
# five bench keys ran FASTER at 8 cores than 32 (dedup_image_phash 8v32
# ratio 0.55) because 32-way Python-worker fan-out over ~150 rows/task is
# pure per-task overhead. Sizing the spread by row count keeps kernels
# parallel exactly when there is work to parallelize; production layouts
# with splittable scans never reach this code's fallback anyway.
SPREAD_ROWS_PER_TASK = 512


def _parquet_rows(path: str) -> int | None:
    """Exact row count from local parquet footers — metadata only, no job.

    Returns None when the layout is not a readable local parquet
    file/directory (remote URI, permissions, non-parquet), in which case
    callers fall back to full-width spread.
    """
    try:
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_rows
        if os.path.isdir(path):
            total = 0
            for name in sorted(os.listdir(path)):
                if name.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(path, name)
                    ).metadata.num_rows
            return total
    except Exception:  # noqa: BLE001 — any failure means "unknown", not "0"
        return None
    return None


def spread_partitions(
    spark: SparkSession, sf_dir: str, name: str = "documents"
) -> int:
    """Scale-adaptive spread width for per-row CPU kernels over ``name``.

    ``ceil(rows / SPREAD_ROWS_PER_TASK)`` capped at defaultParallelism:
    tiny inputs get few fat tasks (Python-worker startup amortizes),
    large inputs get every core. Row count comes from the parquet footer
    (driver-side metadata read, no Spark job); unknown layouts fall back
    to full width — on a production multi-split layout the scan
    parallelizes itself and the spread repartition is dropped entirely.
    """
    p = spark.sparkContext.defaultParallelism
    rows = _parquet_rows(os.path.join(sf_dir, f"{name}.parquet"))
    if rows is None:
        return p
    tasks = (rows + SPREAD_ROWS_PER_TASK - 1) // SPREAD_ROWS_PER_TASK
    return max(1, min(p, tasks))


def load_documents_parallel(
    spark: SparkSession, sf_dir: str, *, full_width: bool = False
) -> DataFrame:
    """``documents`` hash-distributed before CPU work, spread sized to rows.

    The testdata documents table is a single parquet file — one input
    split — so per-doc CPU kernels (tokenize / shingle / regex) would run
    as ONE task no matter how many cores exist (AQE cannot split inside a
    row group). One explicit doc_id repartition fixes the harness case —
    sized by :func:`spread_partitions` so a tiny corpus does not pay
    full-width Python-worker fan-out; on a production layout (many
    files/row groups) the scan parallelizes by itself and this shuffle is
    the first thing to drop.

    ``full_width=True`` keeps the defaultParallelism spread: for kernels
    whose per-row CPU dwarfs task overhead even on a tiny corpus (the
    md5-per-shingle MinHash/containment signature family — measured r16:
    dedup_minhash 1.02 s full-width vs 1.26 s row-adaptive at 32 cores,
    while Arrow-kernel keys all preferred the adaptive spread).
    """
    n = (
        spark.sparkContext.defaultParallelism
        if full_width
        else spread_partitions(spark, sf_dir, "documents")
    )
    return load_table(spark, sf_dir, "documents").repartition(n, "doc_id")
