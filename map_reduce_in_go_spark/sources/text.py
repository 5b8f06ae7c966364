"""Text-file sources.

The reference feeds whole files to mappers: the coordinator splits a
comma-separated file list into map tasks (main.go:130) and each worker reads
its file and calls ``Map(filename, contents)`` (distributed/worker.go:126-137).

Spark-first equivalent: the ``binaryFile`` reader yields one row per file
with its path — the natural unit for whole-file mappers — while ``read_lines``
is the line-oriented variant for big single files (splittable, preferred at
100 TB where a single document should never be a task boundary).

The whole-file scan is as wide as its input bytes. Spark pads every file
with ``spark.sql.files.openCostInBytes`` when it packs splits, so a few
small files fill one split each and each split starts its own Python map
worker. ``read_text_files`` gives each partition at least one open cost of
real bytes instead, up to ``defaultParallelism``.
"""

from __future__ import annotations

from math import ceil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_files(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """One row per file: (filename, contents). Globs and dirs supported.

    Partitions: the scan's splits, coalesced to at most
    ``min(defaultParallelism, ceil(input bytes / open cost))``; a coalesce
    without a shuffle never widens, so fewer splits stay as they are. The
    byte total is the file listing's, read from the unprojected relation's
    statistics (a projection's estimate scales by column widths), so no
    job runs.
    """
    if isinstance(paths, str):
        paths = [paths]
    df = spark.read.format("binaryFile").load(paths)
    qe = df._jdf.queryExecution()
    total = qe.analyzed().stats().sizeInBytes()
    open_cost = qe.sparkSession().sessionState().conf().filesOpenCostInBytes()
    width = min(
        spark.sparkContext.defaultParallelism, max(1, ceil(total / open_cost))
    )
    return df.select(
        F.col("path").alias("filename"),
        F.decode(F.col("content"), "UTF-8").alias("contents"),
    ).coalesce(width)


def read_lines(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """One row per line: (filename, line). Splittable — scales to huge files."""
    if isinstance(paths, str):
        paths = [paths]
    return (
        spark.read.text(paths)
        .select(
            F.input_file_name().alias("filename"),
            F.col("value").alias("line"),
        )
    )
