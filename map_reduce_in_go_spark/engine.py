"""Generic MapReduce parity API, Spark-first.

The reference contract (map_reduce/types.go:3-14)::

    type Mapper interface  { Map(filename, contents string) ([]KeyValue, error) }
    type Reducer interface { Reduce(key string, values []string) (string, error) }

A reference user brings a Mapper and a Reducer; the framework handles split,
shuffle (FNV-1a mod nReduce — worker.go:154), group, sorted output
(worker.go:217-243). Here the same user code runs on Spark:

- map phase    → ``mapInPandas`` (Arrow-batched; one Python call per batch,
  not per row — the 10-100x rule for Python on Spark)
- shuffle      → Catalyst hash exchange on ``key`` (Tungsten, spill-aware)
- reduce phase → ``groupBy(key).applyInPandas`` (the reducer sees every value
  for its key, exactly like the reference's grouped reduce)
- output       → :func:`write_output` re-creates the ``mr-out-<bucket>``
  layout: FNV-1a bucket column + ``partitionBy``, keys sorted within files.

Well-known apps (WordCount) additionally get a native all-JVM plan in
``operators/wordcount.py``; the generic path is for arbitrary user logic.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Optional, Protocol, runtime_checkable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions.hashing import reduce_bucket

# key column + n_reduce → bucket column in [0, n_reduce). The reference made
# this pluggable in principle (distributed/worker.go:170-174 routes every key
# through ihash(key) % nReduce); FNV-1a is the default here too.
Partitioner = Callable[[Column, int], Column]

MAP_OUTPUT_SCHEMA = "key string, value string"
REDUCE_OUTPUT_SCHEMA = "key string, value string"


@runtime_checkable
class Mapper(Protocol):
    """Parity with map_reduce/types.go:8 — emit (key, value) pairs."""

    def map(self, filename: str, contents: str) -> Iterable[tuple[str, str]]: ...


@runtime_checkable
class Reducer(Protocol):
    """Parity with map_reduce/types.go:12 — fold all values of one key."""

    def reduce(self, key: str, values: list[str]) -> str: ...


class WordCountMapper:
    """Parity app: map_reduce/wordcount.go:8-22 (Fields → Trim → ToLower)."""

    TRIM = ".,!?\"':;()"

    def map(self, filename: str, contents: str) -> Iterable[tuple[str, str]]:
        for word in contents.split():
            word = word.strip(self.TRIM).lower()
            if word:
                yield (word, "1")


class WordCountReducer:
    """Parity app: map_reduce/wordcount.go:24-32 (count the values)."""

    def reduce(self, key: str, values: list[str]) -> str:
        return str(len(values))


def run_mapreduce(
    files_df: DataFrame,
    mapper: Mapper,
    reducer: Reducer,
    filename_col: str = "filename",
    contents_col: str = "contents",
    partitioner: Optional[Partitioner] = None,
    n_reduce: int = 5,
) -> DataFrame:
    """Run an arbitrary Mapper/Reducer over a (filename, contents) DataFrame.

    Returns a (key, value) DataFrame. Lazily planned; the shuffle between the
    two Pandas stages is a single Catalyst exchange.

    Without a ``partitioner`` the exchange hashes ``key`` (Catalyst's choice —
    best skew behavior, one reducer group per key). Passing one mirrors the
    reference's pluggable routing (distributed/worker.go:170-174): keys are
    bucketed by ``partitioner(key, n_reduce)``, the single shuffle is on the
    bucket, and one reduce task folds every key in its bucket in sorted order
    — the exact execution shape of a reference reduce worker, so tests can
    assert co-location (e.g. all keys of one bucket in one output partition).
    """

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys: list[str] = []
            vals: list[str] = []
            for fname, contents in zip(pdf[filename_col], pdf[contents_col]):
                for k, v in mapper.map(fname, contents):
                    keys.append(k)
                    vals.append(v)
            yield pd.DataFrame({"key": keys, "value": vals})

    def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["key"].iloc[0]
        return pd.DataFrame({"key": [key], "value": [reducer.reduce(key, list(pdf["value"]))]})

    def _reduce_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        # one reference reduce task: every key of the bucket, sorted
        # (worker.go:217-243 sorts before emitting mr-out-<bucket>)
        out_k: list[str] = []
        out_v: list[str] = []
        for key, grp in sorted(pdf.groupby("key", sort=False), key=lambda kv: kv[0]):
            out_k.append(key)
            out_v.append(reducer.reduce(key, list(grp["value"])))
        return pd.DataFrame({"key": out_k, "value": out_v})

    mapped = files_df.select(filename_col, contents_col).mapInPandas(
        _map, schema=MAP_OUTPUT_SCHEMA
    )
    if partitioner is None:
        return mapped.groupBy("key").applyInPandas(_reduce, schema=REDUCE_OUTPUT_SCHEMA)
    bucketed = mapped.withColumn("bucket", partitioner(F.col("key"), n_reduce))
    return bucketed.groupBy("bucket").applyInPandas(
        lambda pdf: _reduce_bucket(pdf), schema=REDUCE_OUTPUT_SCHEMA
    )


def write_output(
    result: DataFrame,
    path: str,
    n_reduce: int = 5,
    partitioner: Optional[Partitioner] = None,
) -> None:
    """Reference-parity output layout: one dir per bucket, sorted keys.

    Mirrors worker.go:217-243 (``mr-out-<n>``, keys sorted) while staying a
    distributed write: bucket is a column, files are written by executors.
    ``partitioner`` overrides the FNV-1a default, same contract as
    :func:`run_mapreduce`.
    """
    bucket_of = partitioner or reduce_bucket
    (
        result.withColumn("bucket", bucket_of(F.col("key"), n_reduce))
        .repartition(n_reduce, F.col("bucket"))
        # bucket first: the partitionBy("bucket") writer requires that
        # ordering and re-sorts by bucket alone unless it is already met
        .sortWithinPartitions("bucket", "key")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .option("sep", "\t")
        .csv(path)
    )
