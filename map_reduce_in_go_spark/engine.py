"""Generic MapReduce parity API, Spark-first.

The reference contract (map_reduce/types.go:3-14)::

    type Mapper interface  { Map(filename, contents string) ([]KeyValue, error) }
    type Reducer interface { Reduce(key string, values []string) (string, error) }

A reference user brings a Mapper and a Reducer; the framework handles split,
shuffle (FNV-1a mod nReduce — worker.go:154), group, sorted output
(worker.go:217-243). Here the same user code runs on Spark:

- map phase    → ``mapInPandas`` (Arrow-batched; one Python call per batch,
  not per row — the 10-100x rule for Python on Spark), one task per
  partition of the input frame
- shuffle      → Catalyst hash exchange on ``key`` (Tungsten, spill-aware)
- reduce phase → ``sortWithinPartitions(key).mapInPandas``: one pass walks the
  sorted key runs and calls the reducer once per run with every value of its
  key, exactly like the reference's sorted reduce loop (worker.go:217-243)
- output       → :func:`write_output` re-creates the ``mr-out-<bucket>``
  layout: FNV-1a bucket column, bucket n written by task n via
  ``repartitionById``, ``partitionBy``, keys sorted within files.

Well-known apps (WordCount) additionally get a native all-JVM plan in
``operators/wordcount.py``; the generic path is for arbitrary user logic.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from itertools import groupby
from operator import itemgetter
from typing import Protocol, runtime_checkable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.hashing import reduce_bucket

MAP_OUTPUT_SCHEMA = "key string, value string"
REDUCE_OUTPUT_SCHEMA = "key string, value string"
_NO_KEY = object()  # "no open run yet" in the reduce walk; None is a valid key


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
) -> DataFrame:
    """Run an arbitrary Mapper/Reducer over a (filename, contents) DataFrame.

    Returns a (key, value) DataFrame. Lazily planned: map batches, one hash
    exchange on ``key``, a sort within each partition, then one reduce pass
    over the sorted key runs of every partition.

    The map stage is as wide as ``files_df``: one task, and so one Python
    worker, per input partition (``sources.text.read_text_files`` sizes
    them by input bytes). AQE sizes the reduce stage from the shuffle
    bytes, and its tasks reuse the idle map workers.
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

    def _reduce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # worker.go:217-243: one reducer call per run of equal sorted keys. A
        # run may span Arrow batches, so the open run is carried into the next
        # batch and reduced only once a new key or the partition's end closes it
        key, values = _NO_KEY, []
        for pdf in batches:
            out_k: list[str] = []
            out_v: list[str] = []
            for k, run in groupby(zip(pdf["key"], pdf["value"]), key=itemgetter(0)):
                if k != key:
                    if key is not _NO_KEY:
                        out_k.append(key)
                        out_v.append(reducer.reduce(key, values))
                    key, values = k, []
                values.extend(v for _, v in run)
            if out_k:
                yield pd.DataFrame({"key": out_k, "value": out_v})
        if key is not _NO_KEY:
            yield pd.DataFrame({"key": [key], "value": [reducer.reduce(key, values)]})

    mapped = files_df.select(filename_col, contents_col).mapInPandas(
        _map, schema=MAP_OUTPUT_SCHEMA
    )
    return (
        mapped.repartition("key")
        .sortWithinPartitions("key")
        .mapInPandas(_reduce, schema=REDUCE_OUTPUT_SCHEMA)
    )


def write_output(result: DataFrame, path: str, n_reduce: int = 5) -> None:
    """Reference-parity output layout: one dir per bucket, sorted keys.

    Mirrors worker.go:154,217-243 (reduce task n writes ``mr-out-<n>``, keys
    sorted) while staying a distributed write: the FNV-1a bucket is a column,
    and ``repartitionById`` sends bucket n straight to write partition n, so
    each task writes exactly one bucket's ``part-0000n-*`` file.
    """
    (
        result.withColumn("bucket", reduce_bucket(F.col("key"), n_reduce))
        .repartitionById(n_reduce, "bucket")
        # bucket first: the partitionBy("bucket") writer requires that
        # ordering and re-sorts by bucket alone unless it is already met
        .sortWithinPartitions("bucket", "key")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .option("sep", "\t")
        .csv(path)
    )
