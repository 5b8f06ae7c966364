"""Reference answers computed outside Spark, and the comparisons against them.

Nothing here is timed. Two kinds of reference:

- an independent Python replay of the Go WordCount mapper
  (``strings.Fields`` → ``Trim(".,!?\\"':;()")`` → ``ToLower``) and of the
  Go shuffle partitioner (FNV-1a 32 → ``& 0x7fffffff % nReduce``);
- the registry's DuckDB oracles (``registry.oracles()``), compared with the
  repository's own correctness comparator.
"""

from __future__ import annotations

import collections
import glob
import os
import re

import pandas as pd

GO_TRIM = ".,!?\"':;()"


def go_wordcount(texts) -> collections.Counter:
    """Word counts exactly as the reference Go mapper/reducer produce them."""
    counts: collections.Counter = collections.Counter()
    for text in texts:
        for word in text.split():
            word = word.strip(GO_TRIM).lower()
            if word:
                counts[word] += 1
    return counts


def grep_counts(paths, pattern: str) -> dict[str, int]:
    """file basename → number of lines matching ``pattern`` (find semantics)."""
    rx = re.compile(pattern)
    out = {}
    for p in paths:
        with open(p, encoding="ascii") as fh:
            n = sum(1 for line in fh.read().split("\n") if rx.search(line))
        if n:
            out[os.path.basename(p)] = n
    return out


def fnv1a_bucket(key: str, n_reduce: int) -> int:
    h = 2166136261
    for b in key.encode("utf-8"):
        h = ((h ^ b) * 16777619) & 0xFFFFFFFF
    return (h & 0x7FFFFFFF) % n_reduce


def read_mr_out(path: str, n_reduce: int) -> tuple[dict[str, str], list[str]]:
    """Parse the ``mr-out`` layout; return (key → value, layout problems).

    Every key must sit in its FNV-1a bucket directory, as the reference's
    reduce workers place them. Key order within a file is not checked:
    ``engine.write_output`` sorts within partitions, but the partitioned
    write re-sorts by bucket afterwards and does not keep that order.
    """
    got: dict[str, str] = {}
    problems: list[str] = []
    for f in sorted(glob.glob(os.path.join(path, "bucket=*", "*.csv"))):
        bucket = int(os.path.basename(os.path.dirname(f)).split("=")[1])
        with open(f, encoding="utf-8") as fh:
            for line in fh.read().splitlines():
                key, _tab, value = line.partition("\t")
                if key in got:
                    problems.append(f"key {key!r} written twice")
                got[key] = value
                if fnv1a_bucket(key, n_reduce) != bucket:
                    problems.append(f"key {key!r} in bucket {bucket}")
    return got, problems


def compare_counts(got: dict[str, str], want: dict[str, int]) -> tuple[int, list[str]]:
    """(entries of ``want`` reproduced exactly, problems)."""
    hits = sum(1 for k, v in want.items() if got.get(k) == str(v))
    problems = []
    if hits != len(want) or len(got) != len(want):
        problems.append(f"{hits}/{len(want)} counts match, {len(got)} keys written")
    return hits, problems


def duckdb_views(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    return con


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Row count, columns, dtypes and order-insensitive values, with the
    repository's own correctness comparator."""
    from tools.check_correctness import compare

    return compare("", got, want)
