"""Portable hashing column expressions.

Two goals:

1. **Reference parity**: :func:`fnv1a_32` reproduces the Go worker's shuffle
   partitioner bit-for-bit (``ihash`` — distributed/worker.go:170-174:
   FNV-1a 32-bit, then ``& 0x7fffffff % nReduce``) so output bucketing can
   match the reference's ``mr-out-N`` layout exactly.

2. **Oracle portability**: every probabilistic-dedup primitive (MinHash,
   SimHash) is built on ``md5`` over seeded strings, because md5 is identical
   in Spark and DuckDB — the correctness oracles can then replay the exact
   same signatures in pure SQL. Lexicographic MIN over md5 hex strings is a
   valid uniform min-hash (binary collation on both engines).

All expressions are Catalyst-native (codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def fnv1a_32(col: Column) -> Column:
    """FNV-1a 32-bit hash over the string's UTF-8 *bytes*, as bigint.

    Matches Go's ``fnv.New32a`` (which hashes ``[]byte(key)``) for any
    string, not just ASCII — Gutenberg corpora carry accented characters.
    The bytes are walked as hex pairs of ``encode(col, 'UTF-8')``.
    offset=2166136261, prime=16777619, arithmetic mod 2^32.
    """
    hx = F.lower(F.hex(F.encode(col, "UTF-8")))
    n_bytes = (F.length(hx) / F.lit(2)).cast("int")
    fold = F.aggregate(
        F.sequence(F.lit(1), n_bytes),
        F.lit(2166136261).cast("long"),
        lambda h, i: F.pmod(
            (
                h.bitwiseXOR(
                    F.conv(F.substr(hx, i * 2 - 1, F.lit(2)), 16, 10).cast("long")
                )
            )
            * F.lit(16777619).cast("long"),
            F.lit(4294967296).cast("long"),
        ),
    )
    # sequence(1, 0) counts *down* — guard the empty string explicitly
    return F.when(n_bytes == 0, F.lit(2166136261).cast("long")).otherwise(fold)


def reduce_bucket(col: Column, n_reduce: int) -> Column:
    """Reference shuffle partition id: (fnv1a(key) & 0x7fffffff) % nReduce,
    as an INT (the type ``repartitionById`` takes; values are < nReduce)."""
    return F.pmod(
        fnv1a_32(col).bitwiseAND(F.lit(0x7FFFFFFF).cast("long")), F.lit(n_reduce)
    ).cast("int")


# --- matching DuckDB SQL fragments ---------------------------------------

def sql_minhash_signature(items: str, num_perm: int = 32) -> str:
    """DuckDB MinHash signature: per seed ``s`` in ``0..num_perm-1``, the
    min over the items of ``md5("<s>:<item>")`` (list of min-md5 strings)."""
    return (
        f"list_transform(range(0, {num_perm}), "
        f"s -> list_min(list_transform({items}, it -> md5(s || ':' || it))))"
    )
