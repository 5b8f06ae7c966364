"""Tokenization column expressions with reference-parity semantics.

The reference mapper (map_reduce/wordcount.go:10-22) does:
``strings.Fields`` (split on whitespace runs) → ``strings.Trim`` with the
char set ``.,!?"':;()`` → ``strings.ToLower`` → drop empties.

Everything here is a pure Catalyst expression (no Python), and every
formula has a 1:1 ANSI-SQL rendering used by the DuckDB oracles — see the
matching SQL fragments in the operator modules. ``split`` and
``regexp_replace`` are code-generated; the higher-order ``transform`` and
``filter`` are interpreted (``CodegenFallback``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference trim set: wordcount.go:15
_TRIM_RE = "^[.,!?\"':;()]+|[.,!?\"':;()]+$"
_WS_RE = r"\s+"


def normalize_token(col: Column) -> Column:
    """lower + strip leading/trailing reference punctuation."""
    return F.regexp_replace(F.lower(col), _TRIM_RE, "")


def tokens(col: Column) -> Column:
    """array<string> of normalized non-empty tokens, in document order."""
    raw = F.split(col, _WS_RE)
    norm = F.transform(raw, normalize_token)
    return F.filter(norm, lambda t: t != F.lit(""))


def shingles_of(toks: Column, n: int = 3) -> Column:
    """n-word shingles of an already-tokenized array column.

    Lets fused pipelines tokenize once and reuse the array for shingling,
    scoring, etc. (one scan, one tokenization).
    """
    # sequence(1, 0) would yield a DESCENDING [1, 0] — guard short docs.
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


def shingles(col: Column, n: int = 3) -> Column:
    """array<string> of n-word shingles (space-joined), in document order.

    Built from :func:`tokens`; used by MinHash / Jaccard / winnowing. The
    construction (slice over a token array) is pure Catalyst.
    """
    return shingles_of(tokens(col), n)


# --- matching DuckDB SQL fragments (kept adjacent so they evolve together) --

SQL_TOKENS = (
    "list_filter(list_transform(string_split_regex({col}, '\\s+'), "
    "t -> lower(trim(t, '.,!?\"'':;()'))), t -> t <> '')"
)

SQL_SHINGLES = (
    "list_transform(range(1, greatest(len({toks}) - {nm1}, 0) + 1), "
    "i -> array_to_string({toks}[i:i+{nm1}], ' '))"
)


def sql_tokens(col: str = "text") -> str:
    return SQL_TOKENS.format(col=col)


def sql_shingles(toks: str, n: int = 3) -> str:
    return SQL_SHINGLES.format(toks=toks, nm1=n - 1)
