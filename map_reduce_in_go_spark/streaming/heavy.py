"""Streaming heavy hitters: mergeable Count-Min sketch kernels.

The streaming form of :func:`~..operators.approx.heavy_hitters_cms` —
"trending tokens over an unbounded document stream". The property doing
the work is CMS MERGEABILITY BY ADDITION: each micro-batch lands ONE
fixed-size sketch row (batch token count + its D×W Count-Min array) in
the corpus pipeline's ``token_cms`` catalog member
(streaming/corpus_pipeline.py). Any later question folds the stored
rows — sum of per-batch sketches ≡ the sketch of the concatenated
stream, in any arrival order — screens candidates, and exact-recounts
them against the landed documents, so the answer is EXACT over
everything ingested so far while per-batch state stays ~128 KB
regardless of stream length.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.approx import CMS_D, CMS_W, HH_K, _cms_hashes


def _batch_sketch(docs: DataFrame):
    """(n_tokens, summed D×W sketch) for one batch of documents."""
    from ..functions.text import tokens

    words = docs.select(F.explode(tokens(F.col("text"))).alias("word"))

    def sketch_pass(batches):
        import pandas as pd

        cms = np.zeros((CMS_D, CMS_W), dtype=np.int64)
        n = 0
        counts: dict[str, int] = {}
        for pdf in batches:
            n += len(pdf)
            for w, c in pdf["word"].value_counts().items():
                counts[w] = counts.get(w, 0) + int(c)
        for w, c in counts.items():
            for d, h in enumerate(_cms_hashes(w)):
                cms[d, h] += c
        yield pd.DataFrame({"part_n": [n], "sketch": [cms.ravel().tolist()]})

    parts = words.mapInPandas(
        sketch_pass, "part_n long, sketch array<long>"
    ).collect()  # ≤ #partitions fixed-size rows
    total = int(sum(r["part_n"] for r in parts))
    agg = np.zeros(CMS_D * CMS_W, dtype=np.int64)
    for r in parts:
        agg += np.asarray(r["sketch"], dtype=np.int64)
    return total, agg


def trending_from_state(
    spark: SparkSession, total: int, cms, landed_docs: DataFrame
) -> DataFrame:
    """Screen candidates against an already-folded (total, D×W sketch)
    state — the corpus pipeline's ``token_cms`` catalog member — and
    exact-recount them over ``landed_docs``.
    """
    from ..functions.text import tokens

    bc = spark.sparkContext.broadcast(cms)
    words = landed_docs.select(F.explode(tokens(F.col("text"))).alias("word"))

    def count_pass(batches):
        import pandas as pd

        sk = bc.value
        counts: dict[str, int] = {}
        for pdf in batches:
            for w, c in pdf["word"].value_counts().items():
                counts[w] = counts.get(w, 0) + int(c)
        if not counts:
            return
        ws = list(counts)
        est = np.array(
            [min(sk[d, h] for d, h in enumerate(_cms_hashes(w))) for w in ws],
            dtype=np.int64,
        )
        keep = est * HH_K > total
        yield pd.DataFrame(
            {
                "word": [w for w, k in zip(ws, keep) if k],
                "c": [counts[w] for w, k in zip(ws, keep) if k],
            }
        )

    return (
        words.mapInPandas(count_pass, "word string, c long")
        .groupBy("word")
        .agg(F.sum("c").alias("cnt"))
        .filter(F.col("cnt") * HH_K > F.lit(total))
    )
