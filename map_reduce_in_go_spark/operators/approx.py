"""Approximate/sketch operators — the 100 TB versions of exact cousins.

At scale, exact countDistinct is a full shuffle of the key universe and
exact percentiles need a global sort; HyperLogLog++ and t-digest style
sketches turn both into fixed-size mergeable state.

Oracle contract: sketch VALUES are engine-specific (DuckDB's HLL ≠
Spark's), so raw estimates can't be hash-compared. Each query therefore
emits the EXACT answer columns plus a boolean ``approx_ok`` verdict —
"the sketch estimate landed within its published error bound of the
exact value" — computed Spark-side. The oracle replays the exact columns
in plain SQL and pins the verdict at TRUE, so the driver's value-hash
check is total: a broken sketch flips the flag and fails the hash. The
raw-estimate production paths remain as module functions for pipelines
that want the sketch without the exact twin.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import sql_tokens
from ..sources.tables import load_table
from .wordcount import _doc_words


HLL_RSD = 0.02  # HLL++ target relative standard deviation


def distinct_words_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct-token estimate per source, verdict-checked.

    The estimate must land within 3·rsd of the exact per-source distinct
    count (a ~3σ bound — the HLL++ guarantee plus slack). Exact column +
    pinned-TRUE verdict make this hash-checkable; production pipelines
    call the approx aggregate alone.
    """
    per = (
        _doc_words(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.approx_count_distinct("word", rsd=HLL_RSD).alias("est"),
            F.countDistinct("word").alias("n_distinct"),
        )
    )
    ok = (
        F.abs(F.col("est") - F.col("n_distinct"))
        <= 3 * HLL_RSD * F.col("n_distinct")
    )
    return per.select("source", "n_distinct", ok.alias("approx_ok"))


def events_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate percentiles per event type, verdict-checked.

    ``approx_percentile`` with accuracy A guarantees rank error ≤ 1/A
    (1e-4 here); the verdict brackets each estimate between the exact
    interpolated quantiles at ±0.005 rank — 50× the guarantee, so the
    flag only flips if the sketch is actually broken. Exact p50/p95
    columns reuse the `events_quantiles` recipe (hash-green vs
    quantile_cont).
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("ap50"),
        F.expr("approx_percentile(value, 0.95, 10000)").alias("ap95"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.expr("percentile(value, 0.495)").alias("p50_lo"),
        F.expr("percentile(value, 0.505)").alias("p50_hi"),
        F.expr("percentile(value, 0.945)").alias("p95_lo"),
        F.expr("percentile(value, 0.955)").alias("p95_hi"),
        F.count("*").alias("n"),
    )
    ok = (
        F.col("ap50").between(F.col("p50_lo"), F.col("p50_hi"))
        & F.col("ap95").between(F.col("p95_lo"), F.col("p95_hi"))
    )
    return agg.select("event_type", "p50", "p95", "n", ok.alias("approx_ok"))


def sketch_rollup_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production path: (event_type, approx_users, n_events, n_days) from
    per-day HLL sketches unioned per type — raw estimate, no exact twin."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"), F.count("*").alias("n"))
    return daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.sum("n").alias("n_events"),
        F.count("*").alias("n_days"),
    )


def sketch_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-aggregated mergeable HLL sketches: the 100 TB distinct-count cube.

    Builds one Datasketches HLL sketch per (day, event_type) — the stored
    rollup a real pipeline materializes once per partition — then answers
    the per-type distinct-user question by ``hll_union_agg`` over the day
    sketches, never re-touching the raw events. The pytest twin asserts the
    union-of-parts estimate equals the single-pass whole-table sketch
    estimate exactly (register-state merging is order- and
    partitioning-invariant), which is the property that lets sketches
    answer any date-range query from per-partition state.

    Verdict contract: the union-of-day-sketches estimate must land within
    5% of the exact per-type distinct-user count (Datasketches HLL at the
    default lgK=12 has rsd ≈ 1.6%; 3σ ≈ 5%). Exact columns + pinned-TRUE
    verdict make the row hash-checkable; the pytest twin still pins the
    stronger property (union-of-parts ≡ whole-table sketch).
    """
    unioned = sketch_rollup_raw(spark, sf_dir)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    ok = F.abs(F.col("approx_users") - F.col("n_users")) <= 0.05 * F.col("n_users")
    return unioned.join(exact, "event_type").select(
        "event_type", "n_users", "n_events", "n_days", ok.alias("approx_ok")
    )


# Heavy-hitter support threshold: report words with count·K > total tokens
# (frequency above 1/K). K is also the Misra-Gries summary capacity — the
# size that guarantees the candidate pass misses no true heavy hitter.
HH_K = 500


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters via sketch-pruned two-pass counting.

    ``wordcount + HAVING`` shuffles the entire key universe to answer a
    question whose output is at most K rows. The streaming-literature plan
    (Misra-Gries summaries, mergeable per Agarwal et al., PODS'12) does it
    with bounded state:

    1. **Candidate pass, zero shuffle**: each partition folds its tokens
       into a Misra-Gries summary of capacity K (Arrow-batched pandas:
       exact value_counts per batch merged into the running summary, then
       shrunk to K by subtracting the (K+1)-th count — the mergeable-MG
       reduction). Any word with global count > n/K must exceed its
       partition share n_p/K somewhere, and MG keeps everything above
       n_p/(K+1), so the union of partition candidates is a SUPERSET of
       the true heavy hitters regardless of partitioning. One row per
       partition: (part_n, candidate array) — KB-sized state per task.
    2. **Exact recount, shuffle only candidates**: semi-join the token
       stream against the broadcast candidate set (≤ #partitions·K words),
       count exactly, keep ``cnt·K > n``. False candidates die here, so
       the output is exact and partitioning-invariant — which is what lets
       the driver hash-check this row against plain SQL.

    At 100 TB the shuffle carries only candidate-word rows instead of the
    full token keyspace — the classic sketch-then-verify reduction.
    """
    from ..functions.caching import scoped_persist

    words = _doc_words(spark, sf_dir).select("word")

    def mg_summaries(batches):
        import pandas as pd

        counts: dict[str, int] = {}
        n = 0
        for pdf in batches:
            n += len(pdf)
            for w, c in pdf["word"].value_counts().items():
                counts[w] = counts.get(w, 0) + int(c)
            if len(counts) > HH_K:
                cut = sorted(counts.values(), reverse=True)[HH_K]
                counts = {w: c - cut for w, c in counts.items() if c > cut}
        yield pd.DataFrame({"part_n": [n], "cands": [list(counts)]})

    summaries = scoped_persist(
        words.mapInPandas(mg_summaries, "part_n long, cands array<string>")
    )
    total = summaries.agg(F.sum("part_n")).collect()[0][0] or 0  # bounded scalar
    cands = summaries.select(F.explode("cands").alias("word")).distinct()
    return (
        words.join(F.broadcast(cands), "word", "left_semi")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") * HH_K > F.lit(int(total)))
    )


ORACLES: dict[str, str] = {
    # Sketch queries: exact columns replayed in SQL, verdict pinned TRUE —
    # a sketch estimate outside its error bound flips the Spark-side flag
    # and fails the driver's value hash.
    "distinct_words_approx": f"""
    SELECT source, count(DISTINCT word) AS n_distinct, TRUE AS approx_ok
    FROM (
      SELECT source, unnest({sql_tokens('text')}) AS word FROM documents
    ) GROUP BY source
    """,
    "events_quantiles_approx": """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           count(*) AS n,
           TRUE AS approx_ok
    FROM events GROUP BY event_type
    """,
    "sketch_rollup_users": """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events,
           count(DISTINCT CAST(ts AS DATE)) AS n_days,
           TRUE AS approx_ok
    FROM events GROUP BY event_type
    """,
    "heavy_hitters": f"""
    WITH words AS (
      SELECT unnest({sql_tokens('text')}) AS word
      FROM documents
    ), tot AS (SELECT count(*) AS n FROM words)
    SELECT word, count(*) AS cnt FROM words GROUP BY word
    HAVING count(*) * {HH_K} > (SELECT n FROM tot)
    """,
}


# Count-Min sketch shape: D independent hash rows × W counters. With the
# corpus at n tokens, a CMS estimate overshoots by at most ~n/W per row
# (ε = e/W); W=4096 keeps the false-candidate screen tight at HH_K=500.
CMS_W = 4096
CMS_D = 4


def _cms_hashes(word: str) -> list[int]:
    """D row-indices from one md5: 4 disjoint 8-hex-char slices mod W.

    One digest per distinct word per partition; slices are independent
    uniform 32-bit draws, the standard cheap stand-in for D pairwise-
    independent hash functions.
    """
    import hashlib

    h = hashlib.md5(word.encode("utf-8")).hexdigest()
    return [int(h[8 * d : 8 * d + 8], 16) % CMS_W for d in range(CMS_D)]


def cms_fold(rows) -> tuple[int, np.ndarray]:
    """(total, flat D×W sketch) merged from ``(n, sketch)`` rows.

    Count-Min sketches MERGE BY PLAIN ADDITION — the sum of per-part
    sketches is the sketch of the concatenated input, in any order — the
    property Misra-Gries lacks (its merge must re-shrink and loses mass),
    and why CMS is the one you pre-aggregate per shard and union later.
    """
    total = 0
    cms = np.zeros(CMS_D * CMS_W, dtype=np.int64)
    for n, sketch in rows:
        total += int(n)
        cms += np.asarray(sketch, dtype=np.int64)
    return total, cms


def cms_sketch(words: DataFrame) -> tuple[int, np.ndarray]:
    """(n_tokens, flat D×W sketch) of a one-column ``word`` frame.

    Each partition folds its tokens into a D×W Count-Min array (exact
    value_counts per Arrow batch, one md5 per distinct word); the driver
    folds the ≤ #partitions fixed-size rows (D·W·8 B ≈ 128 KB each) with
    :func:`cms_fold` — bounded state, no key universe.
    """

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

    return cms_fold(
        words.mapInPandas(sketch_pass, "part_n long, sketch array<long>").collect()
    )


def cms_heavy_hitters(
    spark: SparkSession, words: DataFrame, total: int, cms: np.ndarray
) -> DataFrame:
    """(word, cnt): the exact heavy hitters of a one-column ``word`` frame,
    screened by a folded sketch ``cms`` of ``total`` tokens.

    Each partition counts locally (exact), queries the broadcast sketch
    for its distinct words, and emits local counts ONLY for words whose
    CMS estimate clears the n/K support. CMS never underestimates, so the
    candidate set is a superset of the true heavy hitters regardless of
    partitioning; summing the per-partition exact local counts gives
    exact global counts for every candidate with NO further scan. The
    final ``cnt·K > n`` filter kills false candidates.
    """
    bc = spark.sparkContext.broadcast(cms.reshape(CMS_D, CMS_W))

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


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters via a Count-Min candidate screen (Cormode &
    Muthukrishnan 2005) — the sketch-comparison twin of
    :func:`heavy_hitters` (Misra-Gries).

    Same two-pass exact-output contract, different sketch trade: a
    sketch pass (:func:`cms_sketch`) and a candidate + exact count pass
    (:func:`cms_heavy_hitters`), both over one tokenization of the
    corpus, persisted between them.

    Output is identical to :func:`heavy_hitters` (same support threshold),
    so the same plain-SQL oracle hash-checks it; the pytest twin compares
    the two sketches' candidate-set sizes — the measurable cost difference
    between an overestimate screen (CMS) and a summary screen (MG).
    """
    from ..functions.caching import scoped_persist

    words = scoped_persist(_doc_words(spark, sf_dir).select("word"))
    total, cms = cms_sketch(words)
    return cms_heavy_hitters(spark, words, total, cms)


# identical output contract → identical oracle
ORACLES["heavy_hitters_cms"] = ORACLES["heavy_hitters"]
