"""End-to-end training-data curation pipeline, composed from the
registered operators — the "clean a crawl for LLM pretraining" flow:

    language filter (en) → quality gate → exact-dup keeper → near-dup drop

Each stage is the *same* plan the standalone operator registers (language
and quality scores come from ``text_analysis``, near-dup pairs from the
MinHash-LSH ``dedup`` pipeline), so this is a composition proof: the
operators chain into one lazy Catalyst plan with no materialization
between stages. The oracle nests the standalone oracles as CTEs and
applies identical predicates, so the composite result is hash-verified
end to end.

Scale: stages are filters and one window over md5(text) plus the LSH
pair join — nothing here adds a shuffle beyond what the parts already
cost; at 100 TB you materialize the pair list once and reuse it, which
is exactly how the plan composes (the pairs subtree is the shared
``verified_pairs`` plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .dedup import NUM_PERM
from .dedup import ORACLES as _DEDUP_ORACLES
from .dedup import dedup_minhash
from ..functions.text import sql_tokens
from .text_analysis import ORACLES as _TA_ORACLES
from .text_analysis import PUNCT_RE as _PUNCT_RE
from .text_analysis import text_langid, text_quality

_SQL_TOK = sql_tokens("text")

QUALITY_MIN = 0.62
NEAR_DUP_MIN_MATCH = NUM_PERM // 2  # 16/32 agreeing minhashes ≈ J ≥ 0.5
KEEP_LANG = "en"


def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept documents after the four curation stages, with their scores.

    r14 (r13 verdict #5): this registered key now SERVES THE FUSED PLAN.
    The fused twin beat the composed form at 10x in two consecutive
    scale artifacts (SCALE_r13: 3.61x vs 5.83x; SCALE_r14: 3.09x vs
    3.81x ~= 1.54x better 10x wall), so the key a user actually runs
    ships the scale plan. :func:`corpus_clean_composed` remains the
    readability reference — same oracle, output pinned identical
    (tests/test_pipeline_fusion.py).
    """
    return corpus_clean_fused(spark, sf_dir)


def corpus_clean_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed readability reference: four standalone operators
    joined — each stage independently testable, each re-reading the
    corpus (the fused twin collapses the scans; see corpus_clean)."""
    lang = text_langid(spark, sf_dir).filter(F.col("pred_lang") == KEEP_LANG)
    qual = text_quality(spark, sf_dir).filter(F.col("quality") >= QUALITY_MIN)
    docs = load_table(spark, sf_dir, "documents")
    keeper = docs.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("kid"),
    ).filter(F.col("doc_id") == F.col("kid"))
    near_b = (
        dedup_minhash(spark, sf_dir)
        .filter(F.col("n_match") >= NEAR_DUP_MIN_MATCH)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return (
        lang.select("doc_id", "score")
        .join(qual.select("doc_id", "n_tokens", "quality"), "doc_id")
        .join(keeper.select("doc_id"), "doc_id", "left_semi")
        .join(near_b, "doc_id", "left_anti")
        .select("doc_id", "n_tokens", "score", "quality")
    )


def corpus_clean_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as :func:`corpus_clean`, one scan.

    The composed form calls four standalone operators, each of which
    re-reads and re-tokenizes the corpus (independent subtrees share no
    work across ``load_table`` calls). Here the corpus is tokenized once
    into a scope-persisted base; language score, quality metrics, the
    exact-dup keeper hash and the MinHash shingles all derive from that
    one array column. Lang + quality become inline filters (no joins);
    only the two dedup probes (window + LSH anti-join) remain. At 100 TB
    this is the difference between 4 corpus scans and 1 — same oracle,
    identical output (hash-verified).
    """
    from pyspark.sql import Window as W

    from ..functions.caching import scoped_persist
    from ..functions.text import tokens
    from .dedup import signatures_of, verified_pairs
    from .text_analysis import langid_columns, quality_columns

    base = scoped_persist(
        load_table(spark, sf_dir, "documents")
        # full width, not the row-adaptive spread: this frame feeds
        # signatures_of — the md5-per-shingle kernel whose per-row CPU
        # dwarfs task overhead even on a tiny corpus (the same measured
        # reason _signatures uses full_width; r16)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .withColumn("toks", tokens(F.col("text")))
        .filter(F.size("toks") > 0)
    )
    pred, score = langid_columns()
    qual = quality_columns()
    scored = base.select(
        "doc_id",
        "text",
        pred.alias("pred_lang"),
        score.alias("score"),
        qual["n_tokens"].alias("n_tokens"),
        qual["quality"].alias("quality"),
    )
    survivors = scored.filter(
        (F.col("pred_lang") == KEEP_LANG) & (F.col("quality") >= QUALITY_MIN)
    )
    # The window runs over *survivors*, not the whole corpus like the
    # composed form — equivalent because exact duplicates share identical
    # text, hence identical lang/quality scores: a duplicate group passes
    # or fails the filters as a unit, so its min-id is the same either way.
    keeper = survivors.select(
        "doc_id",
        "n_tokens",
        "score",
        "quality",
        F.min("doc_id").over(W.partitionBy(F.md5("text"))).alias("kid"),
    ).filter(F.col("doc_id") == F.col("kid"))
    near_b = (
        verified_pairs(scoped_persist(signatures_of(base)))
        .filter(F.col("n_match") >= NEAR_DUP_MIN_MATCH)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return keeper.join(near_b, "doc_id", "left_anti").select(
        "doc_id", "n_tokens", "score", "quality"
    )


ORACLES: dict[str, str] = {
    "corpus_clean": f"""
    WITH lang AS ({_TA_ORACLES["text_langid"]}),
    qual AS ({_TA_ORACLES["text_quality"]}),
    mh AS ({_DEDUP_ORACLES["dedup_minhash"]}),
    keeper AS (
      SELECT doc_id FROM (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS kid
        FROM documents
      ) WHERE doc_id = kid
    )
    SELECT l.doc_id, q.n_tokens, l.score, q.quality
    FROM lang l
    JOIN qual q ON q.doc_id = l.doc_id
    WHERE l.pred_lang = '{KEEP_LANG}'
      AND q.quality >= {QUALITY_MIN}
      AND l.doc_id IN (SELECT doc_id FROM keeper)
      AND l.doc_id NOT IN (
        SELECT doc_b FROM mh WHERE n_match >= {NEAR_DUP_MIN_MATCH}
      )
    """,
}

ORACLES["corpus_clean_fused"] = ORACLES["corpus_clean"]


def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus report card — the summary an analyst
    pulls before and after every curation run: volume (docs, tokens,
    token percentiles), exact-duplicate exposure, and mean quality.

    Exactness discipline: token counts are integers; mean quality is an
    exact DECIMAL sum of the 6dp-rounded score divided once; the p50 is
    the exact interpolated percentile (the events_quantiles recipe); the
    dup rate is an integer ratio rounded once.

    r15 (guide §2.4/§1.2): ONE corpus scan. Quality derives inline from
    the same tokenization as n_tok (text_quality's exact column exprs),
    and dup exposure is a count() window over the digest — the former
    shape re-scanned the corpus for quality and joined two corpus-sized
    frames back by doc_id (two full-corpus shuffles at scale); now the
    only wide exchange is digest-keyed and carries no text.
    """
    from ..functions.text import tokens
    from .text_analysis import quality_columns

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    qual = quality_columns()
    # quality in integer micros: the mean of 6dp values over a small group
    # lands exactly on 7th-decimal half-boundaries (n=2 → ~50% of groups),
    # where Spark rounds the shortest decimal repr HALF_UP but DuckDB rounds
    # the binary double — 1-ulp oracle flips. Exact integer arithmetic
    # (round-half-up of a/n as (2a+n) div 2n) is engine-agnostic.
    base = (
        docs.withColumn("toks", tokens(F.col("text")))
        .select(
            "lang",
            "source",
            F.size("toks").alias("n_tok"),
            F.md5("text").alias("digest"),
            F.when(
                F.size("toks") > 0,
                (qual["quality"].cast("decimal(10,6)") * 1000000).cast("long"),
            ).alias("q_micro"),
        )
    )
    # nulls group together in a window partition but never match a SQL
    # equi-join — guard so a null digest stays not-dup like the oracle's
    enriched = base.withColumn(
        "is_dup",
        (
            (F.count("*").over(Window.partitionBy("digest")) > 1)
            & F.col("digest").isNotNull()
        ).cast("int"),
    )
    return (
        enriched.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.round(F.expr("percentile(n_tok, 0.5)"), 4).alias("p50_tokens"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_exact_dup"),
            F.round(
                F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
                / F.count("*"),
                6,
            ).alias("dup_rate"),
            (
                F.expr(
                    "(2 * sum(q_micro) + count(q_micro)) div (2 * count(q_micro))"
                ).cast("double")
                / 1000000
            ).alias("mean_quality"),
        )
    )


ORACLES["corpus_report"] = f"""
    WITH base AS (
      SELECT doc_id, lang, source, text,
             len({_SQL_TOK}) AS n_tok,
             md5(text) AS digest
      FROM documents
    ), dupd AS (
      SELECT digest FROM base GROUP BY digest HAVING count(*) > 1
    ), q AS (
      SELECT doc_id,
             round(least(CAST(len({_SQL_TOK}) AS DOUBLE) / 100.0, 1.0) * 0.4
                   + (len(list_distinct({_SQL_TOK})) / len({_SQL_TOK})) * 0.3
                   + (1.0 - (length(text) - length(regexp_replace(text,
                        '{_PUNCT_RE}', '', 'g'))) / length(text)) * 0.3,
                   6) AS quality
      FROM documents WHERE len({_SQL_TOK}) > 0
    )
    SELECT b.lang, b.source,
           count(*) AS n_docs,
           CAST(sum(b.n_tok) AS BIGINT) AS n_tokens,
           round(quantile_cont(b.n_tok, 0.5), 4) AS p50_tokens,
           CAST(sum(CASE WHEN d.digest IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_dup,
           round(sum(CASE WHEN d.digest IS NOT NULL THEN 1 ELSE 0 END)
                 / count(*), 6) AS dup_rate,
           CAST((2 * sum(CAST(CAST(q.quality AS DECIMAL(10,6)) * 1000000
                              AS BIGINT))
                 + count(q.quality)) // (2 * count(q.quality))
                AS DOUBLE) / 1000000 AS mean_quality
    FROM base b
    LEFT JOIN dupd d USING (digest)
    LEFT JOIN q USING (doc_id)
    GROUP BY b.lang, b.source
    """


PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column table profile of the documents corpus — the
    `DESCRIBE`-on-steroids every pipeline runs before trusting a new drop:
    per column, row count, null count, EXACT distinct count, native-typed
    min/max (rendered to string after aggregating, so numeric columns
    order numerically, not lexically), and the exact sum of rendered value
    lengths (a byte-budget proxy).

    Shape: ONE scan, one aggregate, then a driver-free ``stack`` unpivot
    of the single aggregated row into the per-column report. Multiple
    exact ``count(distinct)`` aggregates compile to Catalyst's Expand
    (×n_cols row amplification inside the aggregate, map-side partials
    intact) — exact is the point here because the driver's hash gate
    checks values; the 100 TB twin swaps ``approx_count_distinct`` in the
    SAME plan shape, which drops the Expand and profiles any width in one
    unamplified pass. No collect, no per-column jobs (`df.summary()`
    launches one job per stat), no Python rows.
    """
    docs = load_table(spark, sf_dir, "documents").select(*PROFILE_COLS)
    return profile_table(docs)


def profile_table(df: DataFrame, cols: tuple[str, ...] | None = None) -> DataFrame:
    """One-pass per-column profile of ANY DataFrame (the general form of
    :func:`corpus_profile` — point it at lineitem, events, a member
    table). ``cols`` defaults to every column; array/struct columns are
    profile-able too (orderable in Spark; length operates on the string
    rendering) — exclude map-typed columns, which Spark cannot order."""
    cols = tuple(cols or df.columns)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
            F.sum(F.length(F.col(c).cast("string"))).alias(f"{c}__len"),
        ]
    one = df.select(*cols).agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__nn`, `{c}__nd`, `{c}__min`, `{c}__max`, `{c}__len`"
        for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) as "
            "(col_name, n_nonnull, n_distinct, min_val, max_val, sum_len)"
        ),
        "n_rows",
    ).select(
        "col_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_nonnull")).alias("n_null"),
        "n_distinct",
        "min_val",
        "max_val",
        F.coalesce(F.col("sum_len"), F.lit(0)).alias("sum_len"),
    )


ORACLES["corpus_profile"] = " UNION ALL ".join(
    f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
    count(*) - count({c}) AS n_null, count(DISTINCT {c}) AS n_distinct,
    CAST(min({c}) AS VARCHAR) AS min_val, CAST(max({c}) AS VARCHAR) AS max_val,
    CAST(coalesce(sum(length(CAST({c} AS VARCHAR))), 0) AS BIGINT) AS sum_len
    FROM documents"""
    for c in PROFILE_COLS
)
