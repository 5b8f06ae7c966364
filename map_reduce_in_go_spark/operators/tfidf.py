"""TF-IDF — the canonical MapReduce chained-jobs example, as one plan.

The MapReduce formulation needs three chained jobs (term counts, doc
frequencies, join + score). Declaratively it's two aggregations and a
broadcast join; Catalyst pipelines them with partial aggregation on both
shuffles.

Determinism: tf and df are exact ints; idf = ln(N/df) is computed from the
same ints on both engines and rounded at 6dp (libm vs JVM ln can differ in
the last ulp — far below the rounding grain).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.caching import scoped_persist
from .wordcount import _doc_words

TOP_TERMS = 5


def _tf_df(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, Column]:
    """(doc_id, word, tf, df) rows of the documents table, and the 6dp
    tf-idf score ``round(tf · ln(N / df), 6)`` over them."""
    words = _doc_words(spark, sf_dir)
    # tf feeds three consumers (df, n_docs, scoring) — materialize once;
    # the host releases the handle via caching.release_persisted()
    tf = scoped_persist(words.groupBy("doc_id", "word").agg(F.count("*").alias("tf")))
    df = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = tf.select("doc_id").distinct().count()
    score = F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6)
    return tf.join(F.broadcast(df), "word"), score


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document."""
    tf_df, score = _tf_df(spark, sf_dir)
    scored = tf_df.withColumn("score", score)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_TERMS)
        .select("doc_id", "word", "tf", "df", "score", "rnk")
    )


from ..functions.text import sql_tokens  # noqa: E402

_TOK = sql_tokens("text")

ORACLES: dict[str, str] = {
    "tfidf_top_terms": f"""
    WITH words AS (
      SELECT doc_id, unnest({_TOK}) AS word FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word
    ), df AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word
    ), n AS (
      SELECT count(DISTINCT doc_id) AS n_docs FROM words
    ), scored AS (
      SELECT tf.doc_id, tf.word, tf.tf, df.df,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
      FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tf, df, score,
           CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, word ASC) AS INTEGER) AS rnk
    FROM scored
    QUALIFY rnk <= {TOP_TERMS}
    """,
}


SIM_THRESHOLD = 0.6


def doc_similarity_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity for MinHash-LSH candidate pairs.

    The sparse-vector twin of dedup_embedding_blocked: candidates come from
    the MinHash band join (operators/dedup.py — bucketed, never all-pairs),
    then each pair's cosine is an inverted-index join: tf-idf weights of the
    two docs equijoined on word, summed per pair. At 100 TB both joins key
    on (doc, word) / band hashes — no cross product anywhere.

    Determinism: weights are 6dp-rounded then fixed to DECIMAL(12,6), so
    dot products and squared norms aggregate exactly (order-independent);
    the final divide + 6dp round is identical IEEE math on both engines.
    """
    from .dedup import _band_pairs, _signatures

    pairs = _band_pairs(_signatures(spark, sf_dir))
    tf_df, score = _tf_df(spark, sf_dir)
    w = scoped_persist(
        tf_df.select("doc_id", "word", score.cast("decimal(12,6)").alias("w"))
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("norm")
    )
    wa = w.select(
        F.col("doc_id").alias("doc_a"), "word", F.col("w").alias("wa")
    )
    wb = w.select(
        F.col("doc_id").alias("doc_b"), "word", F.col("w").alias("wb")
    )
    dots = (
        pairs.join(wa, "doc_a")
        .join(wb, ["doc_b", "word"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("double").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cos_tfidf"
            ),
        )
        .filter(F.col("cos_tfidf") >= SIM_THRESHOLD)
    )


# ------------------------------------------------------------------ BM25

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("scan", "join", "merge", "query")
BM25_TOP = 100


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval: score every document against a fixed term set.

    The ranking function behind classic lexical search engines, as one
    declarative plan: doc lengths + term frequencies from a single token
    pass, document frequencies broadcast back, per-term contributions
    summed per doc, global top-``BM25_TOP``. At 100 TB the per-term rows
    shuffle once on doc_id and the final top-k is a TakeOrdered — no global
    sort materialized.

    Determinism: tf/df/dl/N are exact ints; avgdl and each per-term
    contribution are identical IEEE expression trees on both engines,
    rounded at 6dp and fixed to DECIMAL(12,6) *before* the per-doc sum, so
    summation order can't move the hash. idf uses the +1 Okapi floor
    (always positive).
    """
    words = _doc_words(spark, sf_dir)
    dl = scoped_persist(words.groupBy("doc_id").agg(F.count("*").alias("dl")))
    totals = dl.agg(
        F.sum("dl").alias("tot"), F.count("*").alias("n_docs")
    ).collect()[0]
    n_docs, avgdl = totals["n_docs"], float(totals["tot"]) / float(totals["n_docs"])
    tf = (
        words.filter(F.col("word").isin(*BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = (
        F.col("idf")
        * (F.col("tf") * F.lit(BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl))
        )
    )
    scored = (
        tf.join(F.broadcast(df.withColumn("idf", idf)), "word")
        .join(dl, "doc_id")
        .select(
            "doc_id", F.round(contrib, 6).cast("decimal(12,6)").alias("c")
        )
        .groupBy("doc_id")
        .agg(F.sum("c").cast("double").alias("score"))
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(BM25_TOP)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "score", "rank"
    )


# ------------------------------------------------- unigram LM surprisal

def doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal scoring — the perplexity-proxy quality filter.

    The corpus itself is the language model: p(w) = corpus-count(w) / total
    tokens, and a document's score is its mean token surprisal
    −ln p(w) = ln(total / count(w)). Low-probability-token-heavy documents
    (gibberish, codes, boilerplate explosions) surface with high scores —
    the classic cheap LM filter in training-data pipelines, with no model
    artifact to ship because the corpus statistics ARE the model.

    Determinism: counts are exact ints; each distinct word's surprisal is
    one ln rounded at 9dp and fixed to DECIMAL(18,9), so the per-doc
    weighted sum (tf × surprisal) aggregates exactly in any order; the
    final mean is a single identical IEEE divide rounded at 6dp.
    """
    words = _doc_words(spark, sf_dir)
    tf = scoped_persist(
        words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    )
    cnt = tf.groupBy("word").agg(F.sum("tf").alias("cnt"))
    total = int(cnt.agg(F.sum("cnt")).collect()[0][0])
    per = tf.join(F.broadcast(cnt), "word").select(
        "doc_id",
        "tf",
        F.round(F.log(F.lit(float(total)) / F.col("cnt")), 9)
        .cast("decimal(18,9)")
        .alias("s"),
    )
    return per.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.round(
            F.sum(F.col("tf") * F.col("s")).cast("double")
            / F.sum("tf").cast("double"),
            6,
        ).alias("avg_surprisal"),
    )


_BM25_TERM_LIST = ", ".join(f"'{t}'" for t in BM25_TERMS)

ORACLES["bm25_search"] = f"""
    WITH words AS (
      SELECT doc_id, unnest({_TOK}) AS word FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id
    ), g AS (
      SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
             CAST(count(*) AS DOUBLE) AS n_docs
      FROM dl
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM words
      WHERE word IN ({_BM25_TERM_LIST}) GROUP BY doc_id, word
    ), dfreq AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word
    ), scored AS (
      SELECT tf.doc_id,
             CAST(sum(CAST(round(
               ln((g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
               * (tf.tf * {BM25_K1 + 1.0!r})
               / (tf.tf + {BM25_K1!r} * ({1.0 - BM25_B!r} + {BM25_B!r} * dl.dl / g.avgdl)),
             6) AS DECIMAL(12,6))) AS DOUBLE) AS score
      FROM tf
      JOIN dfreq USING (word)
      JOIN dl USING (doc_id)
      CROSS JOIN g
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER)
             AS rank
    FROM scored
    QUALIFY rank <= {BM25_TOP}
    """

ORACLES["doc_surprisal"] = f"""
    WITH words AS (
      SELECT doc_id, unnest({_TOK}) AS word FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word
    ), cnt AS (
      SELECT word, sum(tf) AS cnt FROM tf GROUP BY word
    ), tot AS (
      SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM cnt
    ), per AS (
      SELECT tf.doc_id, tf.tf,
             CAST(round(ln(tot.total / cnt.cnt), 9) AS DECIMAL(18,9)) AS s
      FROM tf JOIN cnt USING (word) CROSS JOIN tot
    )
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(CAST(sum(tf * s) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6)
             AS avg_surprisal
    FROM per GROUP BY doc_id
    """


from .dedup import _MINHASH_CTES  # noqa: E402

ORACLES["doc_similarity_tfidf"] = _MINHASH_CTES + f"""
    , words AS (
      SELECT doc_id, unnest({_TOK}) AS word FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word
    ), dfreq AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word
    ), n AS (
      SELECT count(DISTINCT doc_id) AS n_docs FROM words
    ), wts AS (
      SELECT doc_id, word,
             CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6)
                  AS DECIMAL(12,6)) AS w
      FROM tf CROSS JOIN n JOIN dfreq USING (word)
    ), norms AS (
      SELECT doc_id, sqrt(CAST(sum(w * w) AS DOUBLE)) AS norm
      FROM wts GROUP BY doc_id
    ), dots AS (
      SELECT p.doc_a, p.doc_b, CAST(sum(a.w * b.w) AS DOUBLE) AS dot
      FROM pairs p
      JOIN wts a ON a.doc_id = p.doc_a
      JOIN wts b ON b.doc_id = p.doc_b AND b.word = a.word
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT d.doc_a, d.doc_b,
           round(d.dot / (na.norm * nb.norm), 6) AS cos_tfidf
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE round(d.dot / (na.norm * nb.norm), 6) >= {SIM_THRESHOLD}
"""


# ----------------------------------------- Kneser-Ney bigram LM scoring

KN_DISCOUNT = 0.75  # the standard absolute-discount value


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, v, w) bigram occurrence rows for a (doc_id, text) frame."""
    from ..functions.text import tokens

    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    idx = F.sequence(F.lit(1), F.size("toks") - 1)
    return toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("toks", i).alias("v"),
                    F.element_at("toks", i + 1).alias("w"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.v").alias("v"), F.col("b.w").alias("w"))


def train_kn_model(spark: SparkSession, sf_dir: str, root: str) -> None:
    """One corpus pass → the persisted (v, w, cvw) bigram COUNT table.

    Counts at rest, scores at read (r10 second half): Kneser-Ney scores
    are a NONLINEAR function of global counts (c(v), N1+(v·), N1+(·w),
    N1+(··)), so the table stores raw bigram counts, which are ADDITIVE,
    and :func:`_kn_scores` folds the current totals into
    −ln P_KN at bigram-vocabulary grain on read (vocab-sized
    aggregations — far cheaper than the corpus-grain explode they
    replace, and exactly the gram-index discipline). The model is NOT
    broadcast-bounded at scale, so it serves as a joinable table, not a
    driver array.
    """
    from ..sources.manifest_table import ManifestTable
    from ..sources.tables import load_table, spread_partitions

    docs = load_table(spark, sf_dir, "documents")
    cvw = _doc_bigrams(docs).groupBy("v", "w").agg(
        F.count(F.lit(1)).alias("cvw")
    )
    ManifestTable(root).append(cvw, op="kn-train")


def _kn_scores(spark: SparkSession, root: str) -> DataFrame:
    """(v, w, s): the −ln P_KN score table derived from the CURRENT
    folded counts — all aggregations at bigram-vocabulary grain."""
    from ..sources.manifest_table import ManifestTable

    cvw = scoped_persist(
        ManifestTable(root)
        .read(spark)
        .groupBy("v", "w")
        .agg(F.sum("cvw").alias("cvw"))
    )
    cv = cvw.groupBy("v").agg(
        F.sum("cvw").alias("cv"), F.count(F.lit(1)).alias("n1p_v")
    )
    n1p_w = cvw.groupBy("w").agg(F.count(F.lit(1)).alias("n1p_w"))
    n_types = cvw.count()  # N1+(··), bounded scalar
    d = F.lit(KN_DISCOUNT)
    p_kn = (
        F.greatest(F.col("cvw") - d, F.lit(0.0)) / F.col("cv")
        + (d * F.col("n1p_v") / F.col("cv"))
        * (F.col("n1p_w") / F.lit(float(n_types)))
    )
    return cvw.join(cv, "v").join(n1p_w, "w").select(
        "v",
        "w",
        F.round(-F.log(p_kn), 9).cast("decimal(18,9)").alias("s"),
    )


def _kn_model_path(spark: SparkSession, sf_dir: str) -> str:
    """Train once per process per resolved sf_dir (the shared
    served-artifact registry, sources/artifacts.py)."""
    from ..sources.artifacts import served_artifact

    return served_artifact(
        "kn", sf_dir, lambda path: train_kn_model(spark, sf_dir, path)
    )


def ngram_lm_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram Kneser-Ney LM scoring — the perplexity-filter upgrade,
    SERVED.

    :func:`doc_surprisal` scores with a unigram LM; real quality filters
    (CCNet, Gopher's perplexity buckets) use higher-order smoothed LMs.
    Interpolated Kneser-Ney (Kneser & Ney 1995; Chen & Goodman 1999) is
    the public-standard smoothing, and the corpus is its own model:

        P_cont(w)   = N1+(·w) / N1+(··)            (continuation prob)
        λ(v)        = d · N1+(v·) / c(v)
        P_KN(w|v)   = max(c(v,w) − d, 0)/c(v) + λ(v)·P_cont(w)

    with d = 0.75. Output per doc: bigram count and mean −ln P_KN over its
    bigram occurrences (high = surprising under the corpus LM → gibberish
    / boilerplate-explosion candidates, now context-sensitive).

    Train-once/score-many (r10, declared r11 landed early): the bigram
    COUNT table persists via :func:`train_kn_model`; scoring folds the
    current counts into scores at bigram-vocabulary grain
    (:func:`_kn_scores`) and joins once — the corpus-grain explode runs
    only at build. The model is bigram-vocabulary-sized, so the
    join (not a broadcast) is the correct 100 TB shape. Every doc bigram
    occurs in the model by construction (the corpus is its own training
    data) — no OOV branch.

    Determinism: all counts exact ints; each distinct bigram's
    s = −ln P_KN rounded at 9dp → DECIMAL(18,9), per-doc Σ tf·s exact,
    final mean one divide rounded at 6dp (the doc_surprisal discipline).
    """
    from ..sources.tables import load_table, spread_partitions

    model = _kn_scores(spark, _kn_model_path(spark, sf_dir))
    docs = load_table(spark, sf_dir, "documents").repartition(
        spread_partitions(spark, sf_dir, "documents"), "doc_id"
    )
    per_doc = _doc_bigrams(docs).groupBy("doc_id", "v", "w").agg(
        F.count(F.lit(1)).alias("tf")
    )
    return (
        per_doc.join(model, ["v", "w"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("tf").cast("decimal(9,0)") * F.col("s"))
                .cast("double")
                / F.sum("tf").cast("double"),
                6,
            ).alias("avg_kn_surprisal"),
        )
    )


from ..functions.text import sql_tokens as _sql_tokens_kn  # noqa: E402

_KN_TOK = _sql_tokens_kn("text")

ORACLES["ngram_lm_kn"] = f"""
    WITH t AS (
      SELECT doc_id, {_KN_TOK} AS toks FROM documents
    ), t2 AS (
      SELECT doc_id, toks FROM t WHERE len(toks) >= 2
    ), big AS (
      SELECT doc_id, toks[i] AS v, toks[i+1] AS w
      FROM t2, unnest(range(1, len(toks))) AS u(i)
    ), per_doc AS (
      SELECT doc_id, v, w, count(*) AS tf FROM big GROUP BY doc_id, v, w
    ), cvw AS (
      SELECT v, w, sum(tf) AS cvw FROM per_doc GROUP BY v, w
    ), cv AS (
      SELECT v, sum(cvw) AS cv, count(*) AS n1p_v FROM cvw GROUP BY v
    ), nw AS (
      SELECT w, count(*) AS n1p_w FROM cvw GROUP BY w
    ), nt AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_types FROM cvw
    ), model AS (
      SELECT cvw.v, cvw.w,
             CAST(round(-ln(
               greatest(cvw.cvw - {KN_DISCOUNT!r}, 0.0) / cv.cv
               + ({KN_DISCOUNT!r} * cv.n1p_v / cv.cv)
                 * (nw.n1p_w / nt.n_types)
             ), 9) AS DECIMAL(18,9)) AS s
      FROM cvw JOIN cv USING (v) JOIN nw USING (w) CROSS JOIN nt
    )
    SELECT p.doc_id,
           CAST(sum(p.tf) AS BIGINT) AS n_bigrams,
           round(CAST(sum(p.tf * m.s) AS DOUBLE)
                 / CAST(sum(p.tf) AS DOUBLE), 6) AS avg_kn_surprisal
    FROM per_doc p JOIN model m ON p.v = m.v AND p.w = m.w
    GROUP BY p.doc_id
    """


PPL_BUCKETS = 3  # CCNet's head / middle / tail split


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., 2020).

    The published web-corpus curation recipe: score every document with a
    corpus LM (here the Kneser-Ney bigram surprisal of
    :func:`ngram_lm_kn`), rank, and cut into head/middle/tail terciles —
    head feeds training directly, middle gets further filtering, tail is
    dropped or heavily subsampled. Output per doc: the score, its bucket,
    and the bucket label.

    The cut is exact ``ntile`` semantics but computed WITHOUT a global
    window (``Window.orderBy`` with no partitionBy funnels every row
    through one reducer): range-repartition on the sort key, take
    per-partition counts (≤ #partitions rows to the driver), broadcast the
    cumulative offsets back, and derive each row's global rank as
    offset + partition-local row_number — the same hierarchical-prefix
    shape as ``shard_pack``. Bucket boundaries replay ntile's exact
    integer rule (first ``N mod n`` buckets get ``ceil(N/n)`` rows), so
    the DuckDB ntile oracle agrees row-for-row.
    """
    from ..functions.ranks import with_global_rank

    scored = ngram_lm_kn(spark, sf_dir)
    ranked, total = with_global_rank(
        scored, [F.asc("avg_kn_surprisal"), F.asc("doc_id")]
    )
    q, rem = divmod(total, PPL_BUCKETS)
    head = rem * (q + 1)  # rows in the (q+1)-sized leading buckets
    # ntile's exact integer rule, all-integer arithmetic (div, no floats)
    bucket = F.expr(
        f"CAST(CASE WHEN r <= {head} THEN (r - 1) div {q + 1} "
        f"ELSE {rem} + (r - {head} - 1) div {max(q, 1)} END + 1 AS INT)"
    )
    labels = F.when(F.col("bucket") == 1, F.lit("head")).when(
        F.col("bucket") == 2, F.lit("middle")
    ).otherwise(F.lit("tail"))
    return (
        ranked.select("doc_id", "avg_kn_surprisal", F.col("r"))
        .withColumn("bucket", bucket)
        .select("doc_id", "avg_kn_surprisal", "bucket", labels.alias("split"))
    )


ORACLES["perplexity_buckets"] = f"""
    WITH scored AS ({ORACLES["ngram_lm_kn"]})
    SELECT doc_id, avg_kn_surprisal,
           CAST(ntile({PPL_BUCKETS}) OVER (
             ORDER BY avg_kn_surprisal ASC, doc_id ASC) AS INTEGER) AS bucket,
           CASE ntile({PPL_BUCKETS}) OVER (
             ORDER BY avg_kn_surprisal ASC, doc_id ASC)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS split
    FROM scored
    """
