"""Text-analysis operators for training-data pipelines.

All four are pure Catalyst column plans over ``documents`` — no Python, no
shuffle except the final (tiny) aggregations. Formulas are written so the
DuckDB oracles compute bit-identical doubles: ratios are exact int/int
divisions, every emitted float is rounded, and any constant that multiplies
a ratio appears with a DOUBLE operand on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.caching import scoped_persist
from ..functions.text import shingles_of, sql_shingles, sql_tokens, tokens
from ..sources.tables import load_documents_parallel

# Tiny per-language stopword lists for the n-gram/stopword langid heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "den"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "por", "como", "pero"],
    "fr": ["le", "les", "des", "et", "est", "dans", "que", "pour", "sur", "avec"],
}
LANG_ORDER = ["en", "de", "es", "fr"]

BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
PUNCT_RE = "[.,!?;:]"


def _sql_list(words: list[str]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


def _score_expr(lang: str) -> str:
    """share of tokens that are <lang> stopwords, as an exact int/int divide."""
    return (
        f"size(filter(toks, t -> t in {_sql_list(STOPWORDS[lang])})) / size(toks)"
    )


def _toks(col: str = "text") -> Column:
    return tokens(F.col(col))


def langid_columns() -> tuple[Column, Column]:
    """(pred_lang, score) exprs over a frame that carries ``toks``.

    Shared by :func:`text_langid` and fused pipelines (one tokenization,
    many scores). First max wins — same order as the oracle's CASE.
    """
    scores = {lang: F.expr(_score_expr(lang)) for lang in LANG_ORDER}
    best = F.greatest(*scores.values())
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANG_ORDER:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return pred, F.round(best, 6)


def quality_columns() -> dict[str, Column]:
    """Quality metric exprs over a frame with ``text`` and ``toks``."""
    n_tokens = F.size("toks")
    n_chars = F.length("text")
    punct = n_chars - F.length(F.regexp_replace(F.col("text"), PUNCT_RE, ""))
    stop_ratio = F.expr(_score_expr("en"))
    uniq_ratio = F.size(F.array_distinct("toks")) / n_tokens
    punct_ratio = punct / n_chars
    len_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    quality = F.round(
        len_score * 0.4 + uniq_ratio * 0.3 + (F.lit(1.0) - punct_ratio) * 0.3, 6
    )
    return {
        "n_tokens": n_tokens,
        "stopword_ratio": F.round(stop_ratio, 6),
        "uniq_ratio": F.round(uniq_ratio, 6),
        "punct_ratio": F.round(punct_ratio, 6),
        "quality": quality,
    }


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict language by max stopword-hit ratio (deterministic tiebreak)."""
    docs = load_documents_parallel(spark, sf_dir).withColumn("toks", _toks())
    docs = docs.filter(F.size("toks") > 0)
    pred, score = langid_columns()
    return docs.select(
        "doc_id",
        pred.alias("pred_lang"),
        score.alias("score"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score from length/punctuation/stopword/uniq ratios."""
    docs = load_documents_parallel(spark, sf_dir).withColumn("toks", _toks())
    docs = docs.filter(F.size("toks") > 0)
    cols = quality_columns()
    return docs.select(
        "doc_id", *[expr.alias(name) for name, expr in cols.items()]
    )


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens vs BPE-ish regex tokens vs chars, per doc."""
    docs = load_documents_parallel(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(_toks()).alias("ws_tokens"),
        # NB: built with the PySpark API, not F.expr — Spark SQL string
        # literals would eat the \s backslash in the pattern.
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), F.lit(0))).alias(
            "bpe_tokens"
        ),
        F.length("text").alias("n_chars_actual"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprints: min shingle-md5 per 4-shingle window.

    Classic local document fingerprinting (Schleimer et al., MOSS): the set
    of windowed minima is position-robust; we emit its size and overall min
    per doc as a stable summary.

    r15 (guide §2.4): the windowed minima are a PER-DOC computation, so
    the former explode → doc_id shuffle → sort → window → two-phase agg
    is replaced by array HOFs evaluated in place — the only exchange
    left is the single-split spread repartition inside
    ``load_documents_parallel``. The md5-per-shingle cost (the kernel's
    floor) is unchanged; what disappears is materializing ~n rows per
    doc through a shuffle and sorting them to rediscover adjacency the
    array already has.
    """
    docs = load_documents_parallel(spark, sf_dir, full_width=True).withColumn("toks", _toks())
    fp = (
        docs.filter(F.expr("size(toks) >= 3"))
        .withColumn(
            "hs",
            F.expr(
                "transform(sequence(1, size(toks) - 2), "
                "i -> md5(array_join(slice(toks, i, 3), ' ')))"
            ),
        )
        .withColumn(
            "mins",
            F.expr(
                "transform(sequence(1, size(hs)), i -> array_min(slice(hs, i, 4)))"
            ),
        )
    )
    return fp.select(
        "doc_id",
        F.size(F.array_distinct("mins")).cast("long").alias("n_fp"),
        F.array_min("mins").alias("min_fp"),
    )


WINNOW_TEST_MOD = 5  # doc_id % 5 == 0 → the held-out "test" docs


def winnow_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test contamination via winnowing-fingerprint overlap.

    The fingerprint application :func:`doc_fingerprint` summarizes: each
    held-out doc's distinct window-min fingerprints are semi-joined against
    the union of training docs' fingerprint sets; the hit ratio is the
    fraction of the test doc that appears (possibly repositioned — that's
    what winnowing buys over exact n-gram matching) somewhere in training
    data. The MOSS/Schleimer construction, as two aggregations and one
    semi-join: at 100 TB the train fingerprint set is a bucketed table you
    maintain incrementally, and each test batch probes it — the same index
    shape as the dedup band index.
    """
    docs = load_documents_parallel(spark, sf_dir, full_width=True).withColumn("toks", _toks())
    sh = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, greatest(size(toks) - 2, 1)), "
                "i -> md5(array_join(slice(toks, i, 3), ' ')))"
            )
        ).alias("pos", "h"),
    ).filter(F.expr("size(toks) >= 3"))
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    fp = scoped_persist(
        sh.withColumn("winmin", F.min("h").over(w))
        .select("doc_id", "winmin")
        .distinct()
    )
    test = fp.filter(F.pmod(F.col("doc_id"), F.lit(WINNOW_TEST_MOD)) == 0)
    train_fps = (
        fp.filter(F.pmod(F.col("doc_id"), F.lit(WINNOW_TEST_MOD)) != 0)
        .select("winmin")
        .distinct()
    )
    hits = (
        test.join(train_fps, "winmin", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    totals = test.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_fp",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n_fp"), 6
            ).alias("contamination"),
        )
    )


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-ngrams linear classifier scoring — as a pure map.

    The quality-filter shape real pipelines run at corpus scale (a
    fastText-style linear model over hashed uni+bigram features — Joulin
    et al. 2016, hashing trick per Weinberger et al. 2009): every feature
    is a hash bucket, the model is a weight per bucket, and scoring a doc
    is Σ w(feature) over its term bag. Here the weights are hash-DERIVED
    placeholders (md5 → 16-bit value → integer milliweight in ±1000)
    standing in for trained parameters, which keeps the whole scorer
    deterministic and exactly replayable in the DuckDB oracle; a real
    deployment broadcasts a weight map and looks buckets up instead.

    Scale shape: scoring is ``F.aggregate`` over the per-row term array —
    codegen, ZERO shuffle, no explode; the score lands as a column on the
    same scan that read the text. Integer milliweights make the sum exact,
    so the driver can hash-check the row.
    """
    docs = load_documents_parallel(spark, sf_dir).withColumn("toks", _toks())
    docs = docs.filter(F.size("toks") > 0)

    def _w(t: Column) -> Column:
        # md5("qw:"+term) → first 4 hex digits as int → milliweight ±1000
        val = F.conv(
            F.substring(F.md5(F.concat(F.lit("qw:"), t)), 1, 4), 16, 10
        ).cast("long")
        return val % 2001 - 1000

    terms = F.concat(F.col("toks"), shingles_of(F.col("toks"), 2))
    score = F.aggregate(
        terms, F.lit(0).cast("long"), lambda acc, t: acc + _w(t)
    )
    return docs.select(
        "doc_id",
        F.size(terms).alias("n_terms"),
        score.alias("score_milli"),
        F.when(score > 0, F.lit("keep")).otherwise(F.lit("drop")).alias("label"),
    )


_TOK = sql_tokens("text")


def _sql_score(lang: str) -> str:
    return (
        f"len(list_filter(toks, t -> t in {_sql_list(STOPWORDS[lang])})) / len(toks)"
    )


_LANG_CASE = (
    "CASE WHEN " + " <= 0 AND ".join(f"score_{lang}" for lang in LANG_ORDER) + " <= 0 THEN 'und' "
    + " ".join(
        f"WHEN score_{lang} = greatest(score_en, score_de, score_es, score_fr) THEN '{lang}'"
        for lang in LANG_ORDER
    )
    + " END"
)

def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic-vs-label confusion matrix for the language classifier.

    The evaluation half of ``text_langid``: cell counts of (true ``lang``
    column, predicted language) plus each cell's share of its true-label
    row — the standard quality readout a curation pipeline reports after
    any classifier pass. Two tiny aggregations after the scoring scan.
    """
    docs = load_documents_parallel(spark, sf_dir).withColumn("toks", _toks())
    docs = docs.filter(F.size("toks") > 0)
    pred, _score = langid_columns()
    cells = (
        docs.select(F.col("lang").alias("true_lang"), pred.alias("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "pred_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("row_share"),
    )


# one 16-bit hash value per term, exactly as Spark's conv(substr(md5,1,4))
_QW_VAL = (
    "((instr('0123456789abcdef', substr(md5('qw:' || t), 1, 1)) - 1) * 4096 "
    "+ (instr('0123456789abcdef', substr(md5('qw:' || t), 2, 1)) - 1) * 256 "
    "+ (instr('0123456789abcdef', substr(md5('qw:' || t), 3, 1)) - 1) * 16 "
    "+ (instr('0123456789abcdef', substr(md5('qw:' || t), 4, 1)) - 1))"
)

ORACLES: dict[str, str] = {
    "quality_classifier": f"""
    WITH t AS (
      SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    ), tt AS (
      SELECT doc_id, list_concat(toks, {sql_shingles('toks', 2)}) AS terms
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(len(terms) AS INTEGER) AS n_terms,
           CAST(coalesce(list_sum(list_transform(terms,
             t -> {_QW_VAL} % 2001 - 1000)), 0) AS BIGINT) AS score_milli,
           CASE WHEN coalesce(list_sum(list_transform(terms,
             t -> {_QW_VAL} % 2001 - 1000)), 0) > 0
                THEN 'keep' ELSE 'drop' END AS label
    FROM tt
    """,
    "langid_confusion": f"""
    WITH t AS (
      SELECT doc_id, lang, {{_TOK}} AS toks FROM documents
    ), scored AS (
      SELECT doc_id, lang,
             {{score_en}} AS score_en,
             {{score_de}} AS score_de,
             {{score_es}} AS score_es,
             {{score_fr}} AS score_fr
      FROM t WHERE len(toks) > 0
    ), cells AS (
      SELECT lang AS true_lang, {{_LANG_CASE}} AS pred_lang, count(*) AS n
      FROM scored GROUP BY 1, 2
    )
    SELECT true_lang, pred_lang, n,
           round(n / sum(n) OVER (PARTITION BY true_lang), 6) AS row_share
    FROM cells
    """.format(
        _TOK=_TOK,
        score_en=_sql_score("en"),
        score_de=_sql_score("de"),
        score_es=_sql_score("es"),
        score_fr=_sql_score("fr"),
        _LANG_CASE=_LANG_CASE,
    ),
    "text_langid": f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents
    ), scored AS (
      SELECT doc_id,
             {_sql_score('en')} AS score_en,
             {_sql_score('de')} AS score_de,
             {_sql_score('es')} AS score_es,
             {_sql_score('fr')} AS score_fr
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id, {_LANG_CASE} AS pred_lang,
           round(greatest(score_en, score_de, score_es, score_fr), 6) AS score
    FROM scored
    """,
    "text_quality": f"""
    WITH t AS (
      SELECT doc_id, text, {_TOK} AS toks FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             {_sql_score('en')} AS stop_ratio,
             len(list_distinct(toks)) / len(toks) AS uniq_ratio,
             (length(text) - length(regexp_replace(text, '{PUNCT_RE}', '', 'g')))
               / length(text) AS punct_ratio
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           round(stop_ratio, 6) AS stopword_ratio,
           round(uniq_ratio, 6) AS uniq_ratio,
           round(punct_ratio, 6) AS punct_ratio,
           round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
                 + uniq_ratio * 0.3 + (1.0 - punct_ratio) * 0.3, 6) AS quality
    FROM m
    """,
    "token_count": f"""
    SELECT doc_id,
           CAST(len({_TOK}) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_RE}', 0)) AS INTEGER) AS bpe_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_actual
    FROM documents
    """,
    "doc_fingerprint": f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, t2.i - 1 AS pos,
             md5(array_to_string(toks[t2.i : t2.i + 2], ' ')) AS h
      FROM t CROSS JOIN (SELECT unnest(range(1, (SELECT max(len(toks)) + 1 FROM t))) AS i) t2
      WHERE t2.i <= len(toks) - 2 AND len(toks) >= 3
    ), fp AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS winmin
      FROM sh
    )
    SELECT doc_id, count(DISTINCT winmin) AS n_fp, min(winmin) AS min_fp
    FROM fp GROUP BY doc_id
    """,
    "winnow_contamination": f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, t2.i - 1 AS pos,
             md5(array_to_string(toks[t2.i : t2.i + 2], ' ')) AS h
      FROM t CROSS JOIN (SELECT unnest(range(1, (SELECT max(len(toks)) + 1 FROM t))) AS i) t2
      WHERE t2.i <= len(toks) - 2 AND len(toks) >= 3
    ), fpw AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS winmin
      FROM sh
    ), fp AS (
      SELECT DISTINCT doc_id, winmin FROM fpw
    ), test AS (
      SELECT * FROM fp WHERE doc_id % {WINNOW_TEST_MOD} = 0
    ), train_fps AS (
      SELECT DISTINCT winmin FROM fp WHERE doc_id % {WINNOW_TEST_MOD} <> 0
    ), hits AS (
      SELECT doc_id, count(*) AS n_hit FROM test
      WHERE winmin IN (SELECT winmin FROM train_fps)
      GROUP BY doc_id
    ), totals AS (
      SELECT doc_id, count(*) AS n_fp FROM test GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_fp, COALESCE(h.n_hit, 0) AS n_hit,
           round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_fp, 6)
             AS contamination
    FROM totals t LEFT JOIN hits h ON h.doc_id = t.doc_id
    """,
}


# --------------------------- trained char-n-gram language classifier

LANGID_N = 3  # character trigrams

def _gram_expr() -> str:
    return (
        f"transform(sequence(1, greatest(length(t) - {LANGID_N - 1}, 0)),"
        f" i -> substring(t, i, {LANGID_N}))"
    )


def train_langid_model(spark: SparkSession, sf_dir: str, root: str) -> None:
    """One corpus pass → the persisted (lang, g, c) count table.

    The model IS the artifact: per-(language, trigram) counts under a
    ManifestTable. Counts are ADDITIVE, so readers fold the committed
    rows by summation; totals and vocabulary derive from the folded table
    at load (vocab-sized scans), so there is exactly one source of truth
    and the totals can never go stale.
    """
    from ..sources.manifest_table import ManifestTable

    docs = load_documents_parallel(spark, sf_dir).select(
        "lang", F.lower(F.col("text")).alias("t")
    )
    model = (
        docs.select("lang", F.explode(F.expr(_gram_expr())).alias("g"))
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ManifestTable(root).append(model, op="langid-train")


def _langid_model_path(spark: SparkSession, sf_dir: str) -> str:
    """Train once per process per resolved sf_dir (the shared
    served-artifact registry, sources/artifacts.py)."""
    from ..sources.artifacts import served_artifact

    return served_artifact(
        "langid", sf_dir, lambda path: train_langid_model(spark, sf_dir, path)
    )


def langid_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained character-trigram Naive-Bayes language ID, SERVED.

    :func:`text_langid` is the zero-shot stopword heuristic; this is the
    TRAINED form real pipelines run (langid.py / fastText langid shape,
    Cavnar-Trenkle character n-grams): per-language add-one-smoothed
    trigram unigram models fit on the corpus's own labels, every doc
    scored under each language, argmax wins. Output: true lang, predicted
    lang, decision margin, correctness flag — the per-doc audit a
    curation pass attaches before filtering by language.

    Train-once/score-many (r10 — this was the slowest headline query
    when it retrained per call): the model is the persisted
    (lang, gram, count) table built by :func:`train_langid_model`
    behind the per-corpus build latch; a call pays the corpus-sized
    model aggregation only on the first build, then every scoring run
    reads vocabulary × languages rows back. The oracle retrains in SQL
    on the same corpus, so served scores hash identically.

    Scoring plan (r10 — a single map-side Arrow pass, ZERO shuffles): a
    char-trigram model is BOUNDED by construction (the trigram alphabet,
    not the corpus — why langid.py/fastText langid fit in RAM), so the
    whole model broadcasts as g → per-language integer nano-scores and
    every document scores locally: ``score_l = Σ_g tf·ln(c_gl + 1) −
    N_doc·ln(T_l + V)`` (ln 1 = 0 for unseen grams). All arithmetic is
    on the 9dp terms SCALED TO int64 (terms ≤ ~1e5 → sums ≤ ~1e14, far
    inside int64), reproducing the oracle's fixed-decimal sums
    bit-for-bit; the 9dp log terms themselves are computed by the SAME
    JVM expressions as before (collected once, vocab-sized), so no
    libm-vs-JVM ulp can sneak in. Argmax ties break on language code.
    The former shape (feats groupBy + model equijoin + doc×lang window)
    shuffled the corpus three times to compute what is per-doc-local
    given a bounded model.
    """
    import math

    from ..sources.manifest_table import ManifestTable

    docs = load_documents_parallel(spark, sf_dir).select(
        "doc_id", "lang", F.lower(F.col("text")).alias("t")
    )
    # ONE vocab-sized collect serves vocabulary size, per-language totals
    # AND the 9dp log terms (r15: this was three driver jobs — a distinct
    # count, a totals collect and the s-term collect — over the same tiny
    # folded model; totals/vocab are exact integer folds of the collected
    # rows, and the log terms stay rounded BY THE JVM exactly as the
    # decimal plan did, so no libm-vs-JVM ulp can sneak in)
    model_rows = (
        # fold base + incremental appends: counts are additive rows
        ManifestTable(_langid_model_path(spark, sf_dir))
        .read(spark)
        .groupBy("lang", "g")
        .agg(F.sum("c").alias("c"))
        .select(
            "g",
            "lang",
            "c",
            (
                F.round(F.log(F.col("c") + F.lit(1.0)), 9).cast("decimal(18,9)")
                * F.lit(1_000_000_000)
            )
            .cast("long")
            .alias("s"),
        )
        .collect()
    )
    vocab = len({r["g"] for r in model_rows})  # vocab-sized scalar
    totals: dict[str, int] = {}
    for r in model_rows:
        totals[r["lang"]] = totals.get(r["lang"], 0) + int(r["c"])
    langs = sorted(totals)
    lang_idx = {lang: i for i, lang in enumerate(langs)}
    import numpy as np

    # r15 (guide §4.2): the model broadcasts as a SORTED codepoint-code
    # array + an aligned (gram × lang) int64 score matrix, so the scoring
    # kernel is one vectorized searchsorted per batch instead of a per-doc
    # Python Counter loop. A trigram's code packs its 3 codepoints (≤ 21
    # bits each) into one int64 — character-based like the oracle's
    # substr(), NOT bytes, so non-ASCII text cannot diverge.
    def _gram_codes(grams: list[str]) -> np.ndarray:
        flat = np.frombuffer(
            "".join(grams).encode("utf-32-le"), dtype="<u4"
        ).astype(np.int64).reshape(-1, LANGID_N)
        return (flat[:, 0] << 42) | (flat[:, 1] << 21) | flat[:, 2]

    uniq_grams = sorted({r["g"] for r in model_rows})
    order = np.argsort(_gram_codes(uniq_grams), kind="stable")
    codes_sorted = _gram_codes(uniq_grams)[order]
    gram_pos = {uniq_grams[int(o)]: i for i, o in enumerate(order)}
    smat = np.zeros((len(uniq_grams), len(langs)), dtype=np.int64)
    for r in model_rows:
        smat[gram_pos[r["g"]], lang_idx[r["lang"]]] = r["s"]
    # round half away from zero at 9dp, like Spark/DuckDB round()
    ln_x = np.array(
        [
            int(math.floor(math.log(totals[lang] + vocab) * 1e9 + 0.5))
            for lang in langs
        ],
        dtype=np.int64,
    )
    bc = spark.sparkContext.broadcast((langs, codes_sorted, smat, ln_x))

    def score(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        b_langs, b_codes, b_smat, b_lnx = bc.value
        arr_langs = np.array(b_langs)
        n_model = len(b_codes)
        for batch in batches:
            t_col = pc.fill_null(batch.column("t"), "")
            lens = np.asarray(pc.utf8_length(t_col)).astype(np.int64)
            ndocs = len(lens)
            # every doc's codepoints, one encode for the whole batch
            cp = np.frombuffer(
                "".join(t_col.to_pylist()).encode("utf-32-le"), dtype="<u4"
            ).astype(np.int64)
            nw = np.maximum(lens - (LANGID_N - 1), 0)  # grams per doc
            total = int(nw.sum())
            if total == 0:
                continue
            # window start offsets into the concatenated codepoint array:
            # doc start + within-doc position (boundary-crossing windows
            # never enter — each doc contributes exactly nw windows)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            nw_excl = np.concatenate(([0], np.cumsum(nw)[:-1]))
            doc_of_win = np.repeat(np.arange(ndocs, dtype=np.int64), nw)
            pos = (
                np.arange(total, dtype=np.int64)
                - np.repeat(nw_excl, nw)
                + np.repeat(starts, nw)
            )
            codes = (cp[pos] << 42) | (cp[pos + 1] << 21) | cp[pos + 2]
            if n_model:
                idx = np.searchsorted(b_codes, codes)
                np.clip(idx, 0, n_model - 1, out=idx)
                matched = b_codes[idx] == codes
            else:
                # empty model (r15 advice): clip-to-[0,-1] would index
                # b_codes[-1] on an empty array; degrade to zero scores
                # like the old per-gram lut.get() path did
                idx = np.zeros(total, dtype=np.int64)
                matched = np.zeros(total, dtype=bool)
            acc = np.zeros((ndocs, len(b_langs)), dtype=np.int64)
            if matched.any():
                key = doc_of_win[matched] * np.int64(n_model) + idx[matched]
                uk, cnt = np.unique(key, return_counts=True)
                np.add.at(
                    acc,
                    uk // n_model,
                    cnt[:, None] * b_smat[uk % n_model],
                )
            scores = acc - nw[:, None] * b_lnx
            best = np.argmax(scores, axis=1)  # ties → lowest idx = lang asc
            if len(b_langs) > 1:
                srt = np.sort(scores, axis=1)
                margin = (srt[:, -1] - srt[:, -2]).astype(np.float64) / 1e9
            else:
                margin = np.zeros(ndocs, dtype=np.float64)
            keep = nw > 0  # gram-free docs are absent (oracle parity)
            keep_pa = pa.array(keep)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id").filter(keep_pa),
                    batch.column("lang").filter(keep_pa),
                    pa.array(arr_langs[best[keep]]),
                    pa.array(margin[keep]),
                ],
                names=["doc_id", "lang", "pred_lang", "margin"],
            )

    return docs.mapInArrow(
        score, schema="doc_id long, lang string, pred_lang string, margin double"
    ).select(
        "doc_id",
        "lang",
        "pred_lang",
        "margin",
        (F.col("lang") == F.col("pred_lang")).alias("correct"),
    )


ORACLES["langid_trained"] = f"""
    WITH d AS (
      SELECT doc_id, lang, lower(text) AS t FROM documents
    ), grams AS (
      SELECT doc_id, lang, substr(t, i, {LANGID_N}) AS g
      FROM d, unnest(range(1, greatest(len(t) - {LANGID_N - 1}, 0) + 1)) AS u(i)
    ), feats AS (
      SELECT doc_id, g, count(*) AS tf FROM grams GROUP BY doc_id, g
    ), model AS (
      SELECT lang AS cand, g, count(*) AS c FROM grams GROUP BY lang, g
    ), vocab AS (
      SELECT count(DISTINCT g) AS v FROM model
    ), tot AS (
      SELECT cand, sum(c) AS t FROM model GROUP BY cand
    ), s1 AS (
      SELECT g, cand,
             CAST(round(ln(c + 1.0), 9) AS DECIMAL(18,9)) AS s1
      FROM model
    ), seen AS (
      SELECT f.doc_id, s.cand,
             sum(CAST(f.tf AS DECIMAL(9,0)) * s.s1) AS sum1
      FROM feats f JOIN s1 s USING (g) GROUP BY f.doc_id, s.cand
    ), nd AS (
      SELECT doc_id, CAST(sum(tf) AS DECIMAL(9,0)) AS n
      FROM feats GROUP BY doc_id
    ), consts AS (
      SELECT cand, CAST(round(ln(t + v), 9) AS DECIMAL(18,9)) AS ln_x
      FROM tot CROSS JOIN vocab
    ), scored AS (
      SELECT nd.doc_id, c.cand,
             coalesce(seen.sum1, CAST(0 AS DECIMAL(28,9)))
               - nd.n * c.ln_x AS score
      FROM nd CROSS JOIN consts c
      LEFT JOIN seen ON seen.doc_id = nd.doc_id AND seen.cand = c.cand
    ), ranked AS (
      SELECT doc_id, cand, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand ASC) AS rnk
      FROM scored
    ), best AS (
      SELECT doc_id, cand AS pred_lang, score AS s_best
      FROM ranked WHERE rnk = 1
    ), second AS (
      SELECT doc_id, score AS s_second FROM ranked WHERE rnk = 2
    )
    SELECT b.doc_id, d.lang, b.pred_lang,
           CAST(b.s_best - coalesce(s.s_second, b.s_best) AS DOUBLE)
             AS margin,
           d.lang = b.pred_lang AS correct
    FROM best b LEFT JOIN second s ON b.doc_id = s.doc_id
    JOIN d ON b.doc_id = d.doc_id
    """


def quality_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-normalized quality scores (the DataComp/Gopher
    pipeline step between scoring and thresholding: absolute quality
    scores aren't comparable across languages — stopword lists, token
    inflation, and punctuation norms differ — so each doc's score is
    standardized within its language before any global cut).

    Float discipline: language moments are exact DECIMAL Σq and Σq² over
    the 6dp-rounded quality score (order-independent, so Spark and DuckDB
    agree bit-for-bit — the events_zscore recipe); the per-language stats
    frame is languages-sized and broadcasts. One corpus scan + one
    broadcast join at any scale.
    """
    docs = load_documents_parallel(spark, sf_dir).withColumn("toks", _toks())
    docs = docs.filter(F.size("toks") > 0)
    q = quality_columns()["quality"]
    scored = docs.select("doc_id", "lang", q.alias("quality"))
    qd = F.col("quality").cast("decimal(10,6)")
    stats = scored.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(qd).cast("double").alias("s1"),
        F.sum(qd * qd).cast("double").alias("s2"),
    )
    joined = scored.join(F.broadcast(stats), "lang").filter(F.col("n") >= 2)
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = (F.col("quality") - mean) / F.sqrt(var)
    return (
        joined.filter(var > 0)
        .select(
            "doc_id",
            "lang",
            "quality",
            F.round(mean, 6).alias("lang_mean"),
            F.round(z, 4).alias("quality_z"),
        )
    )


ORACLES["quality_normalized"] = f"""
    WITH t AS (
      SELECT doc_id, lang, text, {_TOK} AS toks FROM documents
    ), m AS (
      SELECT doc_id, lang,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) / len(toks) AS uniq_ratio,
             (length(text) - length(regexp_replace(text, '{PUNCT_RE}', '', 'g')))
               / length(text) AS punct_ratio
      FROM t WHERE len(toks) > 0
    ), scored AS (
      SELECT doc_id, lang,
             round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
                   + uniq_ratio * 0.3 + (1.0 - punct_ratio) * 0.3, 6) AS quality
      FROM m
    ), stats AS (
      SELECT lang, count(*) AS n,
             CAST(sum(CAST(quality AS DECIMAL(10,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(quality AS DECIMAL(10,6))
                  * CAST(quality AS DECIMAL(10,6))) AS DOUBLE) AS s2
      FROM scored GROUP BY lang
    )
    SELECT doc_id, s.lang, quality,
           round(s1 / n, 6) AS lang_mean,
           round((quality - s1 / n)
                 / sqrt(s2 / n - (s1 / n) * (s1 / n)), 4) AS quality_z
    FROM scored s JOIN stats USING (lang)
    WHERE n >= 2 AND s2 / n - (s1 / n) * (s1 / n) > 0
    """
