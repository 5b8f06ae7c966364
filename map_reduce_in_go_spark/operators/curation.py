"""Training-data curation operators: splits, sampling, contamination,
repetition quality, shard packing, and domain mixing.

These are the operations a large-scale LLM training-data pipeline runs after
dedup (operators/dedup.py) and quality scoring (operators/text_analysis.py):

- ``split_train_test``   — deterministic content-keyed train/valid/test split
- ``sample_stratified``  — language-balanced downsampling at per-lang rates
- ``contamination_ngram``— benchmark n-gram overlap (test-set contamination)
- ``quality_repetition`` — Gopher-style repetition filters (top-1-gram /
  top-2-gram share, duplicate-3-gram share)
- ``shard_pack``         — token-budget bin packing into training shards
- ``domain_mix``         — per-domain token shares + uniform resampling weights

Scale notes (100 TB): every operator here is either embarrassingly parallel
(split/sample: one narrow projection, zero shuffle), a broadcast semi-join
against a small benchmark set (contamination), or a partial-agg-friendly
groupBy (repetition/mix). ``shard_pack`` needs a *global* prefix sum — done
hierarchically (per-block sums → tiny block-level cumsum → within-block
window), never a single-partition window over the full table.

Splits and samples hash document *keys* (md5-derived buckets), never
``rand()``: assignment is stable under retries, repartitioning and reruns —
the property a training pipeline actually needs from a splitter. The same
construction is expressible in ANSI SQL, so every operator has an exact
DuckDB oracle (hex-parse parity checked in tests/test_curation.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import shingles_of, sql_shingles, sql_tokens, tokens
from ..sources.tables import load_documents_parallel, load_table

# -- portable deterministic bucket ------------------------------------------
# Spark: conv(hex, 16, 10) → decimal string → BIGINT.  DuckDB: '0x…' cast.
# First 8 md5 hex chars = 32 uniform bits; % 100 → bucket in [0, 100).


def hash_bucket(key: Column, salt: str = "") -> Column:
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 100
    )


def sql_hash_bucket(key: str, salt: str = "") -> str:
    return (
        f"CAST('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 8) "
        f"AS BIGINT) % 100"
    )


TRAIN_PCT, VALID_PCT = 80, 90  # train < 80 ≤ valid < 90 ≤ test

# Per-language keep rates (percent). The corpus is English-heavy (~44%);
# downsampling en to 30% roughly equalizes the language mix.
SAMPLE_RATES = {"en": 30}
SAMPLE_DEFAULT = 100
SAMPLE_SALT = "strat:"

BENCH_MOD = 50  # doc_id % 50 == 0 → held-out "benchmark" docs
# n-gram width for contamination. The literature uses 13-gram overlap
# (GPT-3/Gopher decontamination); this corpus has a ~40-word vocabulary and
# ~100-token docs, where 4-grams give the same rare-but-present hit profile
# a 13-gram check gives on natural text.
CONTAM_N = 4

SHARD_TOKENS = 1000  # token budget per training shard
SHARD_BLOCK = 64  # docs per block in the hierarchical prefix sum


def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split: 80/10/10 train/valid/test by doc_id.

    Content-keyed (md5 bucket), so the split survives reruns, retries and
    repartitioning — unlike ``rand()``-based splits. Zero shuffle: a narrow
    projection the scanner pipelines; at 100 TB this is a pure map stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < VALID_PCT, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return docs.select(
        "doc_id", bucket.alias("bucket"), split.alias("split")
    )


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware 80/10/10 split: near-duplicates can never straddle
    splits.

    :func:`split_train_test` hashes each doc independently, so two
    near-duplicate documents routinely land in train AND test — the
    classic leakage that inflates eval numbers (the reason Dodge et al.
    2021 / Lee et al. 2022 dedup before splitting). Here the split key is
    the document's near-dup CLUSTER representative (the connected-
    component min-id over MinHash-LSH candidate pairs,
    :func:`~..operators.dedup.dedup_clusters`); every member of a cluster
    inherits the representative's bucket and therefore its split.
    Singletons (docs in no candidate pair) hash by their own id, so on a
    dup-free corpus this degrades to exactly ``split_train_test``.

    Plan: the cluster labeling (connected components of the LSH pair
    graph, :func:`~..operators.dedup.star_components` — never all-pairs)
    plus ONE left join at doc grain and a map-stage bucket; the join's
    cluster side is duplicate-pairs-sized, tiny relative to the corpus,
    so AQE broadcasts it at scale.
    Leakage-freedom is pinned in tests/test_curation.py: every MinHash
    candidate pair ends up split-together.
    """
    from .dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = dedup_clusters(spark, sf_dir)
    rep = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    bucket = hash_bucket(rep)
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < VALID_PCT, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        rep.alias("rep_id"),
        bucket.alias("bucket"),
        split.alias("split"),
    )


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced downsampling at fixed per-lang rates.

    A salted bucket (independent of the split bucket) is compared against the
    language's keep-rate. Deterministic twin of ``df.sampleBy`` — same plan
    shape (filter over a map stage), but stable across runs.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"), SAMPLE_SALT)
    rate = F.lit(SAMPLE_DEFAULT)
    for lang, pct in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return (
        docs.withColumn("bucket", b)
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", "bucket")
    )


def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: distinct n-gram overlap per corpus doc.

    The "benchmark" is the held-out slice ``doc_id % 50 == 0`` (stand-in for
    an eval set). Its distinct n-gram set is small → broadcast; the corpus
    side aggregates per doc with map-side partials. No corpus self-join, no
    big-side shuffle beyond the per-doc agg — the shape that survives 100 TB
    (benchmark sets are KBs–MBs even when the corpus is not).
    """
    docs = load_documents_parallel(spark, sf_dir).withColumn(
        "toks", tokens(F.col("text"))
    )
    grams = F.array_distinct(shingles_of(F.col("toks"), CONTAM_N))
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench = (
        docs.filter(is_bench)
        .select(F.explode(grams).alias("g"))
        .distinct()
    )
    corpus = (
        docs.filter(~is_bench)
        .filter(F.size("toks") >= CONTAM_N)
        .select("doc_id", F.explode(grams).alias("g"))
    )
    # ONE corpus pass (r15, guide §1.2): the former shape computed
    # per-doc totals and bench hits as two independent aggregates over
    # the same exploded frame — re-tokenizing and re-exploding the whole
    # corpus, shuffling it twice, then joining the two per-doc frames.
    # A broadcast LEFT join against the (distinct, so at most one match
    # per gram) bench set marks hits in-stream; one doc_id-keyed
    # aggregate folds both counts. Same rows, same values.
    marked = corpus.join(
        F.broadcast(bench.withColumn("hit", F.lit(1))), "g", "left"
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_grams"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("int").alias("n_hit"),
        F.round(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("contam_ratio"),
    )


def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition ratios per doc (Rae et al. 2021, §A1.1).

    - ``top1_ratio``: share of tokens taken by the most frequent token
    - ``top_bigram_ratio``: share of bigrams taken by the most frequent bigram
    - ``dup_trigram_ratio``: share of trigram occurrences that are repeats

    Each metric is an explode → two-level aggregate (doc×gram, then doc);
    both levels combine map-side, and the three per-doc aggregates join on
    doc_id. At 100 TB all shuffles carry one row per (doc, distinct gram).
    """
    docs = (
        load_documents_parallel(spark, sf_dir)
        .withColumn("toks", tokens(F.col("text")))
        .filter(F.size("toks") >= 3)
    )

    # ONE corpus pass for all three metrics (r15, guide §1.2): the former
    # shape exploded the corpus three times (tokens, bigrams, trigrams),
    # shuffled each to (doc, gram) grain independently, then joined three
    # per-doc frames. Tagging each gram with its kind lets one explode +
    # two doc-keyed aggregate levels serve every metric — same gram rows
    # in total, 1 corpus scan instead of 3 and 2 exchanges instead of 6.
    kinds = F.concat(
        F.transform(F.col("toks"), lambda g: F.struct(F.lit(0).alias("k"), g.alias("g"))),
        F.transform(shingles_of(F.col("toks"), 2), lambda g: F.struct(F.lit(1).alias("k"), g.alias("g"))),
        F.transform(shingles_of(F.col("toks"), 3), lambda g: F.struct(F.lit(2).alias("k"), g.alias("g"))),
    )
    per_gram = (
        docs.select("doc_id", F.explode(kinds).alias("kg"))
        .groupBy("doc_id", F.col("kg.k").alias("k"), F.col("kg.g").alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    out = per_gram.groupBy("doc_id").agg(
        F.max(F.when(F.col("k") == 0, F.col("c"))).alias("uni_max"),
        F.sum(F.when(F.col("k") == 0, F.col("c"))).alias("uni_n"),
        F.max(F.when(F.col("k") == 1, F.col("c"))).alias("bi_max"),
        F.sum(F.when(F.col("k") == 1, F.col("c"))).alias("bi_n"),
        F.sum(F.when(F.col("k") == 2, F.col("c"))).alias("tri_n"),
        F.count(F.when(F.col("k") == 2, F.lit(1))).alias("tri_d"),
    )
    top1 = F.round(F.col("uni_max") / F.col("uni_n"), 6)
    topbi = F.round(F.col("bi_max") / F.col("bi_n"), 6)
    duptri = F.round((F.col("tri_n") - F.col("tri_d")) / F.col("tri_n"), 6)
    return out.select(
        "doc_id",
        top1.alias("top1_ratio"),
        topbi.alias("top_bigram_ratio"),
        duptri.alias("dup_trigram_ratio"),
        # Gopher rejects docs whose most common word covers > 10% of tokens
        # (we use the rounded value so the flag is engine-deterministic).
        (top1 <= 0.1).alias("keep"),
    )


def _token_offsets(d: DataFrame, name: str) -> DataFrame:
    """``d`` (doc_id, n_tok, blk) with column ``name``: the tokens of all
    earlier docs in doc_id order, a global prefix sum computed in two
    levels (block totals, then a window inside each block)."""
    blk = d.groupBy("blk").agg(F.sum("n_tok").alias("bsum"))
    wblk = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    blk_off = blk.select(
        "blk", F.coalesce(F.sum("bsum").over(wblk), F.lit(0)).alias("boff")
    )
    win = (
        Window.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return d.join(F.broadcast(blk_off), "blk").withColumn(
        name, F.col("boff") + F.coalesce(F.sum("n_tok").over(win), F.lit(0))
    )


def shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack docs (in doc_id order) into ~SHARD_TOKENS-token training shards.

    shard_id = floor(prefix_token_count / budget): a global prefix sum.
    Computed hierarchically so no single window sees the whole table:

    1. per-block (``doc_id DIV 64``) token sums — one partial-agg shuffle;
    2. cumsum over *block totals* (64× smaller; recurse again at extreme
       scale — one more level covers 4096×);
    3. block offsets broadcast back; within-block window partitioned by
       block does the per-doc cumsum.

    The oracle is the flat global window — same numbers, different plan.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_tok"),
        F.expr(f"doc_id DIV {SHARD_BLOCK}").alias("blk"),
    )
    return _token_offsets(d, "offset").select(
        "doc_id",
        "n_tok",
        "offset",
        F.expr(f"`offset` DIV {SHARD_TOKENS}").alias("shard_id"),
    )


def domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source) doc/token shares + uniform-target resampling weight.

    weight = (1/n_domains) / token_share: multiply into per-domain sampling
    rates to flatten the mixture. One partial-agg shuffle to (lang, source)
    grain, then a 1-row global aggregate broadcast back — no second pass over
    the data.
    """
    from ..functions.caching import scoped_persist

    docs = load_table(spark, sf_dir, "documents")
    # persist the domain-grain aggregate (r15, guide §5): the global
    # roll-up reference re-scanned and re-tokenized the corpus — 2 → 1
    g = scoped_persist(
        docs.groupBy("lang", "source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens(F.col("text")))).alias("n_tokens"),
        )
    )
    tot = g.agg(
        F.sum("n_docs").alias("tot_docs"),
        F.sum("n_tokens").alias("tot_tokens"),
        F.count(F.lit(1)).alias("n_domains"),
    )
    out = g.crossJoin(F.broadcast(tot))
    tok_share = F.col("n_tokens") / F.col("tot_tokens")
    return out.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.col("tot_docs"), 6).alias("doc_share"),
        F.round(tok_share, 6).alias("token_share"),
        F.round((F.lit(1.0) / F.col("n_domains")) / tok_share, 6).alias(
            "weight"
        ),
    )


WEIGHT_SALT = "wsamp:"


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling by the :func:`domain_mix` weights.

    Closes the curation loop: measure the mixture, derive uniform-target
    weights, then *apply* them — each doc keeps with probability
    ``min(weight, 1)`` via a salted deterministic hash bucket (stable under
    reruns/retries, unlike ``rand()``). The weight table is domain-grain →
    broadcast; the corpus side stays a zero-shuffle map stage. Upsampling
    (weight > 1) is out of scope for a filter — capped at 1 and left to the
    shard writer to repeat-sample.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = domain_mix(spark, sf_dir).select("lang", "source", "weight")
    b = hash_bucket(F.col("doc_id"), WEIGHT_SALT)
    return (
        docs.join(F.broadcast(w), ["lang", "source"])
        .withColumn("bucket", b)
        .filter(F.col("bucket") < F.least(F.col("weight"), F.lit(1.0)) * 100)
        .select("doc_id", "lang", "source", "bucket", "weight")
    )


# --- DuckDB oracles --------------------------------------------------------

_TOK = sql_tokens("text")
_SPLIT_BUCKET = sql_hash_bucket("doc_id")
_SAMPLE_BUCKET = sql_hash_bucket("doc_id", SAMPLE_SALT)
_WEIGHT_BUCKET = sql_hash_bucket("doc_id", WEIGHT_SALT)
_SAMPLE_RATE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in SAMPLE_RATES.items()
) + f" ELSE {SAMPLE_DEFAULT} END"

# PII patterns kept conservative so Java regex (Spark) and RE2 (DuckDB)
# agree; the corpus is synthetic word soup, so deterministic PII spans are
# injected per doc_id (same pattern as multimodal payload synthesis).
PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_PHONE = "555-[0-9]{4}"
PII_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the corpus (emails / phones / IPs).

    Counts each PII class and emits the md5 of the fully redacted text
    (email→[EMAIL], phone→[PHONE], IP→[IP], applied in that order). All
    JVM-side regex — codegen'd, one scan, no shuffle at all: the shape you
    want for a 100 TB scrub pass. The synthetic injection (2 of every 3
    docs get a deterministic span) exists only because the test corpus has
    no organic PII; on real data ``with_pii`` is the identity.
    """
    docs = load_documents_parallel(spark, sf_dir)
    last4 = F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0")
    with_pii = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-"),
            last4,
        ),
    ).when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 1,
        F.concat(
            F.col("text"),
            F.lit(" logged from 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7"),
        ),
    ).otherwise(F.col("text"))
    t = docs.select("doc_id", with_pii.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), PII_EMAIL, "[EMAIL]"),
            PII_PHONE,
            "[PHONE]",
        ),
        PII_IP,
        "[IP]",
    )
    return t.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(PII_PHONE)).alias("n_phones"),
        F.regexp_count(F.col("t"), F.lit(PII_IP)).alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )


ORACLES: dict[str, str] = {
    "pii_redact": f"""
    WITH t AS (
      SELECT doc_id,
             CASE
               WHEN doc_id % 3 = 0 THEN
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or call 555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               WHEN doc_id % 3 = 1 THEN
                 text || ' logged from 10.0.'
                      || CAST(doc_id % 256 AS VARCHAR) || '.7'
               ELSE text
             END AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS INTEGER) AS n_phones,
           CAST(len(regexp_extract_all(t, '{PII_IP}')) AS INTEGER) AS n_ips,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(t, '{PII_EMAIL}', '[EMAIL]', 'g'),
                   '{PII_PHONE}', '[PHONE]', 'g'),
                 '{PII_IP}', '[IP]', 'g')) AS redacted_md5
    FROM t
    """,
    "split_train_test": f"""
    SELECT doc_id, {_SPLIT_BUCKET} AS bucket,
           CASE WHEN {_SPLIT_BUCKET} < {TRAIN_PCT} THEN 'train'
                WHEN {_SPLIT_BUCKET} < {VALID_PCT} THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
    """,
    "sample_stratified": f"""
    SELECT doc_id, lang, {_SAMPLE_BUCKET} AS bucket
    FROM documents
    WHERE {_SAMPLE_BUCKET} < {_SAMPLE_RATE}
    """,
    "contamination_ngram": f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_distinct(
               {sql_shingles('toks', CONTAM_N)})) AS g
      FROM t
    ), bench AS (
      SELECT DISTINCT g FROM g WHERE doc_id % {BENCH_MOD} = 0
    ), corpus AS (
      SELECT doc_id, g FROM g WHERE doc_id % {BENCH_MOD} <> 0
    ), per_doc AS (
      SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id
    ), hits AS (
      SELECT doc_id, count(*) AS n_hit
      FROM corpus WHERE g IN (SELECT g FROM bench) GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(p.n_grams AS INTEGER) AS n_grams,
           CAST(coalesce(h.n_hit, 0) AS INTEGER) AS n_hit,
           round(coalesce(h.n_hit, 0) / p.n_grams, 6) AS contam_ratio
    FROM per_doc p LEFT JOIN hits h ON p.doc_id = h.doc_id
    """,
    "quality_repetition": f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents
    ), base AS (
      SELECT doc_id, toks FROM t WHERE len(toks) >= 3
    ), uni AS (
      SELECT doc_id, max(c) AS uni_max, sum(c) AS uni_n FROM (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS g FROM base) GROUP BY doc_id, g
      ) GROUP BY doc_id
    ), bi AS (
      SELECT doc_id, max(c) AS bi_max, sum(c) AS bi_n FROM (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest({sql_shingles('toks', 2)}) AS g
              FROM base) GROUP BY doc_id, g
      ) GROUP BY doc_id
    ), tri AS (
      SELECT doc_id, count(*) AS tri_n, count(DISTINCT g) AS tri_d
      FROM (SELECT doc_id, unnest({sql_shingles('toks', 3)}) AS g FROM base)
      GROUP BY doc_id
    )
    SELECT u.doc_id,
           round(uni_max / uni_n, 6) AS top1_ratio,
           round(bi_max / bi_n, 6) AS top_bigram_ratio,
           round((tri_n - tri_d) / tri_n, 6) AS dup_trigram_ratio,
           round(uni_max / uni_n, 6) <= 0.1 AS keep
    FROM uni u JOIN bi USING (doc_id) JOIN tri USING (doc_id)
    """,
    "shard_pack": f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_TOK}) AS INTEGER) AS n_tok FROM documents
    ), c AS (
      SELECT doc_id, n_tok,
             CAST(coalesce(sum(n_tok) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS "offset"
      FROM t
    )
    SELECT doc_id, n_tok, "offset", "offset" // {SHARD_TOKENS} AS shard_id
    FROM c
    """,
    "sample_weighted": f"""
    WITH g AS (
      SELECT lang, source, count(*) AS n_docs,
             CAST(sum(len({_TOK})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang, source
    ), tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens, count(*) AS n_domains
      FROM g
    ), mix AS (
      SELECT lang, source,
             round((1.0 / n_domains) / (n_tokens / tot_tokens), 6) AS weight
      FROM g CROSS JOIN tot
    )
    SELECT d.doc_id, d.lang, d.source,
           {_WEIGHT_BUCKET} AS bucket, m.weight
    FROM documents d JOIN mix m ON d.lang = m.lang AND d.source = m.source
    WHERE {_WEIGHT_BUCKET} < least(m.weight, 1.0) * 100
    """,
    "domain_mix": f"""
    WITH g AS (
      SELECT lang, source, count(*) AS n_docs,
             CAST(sum(len({_TOK})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang, source
    ), tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
             CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
             count(*) AS n_domains
      FROM g
    )
    SELECT lang, source, n_docs, n_tokens,
           round(n_docs / tot_docs, 6) AS doc_share,
           round(n_tokens / tot_tokens, 6) AS token_share,
           round((1.0 / n_domains) / (n_tokens / tot_tokens), 6) AS weight
    FROM g CROSS JOIN tot
    """,
}


BUDGET_TOKENS = 20_000  # corpus-selection token budget


def corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: greedy best-quality-first knapsack.

    The data-mixing primitive: rank every document by a quality score
    (lexical diversity here — distinct/total tokens; any 6dp-deterministic
    score plugs in) and take the best-first prefix whose cumulative token
    count fits ``BUDGET_TOKENS``.

    Plan (r10 rewrite): the running sum rides the HIERARCHICAL prefix sum
    (``with_global_prefix_sum`` — range partition on (quality desc,
    doc_id), per-partition token sums broadcast back as offsets, one
    order-preserving Arrow pass). The former
    ``Window.orderBy(...).rowsBetween(unboundedPreceding, 0)`` funneled
    the WHOLE corpus through one reducer — the exact shape
    functions/ranks.py exists to kill (r9 verdict); now the only
    full-data exchange is the range partition itself and the budget cut
    is a filter on the cumulative column, so the plan scales with
    partitions, not one task.

    Determinism: the score is an exact-int ratio rounded at 6dp, the order
    carries a doc_id tiebreak, and the running sum is integer tokens.
    """
    from ..functions.ranks import with_global_prefix_sum

    docs = load_documents_parallel(spark, sf_dir).withColumn(
        "toks", tokens(F.col("text"))
    )
    docs = docs.filter(F.size("toks") > 0)
    scored = docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct("toks")).cast("double")
            / F.size("toks").cast("double"),
            6,
        ).alias("quality"),
    )
    ranked, _, _ = with_global_prefix_sum(
        scored,
        [F.desc("quality"), F.asc("doc_id")],
        "n_tokens",
        rank_col="_r",
        prefix_col="cum_tokens",
    )
    return (
        ranked.filter(F.col("cum_tokens") <= BUDGET_TOKENS)
        .select("doc_id", "quality", "n_tokens", "cum_tokens")
    )


ORACLES["corpus_budget_select"] = f"""
    WITH t AS (
      SELECT doc_id, {_TOK} AS toks FROM documents
    ), scored AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             round(CAST(len(list_distinct(toks)) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE), 6) AS quality
      FROM t WHERE len(toks) > 0
    ), cum AS (
      SELECT doc_id, quality, n_tokens,
             sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, quality, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum WHERE cum_tokens <= {BUDGET_TOKENS}
    """


# --- sequence packing (concat-and-chunk) -----------------------------------

CTX_TOKENS = 256  # training context length in tokens


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence packing ledger for GPT-style concat-and-chunk training.

    :func:`shard_pack` answers "which shard does each document land in";
    this answers the sequence-grain question the attention-mask builder and
    the packing-efficiency report need: concatenate all documents in
    ``doc_id`` order into one token stream, cut it into ``CTX_TOKENS``-token
    training sequences, and emit ONE ROW PER SEQUENCE with its fill level
    and document-boundary structure:

    - ``n_tokens``   — tokens of the sequence actually covered (== CTX for
      every sequence but the final partial one): the utilization number.
    - ``n_docs``     — documents overlapping the sequence (cross-document
      attention boundaries inside this context window).
    - ``n_starts``   — documents whose first token falls in this sequence
      (BOS insertions).
    - ``head_doc``   — smallest doc_id overlapping (the resume cursor a
      restartable packer seeks to).

    Plan: the global token prefix-sum is :func:`shard_pack`'s hierarchical
    two-level :func:`_token_offsets` (per-block partial sums → tiny
    block-level cumsum → within-block window) — no single-partition window
    over the corpus. Each document then fans out to the few sequences its
    token span covers (``explode(sequence(first_seq, last_seq))`` — a doc
    spans ⌈n_tok/CTX⌉+1 sequences at most), and one partial-agg groupBy on
    ``seq_id`` builds the ledger. Interval-overlap token counts are exact
    integer min/max arithmetic, so the oracle (flat global window + the
    same fan-out) matches bit-for-bit.
    """
    d = (
        load_documents_parallel(spark, sf_dir)
        .select(
            "doc_id",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn("blk", F.expr(f"doc_id DIV {SHARD_BLOCK}"))
    )
    spans = _token_offsets(d, "start").withColumn(
        "end", F.col("start") + F.col("n_tok") - 1
    )
    ctx = F.lit(CTX_TOKENS)
    fan = spans.select(
        "doc_id",
        "start",
        "end",
        F.explode(
            F.expr(f"sequence(start DIV {CTX_TOKENS}, `end` DIV {CTX_TOKENS})")
        ).alias("seq_id"),
    )
    lo = F.greatest(F.col("start"), F.col("seq_id") * ctx)
    hi = F.least(F.col("end"), (F.col("seq_id") + 1) * ctx - 1)
    return (
        fan.withColumn("cov", (hi - lo + 1))
        .groupBy("seq_id")
        .agg(
            F.sum("cov").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                (F.expr(f"start DIV {CTX_TOKENS}") == F.col("seq_id")).cast("long")
            ).alias("n_starts"),
            F.min("doc_id").alias("head_doc"),
        )
    )


ORACLES["sequence_pack"] = f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_TOK}) AS BIGINT) AS n_tok FROM documents
    ), nz AS (
      SELECT doc_id, n_tok FROM t WHERE n_tok > 0
    ), c AS (
      SELECT doc_id, n_tok,
             CAST(coalesce(sum(n_tok) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS s
      FROM nz
    ), spans AS (
      SELECT doc_id, s AS "start", s + n_tok - 1 AS "end" FROM c
    ), fan AS (
      SELECT doc_id, "start", "end",
             unnest(range("start" // {CTX_TOKENS}, "end" // {CTX_TOKENS} + 1))
               AS seq_id
      FROM spans
    )
    SELECT seq_id,
           CAST(sum(least("end", (seq_id + 1) * {CTX_TOKENS} - 1)
                    - greatest("start", seq_id * {CTX_TOKENS}) + 1) AS BIGINT)
             AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN "start" // {CTX_TOKENS} = seq_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
           min(doc_id) AS head_doc
    FROM fan GROUP BY seq_id
    """


# --- temperature-scaled language mixing ------------------------------------

MIX_ALPHA = 0.3  # the multilingual-LM temperature exponent (τ = 1/α ≈ 3.3)


def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling distribution over languages.

    The public multilingual recipe (mBERT/XLM-R exponential smoothing):
    sampling probability q_i ∝ p_i^α with p_i the language's token share —
    α=1 reproduces the natural (head-dominated) mixture, α→0 the uniform
    one; 0.3 is the published sweet spot. Output per language: the natural
    share, the smoothed share, and the up/down-sampling factor q/p a shard
    writer multiplies into per-language keep rates.

    Determinism: n_tokens are exact ints; p is one IEEE divide; p^α is
    rounded at 9dp and fixed to DECIMAL(18,9) so the normalizer Z = Σp^α
    aggregates exactly in any partition order; the final q and q/p are
    single divides rounded at 6dp.
    """
    from ..functions.caching import scoped_persist

    docs = load_documents_parallel(spark, sf_dir)
    # persist the ≤|langs|-row aggregate (r15, guide §5): its three
    # references (shares, normalizer, output) each re-scanned and
    # re-tokenized the corpus — 4 scans → 1
    g = scoped_persist(
        docs.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens"),
        )
    )
    tot = g.agg(F.sum("n_tokens").alias("tot_tokens"))
    p = F.col("n_tokens") / F.col("tot_tokens")
    pa = F.round(F.pow(p, F.lit(MIX_ALPHA)), 9).cast("decimal(18,9)")
    scored = g.crossJoin(F.broadcast(tot)).withColumn("pa", pa)
    z = scored.agg(F.sum("pa").alias("z"))
    out = scored.crossJoin(F.broadcast(z))
    q = F.col("pa").cast("double") / F.col("z").cast("double")
    return out.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(p, 6).alias("token_share"),
        F.round(q, 6).alias("mix_share"),
        F.round(q / p, 6).alias("sample_factor"),
    )


ORACLES["mix_temperature"] = f"""
    WITH g AS (
      SELECT lang, count(*) AS n_docs,
             CAST(sum(len({_TOK})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM g
    ), s AS (
      SELECT lang, n_docs, n_tokens,
             CAST(n_tokens AS DOUBLE) / tot_tokens AS p,
             CAST(round(pow(CAST(n_tokens AS DOUBLE) / tot_tokens,
                            {MIX_ALPHA!r}), 9)
                  AS DECIMAL(18,9)) AS pa
      FROM g CROSS JOIN tot
    ), z AS (
      SELECT sum(pa) AS z FROM s
    )
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
           round(p, 6) AS token_share,
           round(CAST(pa AS DOUBLE) / CAST(z.z AS DOUBLE), 6) AS mix_share,
           round((CAST(pa AS DOUBLE) / CAST(z.z AS DOUBLE)) / p, 6)
             AS sample_factor
    FROM s CROSS JOIN z
    """


# --- DSIR data selection ----------------------------------------------------

DSIR_BUCKETS = 512  # hashed n-gram feature space
DSIR_TARGET_LANG = "en"  # the "target distribution" slice


def _dsir_bucket(col: Column) -> Column:
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
        % DSIR_BUCKETS
    )


def _dsir_bucket_counts(docs: DataFrame) -> DataFrame:
    """(b, r, t) per-bucket raw/target gram counts for a (text, lang)
    frame — the ADDITIVE rows the DSIR artifact stores (λ is a nonlinear
    fold of these, so the model persists counts and derives λ at read;
    the KN counts-at-rest discipline)."""
    d = docs.withColumn("toks", tokens(F.col("text")))
    grams = d.select(
        "lang",
        F.explode(F.concat(F.col("toks"), shingles_of(F.col("toks"), 2))).alias("g"),
    ).select("lang", _dsir_bucket(F.col("g")).alias("b"))
    return grams.groupBy("b").agg(
        F.count(F.lit(1)).alias("r"),
        F.count(F.when(F.col("lang") == DSIR_TARGET_LANG, 1)).alias("t"),
    )


def train_dsir_model(spark: SparkSession, sf_dir: str, root: str) -> None:
    """One corpus pass → the persisted per-bucket (b, r, t) count table.

    Counts are additive; :func:`_dsir_lambda` folds current totals into
    the λ table at read (512 rows — a near-free derivation).
    """
    from ..sources.manifest_table import ManifestTable

    docs = load_documents_parallel(spark, sf_dir).select("text", "lang")
    ManifestTable(root).append(_dsir_bucket_counts(docs), op="dsir-train")


def _dsir_lambda(spark: SparkSession, root: str) -> DataFrame:
    """The TOTAL B-row λ table derived from the CURRENT folded counts.

    λ_b = round(ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B)), 9) over hashed
    (uni+bi)-gram buckets, target = the ``lang='en'`` slice, raw = the
    whole corpus. Buckets unseen in training get the add-one-smoothed
    default from the same formula with zero counts, so the derived
    model is TOTAL — scoring never needs a missing-key branch, even on
    documents that arrive after training.
    """
    from ..sources.manifest_table import ManifestTable

    counts = (
        ManifestTable(root)
        .read(spark)
        .groupBy("b")
        .agg(F.sum("r").alias("r"), F.sum("t").alias("t"))
        .collect()
    )  # ≤ B rows
    by_b = {int(row["b"]): (int(row["r"]), int(row["t"])) for row in counts}
    r_total = sum(r for r, _ in by_b.values())
    t_total = sum(t for _, t in by_b.values())
    rows = [
        (b, *by_b.get(b, (0, 0))) for b in range(DSIR_BUCKETS)
    ]
    all_b = spark.createDataFrame(rows, "b long, r long, t long")
    return all_b.select(
        "b",
        F.round(
            F.log(
                (F.col("t") + F.lit(1.0))
                / F.lit(float(t_total + DSIR_BUCKETS))
            )
            - F.log(
                (F.col("r") + F.lit(1.0)) / F.lit(float(r_total + DSIR_BUCKETS))
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("lam"),
    )


def _dsir_model_path(spark: SparkSession, sf_dir: str) -> str:
    """Train once per process per resolved sf_dir (the shared
    served-artifact registry, sources/artifacts.py)."""
    from ..sources.artifacts import served_artifact

    return served_artifact(
        "dsir", sf_dir, lambda path: train_dsir_model(spark, sf_dir, path)
    )


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al., NeurIPS
    2023), SERVED.

    The published recipe for "pick raw-web documents that look like the
    target corpus": fit two bag-of-hashed-n-gram unigram models — one on a
    target sample (here the ``lang='en'`` slice standing in for the curated
    target), one on the full raw corpus — and score every document by its
    log importance weight  log ŵ(x) = Σ_b c_b(x)·(log p_target(b) − log
    p_raw(b))  over hashed (uni+bi)-gram buckets with add-one smoothing.
    Documents with positive log-weight look more target-like than raw-like
    and are kept (the paper then resamples ∝ ŵ; the sign cut is the
    deterministic variant that needs no global sort).

    Train-once/score-many (r10, declared r11 landed early): the model
    persists as ADDITIVE per-bucket (r, t) counts
    (:func:`train_dsir_model`, per-corpus build latch) and
    :func:`_dsir_lambda` folds them into the TOTAL B-row λ
    table at read; scoring is ZERO-shuffle: each doc's
    gram-bucket ARRAY is computed by whole-stage codegen (tokenize +
    hash stay JVM-side) and one vectorized Arrow pass sums
    λ[bucket] over it with λ broadcast as a 512-slot int64 NANO array
    (λ ≤ ~20 at 9dp → far inside int64; integer sums reproduce the
    exact decimal Σ c_b·λ_b in any order, the langid-scorer recipe) —
    no explode, no per-doc-bucket groupBy, no join. The former shape
    shuffled every gram row twice to compute a doc-local number.
    (A 512-entry ``create_map`` literal inside a HOF was tried first
    and is 5× SLOWER than the old plan: Catalyst re-evaluates the map
    construction per lookup — literal-table lookups belong in a
    broadcast numpy array, not in an expression tree.)

    Determinism: λ is fixed to DECIMAL(18,9) by the same JVM rounding
    as before (decimal × 10⁹ → long is exact); the final score is one
    lossless double cast of k/10⁹ — the oracle hash is unchanged.
    """
    import numpy as np

    lam_rows = (
        _dsir_lambda(spark, _dsir_model_path(spark, sf_dir))
        .select(
            "b",
            (F.col("lam") * F.lit(1_000_000_000)).cast("long").alias("nano"),
        )
        .collect()
    )
    lam_nano = np.zeros(DSIR_BUCKETS, dtype=np.int64)
    for r in lam_rows:
        lam_nano[int(r["b"])] = r["nano"]
    bc = spark.sparkContext.broadcast(lam_nano)

    docs = load_documents_parallel(spark, sf_dir).withColumn(
        "toks", tokens(F.col("text"))
    )
    grams = F.concat(F.col("toks"), shingles_of(F.col("toks"), 2))
    buckets = F.transform(grams, lambda g: _dsir_bucket(g))

    def score(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        lam = bc.value
        for batch in batches:
            ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            bs = batch.column("bs")
            # r15 (guide §4.2): one vectorized segment-sum over the batch's
            # flattened bucket lists replaces the former per-doc Python loop
            # — identical integer arithmetic (Σ over occurrences ≡ Σ tf·λ),
            # so the exact-decimal score is bit-identical.
            lens = np.asarray(
                pc.fill_null(pc.list_value_length(bs), 0)
            ).astype(np.int64)
            flat = np.asarray(bs.flatten()).astype(np.int64)
            seg = np.concatenate(
                ([0], np.cumsum(lam[flat], dtype=np.int64))
            )
            ends = np.cumsum(lens)
            sums = seg[ends] - seg[ends - lens]
            keep = lens > 0  # gram-free docs are absent (oracle parity)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[keep], type=pa.int64()),
                    pa.array(lens[keep], type=pa.int64()),
                    # float(int)/1e9 per doc ≡ vectorized int64→f64 divide
                    pa.array(sums[keep].astype(np.float64) / 1e9),
                ],
                names=["doc_id", "n_feats", "log_weight"],
            )

    return (
        docs.select("doc_id", buckets.alias("bs"))
        .mapInArrow(score, schema="doc_id long, n_feats long, log_weight double")
        .withColumn("selected", F.col("log_weight") > 0)
    )


_DSIR_BUCKET = (
    f"CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % {DSIR_BUCKETS}"
)

ORACLES["dsir_select"] = f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOK} AS toks FROM documents
    ), grams AS (
      SELECT doc_id, lang, {_DSIR_BUCKET} AS b
      FROM (
        SELECT doc_id, lang, unnest(toks || {sql_shingles('toks', 2)}) AS g
        FROM t
      )
    ), raw AS (
      SELECT b, count(*) AS r FROM grams GROUP BY b
    ), tgt AS (
      SELECT b, count(*) AS tc FROM grams
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
    ), tots AS (
      SELECT (SELECT CAST(sum(r) AS BIGINT) FROM raw) AS rt,
             (SELECT CAST(coalesce(sum(tc), 0) AS BIGINT) FROM tgt) AS tt
    ), lam AS (
      SELECT raw.b,
             CAST(round(
               ln((coalesce(tgt.tc, 0) + 1.0) / (tots.tt + {DSIR_BUCKETS}))
               - ln((raw.r + 1.0) / (tots.rt + {DSIR_BUCKETS})), 9)
             AS DECIMAL(18,9)) AS lam
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tots
    ), feats AS (
      SELECT doc_id, b, count(*) AS c FROM grams GROUP BY doc_id, b
    )
    SELECT f.doc_id,
           CAST(sum(f.c) AS BIGINT) AS n_feats,
           CAST(sum(f.c * l.lam) AS DOUBLE) AS log_weight,
           CAST(sum(f.c * l.lam) AS DOUBLE) > 0 AS selected
    FROM feats f JOIN lam l ON f.b = l.b
    GROUP BY f.doc_id
    """


# --- exact-k per-group reservoir sampling ----------------------------------

RESERVOIR_K = 20  # exact sample size per language
RESERVOIR_SALT = "resv:"


def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-K uniform sample per language — distributed reservoir sampling.

    :func:`sample_stratified` keeps a RATE per language (output size is
    binomial); eval-set construction and per-domain audits need EXACTLY K
    rows per group. The classic reservoir algorithm is sequential; its
    distributed, rerun-stable form is priority sampling (Efraimidis-
    Spirakis shape with a deterministic key): assign every doc the salted
    md5 priority of its id, keep each language's K smallest. Uniformity
    comes from md5's uniformity over ids; determinism (same sample on any
    rerun/partitioning — what a training pipeline needs from its eval
    split) comes from hashing ids instead of ``rand()``.

    Two-phase plan, scale-honest: a per-(group, input-partition) window
    keeps K local winners first — bounded rows per task, map-side — so the
    global per-group window ranks only ``partitions×K`` candidates, never
    the group's full membership. The classic giant-group window accident
    at 100 TB is a single reducer sorting a billion-row language; phase 1
    caps what reaches it.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pri = F.md5(F.concat(F.lit(RESERVOIR_SALT), F.col("doc_id").cast("string")))
    local = Window.partitionBy("lang", F.spark_partition_id()).orderBy(
        "pri", "doc_id"
    )
    cand = (
        docs.withColumn("pri", pri)
        .withColumn("lrk", F.row_number().over(local))
        .filter(F.col("lrk") <= RESERVOIR_K)
    )
    w = Window.partitionBy("lang").orderBy("pri", "doc_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("doc_id", "lang", "rk")
    )


ORACLES["sample_reservoir"] = f"""
    WITH pri AS (
      SELECT doc_id, lang,
             md5('{RESERVOIR_SALT}' || CAST(doc_id AS VARCHAR)) AS pri
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(row_number() OVER (PARTITION BY lang
                ORDER BY pri, doc_id) AS INTEGER) AS rk
    FROM pri
    QUALIFY rk <= {RESERVOIR_K}
    """


# -------------------------------------------------------- global shuffle

SHUFFLE_SALT = "epoch0"  # change per epoch for a fresh permutation
SHUFFLE_LOADER_SHARDS = 16


def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle: every doc gets a dense 1..N position
    in a pseudorandom permutation, plus its round-robin loader shard.

    The step between curation and sharding in every training pipeline:
    examples must be globally shuffled BEFORE being packed into sequential
    shards, or each loader sees long runs of one domain/source. The
    permutation is content-keyed (md5 of salt+doc_id), so it is
    reproducible across runs and engines, and re-saltable per epoch.

    Plan: one md5 per doc, then the hierarchical global rank
    (``functions/ranks.py`` — range repartition + broadcast offsets +
    partitioned row_number), NO single-reducer window. At 100 TB this is
    one range shuffle of (doc_id, 32-byte hash) rows — the permutation
    never materializes on one node.
    """
    from ..functions.ranks import with_global_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.lit(SHUFFLE_SALT), F.col("doc_id").cast("string"))).alias(
            "h"
        ),
    )
    ranked, _ = with_global_rank(docs, [F.asc("h"), F.asc("doc_id")], "pos")
    return ranked.select(
        "doc_id",
        F.col("pos").alias("shuffle_pos"),
        (F.col("pos") % SHUFFLE_LOADER_SHARDS).cast("int").alias("loader_shard"),
    )


ORACLES["corpus_shuffle"] = f"""
    WITH h AS (
      SELECT doc_id,
             md5('{SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS shuffle_pos,
           CAST(row_number() OVER (ORDER BY h, doc_id)
                % {SHUFFLE_LOADER_SHARDS} AS INTEGER) AS loader_shard
    FROM h
    """


# Leakage-safe split oracle: nest the dedup_clusters transitive-closure
# oracle as a CTE (string surgery on its final SELECT — asserted below so
# a refactor of the clusters oracle can't silently break this one), then
# bucket every doc by its cluster representative.
from .dedup import ORACLES as _DEDUP_ORACLES_FOR_SPLIT  # noqa: E402

_CLUSTERS_FINAL = "SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id"
if _CLUSTERS_FINAL not in _DEDUP_ORACLES_FOR_SPLIT["dedup_clusters"]:
    # not an assert: `python -O` strips asserts and the .replace below
    # would then silently no-op, yielding malformed two-SELECT SQL with a
    # confusing downstream parse error (r9 advice)
    raise RuntimeError(
        "dedup_clusters oracle changed shape; update split_leakage_safe's CTE surgery"
    )
_REP = "COALESCE(c.cluster_id, d.doc_id)"
_REP_BUCKET = sql_hash_bucket(_REP)
ORACLES["split_leakage_safe"] = (
    _DEDUP_ORACLES_FOR_SPLIT["dedup_clusters"].replace(
        _CLUSTERS_FINAL, f", clusters AS ({_CLUSTERS_FINAL})", 1
    )
    + f"""
    SELECT d.doc_id,
           {_REP} AS rep_id,
           {_REP_BUCKET} AS bucket,
           CASE WHEN {_REP_BUCKET} < {TRAIN_PCT} THEN 'train'
                WHEN {_REP_BUCKET} < {VALID_PCT} THEN 'valid'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    """
)
