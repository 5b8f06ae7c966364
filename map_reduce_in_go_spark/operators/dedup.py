"""Deduplication operators for training-data pipelines.

Five dedup families, all as single declarative plans:

- exact          md5(text) groupBy — one shuffle on the digest
- minhash        word-shingle MinHash (32 perms) → 8-band LSH → candidate pairs
- simhash        64-bit SimHash over word hashes → 16-bit band buckets → pairs
- ngram_jaccard  exact Jaccard verification of the MinHash candidates
- embedding      cosine near-dup pairs over the embeddings table

Portability design: every probabilistic primitive is built from ``md5`` over
seeded strings (identical in Spark and DuckDB) so the correctness oracles
replay the *exact* signatures in SQL — no "close enough" comparisons.

Scale posture (100 TB):
- exact/minhash/simhash never materialize the cross product: candidates come
  from equality joins on (band_idx, band_hash) whose bucket sizes are bounded
  by construction (b·r tuning);
- signature computation is embarrassingly parallel codegen over the scan;
- the only all-pairs plan is ``dedup_embedding`` (kept exact for the oracle;
  the scale path for vectors is the LSH variant in ``similarity.py``).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.caching import free_local_checkpoint, scoped_persist
from ..functions.hashing import sql_minhash_signature
from ..functions.text import shingles, shingles_of, sql_shingles, sql_tokens, tokens
from ..functions.vectors import sql_cosine, sql_double_array
from .similarity import CENTROID_MOD, CENTROID_OFF
from ..sources.artifacts import artifact_home as band_index_home
from ..sources.artifacts import memo as _artifact_memo
from ..sources.artifacts import served_artifact
from ..sources.tables import load_documents_parallel, load_table, spread_partitions

NUM_PERM = 32
N_BANDS = 8
ROWS_PER_BAND = NUM_PERM // N_BANDS
SHINGLE_N = 3
SIMHASH_HAMMING_MAX = 8
# testdata embeddings are isotropic-random (pairwise cos ∈ [-0.5, 0.5]);
# 0.35 marks the far tail = "near-duplicate" for this corpus
EMBED_COS_MIN = 0.35

# 4-bit binary rendering of hex digits 0..f, used to expand md5 hex into a
# bit string identically in Spark and DuckDB (no shift operators needed).
_BIN4 = "".join(format(i, "04b") for i in range(16))
_HEX = "0123456789abcdef"


# --------------------------------------------------------------------- exact

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content digest, keep the smallest doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("digest"))
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count("*").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")), lambda d: d.cast("string")
                ),
                ",",
            ).alias("doc_ids"),
        )
    )


def dedup_exact_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup: digest over *normalized* text (lower, punctuation
    trimmed, whitespace collapsed) — catches trivially-reformatted copies."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.array_join(tokens(F.col("text")), " ")
    return (
        docs.groupBy(F.md5(norm).alias("digest"))
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count("*").alias("n_docs"),
        )
    )


# ------------------------------------------------------------------- minhash

# Per-permutation shingle hash of each MinHash family. ``md5`` over the
# seeded string is portable (the DuckDB oracles replay it exactly);
# ``xxhash64`` is JVM-native long math, ~2x cheaper per shingle with 32
# longs/doc on the shuffle instead of 32 hex strings, but has no DuckDB
# twin, so its family is pytest-verified against md5 instead of an oracle.
_PERM_HASH = {
    "md5": lambda s, sh: F.md5(F.concat(F.lit(f"{s}:"), sh)),
    "xxhash64": lambda s, sh: F.xxhash64(F.lit(s), sh),
}


def _signatures(spark: SparkSession, sf_dir: str, family: str = "md5") -> DataFrame:
    """MinHash signatures of the documents table, persisted.

    The closed-form nested-HOF variant (``functions.hashing.minhash_signature``)
    computes the same values but higher-order functions are *interpreted*
    expressions in Spark — and every self-join reference re-evaluates them.
    :func:`signatures_of` keeps everything in whole-stage codegen with
    map-side combine. The result is persisted because the LSH pipeline
    reuses it three times.
    """
    docs = load_documents_parallel(spark, sf_dir, full_width=True)
    return scoped_persist(
        signatures_of(docs.withColumn("toks", tokens(F.col("text"))), family)
    )


def signatures_of(docs: DataFrame, family: str = "md5") -> DataFrame:
    """(doc_id, sig) MinHash signatures from a frame carrying ``doc_id`` + ``toks``.

    ``family`` picks the permutation hash (``md5`` or ``xxhash64``, see
    ``_PERM_HASH``). Takes tokens so fused pipelines (operators/pipeline.py)
    can tokenize once and feed the same array to scoring and shingling.
    Not persisted here — callers own the cache scope.
    """
    perm = _PERM_HASH[family]
    sh = docs.select(
        "doc_id", F.explode(shingles_of(F.col("toks"), SHINGLE_N)).alias("shingle")
    )
    # one min() aggregate per permutation instead of a 32× seed explode:
    # the 32 hashes are projected per shingle row inside codegen, partial
    # aggregation collapses them map-side, and the shuffle carries just
    # 32 values per doc instead of 32× the shingle rows.
    mins = sh.groupBy("doc_id").agg(
        *[F.min(perm(s, F.col("shingle"))).alias(f"s{s}") for s in range(NUM_PERM)]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"s{s}") for s in range(NUM_PERM)]).alias("sig")
    )


def _bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) LSH band table from signatures."""
    return sigs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band_idx"),
        "sig",
    ).select(
        "doc_id",
        "band_idx",
        F.md5(
            F.concat(
                F.col("band_idx").cast("string"),
                F.lit("|"),
                F.array_join(
                    F.slice("sig", F.col("band_idx") * ROWS_PER_BAND + 1, ROWS_PER_BAND),
                    ",",
                ),
            )
        ).alias("band_hash"),
    )


def _band_pairs(sigs: DataFrame) -> DataFrame:
    """LSH band grouping → distinct candidate (doc_a < doc_b) pairs."""
    bands = _bands(sigs)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def verified_pairs(sigs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_match): LSH band-join candidates of ``sigs``, each
    with its signature agreement count out of ``NUM_PERM``."""
    pairs = _band_pairs(sigs)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                f"size(filter(sequence(1, {NUM_PERM}), "
                "i -> element_at(sig_a, i) = element_at(sig_b, i)))"
            ).alias("n_match"),
        )
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs with signature agreement counts."""
    return verified_pairs(_signatures(spark, sf_dir))


# ------------------------------------------------------------------- simhash

_BITS64_EXPR = (
    "array_join(transform(sequence(1, 32), i -> "
    f"substr('{_BIN4}', (instr('{_HEX}', substr(h, i, 1)) - 1) * 4 + 1, 4)), '')"
)


def _simhashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_documents_parallel(spark, sf_dir, full_width=True)
    words = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).distinct()
    wb = words.withColumn("h", F.md5("word")).withColumn("bits64", F.expr(_BITS64_EXPR))
    bitrows = wb.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("j"),
        "bits64",
    ).select(
        "doc_id",
        "j",
        F.when(F.expr("substr(bits64, j + 1, 1)") == "1", 1).otherwise(-1).alias("c"),
    )
    return (
        bitrows.groupBy("doc_id", "j")
        .agg(F.sum("c").alias("s"))
        .withColumn("bit", F.when(F.col("s") > 0, F.lit("1")).otherwise(F.lit("0")))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "bit"))),
                    lambda st: st["bit"],
                ),
                "",
            ).alias("simhash")
        )
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 16-bit band collision + Hamming filter."""
    sh = _simhashes(spark, sf_dir)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("chunk"),
    ).select(
        "doc_id",
        "simhash",
        "chunk",
        F.expr("substr(simhash, chunk * 16 + 1, 16)").alias("band"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming",
            F.expr(
                "size(filter(sequence(1, 64), "
                "i -> substr(sim_a, i, 1) != substr(sim_b, i, 1)))"
            ),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


# ------------------------------------------------------------- ngram jaccard

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over 3-gram shingle sets for the MinHash candidates."""
    docs = load_documents_parallel(spark, sf_dir)
    # the shingle-set frame is referenced four times below (both join
    # sides + both size attaches); without a persist each reference
    # re-scans the corpus and re-pays the explode + distinct exchange —
    # 4 corpus passes for one query (r15, guide §5: reuse > recompute)
    shd = scoped_persist(
        docs.select("doc_id", F.explode(shingles(F.col("text"), SHINGLE_N)).alias("sh"))
        .distinct()
    )
    sizes = shd.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    pairs = scoped_persist(_band_pairs(_signatures(spark, sf_dir)))
    sa = shd.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = shd.select(F.col("doc_id").alias("doc_b2"), F.col("sh").alias("sh_b"))
    inter = (
        pairs.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("doc_b2")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character edit-distance verification of the MinHash candidates.

    Levenshtein is O(|a|·|b|) per pair — viable only because the pair set
    comes from LSH band collisions, never all-pairs (the blocking does the
    100 TB heavy lifting; the quadratic kernel runs on a tiny survivor set).
    ``levenshtein`` is JVM-side codegen; similarity normalizes by the longer
    text so identical docs score 1.0.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _band_pairs(_signatures(spark, sf_dir))
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    lev = F.levenshtein("text_a", "text_b")
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            lev.cast("long").alias("edit_dist"),
            F.round(
                F.lit(1.0)
                - lev / F.greatest(F.length("text_a"), F.length("text_b")),
                6,
            ).alias("edit_sim"),
        )
    )


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment over the LSH candidates.

    Jaccard misses subset duplication (a doc quoting most of a shorter one
    scores low symmetrically); containment |A∩B|/|A| and |A∩B|/|B| flags
    it from either side. Same intersect machinery as the Jaccard verifier —
    one equijoin on (pair, shingle), integer counts, two exact divisions.
    """
    docs = load_documents_parallel(spark, sf_dir)
    # the shingle-set frame is referenced four times below (both join
    # sides + both size attaches); without a persist each reference
    # re-scans the corpus and re-pays the explode + distinct exchange —
    # 4 corpus passes for one query (r15, guide §5: reuse > recompute)
    shd = scoped_persist(
        docs.select("doc_id", F.explode(shingles(F.col("text"), SHINGLE_N)).alias("sh"))
        .distinct()
    )
    sizes = shd.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    pairs = scoped_persist(_band_pairs(_signatures(spark, sf_dir)))
    sa = shd.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = shd.select(F.col("doc_id").alias("doc_b2"), F.col("sh").alias("sh_b"))
    inter = (
        pairs.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("doc_b2")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_inter") / F.col("n_a"), 6).alias("containment_a"),
            F.round(F.col("n_inter") / F.col("n_b"), 6).alias("containment_b"),
        )
    )


# ---------------------------------------------------------------- clustering

CLUSTER_MAX_ITERS = 25
# star_components: edge sets at or below this size are solved with one
# bounded driver pass (union-find) instead of distributed contraction
# rounds — ~16 bytes/edge ⇒ ≤ ~16 MB of driver transfer at the default,
# the same order as broadcast relations this engine already builds. At
# 100 TB near-dup pair graphs exceed this and take the distributed path.
LOCAL_CC_MAX_EDGES = int(os.environ.get("SPARK_GRAFT_LOCAL_CC_MAX_EDGES", str(1 << 20)))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over MinHash candidate pairs → cluster ids.

    The "pick one representative per duplicate group" step: each doc in a
    candidate pair gets the minimum doc_id reachable through the pair graph.
    Spark side: iterative min-label propagation (the Pregel pattern on
    DataFrames; iterations ≤ graph diameter, and LSH duplicate clusters are
    shallow). Oracle side: a recursive CTE computing the same transitive
    closure.

    Iteration discipline (this is what survives 100×): every loop round
    ``localCheckpoint``\\ s the new labels — the physical plan stays one
    ``LogicalRDD`` scan deep instead of growing geometrically, and a lost
    executor replays one round, not the whole chain — then explicitly frees
    the superseded round's blocks. Edges are checkpointed once up front so
    the signature/band lineage is released before the loop starts. A graph
    whose diameter exceeds ``CLUSTER_MAX_ITERS`` raises instead of silently
    returning half-propagated labels.

    At 100 TB the iteration count drops further with alternating
    large-star/small-star rounds — implemented as
    :func:`dedup_clusters_star`, oracle-proven to produce the identical
    labeling; the join shape per round is the same.
    """
    pairs = scoped_persist(_band_pairs(_signatures(spark, sf_dir)))
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = fwd.union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(CLUSTER_MAX_ITERS):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        free_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"dedup_clusters did not converge in {CLUSTER_MAX_ITERS} iterations "
            f"({changed} labels still moving) — raise CLUSTER_MAX_ITERS or use "
            "large-star/small-star for this graph"
        )
    free_local_checkpoint(edges)
    return labels.select("doc_id", "cluster_id")


def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds.

    The O(log² n)-round algorithm from "Connected Components in MapReduce
    and Beyond" (Kiveris et al., SoCC 2014) — the scale path
    :func:`dedup_clusters`' label propagation alludes to: propagation needs
    O(diameter) rounds, star contraction collapses long chains
    exponentially, which is what survives a 100 TB graph with stringy
    components. Per round each node attaches its neighborhood to the
    neighborhood minimum (large-star: strictly-larger neighbors;
    small-star: smaller-or-equal ones), each round one groupBy + one join
    keyed on the node — same shuffle shape as a propagation round, far
    fewer rounds. Converges to per-component stars centered at the
    component minimum, so the output (doc_id → component-min label) is
    bit-identical to label propagation and shares its oracle.

    r14: the contraction loop is factored into :func:`star_components`
    so any pair family (MinHash text pairs here, perceptual-hash image
    pairs in operators/multimodal.py) clusters through one engine.
    """
    pairs = scoped_persist(_band_pairs(_signatures(spark, sf_dir)))
    return star_components(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )


def star_components(pair_edges: DataFrame) -> DataFrame:
    """(doc_id, cluster_id=component min) for an undirected edge frame
    ``(u, v)`` — the Kiveris et al. star-contraction engine behind
    :func:`dedup_clusters_star`, reusable by any near-dup pair family."""

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _large_star(e: DataFrame) -> DataFrame:
        sym = _sym(e)
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )
        # no distinct here (r15): duplicate edges cannot change the
        # min-aggregates or filters of the small-star round that always
        # follows, and its trailing distinct dedups the round's output —
        # dropping this one removes a whole shuffle per contraction round
        # (guide §2.4) for a bit of duplicate volume inside one round.
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # input edges point big→small (v < u) after a large-star round
        m = (
            e.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )
        withm = e.join(m, "u")
        attach_nbrs = withm.filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        attach_self = m.filter(F.col("u") != F.col("m")).select("u", F.col("m").alias("v"))
        return attach_nbrs.union(attach_self).distinct()

    edges = pair_edges.select("u", "v").localCheckpoint(eager=True)
    # carry the count across rounds: edges.count() each round re-counted
    # the frame the previous round already counted — one whole Spark job
    # per round for a number we had (r15, guide §1.2 per-task work)
    n_edges = edges.count()
    # Size-gated local solve (r15): a contraction ROUND costs a fixed
    # handful of shuffle stages + one checkpoint job, so on a small edge
    # set the loop is pure scheduling overhead (measured 4.4-9.4 s for a
    # 2,866-edge graph at sf0.1 — vs ~0.1 s of actual union-find work).
    # Below the bound the edges come to the driver ONCE (≤ ~16 MB at the
    # 2^20 default — the same order as broadcast relations already used)
    # and path-compressed union-find produces the identical
    # component-minimum labeling; past it the distributed contraction
    # runs exactly as before. The bound is conf-able for deployments
    # (SPARK_GRAFT_LOCAL_CC_MAX_EDGES); correctness is pinned by the
    # union-find pytest twins and the recursive-CTE oracles either way.
    if n_edges <= LOCAL_CC_MAX_EDGES:
        parent: dict[int, int] = {}

        def _find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        # one collect, not toLocalIterator: the iterator schedules one
        # sequential mini-job per partition (measured +1.4 s on a
        # 64-partition frame); the bound caps the transfer either way
        for u, v in edges.collect():
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = _find(u), _find(v)
            if ru != rv:
                # union by min so the root IS the component minimum
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        spark = pair_edges.sparkSession
        labels = [(x, _find(x)) for x in parent]
        free_local_checkpoint(edges)
        return spark.createDataFrame(labels, schema="doc_id long, cluster_id long")
    for _ in range(CLUSTER_MAX_ITERS):
        new_edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        # both sides are duplicate-free by construction, so equal counts +
        # one empty one-sided diff ⇒ equal sets (count shortcut saves a job)
        changed = 1
        n_new = new_edges.count()
        if n_new == n_edges:
            changed = new_edges.exceptAll(edges).limit(1).count()
        free_local_checkpoint(edges)
        edges = new_edges
        n_edges = n_new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"star_components did not converge in {CLUSTER_MAX_ITERS} rounds"
        )
    # stars point member→center; centers label themselves
    members = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    centers = edges.select(F.col("v").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    # materialize before freeing the edge checkpoint the plan reads from
    out = (
        members.unionByName(centers)
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    free_local_checkpoint(edges)
    return out


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a new batch against the standing corpus.

    The daily-crawl shape: "old" corpus (even doc_ids here) vs "new" batch
    (odd doc_ids). A new doc is dropped if any of its LSH bands collides
    with an old doc's band (near-dup of the corpus) or with a smaller-id
    new doc (near-dup within the batch); survivors are what gets ingested.

    Scale design: at 100 TB the old side's band table is a *persisted
    index* — bucketed by (band_idx, band_hash) and appended to as batches
    land — so each increment is (batch bands) ⋈ (indexed corpus bands),
    never a corpus rescan. Here both sides derive from one signature pass
    and go through the same probe kernel, :func:`dedup_batch_against_bands`.
    """
    bands = scoped_persist(_bands(_signatures(spark, sf_dir)))
    is_new = F.pmod(F.col("doc_id"), F.lit(2)) == 1
    new_docs = load_table(spark, sf_dir, "documents").filter(is_new)
    return dedup_batch_against_bands(
        new_docs, bands.filter(~is_new), batch_bands=bands.filter(is_new)
    )


def build_band_index(docs: DataFrame, index_path: str, mode: str = "overwrite") -> None:
    """Materialize a corpus's LSH band table as a durable parquet index.

    The 100 TB incremental-ingestion design (see :func:`dedup_incremental`):
    the standing corpus's bands live on disk, partitioned by ``band_idx``, and
    each daily batch appends its own bands after dedup (``mode="append"``).
    An increment then joins (batch bands) ⋈ (index) — cost scales with the
    batch, never a corpus rescan. On a real deployment this table would be
    Iceberg/Delta for ACID appends; plain parquet ``append`` keeps the exact
    same reader call and layout.
    """
    (
        bands_of_docs(docs)
        .write.mode(mode)
        .partitionBy("band_idx")
        .parquet(index_path)
    )


def bands_of_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) LSH band table straight from documents."""
    return _bands(signatures_of(docs.withColumn("toks", tokens(F.col("text")))))


def dedup_batch_against_index(
    spark: SparkSession, batch_docs: DataFrame, index_path: str
) -> DataFrame:
    """:func:`dedup_incremental`'s batch path against a persisted band index.

    Computes signatures for ``batch_docs`` ONLY; the corpus side is a parquet
    scan of the index built by :func:`build_band_index` (column-pruned to
    (band_idx, band_hash) — Spark never reads the index's doc_id column).
    Returns the surviving batch doc_ids, identical to the derive-both-sides
    query on the same split.
    """
    old_bands = spark.read.parquet(index_path).select("band_idx", "band_hash")
    return dedup_batch_against_bands(batch_docs, old_bands)


def dedup_batch_against_bands(
    batch_docs: DataFrame, old_bands: DataFrame, batch_bands: DataFrame | None = None
) -> DataFrame:
    """Batch-vs-standing-bands dedup, storage-agnostic: the one probe kernel.

    A batch doc is dropped if one of its bands collides with a standing
    band (near-dup of the corpus) or with a smaller-id batch doc's band
    (near-dup within the batch); the surviving ``doc_id``s are returned.
    ``old_bands`` may come from any reader — the plain parquet index, the
    manifest-log table, or a derived frame; only (band_idx, band_hash) is
    consumed. ``batch_bands`` lets a caller that already materialized the
    batch's band table (e.g. to derive probe keys for stats pruning) skip
    the second signature pass; it must be ``bands_of_docs(batch_docs)``.
    """
    new_bands = (
        batch_bands
        if batch_bands is not None
        else scoped_persist(bands_of_docs(batch_docs))
    )
    drop_old = new_bands.join(
        old_bands.select("band_idx", "band_hash").distinct(),
        ["band_idx", "band_hash"],
        "left_semi",
    ).select("doc_id")
    a, b = new_bands.alias("a"), new_bands.alias("b")
    drop_new = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("b.doc_id").alias("doc_id"))
    )
    return (
        batch_docs.select("doc_id")
        .join(drop_old.union(drop_new).distinct(), "doc_id", "left_anti")
        .select("doc_id")
    )


MAX_PROBE_KEYS = 100_000  # past this, point-set pruning buys nothing


def dedup_batch_against_stats_index(
    spark: SparkSession, batch_docs: DataFrame, tbl
) -> DataFrame:
    """Probe the manifest-log band index reading ONLY files that can match.

    The stats-aware point-lookup path: the batch's band hashes are a
    bounded probe-key set (32 per doc); with the index compacted into a
    ``band_hash``-sorted layout (``compact(zorder_cols=["band_hash"])``,
    stats in the manifest), :meth:`ManifestTable.files_pruned_in` keeps
    only files whose [min, max] hash range contains a probe key — the
    point-lookup half of Delta-style data skipping. Results are identical
    to probing the full snapshot (file-granularity superset guarantee,
    proven in tests/test_data_skipping.py); only scan volume changes.

    Falls back to the full snapshot read past ``MAX_PROBE_KEYS`` probe
    hashes — a batch that large touches essentially every file of any
    real index, so the metadata pass would be pure overhead.
    """
    new_bands = scoped_persist(bands_of_docs(batch_docs))
    # one bounded driver job (r15, guide §5): the former count() + collect
    # pair charged two full passes for one probe-key set; limit(K+1) caps
    # driver memory and the length test replaces the count
    probe_rows = (
        new_bands.select("band_hash").distinct().limit(MAX_PROBE_KEYS + 1).collect()
    )
    if len(probe_rows) <= MAX_PROBE_KEYS:
        old = tbl.read_pruned_in(
            spark, "band_hash", [r["band_hash"] for r in probe_rows]
        )
    else:
        old = tbl.read(spark)
    return dedup_batch_against_bands(batch_docs, old, batch_bands=new_bands)


_CORPUS_INDEXES = _artifact_memo("corpus")  # introspected by tests


def _corpus_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Even-doc corpus band index for ``sf_dir``, built once per process.

    Keyed by the *resolved* directory path (not its basename), so distinct
    sf_dirs sharing a final path segment get distinct indexes. Memoizing the
    build is what makes :func:`dedup_incremental_indexed` probe-only on
    every call after the first — the shape a standing 100 TB index has,
    where the build amortizes across every batch that ever lands. Concurrent
    first calls build exactly once behind the shared per-key latch
    (:func:`~..sources.artifacts.served_artifact`).
    """

    def _build(path: str) -> None:
        corpus = load_table(spark, sf_dir, "documents").filter(
            F.pmod(F.col("doc_id"), F.lit(2)) == 0
        )
        build_band_index(corpus, path)

    return served_artifact("corpus", sf_dir, _build)


def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry twin of :func:`dedup_incremental` exercising the durable index.

    Same corpus/batch split and identical output (the oracle SQL is shared),
    but the corpus side goes through :func:`build_band_index` →
    :func:`dedup_batch_against_index`: materialize the standing corpus's band
    table to parquet once per process (memoized — see
    :func:`_corpus_index_path`), then join only the batch against it. The
    driver hash-checking this row proves the index round-trip loses nothing
    vs the derive-both-sides plan; after the first call the query is pure
    probe, so its cost scales with the batch, never the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    return dedup_batch_against_index(spark, batch, _corpus_index_path(spark, sf_dir))


def append_to_band_index(docs: DataFrame, index_path: str) -> None:
    """Append ``docs``' bands to an existing index (the day-2 ingest step)."""
    build_band_index(docs, index_path, mode="append")


def _two_batch(spark: SparkSession, sf_dir: str, bootstrap, probe, append) -> DataFrame:
    """The day-2 sequence every two-batch twin runs over its own storage.

    Documents split by ``doc_id mod 3`` into the standing corpus (0), batch
    1 and batch 2. ``bootstrap(corpus)`` builds the index, ``probe(batch)``
    returns a batch's surviving doc_ids against the index as it stands, and
    ``append(kept)`` adds batch 1's surviving documents to it. Returns
    ``(batch, doc_id)`` survivors of both batches; batch 2's rows prove the
    append path — a batch-2 doc is dropped on collision with the corpus
    *or* a batch-1 survivor, which only the appended rows can cause.
    Batch 1's survivors are checkpointed eagerly before the append so
    their probe finishes before the index changes underneath the plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus, batch1, batch2 = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == r) for r in range(3)
    )
    bootstrap(corpus)
    surv1 = probe(batch1).localCheckpoint(eager=True)
    append(batch1.join(surv1, "doc_id", "left_semi"))
    surv2 = probe(batch2)
    return surv1.select(F.lit(1).cast("int").alias("batch"), "doc_id").unionAll(
        surv2.select(F.lit(2).cast("int").alias("batch"), "doc_id")
    )


def _index_dir(prefix: str) -> str:
    """A fresh ``bands`` path under this process's artifact home."""
    return os.path.join(tempfile.mkdtemp(prefix=prefix, dir=band_index_home()), "bands")


def dedup_incremental_two_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 incremental dedup: two batches against a *growing* band index.

    The daily-crawl sequence end-to-end (:func:`_two_batch`) over a plain
    parquet band index: build the standing corpus's index → dedup batch 1
    against it → append batch 1's *surviving* bands → dedup batch 2 against
    the grown index.

    The reference re-reads every input file on every run (main.go:130); the
    index makes each increment's cost scale with the batch instead.
    """
    index_path = _index_dir("two_batch_")
    return _two_batch(
        spark,
        sf_dir,
        bootstrap=lambda corpus: build_band_index(corpus, index_path),
        probe=lambda batch: dedup_batch_against_index(spark, batch, index_path),
        append=lambda kept: append_to_band_index(kept, index_path),
    )


def dedup_incremental_acid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_incremental_two_batch` over the manifest-log band index.

    Same corpus/batch-1/batch-2 split and the same oracle — but the standing
    index is a :class:`~..sources.manifest_table.ManifestTable` (atomic
    commits, snapshot-isolated readers, compaction; see that module) instead
    of bare ``mode("append")`` parquet. The sequence exercises every verb a
    daily-ingest deployment runs: overwrite (bootstrap) → snapshot read →
    append (batch-1 survivors) → compact with duplicate-row dedup → snapshot
    read again. The driver hash-checking this row proves the commit protocol
    changes no surviving row vs the plain-parquet twin.
    """
    from ..sources.manifest_table import ManifestTable

    tbl = ManifestTable(_index_dir("acid_"))

    def append(kept: DataFrame) -> None:
        tbl.append(bands_of_docs(kept))
        # compaction mid-sequence: rewrites + dedups the live rows, swaps the
        # file list atomically — batch 2 must see identical content after it
        tbl.compact(spark, dedup_cols=["doc_id", "band_idx", "band_hash"])

    return _two_batch(
        spark,
        sf_dir,
        bootstrap=lambda corpus: tbl.overwrite(bands_of_docs(corpus)),
        probe=lambda batch: dedup_batch_against_bands(batch, tbl.read(spark)),
        append=append,
    )


def dedup_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_incremental_two_batch` through the STATS-PROBED index.

    Same corpus/batch-1/batch-2 split and the shared two-batch oracle, but
    the standing index is a ManifestTable with ``band_hash`` skipping
    stats, compacted into a hash-sorted layout after bootstrap AND after
    the batch-1 append, and every probe goes through
    :func:`dedup_batch_against_stats_index` — so the driver hash-checking
    this row proves the point-set file pruning changes NO surviving row
    while each probe reads only the files whose hash range a batch key can
    hit (the daily-small-delta serving shape; pruning strictness itself is
    pinned by tests/test_data_skipping.py).
    """
    from ..sources.manifest_table import ManifestTable

    tbl = ManifestTable(_index_dir("stats_"), stats_cols=["band_hash"])

    def bootstrap(corpus: DataFrame) -> None:
        tbl.overwrite(bands_of_docs(corpus))
        tbl.compact(spark, num_files=8, zorder_cols=["band_hash"])

    def append(kept: DataFrame) -> None:
        tbl.append(bands_of_docs(kept))
        # restore the sorted layout so batch 2's probe prunes again (appends
        # land in arrival order and erode range tightness — the OPTIMIZE loop)
        tbl.compact(
            spark,
            dedup_cols=["doc_id", "band_idx", "band_hash"],
            num_files=8,
            zorder_cols=["band_hash"],
        )

    return _two_batch(
        spark,
        sf_dir,
        bootstrap=bootstrap,
        probe=lambda batch: dedup_batch_against_stats_index(spark, batch, tbl),
        append=append,
    )


def dedup_incremental_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_incremental_two_batch` as MULTI-TABLE transactions.

    The incremental pipelines above keep ONE durable table (the band
    index); a real ingest keeps at least two that must move together — the
    accepted-corpus table and its index. A reader must never observe the
    corpus from ingest N next to the index from ingest N−1 (a doc present
    but unprobeable, or bands for a doc that "doesn't exist"). This twin
    runs the same corpus/batch-1/batch-2 split through
    :class:`~..sources.catalog.TableCatalog`: every ingest step appends the
    surviving *documents* to ``corpus`` and their *bands* to ``band_index``
    and publishes both in one atomic catalog commit (Iceberg-style catalog
    swap over the Delta-paper log — see sources/catalog.py). Batch 2 probes
    the bands pinned by one catalog snapshot, so its result is identical to
    the plain-parquet and manifest-table twins — the shared oracle proves
    the transactional layering changes no surviving row.
    """
    from ..sources.catalog import TableCatalog

    cat = TableCatalog(tempfile.mkdtemp(prefix="txn_ingest_", dir=band_index_home()))

    def commit(docs: DataFrame, op: str, overwrite: bool = False) -> None:
        # the documents and their bands appear in one catalog commit
        txn = cat.transaction(spark)
        write = txn.overwrite if overwrite else txn.append
        write("corpus", docs.select("doc_id", "text"))
        write("band_index", bands_of_docs(docs))
        txn.commit(op=op)

    return _two_batch(
        spark,
        sf_dir,
        bootstrap=lambda corpus: commit(corpus, "ingest-bootstrap", overwrite=True),
        probe=lambda batch: dedup_batch_against_bands(
            batch, cat.read(spark, "band_index")
        ),
        append=lambda kept: commit(kept, "ingest-batch-1"),
    )


def sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup signal: per-doc duplicated-sentence ratio.

    Splits each document into normalized sentences (period-delimited,
    lowercased, trimmed) and measures what fraction of a doc's distinct
    sentences also occur in at least one *other* document — the
    Gopher-style repetition/boilerplate signal at sentence granularity,
    and the unit of work for sentence-level dedup (drop sentences with
    corpus frequency over a threshold before training). One shuffle on the
    sentence key; the frequency side is a broadcast-size aggregate of the
    distinct sentence space.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.filter(
        F.transform(F.split(F.col("text"), r"\."), lambda s: F.lower(F.trim(s))),
        lambda s: s != F.lit(""),
    )
    sents = scoped_persist(
        docs.select("doc_id", F.explode(norm).alias("sent")).distinct()
    )
    freq = sents.groupBy("sent").agg(F.countDistinct("doc_id").alias("df"))
    dup = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    return (
        sents.join(freq, "sent")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sents"),
            dup.alias("n_dup"),
            F.round(dup.cast("double") / F.count("*"), 6).alias("dup_ratio"),
        )
    )


# --------------------------------------------------------- substring dedup

# Exact substring dedup (the Lee et al. 2022 "Deduplicating Training Data
# Makes Language Models Better" operator, re-expressed for Spark): find
# cross-document *long common substrings* — boilerplate/templated spans
# shorter than a doc but longer than a sentence, the spans doc-level and
# sentence-level dedup both miss. The paper builds a corpus suffix array;
# the distributed equivalent is duplicated-k-gram run merging: a duplicated
# token span of length L ≥ SUBSTR_K contains exactly L−K+1 corpus-duplicated
# K-grams at consecutive start positions, so sorting/grouping the K-gram
# space and merging adjacent duplicated starts per doc reconstructs the
# maximal duplicated spans without ever materializing a suffix array.
SUBSTR_K = 8  # detection granularity: K-token shingles
SUBSTR_MIN_TOKENS = 15  # report merged spans at least this many tokens long


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans (≥ ``SUBSTR_MIN_TOKENS``) per document.

    Plan, all codegen DataFrame ops:

    1. tokenize once, ``posexplode`` K-token shingles with start position;
    2. group by the shingle's **md5** (shuffle carries a fixed 32-byte key,
       not the raw ~50-byte gram text) and keep digests occurring ≥ 2 times
       corpus-wide — the paper's "appears more than once" criterion;
    3. semi-join positions against the duplicated digests;
    4. per-doc run merge with a window: two duplicated K-gram starts whose
       gap ≤ K cover a contiguous token range, so they extend one span;
       ``span = [min(pos), max(pos)+K−1]``, filtered to the length floor.

    Output: (doc_id, span_start, span_end, span_len) — the drop list a
    training pipeline subtracts from each doc before tokenizer packing.

    Scale: the only heavy shuffle is the K-gram aggregation — the same
    corpus-token-count-shaped sort the suffix-array construction pays, but
    as a hash partial-aggregate (map-side combine collapses repeats before
    the wire). The run merge shuffles only duplicated positions, keyed by
    doc. Nothing is ever all-pairs, and no driver materialization exists.
    """
    docs = load_documents_parallel(spark, sf_dir)
    return substring_spans(docs)


def substring_spans(
    docs: DataFrame,
    dup_grams: DataFrame | None = None,
    gram_rows: DataFrame | None = None,
) -> DataFrame:
    """Core duplicated-span detection over any (doc_id, text) frame.

    ``dup_grams`` (one column ``g``) injects a precomputed corpus-
    duplicated digest set — the served gram-frequency index
    (sources/substring_index.py) — replacing the per-run corpus-wide
    occurrence aggregation, the heaviest shuffle here. ``gram_rows``
    reuses an already-built (doc_id, pos, g) frame (the batch-probe path
    computes it anyway).
    """
    if gram_rows is None:
        toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        from ..functions.text import shingles_of

        grams = toks.select(
            "doc_id",
            F.posexplode(shingles_of(F.col("toks"), SUBSTR_K)).alias("pos", "gram"),
        ).select(
            "doc_id", F.col("pos").cast("long").alias("pos"), F.md5("gram").alias("g")
        )
    else:
        grams = gram_rows
    if dup_grams is None:
        grams = scoped_persist(grams)
        dup = grams.groupBy("g").agg(F.count("*").alias("n")).filter(F.col("n") >= 2)
        dup = dup.select("g")
    else:
        dup = dup_grams
    hits = grams.join(dup, "g", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn(
        "new_run",
        F.when(F.col("pos") - F.lag("pos", 1).over(w) <= SUBSTR_K, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn("run_id", F.sum("new_run").over(w))
    return (
        runs.groupBy("doc_id", "run_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(SUBSTR_K - 1)).cast("long").alias("span_end"),
        )
        .withColumn(
            "span_len", (F.col("span_end") - F.col("span_start") + 1).cast("long")
        )
        .filter(F.col("span_len") >= SUBSTR_MIN_TOKENS)
        .select("doc_id", "span_start", "span_end", "span_len")
    )


def _gram_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per resolved sf_dir) the served gram-
    frequency index — the :func:`_corpus_index_path` discipline applied
    to substring dedup: concurrent first calls build exactly once behind
    the shared per-key latch; every later call is probe-only."""
    from ..sources.substring_index import build_gram_index

    return served_artifact(
        "gram", sf_dir, lambda path: build_gram_index(spark, sf_dir, path)
    )


def dedup_substring_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_substring` served from the persisted gram-frequency
    index (declared r10; sources/substring_index.py).

    Same spans, same oracle — but the corpus-duplicated digest set comes
    from the SERVED count table (built once per corpus, ledger-appendable)
    instead of re-aggregating every gram occurrence per run. Steady state
    drops the plan's heaviest shuffle to a pre-combined distinct-gram
    scan; the positions side stays a map-side tokenize + explode. The
    driver hash-checking this row proves the served artifact answers
    exactly what the in-flight aggregation answers — the same
    served-vs-in-flight twin discipline as ``ann_ivf_indexed``.
    """
    from ..sources.substring_index import duplicated_grams

    root = _gram_index_path(spark, sf_dir)
    docs = load_documents_parallel(spark, sf_dir)
    return substring_spans(docs, dup_grams=duplicated_grams(spark, root))


def dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaned corpus after substring-dedup span subtraction.

    The user-facing end of :func:`dedup_substring` (what Lee et al. 2022
    actually ship to training): every document keeps its token sequence
    minus the tokens inside its duplicated spans. Span coordinates are in
    token space, so the cleaned text is the surviving tokens space-joined —
    plus before/after/dropped token counts for the curation ledger.

    Plan: spans collapse to one per-doc array (spans are non-overlapping by
    the run-merge construction), one left join onto the tokenized corpus,
    and the subtraction is a single positional-lambda ``filter`` over the
    token array — no token-level explosion, no shuffle beyond the one
    doc_id join (span side ≪ corpus side).
    """
    docs = load_documents_parallel(spark, sf_dir)
    spans = substring_spans(docs)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sp")
    )
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    empty = F.array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    j = toks.join(per_doc, "doc_id", "left").withColumn(
        "sp", F.coalesce(F.col("sp"), empty)
    )
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            F.col("sp"),
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
        ),
    )
    return j.select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_dropped"),
    )


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster-then-dedup over embeddings (Abbas et al., 2023).

    The published semantic-dedup recipe for web-scale corpora: cluster the
    embedding space with a coarse quantizer (k-means in the paper; here
    the SAME deterministic data-sampled quantizer ``ann_ivf`` uses, so the
    DuckDB oracle replays assignment exactly), then compare pairs ONLY
    within a cluster and drop every vector that has an in-cluster neighbor
    above the cosine threshold with a smaller vec_id (keep-the-minimum —
    deterministic where the paper keeps a random/farthest member). Emits
    one row per vector: (vec_id, cid, n_dups, status).

    vs :func:`dedup_embedding_blocked`: same per-cell GEMM kernel shape,
    but cells come from the DATA-ADAPTIVE quantizer instead of fixed
    sign-plane hashing — semantic clusters concentrate near-dups into the
    same cell, which is what makes the quadratic-within-cell cost useful
    at corpus scale (the paper runs it at 100 k-means clusters over CC).
    Cost: one broadcast-GEMM assignment pass (no shuffle), one shuffle on
    cell id, per-cell pairwise GEMM bounded by cell size; never all-pairs.
    """
    import numpy as np
    import pandas as pd

    from .similarity import _assign_cells, _centroids, _vectors

    vecs = _vectors(spark, sf_dir)
    bc = spark.sparkContext.broadcast(_centroids(spark, sf_dir))
    assigned = (
        vecs.select("vec_id", "e")
        .repartition(spread_partitions(spark, sf_dir, "embeddings"))
        .mapInPandas(
            lambda it: _assign_cells(it, bc, top_n=1),
            schema="vec_id long, rank int, cid long",
        )
        .select("vec_id", "cid")
    )
    vt = vecs.select("vec_id", "e").join(assigned, "vec_id")

    def _cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        cid = np.int64(pdf["cid"].iloc[0])
        m = len(pdf)
        n_dups = np.zeros(m, dtype=np.int64)
        if m >= 2:
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["e"]])
            unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
            sims = unit @ unit.T  # GEMM prefilter
            ia, ib = np.nonzero(sims >= EMBED_COS_MIN - 1e-4)
            lower = ids[ia] < ids[ib]
            ia, ib = ia[lower], ib[lower]
            if len(ia):
                # exact sequential-fold rescore → engine-exact 6dp values
                dots = np.cumsum(mat[ia] * mat[ib], axis=1)[:, -1]
                cos = _duck_round6(dots / (norms[ia] * norms[ib]))
                ib = ib[cos >= EMBED_COS_MIN]
                np.add.at(n_dups, ib, 1)
        return pd.DataFrame(
            {
                "vec_id": ids.astype(np.int64),
                "cid": np.full(m, cid),
                "n_dups": n_dups,
                "status": np.where(n_dups == 0, "keep", "drop"),
            }
        )

    return vt.groupBy("cid").applyInPandas(
        _cell, schema="vec_id long, cid long, n_dups long, status string"
    )


def dedup_keep_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surviving corpus after cluster-level near-dedup.

    The user-facing end of the dedup family: every doc keeps its row unless
    it belongs to a near-dup cluster and is not that cluster's minimum
    doc_id. Composition of :func:`dedup_clusters` (only pair-participants
    have cluster rows — a left join marks everyone else a singleton) with
    the corpus; one broadcast-sized join at any scale because the cluster
    table is bounded by the candidate-pair population, not the corpus.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = dedup_clusters(spark, sf_dir)
    return (
        docs.join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
        # cluster_id IS the component's min doc_id, so the representative
        # test needs no second pass over the groups
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id", "cluster_id")
    )


# ---------------------------------------------------------------- embeddings

# dedup_embedding collects one side to the driver to build the broadcast
# matrix; 2M 64-dim float64 rows ≈ 1 GB — beyond that the guard points at
# the distributed variant instead of letting the driver OOM mid-job.
EMBED_EXACT_MAX_ROWS = 2_000_000


def _duck_round6(x):
    """DuckDB ``round(x, 6)`` (half-away on x*1e6), vectorized.

    Verified element-identical to DuckDB over 200k random doubles; numpy's
    own ``np.round`` is half-even and disagrees on boundary values.
    """
    import numpy as np

    return np.trunc(x * 1e6 + np.copysign(0.5, x)) / 1e6


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vector pairs: cosine ≥ threshold (exact, all pairs).

    Physical strategy: Arrow + BLAS, not expression trees. A cross join with
    per-pair `aggregate(zip_with(...))` cosines is O(N²·d) *interpreted*
    (higher-order functions don't codegen) — 30 s at sf0.1. Instead the
    (small) matrix is broadcast once and each partition computes a
    block × matrix GEMM via ``mapInPandas`` + NumPy, emitting only pairs
    over the threshold.

    Determinism: the GEMM is only a *prefilter* (threshold minus a 1e-4
    margin, far wider than any BLAS-vs-sequential summation drift).
    Surviving pairs are re-scored with the oracle's exact float recipe —
    sequential left-fold dots via ``np.cumsum`` (bit-identical to DuckDB
    ``list_sum``), ``dot/(|a|·|b|)`` in the same association, half-away
    rounding — so the 6dp values cannot flip on a rounding boundary.

    Scale: the broadcast side is guarded at ``EMBED_EXACT_MAX_ROWS``; past
    that the job refuses and points at :func:`dedup_embedding_blocked`,
    which keeps the same semantics without any driver-side materialization.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_rows = emb.count()
    if n_rows > EMBED_EXACT_MAX_ROWS:
        raise ValueError(
            f"dedup_embedding broadcasts the full matrix ({n_rows} rows > "
            f"{EMBED_EXACT_MAX_ROWS}); use dedup_embedding_blocked for "
            "corpora that do not fit on the driver"
        )
    # one size-guarded toPandas of the two pruned columns (N×64 float64)
    local = emb.toPandas()
    ids = local["vec_id"].to_numpy()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in local["embedding"]])
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    # exact per-vector norms, sequential-fold like the oracle computes them
    norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
    bc = spark.sparkContext.broadcast((ids, unit, mat, norms))

    def _block(batches):
        b_ids, b_unit, b_raw, b_norm = bc.value
        order = {int(v): i for i, v in enumerate(b_ids)}
        for pdf in batches:
            rows_idx = np.array([order[int(v)] for v in pdf["vec_id"]], dtype=np.int64)
            sims = b_unit[rows_idx] @ b_unit.T  # m×N prefilter GEMM
            cand_a, cand_b = np.nonzero(sims >= EMBED_COS_MIN - 1e-4)
            ai = rows_idx[cand_a]
            bi = cand_b.astype(np.int64)
            lower = b_ids[ai] < b_ids[bi]
            ai, bi = ai[lower], bi[lower]
            if len(ai):
                dots = np.cumsum(b_raw[ai] * b_raw[bi], axis=1)[:, -1]
                cos = _duck_round6(dots / (b_norm[ai] * b_norm[bi]))
                keep = cos >= EMBED_COS_MIN
                ai, bi, cos = ai[keep], bi[keep], cos[keep]
            else:
                cos = np.empty(0, dtype=np.float64)
            yield pd.DataFrame(
                {
                    "vec_a": b_ids[ai].astype(np.int64),
                    "vec_b": b_ids[bi].astype(np.int64),
                    "cos": cos,
                }
            )

    # a handful of fat blocks beats one-per-core: each task is one GEMM and
    # Python-worker startup dominates below ~250 rows per block
    n_blocks = max(2, min(8, len(ids) // 250))
    part = emb.select("vec_id").repartition(n_blocks)
    return part.mapInPandas(_block, schema="vec_a long, vec_b long, cos double")


def dedup_embedding_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vector pairs via LSH blocking — the 100 TB path.

    No driver-side materialization anywhere: vectors are bucketed by the
    same seeded sign-plane LSH as ``similarity.ann_lsh`` (8 tables × 5
    bits), then ``applyInPandas`` runs one GEMM per (table, bucket) cell —
    prefilter at threshold minus a float-drift margin, exact sequential-fold
    rescore for survivors (the identical recipe ``dedup_embedding`` uses,
    so the 6dp values are engine-exact) — and a final distinct dedupes the
    bit-identical triples across tables. One bounded shuffle on the cell
    key (vector payload ×L tables), one on the pair output; cell sizes are
    capped by the B sign bits, so no task ever sees the whole corpus.

    Recall is that of the LSH blocking (union over 8 tables) — the
    standard trade against the quadratic all-pairs scan. The oracle replays
    the identical construction in DuckDB (same plane literals), so reported
    pairs are hash-verified, not "close enough".
    """
    import numpy as np
    import pandas as pd

    from .similarity import _vectors, _with_buckets

    vecs = _vectors(spark, sf_dir)
    vt = _with_buckets(
        vecs, with_vec=True, n_spread=spread_partitions(spark, sf_dir, "embeddings")
    )

    def _cell(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos": "float64"}
            )
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["e"]])
        unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
        sims = unit @ unit.T
        ia, ib = np.nonzero(sims >= EMBED_COS_MIN - 1e-4)
        lower = ids[ia] < ids[ib]
        ia, ib = ia[lower], ib[lower]
        if len(ia):
            dots = np.cumsum(mat[ia] * mat[ib], axis=1)[:, -1]
            cos = _duck_round6(dots / (norms[ia] * norms[ib]))
            keep = cos >= EMBED_COS_MIN
            ia, ib, cos = ia[keep], ib[keep], cos[keep]
        else:
            cos = np.empty(0, dtype=np.float64)
        return pd.DataFrame(
            {
                "vec_a": ids[ia].astype(np.int64),
                "vec_b": ids[ib].astype(np.int64),
                "cos": cos,
            }
        )

    pairs = vt.groupBy("tbl", "bucket").applyInPandas(
        _cell, schema="vec_a long, vec_b long, cos double"
    )
    return pairs.distinct()


# ------------------------------------------------------------------- oracles

_TOK = sql_tokens("text")
_SH = sql_shingles("toks", SHINGLE_N)
_MINHASH_CTES = f"""
WITH toks AS (
  SELECT doc_id, {_TOK} AS toks FROM documents
), shing AS (
  SELECT doc_id, {_SH} AS sh FROM toks
), shing2 AS (
  SELECT doc_id, sh FROM shing WHERE len(sh) > 0
), sigs AS (
  SELECT doc_id, {sql_minhash_signature('sh', NUM_PERM)} AS sig FROM shing2
), bands AS (
  SELECT doc_id, t.b AS band_idx,
         md5(CAST(t.b AS VARCHAR) || '|' ||
             array_to_string(sig[t.b*{ROWS_PER_BAND}+1 : t.b*{ROWS_PER_BAND}+{ROWS_PER_BAND}], ',')) AS band_hash
  FROM sigs CROSS JOIN (SELECT unnest(range(0, {N_BANDS})) AS b) t
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
"""

_SIMHASH_CTES = f"""
WITH words AS (
  SELECT DISTINCT doc_id, unnest({_TOK}) AS word FROM documents
), wb AS (
  SELECT doc_id,
         array_to_string(list_transform(range(1, 33), i ->
           substr('{_BIN4}', (instr('{_HEX}', substr(md5(word), i, 1)) - 1) * 4 + 1, 4)), '') AS bits64
  FROM words
), bitrows AS (
  SELECT doc_id, t.j AS j,
         CASE WHEN substr(bits64, t.j + 1, 1) = '1' THEN 1 ELSE -1 END AS c
  FROM wb CROSS JOIN (SELECT unnest(range(0, 64)) AS j) t
), docbits AS (
  SELECT doc_id, j, CASE WHEN sum(c) > 0 THEN '1' ELSE '0' END AS bit
  FROM bitrows GROUP BY doc_id, j
), simhashes AS (
  SELECT doc_id, string_agg(bit, '' ORDER BY j) AS simhash
  FROM docbits GROUP BY doc_id
), sbands AS (
  SELECT doc_id, simhash, t.c AS chunk, substr(simhash, t.c * 16 + 1, 16) AS band
  FROM simhashes CROSS JOIN (SELECT unnest(range(0, 4)) AS c) t
), spairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM sbands a JOIN sbands b
    ON a.chunk = b.chunk AND a.band = b.band AND a.doc_id < b.doc_id
)
"""

ORACLES: dict[str, str] = {
    "dedup_exact": """
    SELECT md5(text) AS digest,
           min(doc_id) AS keeper,
           count(*) AS n_docs,
           array_to_string(list_transform(list_sort(list(doc_id)),
                                          d -> CAST(d AS VARCHAR)), ',') AS doc_ids
    FROM documents GROUP BY md5(text)
    """,
    "dedup_exact_norm": f"""
    SELECT md5(array_to_string({_TOK}, ' ')) AS digest,
           min(doc_id) AS keeper, count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
    "dedup_minhash": _MINHASH_CTES
    + f"""
    SELECT p.doc_a, p.doc_b,
           CAST(len(list_filter(range(1, {NUM_PERM + 1}),
                i -> sa.sig[i] = sb.sig[i])) AS INTEGER) AS n_match
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
    """,
    "dedup_simhash": _SIMHASH_CTES
    + f"""
    SELECT doc_a, doc_b,
           CAST(len(list_filter(range(1, 65),
                i -> substr(sim_a, CAST(i AS INTEGER), 1) <> substr(sim_b, CAST(i AS INTEGER), 1))) AS INTEGER) AS hamming
    FROM spairs
    WHERE len(list_filter(range(1, 65),
          i -> substr(sim_a, CAST(i AS INTEGER), 1) <> substr(sim_b, CAST(i AS INTEGER), 1))) <= {SIMHASH_HAMMING_MAX}
    """,
    "dedup_ngram_jaccard": _MINHASH_CTES
    + """
    , shd AS (
      SELECT DISTINCT doc_id, unnest(sh) AS sh1 FROM shing2
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id
    ), inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS n_inter
      FROM pairs p
      JOIN shd a ON a.doc_id = p.doc_a
      JOIN shd b ON b.doc_id = p.doc_b AND b.sh1 = a.sh1
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           round(COALESCE(i.n_inter, 0) / (na.n_sh + nb.n_sh - COALESCE(i.n_inter, 0)), 6) AS jaccard
    FROM pairs p
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    JOIN sizes na ON na.doc_id = p.doc_a
    JOIN sizes nb ON nb.doc_id = p.doc_b
    """,
    "dedup_edit_distance": _MINHASH_CTES
    + """
    SELECT p.doc_a, p.doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
           round(1.0 - levenshtein(a.text, b.text)
                       / greatest(length(a.text), length(b.text)), 6) AS edit_sim
    FROM pairs p
    JOIN documents a ON a.doc_id = p.doc_a
    JOIN documents b ON b.doc_id = p.doc_b
    """,
    "dedup_clusters": _MINHASH_CTES.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + """
    , edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach AS (
      SELECT src AS doc_id, src AS r FROM edges
      UNION
      SELECT e.src AS doc_id, reach.r
      FROM edges e JOIN reach ON reach.doc_id = e.dst
    )
    SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
    """,
    "dedup_containment": _MINHASH_CTES
    + """
    , shd AS (
      SELECT DISTINCT doc_id, unnest(sh) AS sh1 FROM shing2
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id
    ), inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS n_inter
      FROM pairs p
      JOIN shd a ON a.doc_id = p.doc_a
      JOIN shd b ON b.doc_id = p.doc_b AND b.sh1 = a.sh1
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           round(COALESCE(i.n_inter, 0) / na.n_sh, 6) AS containment_a,
           round(COALESCE(i.n_inter, 0) / nb.n_sh, 6) AS containment_b
    FROM pairs p
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    JOIN sizes na ON na.doc_id = p.doc_a
    JOIN sizes nb ON nb.doc_id = p.doc_b
    """,
    "dedup_incremental": _MINHASH_CTES
    + """
    , newb AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
    oldb AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
    dropped AS (
      SELECT DISTINCT n.doc_id
      FROM newb n JOIN oldb o
        ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
      UNION
      SELECT DISTINCT b.doc_id
      FROM newb a JOIN newb b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    )
    SELECT doc_id FROM documents
    WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
    "dedup_keep_representatives": _MINHASH_CTES.replace(
        "WITH toks", "WITH RECURSIVE toks", 1
    )
    + """
    , edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach AS (
      SELECT src AS doc_id, src AS r FROM edges
      UNION
      SELECT e.src AS doc_id, reach.r
      FROM edges e JOIN reach ON reach.doc_id = e.dst
    ), clusters AS (
      SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    WHERE d.doc_id = COALESCE(c.cluster_id, d.doc_id)
    """,
    "dedup_embedding": f"""
    WITH e AS (
      SELECT vec_id, {sql_double_array('embedding')} AS ed FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({sql_cosine('a.ed', 'b.ed')}, 6) AS cos
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND round({sql_cosine('a.ed', 'b.ed')}, 6) >= {EMBED_COS_MIN}
    """,
    # same quantizer-assignment CTEs as the ann_ivf oracle, then pairwise
    # within cells only — keep-the-minimum per neighbor set
    "semdedup": f"""
    WITH e AS (
      SELECT vec_id, {sql_double_array('embedding')} AS ed FROM embeddings
    ), cent AS (
      SELECT vec_id AS cid, ed AS ce FROM e
      WHERE vec_id % {CENTROID_MOD} = {CENTROID_OFF}
    ), sc AS (
      SELECT e.vec_id, c.cid, round({sql_cosine('e.ed', 'c.ce')}, 6) AS cos
      FROM e CROSS JOIN cent c
    ), r AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, cid ASC) AS rnk
      FROM sc
    ), m AS (
      SELECT r.vec_id, r.cid, e.ed
      FROM r JOIN e ON r.vec_id = e.vec_id WHERE r.rnk = 1
    ), dups AS (
      SELECT b.vec_id AS vec_id, count(*) AS n_dups
      FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round({sql_cosine('a.ed', 'b.ed')}, 6) >= {EMBED_COS_MIN}
      GROUP BY b.vec_id
    )
    SELECT m.vec_id, m.cid,
           CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups,
           CASE WHEN coalesce(d.n_dups, 0) = 0 THEN 'keep' ELSE 'drop' END
             AS status
    FROM m LEFT JOIN dups d ON m.vec_id = d.vec_id
    """,
}


def _blocked_oracle() -> str:
    # deferred: the plane literals come from similarity's seeded generator
    from .similarity import sql_bucket_ctes

    return sql_bucket_ctes() + f"""
    , pair_ids AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bt a JOIN bt b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT p.vec_a, p.vec_b, round({sql_cosine('ea.ed', 'eb.ed')}, 6) AS cos
    FROM pair_ids p
    JOIN e ea ON ea.vec_id = p.vec_a
    JOIN e eb ON eb.vec_id = p.vec_b
    WHERE round({sql_cosine('ea.ed', 'eb.ed')}, 6) >= {EMBED_COS_MIN}
    """


ORACLES["dedup_embedding_blocked"] = _blocked_oracle()
# the indexed twin must produce bit-identical survivors to the
# derive-both-sides plan — same oracle by construction
ORACLES["dedup_incremental_indexed"] = ORACLES["dedup_incremental"]

# Two-batch append-path twin: replay the grow-the-index sequence in SQL.
# idx2 is corpus bands ∪ batch-1 *survivor* bands — exactly the file set the
# parquet append leaves on disk when batch 2 probes.
ORACLES["dedup_incremental_two_batch"] = _MINHASH_CTES + """
, c0 AS (SELECT * FROM bands WHERE doc_id % 3 = 0),
b1 AS (SELECT * FROM bands WHERE doc_id % 3 = 1),
b2 AS (SELECT * FROM bands WHERE doc_id % 3 = 2),
drop1 AS (
  SELECT DISTINCT n.doc_id
  FROM b1 n JOIN c0 o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
  UNION
  SELECT DISTINCT b.doc_id
  FROM b1 a JOIN b1 b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
surv1 AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 3 = 1 AND doc_id NOT IN (SELECT doc_id FROM drop1)
),
idx2 AS (
  SELECT band_idx, band_hash FROM c0
  UNION ALL
  SELECT band_idx, band_hash FROM b1
  WHERE doc_id IN (SELECT doc_id FROM surv1)
),
drop2 AS (
  SELECT DISTINCT n.doc_id
  FROM b2 n JOIN idx2 o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
  UNION
  SELECT DISTINCT b.doc_id
  FROM b2 a JOIN b2 b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT CAST(1 AS INTEGER) AS batch, doc_id FROM surv1
UNION ALL
SELECT CAST(2 AS INTEGER) AS batch, doc_id FROM documents
WHERE doc_id % 3 = 2 AND doc_id NOT IN (SELECT doc_id FROM drop2)
"""
# the manifest-log twin must be row-identical: the storage/commit protocol
# is not allowed to change dedup semantics
ORACLES["dedup_incremental_acid"] = ORACLES["dedup_incremental_two_batch"]
# ...and the stats-probed twin: file skipping must be invisible to results
ORACLES["dedup_incremental_stats"] = ORACLES["dedup_incremental_two_batch"]
# ...and so must the multi-table-transaction twin: atomic cross-table
# publication is a visibility guarantee, not a semantics change
ORACLES["dedup_incremental_txn"] = ORACLES["dedup_incremental_two_batch"]

# star contraction must converge to the identical component labeling
ORACLES["dedup_clusters_star"] = ORACLES["dedup_clusters"]

ORACLES["sentence_dedup"] = """
    WITH sents AS (
      SELECT DISTINCT doc_id, s AS sent FROM (
        SELECT doc_id, lower(trim(unnest(string_split(text, '.')))) AS s
        FROM documents
      ) WHERE s <> ''
    ), freq AS (
      SELECT sent, count(DISTINCT doc_id) AS df FROM sents GROUP BY sent
    )
    SELECT s.doc_id, count(*) AS n_sents,
           CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           round(CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_ratio
    FROM sents s JOIN freq f ON f.sent = s.sent
    GROUP BY s.doc_id
    """

# shared CTE chain: tokenized docs → positioned K-grams → duplicated-run
# labels; both substring oracles build on it
_SUBSTR_CTES = f"""
    WITH toks AS (
      SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {sql_shingles('toks', SUBSTR_K)} AS sh FROM toks
    ), grams AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, md5(gram) AS g
      FROM (
        SELECT doc_id, unnest(range(1, len(sh) + 1)) AS i, unnest(sh) AS gram
        FROM sh
      )
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
    ), hits AS (
      SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)
    ), runs AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {SUBSTR_K}
                  THEN 0 ELSE 1 END AS new_run
      FROM hits
    ), labeled AS (
      SELECT doc_id, pos,
             sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS run_id
      FROM runs
    )"""

_SUBSTR_SPAN_SELECT = f"""
      SELECT doc_id,
             CAST(min(pos) AS BIGINT) AS span_start,
             CAST(max(pos) + {SUBSTR_K - 1} AS BIGINT) AS span_end,
             CAST(max(pos) + {SUBSTR_K} - min(pos) AS BIGINT) AS span_len
      FROM labeled
      GROUP BY doc_id, run_id
      HAVING max(pos) + {SUBSTR_K} - min(pos) >= {SUBSTR_MIN_TOKENS}"""

ORACLES["dedup_substring"] = _SUBSTR_CTES + "\n" + _SUBSTR_SPAN_SELECT
# the served-index form answers the IDENTICAL question (the artifact is an
# implementation of the same corpus-duplicated-gram predicate), so it shares
# the oracle verbatim — a drift between index path and in-flight path breaks
# one hash but not the other
ORACLES["dedup_substring_indexed"] = ORACLES["dedup_substring"]

# the apply form wraps the span query as one more CTE, anti-joins token
# positions against spans, and reassembles each survivor sequence in order
ORACLES["dedup_substring_apply"] = (
    _SUBSTR_CTES
    + f"""
    , spans AS (
{_SUBSTR_SPAN_SELECT}
    ), tok_pos AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tok
      FROM (
        SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i,
               unnest(toks) AS tok
        FROM toks
      )
    ), kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM tok_pos t
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = t.doc_id
          AND t.pos BETWEEN s.span_start AND s.span_end
      )
    ), agg AS (
      SELECT doc_id,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT tk.doc_id,
           COALESCE(a.clean_text, '') AS clean_text,
           CAST(len(tk.toks) AS BIGINT) AS n_tokens,
           COALESCE(a.n_kept, 0) AS n_kept,
           CAST(len(tk.toks) AS BIGINT) - COALESCE(a.n_kept, 0) AS n_dropped
    FROM toks tk
    LEFT JOIN agg a ON a.doc_id = tk.doc_id
    """
)


def minhash_fast_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 MinHash-LSH candidate pairs (production fast path).

    Identical shingle sets give identical signatures under any hash family;
    high-Jaccard pairs collide with the same b·r probability curve.
    ~1.7× faster than the md5 family at sf0.1 (native long math, 32
    longs/doc on the shuffle instead of 32 hex strings). Use this when
    throughput matters more than cross-engine replay; the registered
    :func:`dedup_minhash_fast` wraps it with a hash-checkable verdict.
    """
    return verified_pairs(_signatures(spark, sf_dir, "xxhash64"))


# Agreement floor for the fast-family PYTEST check: on the pinned test
# corpus every md5-confirmed near-dup pair is recovered by the xxhash64
# family with ≥ 24/32 signature agreement (tests/test_dedup.py). This is a
# corpus-scoped property — the two families' band collisions are
# probabilistically independent, so a borderline-Jaccard pair CAN
# legitimately miss every fast band on a different corpus. It is therefore
# NOT part of the registered verdict below (r8 advice).
FAST_AGREE_FLOOR = 24


def dedup_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-family pairs + xxhash64 fast-family recovery verdict.

    The fast path's raw pairs (:func:`minhash_fast_pairs`) use
    engine-specific xxhash64, so they can't be replayed in SQL. The
    registered query instead emits the md5 family's (oracle-replayable)
    pairs with a ``fast_ok`` verdict pinned TRUE by the oracle. The
    verdict is asserted only where it is DETERMINISTIC on any corpus:
    for a pair of byte-identical documents, the shingle sets are equal,
    so the xxhash64 signatures are equal under any hash family, band
    collision is certain, and agreement is exactly 32/32 — a hash-recipe
    or banding regression flips those pairs FALSE and fails the driver's
    value hash. Borderline-Jaccard pairs are vacuously TRUE (their fast
    recovery is probabilistic and corpus-dependent — per r8 advice, a
    data change must not masquerade as a fast-path regression); the
    richer ≥ FAST_AGREE_FLOOR recovery property stays pinned on the test
    corpus in tests/test_dedup.py.
    """
    fast = minhash_fast_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.col("n_match").alias("fast_match")
    )
    dg = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("dg")
    )
    ok = (F.col("dg_a") != F.col("dg_b")) | (
        F.coalesce(F.col("fast_match"), F.lit(0)) == NUM_PERM
    )
    return (
        dedup_minhash(spark, sf_dir)
        .join(fast, ["doc_a", "doc_b"], "left")
        .join(dg.select(F.col("doc_id").alias("doc_a"), F.col("dg").alias("dg_a")), "doc_a")
        .join(dg.select(F.col("doc_id").alias("doc_b"), F.col("dg").alias("dg_b")), "doc_b")
        .select("doc_a", "doc_b", "n_match", ok.alias("fast_ok"))
    )


ORACLES["dedup_minhash_fast"] = _MINHASH_CTES + f"""
    SELECT p.doc_a, p.doc_b,
           CAST(len(list_filter(range(1, {NUM_PERM + 1}),
                i -> sa.sig[i] = sb.sig[i])) AS INTEGER) AS n_match,
           TRUE AS fast_ok
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
    """


# ------------------------------------------------- exact containment (full-doc)

# Minimum contained-doc length (chars). Containment dedup below ~64 chars is
# noise (boilerplate fragments match everywhere), and the anchor-gram
# candidate scheme needs the contained doc to be at least one anchor long —
# the same "don't dedup tiny spans" floor Lee et al. 2022 apply at 50 tokens.
CONTAIN_MIN_CHARS = 64


def dedup_containment_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT cross-document containment: doc_a's full text occurs verbatim
    inside doc_b. Generalizes :func:`dedup_containment` (3-gram Jaccard
    containment over LSH candidates — approximate, fixed-K resolution) to
    arbitrary-length exact substring semantics.

    Spark-first plan — candidates from anchor-gram hashing, NEVER all-pairs
    (a distributed suffix array answers the same membership query; the
    anchor form is the shape that maps onto Catalyst joins):

    1. **Anchor**: each eligible doc (len ≥ CONTAIN_MIN_CHARS) is keyed by
       ``xxhash64`` of its FIRST ``CONTAIN_MIN_CHARS`` chars. One row/doc.
    2. **Gram scan**: every doc emits the hash of each
       ``CONTAIN_MIN_CHARS``-gram with its offset — the rolling scan of a
       suffix-structure build, kept as codegen'd expressions. If a occurs
       in b at offset p, b's gram at p hashes equal to a's anchor, so the
       hash equijoin yields every true occurrence (completeness); the
       shuffle carries (hash, doc, pos) — O(corpus chars) like
       `dedup_substring`, and Spark's runtime bloom filter on the anchor
       side prunes non-candidate grams before the exchange.
    3. **Offset-exact verify**: for each candidate (a, b, pos), check
       ``substr(b.text, pos, len_a) = a.text`` — no scan, no false
       positives from hash collisions. First occurrence = min(pos),
       matching the oracle's ``strpos``.

    At 100 TB: stages are one corpus scan + one hash-keyed shuffle + one
    candidate-only text join; the quadratic verify of the shingle variant
    is replaced by O(1)-per-candidate offset comparison.
    """
    A = CONTAIN_MIN_CHARS
    docs = load_documents_parallel(spark, sf_dir, full_width=True).select("doc_id", "text")
    anchors = docs.filter(F.length("text") >= A).select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("ta"),
        F.length("text").alias("len_a"),
        F.xxhash64(F.substring("text", 1, A)).alias("h"),
    )
    # docs shorter than A can't contain an eligible doc_a, and sequence(1,0)
    # is the DESCENDING [1, 0] in Spark — without the length filter every
    # short doc would emit two spurious prefix-hash rows (r8 advice)
    grams = docs.filter(F.length("text") >= A).select(
        F.col("doc_id").alias("doc_b"),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(text) - {A} + 1),"
                f" i -> xxhash64(substr(text, i, {A})))"
            )
        ).alias("pos0", "h"),
    ).select("doc_b", (F.col("pos0") + 1).alias("pos"), "h")
    cand = anchors.join(grams, "h").filter(F.col("doc_a") != F.col("doc_b"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    verified = (
        cand.join(tb, "doc_b")
        .filter(F.expr("substr(tb, pos, len_a) = ta"))
        .groupBy("doc_a", "doc_b")
        .agg(F.max("len_a").alias("len_a"), F.min("pos").alias("first_pos"))
    )
    return verified.select(
        "doc_a", "doc_b", F.col("len_a").cast("long").alias("len_a"),
        F.col("first_pos").cast("long").alias("first_pos"),
    )


ORACLES["dedup_containment_exact"] = f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(a.text) AS BIGINT) AS len_a,
           CAST(strpos(b.text, a.text) AS BIGINT) AS first_pos
    FROM documents a JOIN documents b
      ON a.doc_id <> b.doc_id
     AND len(a.text) >= {CONTAIN_MIN_CHARS}
     AND contains(b.text, a.text)
    """


def _anchor_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per resolved sf_dir) the served anchor-gram
    index (sources/substring_index.py) — the `_gram_index_path` latch
    discipline for the exact-substring structure."""
    from ..sources.substring_index import build_substring_index

    return served_artifact(
        "anchor_grams",
        sf_dir,
        lambda path: build_substring_index(spark, sf_dir, path),
    )


def dedup_containment_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_containment_exact` served from the persisted
    anchor-gram index (r14, r13 verdict #3 — the worst honest 10× tail).

    Same pairs, same oracle — but the gram side comes from the SERVED
    ``(h, doc_id, pos)`` index (sources/substring_index.py: one corpus
    scan at build, hash-clustered layout) instead of re-exploding every
    ``ANCHOR_W``-char gram of every document per run. The in-flight twin
    pays O(corpus chars) explode + hash per query; steady state here is
    a scan of pre-computed three-long rows. Anchors are the index's
    32-char grams (each eligible doc's first ``ANCHOR_W`` chars); the
    filter keeps ``CONTAIN_MIN_CHARS``-eligible docs only, and every
    true occurrence of doc_a inside doc_b shares doc_a's anchor hash at
    the match offset (completeness), so candidates are a superset that
    the offset-exact ``substr`` verify — O(1) per candidate — reduces to
    exactly the oracle's answer. The driver hash-checking this row
    proves the served artifact answers exactly what the in-flight
    explode answers — the ``dedup_substring_indexed`` twin discipline.
    """
    from ..sources.manifest_table import ManifestTable
    from ..sources.substring_index import ANCHOR_W

    A = CONTAIN_MIN_CHARS
    root = _anchor_index_path(spark, sf_dir)
    grams = (
        ManifestTable(root, stats_cols=["h"])
        .read(spark)
        .select(F.col("doc_id").alias("doc_b"), "pos", "h")
    )
    docs = load_documents_parallel(spark, sf_dir, full_width=True).select("doc_id", "text")
    anchors = docs.filter(F.length("text") >= A).select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("ta"),
        F.length("text").alias("len_a"),
        F.xxhash64(F.substring("text", 1, ANCHOR_W)).alias("h"),
    )
    cand = anchors.join(grams, "h").filter(F.col("doc_a") != F.col("doc_b"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    verified = (
        cand.join(tb, "doc_b")
        .filter(F.expr("substr(tb, pos, len_a) = ta"))
        .groupBy("doc_a", "doc_b")
        .agg(F.max("len_a").alias("len_a"), F.min("pos").alias("first_pos"))
    )
    return verified.select(
        "doc_a", "doc_b", F.col("len_a").cast("long").alias("len_a"),
        F.col("first_pos").cast("long").alias("first_pos"),
    )


# same answer, same oracle — the serve twin must hash identically
ORACLES["dedup_containment_indexed"] = ORACLES["dedup_containment_exact"]
