"""Product quantization (PQ) ANN: compressed codes + ADC scoring.

The missing third leg of the vector-serving stack (Jégou, Douze, Schmid,
TPAMI 2011 — the FAISS `IVF,PQ` recipe): LSH (`ann_lsh`) and IVF
(`ann_ivf_indexed`) cut *candidates*; PQ cuts *bytes*. Each 64-dim float
vector is split into ``PQ_M`` subspaces and every sub-vector replaced by
the id of its nearest codebook entry — ``PQ_M`` small ints instead of 64
floats (32× here). Queries score compressed vectors WITHOUT decompression
via Asymmetric Distance Computation: per query, one ``PQ_M × PQ_K`` table
of exact query-subvector · code dot products; a vector's approximate dot
is then ``PQ_M`` table lookups. Top candidates are exact-rescored from
the uncompressed source — the standard serve path, so the final scores
are true cosines and only the *candidate cut* is approximate.

Scale posture: codebook training is sample-based (it always is in
practice — FAISS trains on ~100k vectors regardless of corpus size) and
driver-side over a BOUNDED deterministic sample; encoding is one
distributed Arrow pass (corpus × M·K small GEMMs, embarrassingly
parallel); ADC probing broadcasts per-query LUTs (queries × M × K floats)
and scans codes — the scan reads PQ_M bytes per vector instead of 256,
which is the whole point at 100 TB. No step shuffles the corpus.

Determinism: the sample, the Lloyd iteration count, and all tie-breaks
are fixed, so codes and candidates are identical across runs — pinned by
test. PQ candidates are NOT SQL-replayable (the codebook is a trained
artifact), so this ships as a pytest-verified component with a recall
floor against the exact `ann_bruteforce`, not an oracle row — the same
honesty contract as the evolvable IVF index.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.caching import scoped_persist
from ..sources.tables import spread_partitions
from .similarity import (
    NPROBE,
    QUERY_MOD,
    _cells_of,
    _centroids,
    _rerank,
    _vectors,
)

PQ_M = 8  # subspaces (64 dims → 8 dims each)
PQ_K = 16  # codes per subspace (4 bits); M×log2(K) = 32 bits + id per vector
PQ_TRAIN_MAX = 4096  # hard cap on driver-collected training rows (O(1) in corpus)
PQ_LLOYD_ITERS = 5
PQ_CAND = 50  # ADC candidates per query before exact rescore


def _train_sample(spark: SparkSession, sf_dir: str) -> list:
    """≤ ``PQ_TRAIN_MAX`` rows, deterministic, O(1) in corpus size.

    The stride is derived from a corpus count (``ceil(n / PQ_TRAIN_MAX)``),
    so the executor-side filter keeps ~PQ_TRAIN_MAX evenly-spaced vec_ids
    and the driver collect is capped regardless of N — FAISS's
    train-on-a-fixed-sample posture. (A fixed mod was O(corpus): at 100 TB
    of embeddings the driver would die in training before Lloyd ran.)
    """
    vecs = _vectors(spark, sf_dir)
    n = vecs.count()
    stride = max(1, -(-n // PQ_TRAIN_MAX))  # ceil division
    return (
        vecs.filter(F.col("vec_id") % stride == 0)
        .select("vec_id", "e")
        .orderBy("vec_id")
        .limit(PQ_TRAIN_MAX)
        .collect()
    )


PQ_QUERY_MAX = 500_000  # same broadcast guard as ann_bruteforce


def _collect_queries(vecs):
    """(ids, float64 matrix) of the query subset, collected in vec_id
    order, with the broadcast-size guard every ANN query applies: the
    per-query LUTs broadcast is O(queries · M · K), so an oversize query
    set must fail loudly and point at the scale path rather than OOM the
    driver."""
    q = vecs.filter(F.col("vec_id") % QUERY_MOD == 0)
    n = q.count()
    if n > PQ_QUERY_MAX:
        raise ValueError(
            f"PQ probing broadcasts per-query LUTs ({n} queries > "
            f"{PQ_QUERY_MAX}); shrink the query subset or shard the probe"
        )
    rows = q.select("vec_id", "e").orderBy("vec_id").collect()
    q_ids = np.array([r["vec_id"] for r in rows])
    return q_ids, np.stack([np.asarray(r["e"], dtype=np.float64) for r in rows])


def _luts(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, M, K) ADC tables: per row of ``mat``, the exact
    sub-vector · code dot for every subspace and code."""
    sub = books.shape[2]
    return np.stack(
        [mat[:, m * sub : (m + 1) * sub] @ books[m].T for m in range(PQ_M)],
        axis=1,
    )


def train_codebooks(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """(M, K, d/M) codebooks from a deterministic sample, few Lloyd steps.

    Init = the sample's first K distinct sub-vectors in vec_id order (ties
    impossible: ids unique); then ``PQ_LLOYD_ITERS`` standard k-means
    steps per subspace. Empty clusters keep their previous center. All
    numpy over the bounded sample — the training cost is O(sample), never
    O(corpus).
    """
    sample = _train_sample(spark, sf_dir)
    mat = np.stack([np.asarray(r["e"], dtype=np.float64) for r in sample])
    d = mat.shape[1]
    sub = d // PQ_M
    books = np.empty((PQ_M, PQ_K, sub))
    for m in range(PQ_M):
        x = mat[:, m * sub : (m + 1) * sub]
        centers = x[:PQ_K].copy()
        for _ in range(PQ_LLOYD_ITERS):
            d2 = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for k in range(PQ_K):
                members = x[assign == k]
                if len(members):
                    centers[k] = members.mean(axis=0)
        books[m] = centers
    return books


def encode(spark: SparkSession, sf_dir: str, books: np.ndarray) -> DataFrame:
    """(vec_id, codes array<int>) — each corpus vector as M nearest-code ids."""
    return _encode_rows(
        _vectors(spark, sf_dir)
        .select("vec_id", "e")
        .repartition(spread_partitions(spark, sf_dir, "embeddings")),
        books,
    )


def _encode_rows(vecs: DataFrame, books: np.ndarray) -> DataFrame:
    """(vec_id, codes array<int>) for a (vec_id, e) frame: each vector's
    nearest code per subspace, by squared distance."""
    bc = vecs.sparkSession.sparkContext.broadcast(books)

    def enc(batches):
        import pandas as pd

        bks = bc.value
        sub = bks.shape[2]
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["e"]])
            codes = np.empty((len(pdf), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                x = mat[:, m * sub : (m + 1) * sub]
                d2 = ((x[:, None, :] - bks[m][None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "codes": list(codes)}
            )

    return vecs.mapInPandas(enc, schema="vec_id long, codes array<int>")


def _coded_cells(codes: DataFrame, vecs: DataFrame, bc_cent) -> DataFrame:
    """(vec_id, codes, cid): PQ ``codes`` joined to the top-1 cell of each
    (vec_id, e) row of ``vecs`` under the broadcast quantizer."""
    assign = (
        _cells_of(vecs, bc_cent, 1)
        .filter(F.col("rank") == 1)
        .select("vec_id", "cid")
    )
    return codes.join(assign, "vec_id")


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k ANN: ADC candidate scan over PQ codes, exact rescore.

    Per corpus partition: reconstruct each query's approximate dot from M
    LUT lookups, keep the partition-local top-``PQ_CAND`` per query, then
    one global candidate cut and an exact cosine rescore of only those
    pairs (the `_rerank` tail every other ANN query ends in — final
    scores are true cosines).
    """
    books = train_codebooks(spark, sf_dir)
    codes = encode(spark, sf_dir, books)
    vecs = _vectors(spark, sf_dir)
    q_ids, q_mat = _collect_queries(vecs)
    bc = spark.sparkContext.broadcast((q_ids, _luts(q_mat, books)))

    def adc(batches):
        import pandas as pd

        b_qids, b_luts = bc.value
        nq = len(b_qids)
        for pdf in batches:
            m_rows = len(pdf)
            if not m_rows:
                continue
            ids = pdf["vec_id"].to_numpy()
            cds = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            # approx dot(q, v) = Σ_m LUT[q, m, code_m(v)]
            approx = np.zeros((nq, m_rows))
            for m in range(PQ_M):
                approx += b_luts[:, m, cds[:, m]]
            approx[b_qids[:, None] == ids[None, :]] = -np.inf
            out_q, out_v = [], []
            for qi in range(nq):
                c = min(PQ_CAND, m_rows)
                top = np.argpartition(-approx[qi], c - 1)[:c]
                out_q.append(np.full(len(top), b_qids[qi]))
                out_v.append(ids[top])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                }
            )

    cand = scoped_persist(
        codes.repartition(spread_partitions(spark, sf_dir, "embeddings"))
        .mapInPandas(adc, schema="query_id long, vec_id long")
        .distinct()
    )
    return _rerank(vecs, cand)


def _probe_cells(
    spark: SparkSession, sf_dir: str, q_ids, q_mat, bc_cent, nprobe: int
) -> DataFrame:
    """(query_id, cid): the ``nprobe`` nearest cells of each collected
    query (see :func:`_collect_queries`)."""
    queries = spark.createDataFrame(
        [(int(q), list(map(float, q_mat[i]))) for i, q in enumerate(q_ids)],
        "vec_id long, e array<double>",
    ).repartition(spread_partitions(spark, sf_dir, "embeddings"))
    return _cells_of(queries, bc_cent, nprobe).select(
        F.col("vec_id").alias("query_id"), "cid"
    )


def _adc_candidates(members: DataFrame, probes: DataFrame, q_ids, luts) -> DataFrame:
    """(query_id, vec_id): the top-``PQ_CAND`` code rows per query among
    the ``members`` (vec_id, codes, cid) of its probed cells, ranked by
    ADC approximate dot with ties to the smaller vec_id. The candidate
    stage of the in-flight ``ann_ivf_pq`` and the served
    :class:`~.pq_index.PqIvfIndex` probe, so the two paths cannot drift.
    """
    bc_lut = members.sparkSession.sparkContext.broadcast(
        {int(q): luts[i] for i, q in enumerate(q_ids)}
    )

    def adc(batches):
        import pandas as pd

        tables = bc_lut.value
        for pdf in batches:
            if not len(pdf):
                continue
            cds = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            qid = pdf["query_id"].to_numpy()
            approx = np.zeros(len(pdf))
            for m in range(PQ_M):
                # per-row lookup in that row's query table
                approx += np.array(
                    [tables[int(q)][m, c] for q, c in zip(qid, cds[:, m])]
                )
            yield pd.DataFrame(
                {
                    "query_id": qid,
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "approx": approx,
                }
            )

    pairs = members.join(F.broadcast(probes), "cid").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored_approx = scoped_persist(
        pairs.mapInPandas(adc, schema="query_id long, vec_id long, approx double")
    )
    wa = Window.partitionBy("query_id").orderBy(F.desc("approx"), F.asc("vec_id"))
    return (
        scored_approx.withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") <= PQ_CAND)
        .select("query_id", "vec_id")
    )


def ann_ivf_pq(spark: SparkSession, sf_dir: str, nprobe: int | None = None) -> DataFrame:
    """IVF,PQ composed — the full FAISS serving recipe.

    :func:`ann_pq` still scans EVERY vector's code (cheap bytes, full
    candidate set); ``ann_ivf`` reads full vectors but only NPROBE cells.
    Composing them is what a production index does: the coarse quantizer
    (the same deterministic one `ann_ivf` uses) cuts the candidate set to
    the probed cells, and within those cells only the PQ codes are
    scanned — NPROBE/C of the corpus at PQ_M bytes per vector, the
    byte-budget that makes 100 TB of embeddings probeable from disk.
    ADC-ranked cell candidates are exact-rescored as always, so reported
    cosines are true cosines.
    """
    nprobe = NPROBE if nprobe is None else nprobe
    books = train_codebooks(spark, sf_dir)
    bc_cent = spark.sparkContext.broadcast(_centroids(spark, sf_dir))
    vecs = _vectors(spark, sf_dir)
    coded = _coded_cells(
        encode(spark, sf_dir, books),
        vecs.select("vec_id", "e").repartition(
            spread_partitions(spark, sf_dir, "embeddings")
        ),
        bc_cent,
    )
    q_ids, q_mat = _collect_queries(vecs)
    probes = _probe_cells(spark, sf_dir, q_ids, q_mat, bc_cent, nprobe)
    return _rerank(vecs, _adc_candidates(coded, probes, q_ids, _luts(q_mat, books)))


# ----------------------------------------------- registered verdict query

# Corpus-level recall floor for the registered verdict. Conservative on
# purpose: recall@10 measures ~0.85+ on the testdata corpus at every sf;
# the floor is far below any legitimate data wobble but far above what a
# broken codebook/encode/ADC produces (a scrambled LUT drops recall to
# ~candidate-rate ≈ 0.1). The r8-advice lesson from dedup_minhash_fast
# applies: the verdict is an AGGREGATE over the whole query set, not a
# per-query pin, so one legitimately-hard query can't flip it.
PQ_RECALL_FLOOR = 0.5


def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered driver query for the PQ family (r9): the sketch-query
    recipe (operators/approx.py) applied to ADC. Emits, per query, the
    EXACT brute-force top-1 neighbor (oracle-replayable: DuckDB recomputes
    it from the raw embeddings) plus ``pq_recall_ok`` — "the full
    train→encode→ADC→rescore pipeline achieves corpus recall@TOP_K ≥
    PQ_RECALL_FLOOR against exact search" — pinned TRUE by the oracle. A
    codebook, encoding, or LUT regression tanks recall and fails the
    driver's value hash; the trained artifact itself stays pytest-pinned
    (determinism + the tighter 0.6/0.7 floors in tests/test_pq.py).
    """
    from .similarity import ann_bruteforce

    # persisted: consumed by THREE actions (the recall counts below and
    # the returned frame) — unpersisted, the dominant brute-force job
    # would run three times per invocation
    exact = scoped_persist(
        ann_bruteforce(spark, sf_dir).select(
            "query_id", "neighbor_id", "cos", "rank"
        )
    )
    approx = ann_pq(spark, sf_dir).select("query_id", "neighbor_id")
    # bounded driver scalars: queries × TOP_K rows on both sides
    n_exact = exact.count()
    n_hit = exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    ok = n_exact > 0 and n_hit / n_exact >= PQ_RECALL_FLOOR
    return (
        exact.filter(F.col("rank") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("exact_top1_id"),
            F.col("cos").alias("exact_top1_cos"),
            F.lit(bool(ok)).alias("pq_recall_ok"),
        )
    )


from ..functions.vectors import sql_cosine, sql_double_array  # noqa: E402

ORACLES = {
    "ann_pq_recall": f"""
    WITH e AS (
      SELECT vec_id, {sql_double_array('embedding')} AS ed FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, ed AS qe FROM e WHERE vec_id % {QUERY_MOD} = 0
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({sql_cosine('q.qe', 'e.ed')}, 6) AS cos
      FROM q JOIN e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id AS exact_top1_id, cos AS exact_top1_cos,
           TRUE AS pq_recall_ok
    FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rnk
      FROM scored
    ) WHERE rnk = 1
    """,
}
