from __future__ import annotations

import math

from map_reduce_in_go_spark.operators import similarity


def test_bruteforce_topk_shape(spark, sf_dir):
    out = similarity.ann_bruteforce(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q, "query subset must be non-empty"
    for q, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        cs = [r["cos"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert cs == sorted(cs, reverse=True)
        assert all(r["neighbor_id"] != q for r in rows)


def test_bruteforce_matches_numpy(spark, sf_dir):
    """Exact top-1 agrees with a NumPy reference computation."""
    import numpy as np

    from map_reduce_in_go_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb}
    out = similarity.ann_bruteforce(spark, sf_dir).filter("rank = 1").collect()
    for r in out:
        q = vecs[r["query_id"]]
        best_id, best_cos = None, -2.0
        for vid, v in vecs.items():
            if vid == r["query_id"]:
                continue
            c = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            c = round(c, 6)
            if c > best_cos or (c == best_cos and vid < best_id):
                best_id, best_cos = vid, c
        assert r["neighbor_id"] == best_id
        assert math.isclose(r["cos"], best_cos, abs_tol=1e-6)


def test_lsh_neighbors_are_true_cosines(spark, sf_dir):
    """Every LSH-reported neighbor must carry its true (rounded) cosine."""
    import numpy as np

    from map_reduce_in_go_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb}
    out = similarity.ann_lsh(spark, sf_dir).collect()
    assert out, "multi-table LSH should yield candidates on this corpus"
    for r in out:
        q, v = vecs[r["query_id"]], vecs[r["neighbor_id"]]
        c = round(float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), 6)
        assert math.isclose(r["cos"], c, abs_tol=2e-6)


def test_lsh_recall_floor(spark, sf_dir):
    """Deterministic recall@10 vs brute force; 8×5 + 2 multiprobe flips
    measured 0.80 at sf0.01 on this isotropic corpus — assert ≥0.7."""
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_bruteforce(spark, sf_dir).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_lsh(spark, sf_dir).collect()
    }
    assert len(bf & lsh) / len(bf) >= 0.7


def test_lsh_deterministic(spark, sf_dir):
    a = sorted(map(tuple, similarity.ann_lsh(spark, sf_dir).collect()))
    b = sorted(map(tuple, similarity.ann_lsh(spark, sf_dir).collect()))
    assert a == b


def test_ivf_indexed_matches_inflight_and_prunes(spark, sf_dir):
    """The persisted inverted file serves bit-identical results to ann_ivf,
    and its scan reads ONLY the probed cells' partition directories."""
    from map_reduce_in_go_spark.functions.caching import release_persisted
    from map_reduce_in_go_spark.operators import similarity as sim

    inflight = sorted(map(tuple, sim.ann_ivf(spark, sf_dir).collect()))
    release_persisted()
    indexed_df = sim.ann_ivf_indexed(spark, sf_dir)
    indexed = sorted(map(tuple, indexed_df.collect()))
    release_persisted()
    assert indexed == inflight

    # pruning proof: the index scan's input files lie only under probed cids
    import os as _os

    idx_path = sim._IVF_INDEXES[_os.path.realpath(sf_dir)]
    all_cells = {
        d for d in _os.listdir(idx_path) if d.startswith("cid=")
    }
    probed = {
        f.split("/cid=")[1].split("/")[0]
        for f in indexed_df.inputFiles()
        if "/cid=" in f
    }
    assert probed, "index scan reported no cell partitions"
    assert {f"cid={c}" for c in probed} <= all_cells


def test_knn_graph_invariants_and_recall(spark, sf_dir):
    """Every vector gets a contiguous rank-1..k list, no self loops, and
    the blocked graph recovers most of the exact kNN edges."""
    import numpy as np

    rows = similarity.knn_graph(spark, sf_dir).collect()
    by_vec: dict[int, list] = {}
    for r in rows:
        assert r["vec_id"] != r["neighbor_id"]
        assert -1.0 <= r["cos"] <= 1.0
        by_vec.setdefault(r["vec_id"], []).append(r)
    vecs = similarity._vectors(spark, sf_dir).select("vec_id", "e").collect()
    assert len(by_vec) == len(vecs)  # every vector appears as a query
    for vs in by_vec.values():
        ranks = sorted(v["rank"] for v in vs)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(ranks) <= similarity.KNN_K
        cos_sorted = [
            v["cos"] for v in sorted(vs, key=lambda v: v["rank"])
        ]
        assert cos_sorted == sorted(cos_sorted, reverse=True)
    # recall vs the exact graph (small corpus → numpy all-pairs is fine)
    ids = np.array([r["vec_id"] for r in vecs])
    mat = np.stack([np.asarray(r["e"], dtype=np.float64) for r in vecs])
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = unit @ unit.T
    np.fill_diagonal(sims, -np.inf)
    hits = total = 0
    order = np.argsort(ids)
    for pos, i in enumerate(order):
        k = min(similarity.KNN_K, len(ids) - 1)
        top = ids[np.argsort(-sims[i])[:k]]
        got = {v["neighbor_id"] for v in by_vec[int(ids[i])]}
        hits += len(set(top.tolist()) & got)
        total += k
    assert hits / total >= 0.6, f"knn_graph recall {hits/total:.2f} < 0.6"


def test_lsh_bits_scale_with_corpus_restores_cell_bound(sf_dir):
    """The knn_graph cost-model claim, quantified: at 10× the corpus with
    FIXED bits every cell inflates ~10× and the Σ m² candidate volume
    ~100×; adding log2(10)≈3 bits per table restores per-cell sizes to the
    1× ballpark. Pure numpy over the same seeded-plane construction — this
    is the production 'B ∝ log n' sizing rule the operator documents."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet")
    base = np.stack(
        [np.asarray(v, dtype=np.float64) for v in tbl["embedding"].to_pylist()]
    )
    # Model growth by NEW vectors (seeded perturbed copies): more bits can
    # separate near-neighbors. Exact duplicates — the 10× replica's actual
    # structure — are inseparable by ANY hash (identical sign patterns);
    # for those the correct tool is the dedup family upstream, which is
    # why pipelines dedup before indexing.
    rng0 = np.random.RandomState(7)
    big = np.concatenate(
        [base] + [base + 0.15 * rng0.randn(*base.shape) for _ in range(9)]
    )

    rng = np.random.RandomState(similarity.PLANE_SEED)
    planes = rng.randn(similarity.LSH_TABLES * 8, 64)  # superset: 8 bits/table

    def cell_stats(mat, bits):
        worst_max, sum_sq = 0, 0
        for t in range(similarity.LSH_TABLES):
            sl = planes[t * 8 : t * 8 + bits]
            signs = (mat @ sl.T) >= 0
            keys = np.packbits(signs, axis=1).tobytes()
            _, counts = np.unique(
                np.frombuffer(keys, dtype=np.uint8).reshape(len(mat), -1),
                axis=0,
                return_counts=True,
            )
            worst_max = max(worst_max, counts.max())
            sum_sq += int((counts.astype(np.int64) ** 2).sum())
        return worst_max, sum_sq

    max1, sq1 = cell_stats(base, similarity.LSH_BITS)
    max10_fixed, sq10_fixed = cell_stats(big, similarity.LSH_BITS)
    max10_scaled, sq10_scaled = cell_stats(big, 8)

    # fixed bits: cells inflate ~linearly, so PER-VECTOR candidate work
    # (Σm²/N — what each executor pays per row) also inflates ~linearly
    assert max10_fixed >= 8 * max1
    assert sq10_fixed / 10 >= 5 * sq1  # per-vector work up ≥5× at 10× data
    # +3 bits (log2 of the growth) restores both to the 1× ballpark:
    # cell sizes bounded, per-vector work flat — total Σm² still grows
    # ~linearly with N, which is the embarrassingly-parallel dimension
    assert max10_scaled <= 3 * max1
    assert sq10_scaled / 10 <= 2 * sq1


import pytest


@pytest.fixture(scope="module")
def grown_embeddings_dir(sf_dir, tmp_path_factory):
    """A perturbed 20× embeddings corpus (NEW vectors, not copies — more
    bits can separate them) for the B ∝ log n scale tests."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as papq

    root = tmp_path_factory.mktemp("grown_emb")
    src = papq.read_table(f"{sf_dir}/embeddings.parquet")
    n = src.num_rows
    base = np.stack(
        [np.asarray(v, dtype=np.float32) for v in src["embedding"].to_pylist()]
    )
    labels = src["label"].to_pylist()
    rng = np.random.RandomState(7)
    mats, ids = [base], [np.arange(n)]
    for i in range(1, 20):
        mats.append(base + 0.15 * rng.randn(*base.shape).astype(np.float32))
        ids.append(np.arange(n) + i * 1_000_000)
    big = np.concatenate(mats)
    bid = np.concatenate(ids)
    tbl = pa.table(
        {
            "vec_id": pa.array(bid.tolist(), pa.int64()),
            "embedding": pa.array(
                [r.tolist() for r in big], pa.list_(pa.float32())
            ),
            "label": pa.array(labels * 20, pa.int32()),
        }
    )
    papq.write_table(tbl, str(root / "embeddings.parquet"))
    return str(root), n


def test_knn_graph_bits_knob_executes_cell_bound(
    spark, sf_dir, grown_embeddings_dir
):
    """The B ∝ log n rule as an EXECUTING configuration (not just the numpy
    model above): through the real `_with_buckets` path, a perturbed 20×
    corpus at bits = 5 + ceil(log2(20)) ≈ 10 restores per-vector candidate
    work (Σ m²/N over real cells) to the 1× ballpark, while fixed bits
    inflate it ~linearly; and `knn_graph(bits=...)` runs end-to-end on the
    grown corpus returning a full graph. Measured at sf0.1-scale: the 30×
    replica runs 17.8 s at bits=5 vs 7.2 s at bits=10 (SURVEY §6)."""
    from pyspark.sql import functions as F

    from map_reduce_in_go_spark.operators.similarity import (
        KNN_K,
        _vectors,
        _with_buckets,
        knn_graph,
    )

    grown, n = grown_embeddings_dir

    def work_per_vec(path, bits):
        cells = (
            _with_buckets(_vectors(spark, path), bits=bits)
            .groupBy("tbl", "bucket")
            .agg(F.count("*").alias("m"))
            .agg(F.sum(F.col("m") * F.col("m")).alias("sq"))
            .collect()[0]["sq"]
        )
        n_rows = _vectors(spark, path).count()
        return cells / n_rows

    w1 = work_per_vec(sf_dir, 5)
    w20_fixed = work_per_vec(grown, 5)
    w20_scaled = work_per_vec(grown, 10)  # 5 + ceil(log2(20))
    assert w20_fixed >= 5 * w1  # fixed bits: per-vector work inflates
    assert w20_scaled <= 2.5 * w1  # scaled bits: restored to 1× ballpark

    out = knn_graph(spark, grown, bits=10)
    per_query = out.groupBy("vec_id").count().collect()
    assert len(per_query) == 20 * n  # every vector gets neighbors
    assert all(r["count"] == KNN_K for r in per_query)
