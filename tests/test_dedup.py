"""Dedup invariants beyond the oracle gate (which checks exact equality)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from map_reduce_in_go_spark.operators import dedup


def test_exact_dedup_groups_identical_texts(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="same text"),
            Row(doc_id=2, text="same text"),
            Row(doc_id=3, text="other"),
        ]
    )
    docs.createOrReplaceTempView("_tmp")
    out = (
        docs.groupBy(F.md5("text").alias("digest"))
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n"))
        .collect()
    )
    by_n = sorted((r["n"], r["keeper"]) for r in out)
    assert by_n == [(1, 3), (2, 1)]


def test_minhash_identical_docs_collide(spark, sf_dir):
    """Two identical shingle sets must produce identical signatures and be
    paired by every band."""
    from map_reduce_in_go_spark.functions.text import tokens

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=3, text="one two three four five six"),
        ]
    )
    sigs = dedup.signatures_of(df.withColumn("toks", tokens(F.col("text"))))
    by_id = {r["doc_id"]: r["sig"] for r in sigs.collect()}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]
    for v in by_id.values():
        assert len(v) == dedup.NUM_PERM and all(len(h) == 32 for h in v)


def test_minhash_pairs_symmetric_bounds(spark, sf_dir):
    pairs = dedup.dedup_minhash(spark, sf_dir).collect()
    for r in pairs:
        assert r["doc_a"] < r["doc_b"]
        assert 1 <= r["n_match"] <= 32


def test_simhash_hamming_bounds(spark, sf_dir):
    out = dedup.dedup_simhash(spark, sf_dir).collect()
    for r in out:
        assert 0 <= r["hamming"] <= dedup.SIMHASH_HAMMING_MAX
        assert r["doc_a"] < r["doc_b"]


def test_ngram_jaccard_range(spark, sf_dir):
    out = dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    assert out, "LSH candidates expected on this corpus"
    for r in out:
        assert 0.0 <= r["jaccard"] <= 1.0


def test_embedding_pairs_above_threshold(spark, sf_dir):
    out = dedup.dedup_embedding(spark, sf_dir).collect()
    for r in out:
        assert r["cos"] >= dedup.EMBED_COS_MIN
        assert r["vec_a"] < r["vec_b"]


def test_minhash_fast_recovers_md5_pairs(spark, sf_dir):
    """Pinned-corpus recall: the xxhash64 fast path must recover every
    candidate pair the portable md5 variant reports (this corpus's dup
    pairs all have J high enough that any 32-perm family catches them),
    with high signature agreement."""
    from map_reduce_in_go_spark.operators.dedup import (
        dedup_minhash,
        dedup_minhash_fast,
        minhash_fast_pairs,
    )

    md5_pairs = {
        (r["doc_a"], r["doc_b"]) for r in dedup_minhash(spark, sf_dir).collect()
    }
    fast = {
        (r["doc_a"], r["doc_b"]): r["n_match"]
        for r in minhash_fast_pairs(spark, sf_dir).collect()
    }
    assert md5_pairs, "corpus should contain near-duplicates"
    for p in md5_pairs:
        assert p in fast, p
        assert fast[p] >= 24, (p, fast[p])
    # the registered verdict wrapper reports the same recovery as TRUE rows
    wrapped = dedup_minhash_fast(spark, sf_dir).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in wrapped} == md5_pairs
    assert all(r["fast_ok"] for r in wrapped)


def test_doc_similarity_tfidf_bounds(spark, sf_dir):
    """TF-IDF cosine over LSH candidates: values in (0, 1]; pairs ordered."""
    from map_reduce_in_go_spark.operators.tfidf import (
        SIM_THRESHOLD,
        doc_similarity_tfidf,
    )

    rows = doc_similarity_tfidf(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert SIM_THRESHOLD <= r["cos_tfidf"] <= 1.0


def test_band_index_incremental_matches_recompute(spark, sf_dir, tmp_path):
    """The persisted band-index path (build once, batch joins the index) must
    return exactly the docs the derive-both-sides query returns — and its plan
    must read the corpus side FROM the index, not recompute it."""
    from map_reduce_in_go_spark.operators.dedup import (
        build_band_index,
        dedup_batch_against_index,
        dedup_incremental,
    )
    from map_reduce_in_go_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)

    index_path = str(tmp_path / "band_index")
    build_band_index(corpus, index_path)

    got = dedup_batch_against_index(spark, batch, index_path)
    # corpus side comes from the index: the physical plan scans the index
    # parquet, and prunes it to exactly (band_hash, band_idx)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "band_index" in plan
    assert set(r["doc_id"] for r in got.collect()) == set(
        r["doc_id"] for r in dedup_incremental(spark, sf_dir).collect()
    )

    # appending a landed batch's bands is the daily-ingest shape
    build_band_index(batch, index_path, mode="append")
    import glob as _glob
    import os as _os

    assert _glob.glob(_os.path.join(index_path, "band_idx=*")), "partitioned layout"


def test_indexed_probe_never_scans_corpus(spark, sf_dir, tmp_path):
    """Batch-only cost proof: the probe plan's input files are the index
    parquet and the batch parquet ONLY — no scan of the corpus documents.
    The batch lives in its own parquet dir so source attribution is exact."""
    from map_reduce_in_go_spark.operators.dedup import (
        build_band_index,
        dedup_batch_against_index,
    )
    from map_reduce_in_go_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    index_path = str(tmp_path / "band_index")
    build_band_index(docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0), index_path)

    batch_path = str(tmp_path / "batch_docs")
    docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1).write.parquet(batch_path)
    batch = spark.read.parquet(batch_path)

    probe = dedup_batch_against_index(spark, batch, index_path)
    files = probe.inputFiles()
    assert files, "probe plan reports no input files"
    offenders = [
        f for f in files if "band_index" not in f and "batch_docs" not in f
    ]
    assert not offenders, f"probe scans beyond index+batch: {offenders}"
    assert any("band_index" in f for f in files), "index parquet not scanned"
    assert probe.count() >= 0  # plan executes


def test_incremental_indexed_is_memoized_probe(spark, sf_dir):
    """Second invocation must reuse the process-scoped corpus index (same
    path, no rebuild) so repeated calls are probe-only."""
    from map_reduce_in_go_spark.operators import dedup as d

    d.dedup_incremental_indexed(spark, sf_dir).count()
    key_paths = dict(d._CORPUS_INDEXES)
    import os as _os

    path = key_paths[_os.path.realpath(sf_dir)]
    mtime = max(
        _os.path.getmtime(_os.path.join(r, f))
        for r, _, fs in _os.walk(path)
        for f in fs
    )
    d.dedup_incremental_indexed(spark, sf_dir).count()
    assert d._CORPUS_INDEXES == key_paths
    mtime2 = max(
        _os.path.getmtime(_os.path.join(r, f))
        for r, _, fs in _os.walk(path)
        for f in fs
    )
    assert mtime2 == mtime, "index was rewritten on second invocation"


def test_two_batch_append_grows_index(spark, sf_dir):
    """The two-batch query's survivors obey the growing-index semantics:
    batch-2 survivors can't band-collide with the corpus or with batch-1
    survivors, and batch-1 survivors match the standalone day-1 result."""
    from map_reduce_in_go_spark.functions.caching import release_persisted
    from map_reduce_in_go_spark.operators import dedup as d

    out = d.dedup_incremental_two_batch(spark, sf_dir).collect()
    release_persisted()
    got1 = {r["doc_id"] for r in out if r["batch"] == 1}
    got2 = {r["doc_id"] for r in out if r["batch"] == 2}
    assert got1 and got2
    assert all(i % 3 == 1 for i in got1)
    assert all(i % 3 == 2 for i in got2)


def test_bm25_and_surprisal_invariants(spark, sf_dir):
    from map_reduce_in_go_spark.functions.caching import release_persisted
    from map_reduce_in_go_spark.operators.tfidf import bm25_search, doc_surprisal

    top = bm25_search(spark, sf_dir).collect()
    release_persisted()
    assert top
    ranks = sorted(r["rank"] for r in top)
    assert ranks == list(range(1, len(top) + 1))
    by_rank = sorted(top, key=lambda r: r["rank"])
    scores = [r["score"] for r in by_rank]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)

    sur = doc_surprisal(spark, sf_dir).collect()
    release_persisted()
    assert sur
    assert all(r["avg_surprisal"] > 0 and r["n_tokens"] > 0 for r in sur)


def test_graph_triangles_consistent(spark, sf_dir):
    """Per-node triangle counts sum to 3x the number of distinct triangles
    (each triangle contributes one count to each of its three vertices)."""
    from map_reduce_in_go_spark.functions.caching import release_persisted
    from map_reduce_in_go_spark.operators.graph import graph_triangles

    rows = graph_triangles(spark, sf_dir).collect()
    release_persisted()
    assert rows
    total = sum(r["n_triangles"] for r in rows)
    assert total % 3 == 0 and total > 0
    assert all(r["n_triangles"] >= 1 for r in rows)


def test_substring_spans_known_boilerplate(spark):
    """A 20-token boilerplate block shared by two docs is recovered as one
    maximal span in each, with exact start/end; a unique doc reports none;
    spans shorter than the floor are suppressed."""
    from map_reduce_in_go_spark.functions.caching import release_persisted
    from map_reduce_in_go_spark.operators.dedup import (
        SUBSTR_MIN_TOKENS,
        substring_spans,
    )

    boiler = " ".join(f"legal{i}" for i in range(20))  # 20-token shared block
    short = " ".join(f"tiny{i}" for i in range(10))  # 10 < floor: suppressed
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"alpha bravo {boiler} charlie delta"),
            Row(doc_id=2, text=f"{boiler} echo foxtrot golf hotel india one two"),
            Row(doc_id=3, text="nothing here repeats with any other document at all"),
            Row(doc_id=4, text=f"intro words {short} outro words closing remark done"),
            Row(doc_id=5, text=f"other leadin {short} trailer text finale statement over"),
        ]
    )
    rows = substring_spans(docs).collect()
    release_persisted()
    got = {r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"]) for r in rows}
    assert set(got) == {1, 2}, f"unexpected span docs: {got}"
    # doc 1: boiler occupies token positions 2..21; doc 2: 0..19
    assert got[1] == (2, 21, 20)
    assert got[2] == (0, 19, 20)
    assert all(r["span_len"] >= SUBSTR_MIN_TOKENS for r in rows)


def test_substring_spans_merge_overlapping_windows(spark):
    """Two duplicated regions that overlap merge into one maximal span —
    the run-merge gap rule (<= K) must bridge non-adjacent window starts."""
    from map_reduce_in_go_spark.functions.caching import release_persisted
    from map_reduce_in_go_spark.operators.dedup import substring_spans

    a = " ".join(f"a{i}" for i in range(16))
    b = " ".join(f"b{i}" for i in range(16))
    # doc 10 holds a+b contiguously; docs 11/12 each share one half, so the
    # duplicated coverage of doc 10 is the full 32 tokens in one span
    docs = spark.createDataFrame(
        [
            Row(doc_id=10, text=f"{a} {b}"),
            Row(doc_id=11, text=f"pre1 pre2 pre3 {a} post1 post2 post3 post4"),
            Row(doc_id=12, text=f"lead1 lead2 lead3 {b} tail1 tail2 tail3 tail4"),
        ]
    )
    rows = substring_spans(docs).collect()
    release_persisted()
    got = {r["doc_id"]: (r["span_start"], r["span_end"]) for r in rows}
    assert got[10] == (0, 31), f"halves not merged: {got}"
    assert got[11] == (3, 18) and got[12] == (3, 18)


def test_substring_apply_removes_only_span_tokens(spark, sf_dir):
    """The cleaned corpus drops exactly the span tokens: counts reconcile
    per doc with the span table, untouched docs round-trip their tokens."""
    from map_reduce_in_go_spark.functions.caching import release_persisted
    from map_reduce_in_go_spark.operators.dedup import (
        dedup_substring,
        dedup_substring_apply,
    )

    spans = {}
    for r in dedup_substring(spark, sf_dir).collect():
        spans[r["doc_id"]] = spans.get(r["doc_id"], 0) + r["span_len"]
    release_persisted()
    rows = dedup_substring_apply(spark, sf_dir).collect()
    release_persisted()
    assert rows and all(r["n_kept"] + r["n_dropped"] == r["n_tokens"] for r in rows)
    for r in rows:
        assert r["n_dropped"] == spans.get(r["doc_id"], 0)
        if r["n_dropped"] == 0 and r["n_tokens"] > 0:
            assert len(r["clean_text"].split(" ")) == r["n_tokens"]


def test_containment_exact_semantics(spark, tmp_path):
    """Pinned semantics on a constructed corpus: whole-doc substring
    containment, length floor, first-occurrence offset, no self pairs."""
    from map_reduce_in_go_spark.operators.dedup import (
        CONTAIN_MIN_CHARS,
        dedup_containment_exact,
    )

    base = "x" * 10 + "the quick brown fox jumps over the lazy dog " * 3
    inner = base[10 : 10 + CONTAIN_MIN_CHARS + 5]  # eligible, at offset 11
    docs = [
        (1, base),                      # container
        (2, inner),                     # contained in 1 at pos 11
        (3, "tiny doc"),               # below floor: never a doc_a
        (4, base),                      # exact dup of 1: mutual containment
        (5, "z" * (CONTAIN_MIN_CHARS + 1)),  # eligible, contained nowhere
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["doc_a"], r["doc_b"]): (r["len_a"], r["first_pos"])
        for r in dedup_containment_exact(spark, str(tmp_path)).collect()
    }
    assert set(got) == {(2, 1), (2, 4), (1, 4), (4, 1)}
    assert got[(2, 1)] == (len(inner), 11)
    assert got[(1, 4)] == (len(base), 1)


def test_containment_exact_property_vs_bruteforce(spark, tmp_path):
    """Randomized corpora (small alphabet → accidental overlaps, planted
    substrings, short docs below the floor): the anchor-gram plan must
    equal the quadratic python oracle exactly."""
    import random

    from map_reduce_in_go_spark.operators.dedup import (
        CONTAIN_MIN_CHARS,
        dedup_containment_exact,
    )

    rng = random.Random(13)
    for case in range(3):
        docs = []
        for i in range(24):
            n = rng.randint(CONTAIN_MIN_CHARS - 10, CONTAIN_MIN_CHARS * 3)
            docs.append((i, "".join(rng.choice("abc") for _ in range(n))))
        # plant real containments: substrings of existing docs as new docs
        for j, (src, text) in enumerate(docs[:4]):
            if len(text) >= CONTAIN_MIN_CHARS + 12:
                start = rng.randint(0, 8)
                docs.append(
                    (100 + j, text[start : start + CONTAIN_MIN_CHARS + 4])
                )
        d = str(tmp_path / f"case{case}")
        spark.createDataFrame(docs, "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(f"{d}/documents.parquet")

        got = {
            (r["doc_a"], r["doc_b"]): (r["len_a"], r["first_pos"])
            for r in dedup_containment_exact(spark, d).collect()
        }
        want = {}
        for a, ta in docs:
            if len(ta) < CONTAIN_MIN_CHARS:
                continue
            for b, tb in docs:
                if a == b:
                    continue
                p = tb.find(ta)
                if p >= 0:
                    want[(a, b)] = (len(ta), p + 1)
        assert got == want, f"case {case}"


def test_containment_indexed_serves_without_reexplode(spark, sf_dir):
    """The served twin (r14): identical pairs to the in-flight form, and
    the optimized plan proves the gram explosion is GONE — the gram side
    is the persisted index, not a per-run posexplode of the corpus."""
    from map_reduce_in_go_spark.operators.dedup import (
        dedup_containment_exact,
        dedup_containment_indexed,
    )

    def rows(df):
        return {
            (r["doc_a"], r["doc_b"], r["len_a"], r["first_pos"])
            for r in df.collect()
        }

    assert rows(dedup_containment_indexed(spark, sf_dir)) == rows(
        dedup_containment_exact(spark, sf_dir)
    )
    pi = (
        dedup_containment_indexed(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    pe = (
        dedup_containment_exact(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "posexplode" not in pi.lower()
    assert "posexplode" in pe.lower()  # the twin still pays it in-flight


def test_star_components_local_and_distributed_paths_agree(spark, monkeypatch):
    """r15: star_components gained a size-gated driver union-find fast path.
    Pin that both paths produce the identical component-minimum labeling on
    a graph with chains, duplicate edges, reversed edges and singletons-in-
    pairs, by forcing the distributed contraction with a zero threshold."""
    edges = spark.createDataFrame(
        [
            # a 5-chain (stringy component: worst case for propagation)
            (1, 2), (2, 3), (3, 4), (4, 5),
            # duplicate + reversed duplicates of one edge
            (10, 11), (11, 10), (10, 11),
            # triangle touching the chain's max
            (5, 20), (20, 21), (21, 5),
            # isolated pair with large ids
            (1_000_000_007, 1_000_000_009),
        ],
        schema="u long, v long",
    )
    expected = {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 20: 1, 21: 1,
        10: 10, 11: 10,
        1_000_000_007: 1_000_000_007, 1_000_000_009: 1_000_000_007,
    }

    local = {
        r["doc_id"]: r["cluster_id"] for r in dedup.star_components(edges).collect()
    }
    assert local == expected

    monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", 0)
    dist = {
        r["doc_id"]: r["cluster_id"] for r in dedup.star_components(edges).collect()
    }
    assert dist == expected
