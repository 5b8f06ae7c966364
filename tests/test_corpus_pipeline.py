"""End-to-end incremental-corpus pipeline: one batch advances corpus,
band index, gram index, CMS, exact token counts, and quantile rollup
in ONE transaction —
cross-artifact consistency, joint replay no-op, micro-batch chaining."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from map_reduce_in_go_spark.sources.catalog import TableCatalog
from map_reduce_in_go_spark.sources.tables import load_table
from map_reduce_in_go_spark.streaming.corpus_pipeline import (
    BANDS,
    CMS,
    CORPUS,
    GRAMS,
    QUANTS,
    REJECTS,
    TOKENS,
    corpus_batch_txn,
    member,
)


def _feed(spark, sf_dir, cat, n_batches=3):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    for i in range(n_batches):
        assert corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(n_batches)) == i), cat, i
        )
    return docs


@pytest.mark.slow
def test_cross_artifact_consistency(spark, sf_dir, tmp_path):
    """Every artifact describes EXACTLY the accepted corpus — no member
    can drift ahead of or behind another."""
    from map_reduce_in_go_spark.functions.text import tokens
    from map_reduce_in_go_spark.sources.substring_index import _token_gram_counts

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = _feed(spark, sf_dir, cat)

    corpus = member(spark, cat, CORPUS)
    accepted = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert accepted and accepted <= all_ids

    # gram index == gram counts recomputed from the accepted corpus
    stored = {
        r["g"]: r["n"]
        for r in member(spark, cat, GRAMS).groupBy("g").agg(F.sum("n").alias("n")).collect()
    }
    recomputed = {
        r["g"]: r["n"] for r in _token_gram_counts(corpus).collect()
    }
    assert stored == recomputed and stored

    # CMS rows: total tokens exact; every token's min-row estimate is a
    # superset bound on its exact corpus count
    from map_reduce_in_go_spark.operators.approx import CMS_D, CMS_W, _cms_hashes

    rows = member(spark, cat, CMS).collect()
    total = sum(r["n"] for r in rows)
    agg = np.zeros(CMS_D * CMS_W, dtype=np.int64)
    for r in rows:
        agg += np.asarray(r["sketch"], dtype=np.int64)
    cms = agg.reshape(CMS_D, CMS_W)
    tok = corpus.select(F.explode(tokens(F.col("text"))).alias("w"))
    exact = {
        r["w"]: r["c"] for r in tok.groupBy("w").agg(F.count("*").alias("c")).collect()
    }
    assert total == sum(exact.values())
    # token_counts member (r11 (a)): the folded additive rows ARE the
    # exact token frequencies of the accepted corpus
    stored_tok = {
        r["word"]: r["n"]
        for r in member(spark, cat, TOKENS)
        .groupBy("word")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert stored_tok == exact and stored_tok
    for w, c in list(exact.items())[:50]:
        assert min(cms[d, h] for d, h in enumerate(_cms_hashes(w))) >= c

    # quantile member: per-lang doc counts exact; small batches store
    # exact multisets, so the folded median IS the exact order statistic
    qrows = member(spark, cat, QUANTS).collect()
    per_lang_n = {}
    pts = {}
    for r in qrows:
        per_lang_n[r["event_type"]] = per_lang_n.get(r["event_type"], 0) + r["n"]
        pts.setdefault(r["event_type"], []).extend(r["points"])
        assert r["err"] == 0  # batches under QS_B per lang: exact
    exact_lens = {}
    for r in corpus.select(
        "lang", F.size(tokens(F.col("text"))).alias("n_tok")
    ).collect():
        exact_lens.setdefault(r["lang"], []).append(float(r["n_tok"]))
    assert set(per_lang_n) == set(exact_lens)
    for lang, vals in exact_lens.items():
        vals.sort()
        assert per_lang_n[lang] == len(vals)
        merged = sorted(pts[lang])
        assert merged == vals  # exact multiset equality (err 0 everywhere)

    # rejection report: the stored (doc_id, pos, g) rows equal a fresh
    # recompute over exactly the docs the pipeline dropped
    from map_reduce_in_go_spark.operators.dedup import token_grams

    dropped = docs.filter(~F.col("doc_id").isin(list(accepted)))
    stored_rej = {
        tuple(r) for r in member(spark, cat, REJECTS).collect()
    }
    recomputed_rej = {tuple(r) for r in token_grams(dropped).collect()}
    assert stored_rej == recomputed_rej and stored_rej

    # a batch that is a pure replay of CONTENT (new ids, same texts)
    # accepts nothing: the standing band index catches every near-dup
    clone = docs.withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    assert corpus_batch_txn(spark, clone, cat, 99)
    after = {r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()}
    assert after == accepted


def test_joint_replay_noop(spark, sf_dir, tmp_path):
    """Replaying every batch (the checkpoint-wipe scenario) is a no-op
    across ALL five artifacts at once: nothing recomputes, no member
    version moves."""
    cat = TableCatalog(str(tmp_path / "cat"))
    _feed(spark, sf_dir, cat)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    before = cat.snapshot(spark)
    assert set(before) == {CORPUS, BANDS, GRAMS, CMS, TOKENS, QUANTS, REJECTS}
    for i in range(3):
        assert (
            corpus_batch_txn(
                spark, docs.filter(F.pmod("doc_id", F.lit(3)) == i), cat, i
            )
            is False
        )
    assert cat.snapshot(spark) == before


def test_stream_end_to_end(spark, tmp_path):
    """Two micro-batches publish one seven-member transaction each;
    in-batch and cross-batch dups drop."""
    texts1 = [
        (1, "alpha beta gamma delta epsilon zeta eta theta", "en"),
        (2, "alpha beta gamma delta epsilon zeta eta theta", "en"),  # dup of 1
        (3, "one two three four five six seven eight", "en"),
    ]
    texts2 = [
        (4, "alpha beta gamma delta epsilon zeta eta theta", "en"),  # corpus dup
        (5, "nine ten eleven twelve thirteen fourteen fifteen", "de"),
    ]
    cat = TableCatalog(str(tmp_path / "cat"))
    for bid, batch in enumerate((texts1, texts2)):
        df = spark.createDataFrame(batch, "doc_id long, text string, lang string")
        assert corpus_batch_txn(spark, df, cat, bid)

    got = {r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()}
    assert got == {1, 3, 5}
    assert set(cat.snapshot(spark)) == {CORPUS, BANDS, GRAMS, CMS, TOKENS, QUANTS, REJECTS}
    assert {"corpus-batch-0", "corpus-batch-1"} <= cat.committed_ops()
    langs = {
        r["event_type"] for r in member(spark, cat, QUANTS).collect()
    }
    assert langs == {"en", "de"}


@pytest.mark.slow
def test_pq_member_in_pipeline_txn(spark, sf_dir, tmp_path):
    """r11 (a): the embeddings side-channel commits IVF-PQ codes in the
    SAME transaction as the other five members. Pins: (1) codes exist for
    EXACTLY the accepted documents; (2) codes are bit-identical to a
    served-model encode of the same vectors (no retrain); (3) the joint
    replay no-op covers the cell members — no member version moves."""
    import os

    from map_reduce_in_go_spark.operators.pq_index import PqIvfIndex
    from map_reduce_in_go_spark.sources.manifest_table import ManifestTable

    root = str(tmp_path / "cat")
    idx = PqIvfIndex(root)
    idx.build(spark, sf_dir, include_codes=False)  # model published, cells empty
    cat = idx.catalog

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    embs = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("e")
    )
    for i in range(2):
        b = docs.filter(F.pmod("doc_id", F.lit(2)) == i)
        e = embs.join(b.select("doc_id"), "doc_id", "left_semi")
        assert corpus_batch_txn(spark, b, cat, i, emb_batch=e)

    accepted = {
        r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()
    }
    with_vec = {r["doc_id"] for r in embs.select("doc_id").collect()}

    books, cells = idx.snapshot(spark)
    stored = {}
    for cid, _, path, version in cells:
        for r in ManifestTable(os.path.join(root, path)).read(spark, version).collect():
            stored[r["vec_id"]] = (cid, tuple(r["codes"]))
    # (1) exactly the accepted docs (that have a vector) are probeable
    assert set(stored) == (accepted & with_vec) and stored

    # (2) served-model encoding equality on the full accepted set
    kept_emb = embs.filter(F.col("doc_id").isin([int(d) for d in stored])).select(
        F.col("doc_id").alias("vec_id"), "e"
    )
    expect = {
        r["vec_id"]: (r["cid"], tuple(r["codes"]))
        for r in idx.encode_with_model(spark, kept_emb, books, cells).collect()
    }
    assert stored == expect

    # (3) joint replay no-op across all six member kinds
    before = cat.snapshot(spark)
    b0 = docs.filter(F.pmod("doc_id", F.lit(2)) == 0)
    e0 = embs.join(b0.select("doc_id"), "doc_id", "left_semi")
    assert corpus_batch_txn(spark, b0, cat, 0, emb_batch=e0) is False
    assert cat.snapshot(spark) == before


@pytest.mark.slow
def test_compact_pipeline(spark, sf_dir, tmp_path):
    """One maintenance transaction compacts EVERY member: answers
    unchanged (gram/CMS folds identical, corpus rows identical, quantile
    n per type identical with an honest error budget), file counts
    bounded, gram stats restored so point probes prune, the batch ledger
    survives (replays still no-op), and the next batch lands normally."""
    import os

    import numpy as np

    from map_reduce_in_go_spark.sources.manifest_table import ManifestTable
    from map_reduce_in_go_spark.streaming.corpus_pipeline import compact_pipeline

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = _feed(spark, sf_dir, cat)

    def gram_fold():
        return {
            r["g"]: r["n"]
            for r in member(spark, cat, GRAMS)
            .groupBy("g")
            .agg(F.sum("n").alias("n"))
            .collect()
        }

    def cms_fold():
        rows = member(spark, cat, CMS).collect()
        return (
            sum(r["n"] for r in rows),
            np.sum([np.asarray(r["sketch"]) for r in rows], axis=0).tolist(),
        )

    before_corpus = {
        tuple(r) for r in member(spark, cat, CORPUS).collect()
    }
    before_grams = gram_fold()
    before_cms = cms_fold()
    def tok_fold():
        return {
            r["word"]: r["n"]
            for r in member(spark, cat, TOKENS)
            .groupBy("word")
            .agg(F.sum("n").alias("n"))
            .collect()
        }

    before_tok = tok_fold()
    before_qn = {
        (r["event_type"],): 0 for r in member(spark, cat, QUANTS).collect()
    }
    for r in member(spark, cat, QUANTS).collect():
        k = (r["event_type"],)
        before_qn[k] += r["n"]

    v = compact_pipeline(spark, cat, num_files=4)
    assert v == cat.version()

    assert {tuple(r) for r in member(spark, cat, CORPUS).collect()} == before_corpus
    assert gram_fold() == before_grams
    assert tok_fold() == before_tok
    assert cms_fold() == before_cms
    qrows = member(spark, cat, QUANTS).collect()
    after_qn = {}
    for r in qrows:
        after_qn[(r["event_type"],)] = after_qn.get((r["event_type"],), 0) + r["n"]
    assert after_qn == before_qn
    assert len(qrows) == len(after_qn)  # one row per type
    assert len(member(spark, cat, CMS).collect()) == 1

    # gram member: bounded files, tight per-file ranges, stats prune
    pins = cat.snapshot(spark)
    gpath, gver = pins[GRAMS]
    gtbl = ManifestTable(os.path.join(cat.root, gpath), stats_cols=["g"])
    files_all = gtbl.files(gver)
    assert len(files_all) <= 4
    probe = sorted(before_grams)[0]
    pruned = gtbl.files_pruned_in("g", [probe], version=gver)
    assert len(pruned) < len(files_all)

    # the batch ledger survives compaction: replays still no-op...
    before_snap = cat.snapshot(spark)
    assert (
        corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
        )
        is False
    )
    assert cat.snapshot(spark) == before_snap
    # ...and a genuinely new batch lands on the compacted layout
    fresh = spark.createDataFrame(
        [
            (
                20_000_000,
                "zanzibar quokka marimba fjord glyph taco nebula wombat "
                "oxide pylon quartz rivet sonar tundra umbra vortex",
                "en",
            )
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, fresh, cat, 7)
    assert member(spark, cat, CORPUS).count() == len(before_corpus) + 1


@pytest.mark.slow
def test_pipeline_ann_probe(spark, sf_dir, tmp_path):
    """r11 (b): ANN served FROM the pipeline's PQ cells. The probe's
    candidates can only be accepted documents (the cells hold exactly
    their codes), the exact-rescore cosines are real (numpy-checked),
    and a catalog-wide compaction leaves the answer bit-identical."""
    import numpy as np

    from map_reduce_in_go_spark.operators.pq_index import PqIvfIndex
    from map_reduce_in_go_spark.streaming.corpus_pipeline import compact_pipeline

    root = str(tmp_path / "cat")
    idx = PqIvfIndex(root)
    idx.build(spark, sf_dir, include_codes=False)
    cat = idx.catalog

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    embs = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("e")
    )
    for i in range(2):
        b = docs.filter(F.pmod("doc_id", F.lit(2)) == i)
        e = embs.join(b.select("doc_id"), "doc_id", "left_semi")
        assert corpus_batch_txn(spark, b, cat, i, emb_batch=e)

    accepted = {
        r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()
    }
    before = {tuple(r) for r in idx.probe(spark, sf_dir).collect()}
    assert before
    assert {n for _, n, _, _ in before} <= accepted

    # exact-rescore honesty: recompute a few cosines straight from the store
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    for q, n, cos, _ in sorted(before)[:5]:
        a, b_ = vecs[q], vecs[n]
        expect = float(a @ b_ / (np.linalg.norm(a) * np.linalg.norm(b_)))
        assert abs(cos - round(expect, 6)) < 1e-9

    compact_pipeline(spark, cat, num_files=2)
    after = {tuple(r) for r in idx.probe(spark, sf_dir).collect()}
    assert after == before


@pytest.mark.slow
def test_pipeline_vacuum_after_compaction(spark, sf_dir, tmp_path):
    """r11 (a): after a catalog-wide compaction, the catalog-coordinated
    vacuum reclaims the superseded member files while the published
    snapshot stays fully readable, the ledger keeps detecting replays,
    and streaming continues."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import compact_pipeline

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = _feed(spark, sf_dir, cat)

    before_corpus = {tuple(r) for r in member(spark, cat, CORPUS).collect()}
    before_grams = {
        (r["g"], r["n"])
        for r in member(spark, cat, GRAMS)
        .groupBy("g")
        .agg(F.sum("n").alias("n"))
        .collect()
    }

    compact_pipeline(spark, cat, num_files=2)
    removed = cat.vacuum(spark, retain_seconds=0.0)
    assert removed > 0  # the pre-compaction member files are gone

    # published snapshot fully readable, answers identical
    assert {tuple(r) for r in member(spark, cat, CORPUS).collect()} == before_corpus
    assert {
        (r["g"], r["n"])
        for r in member(spark, cat, GRAMS)
        .groupBy("g")
        .agg(F.sum("n").alias("n"))
        .collect()
    } == before_grams

    # ledger intact: replay no-op, fresh batch lands
    snap = cat.snapshot(spark)
    assert (
        corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
        )
        is False
    )
    assert cat.snapshot(spark) == snap
    fresh = spark.createDataFrame(
        [
            (
                30_000_000,
                "xylophone grotto lantern mosaic parable quiver saffron "
                "trellis vellum wisteria yonder zephyr anvil brook cairn",
                "en",
            )
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, fresh, cat, 9)
    assert member(spark, cat, CORPUS).count() == len(before_corpus) + 1


def test_pipeline_schema_evolution(spark, sf_dir, tmp_path):
    """r11 (c): an added document column flows through the corpus member
    without a rebuild — merge-schema reads surface it as null on
    pre-evolution rows and with values on post-evolution rows; the other
    members are unaffected; compaction preserves the widened schema."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import compact_pipeline

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(2)) == 0), cat, 0
    )
    with_url = docs.filter(F.pmod("doc_id", F.lit(2)) == 1).withColumn(
        "url", F.concat(F.lit("https://example.org/doc/"), F.col("doc_id"))
    )
    assert corpus_batch_txn(spark, with_url, cat, 1)

    corpus = member(spark, cat, CORPUS, merge_schema=True)
    assert "url" in corpus.columns
    rows = {r["doc_id"]: r["url"] for r in corpus.collect()}
    batch0 = {d for d in rows if d % 2 == 0}
    batch1 = {d for d in rows if d % 2 == 1}
    assert batch0 and batch1
    assert all(rows[d] is None for d in batch0)  # pre-evolution: nulls
    assert all(
        rows[d] == f"https://example.org/doc/{d}" for d in batch1
    )  # post-evolution: values

    # the default (pinned-schema) read also serves the widened schema —
    # the newest commit pinned it
    assert "url" in member(spark, cat, CORPUS).columns

    # the derived members describe text/lang only: untouched by extras
    gram_total = member(spark, cat, GRAMS).agg(F.sum("n")).collect()[0][0]
    assert gram_total > 0

    # compaction rewrites history into the widened schema, values intact
    compact_pipeline(spark, cat, num_files=2)
    after = {
        r["doc_id"]: r["url"]
        for r in member(spark, cat, CORPUS, merge_schema=True).collect()
    }
    assert after == rows


@pytest.mark.slow
def test_retract_docs(spark, sf_dir, tmp_path):
    """r11 (c): retraction removes a document's contributions from EVERY
    member in one transaction. For a collision-free document (it caused
    no rejections) the post-retraction state equals a never-ingested run
    member-for-member; its PQ codes vanish from the cells; replays
    no-op; compaction then drops the zeroed gram digests."""
    import os

    from map_reduce_in_go_spark.operators.pq_index import PqIvfIndex
    from map_reduce_in_go_spark.sources.manifest_table import ManifestTable
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        compact_pipeline,
        retract_docs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    embs = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("e")
    )
    extra = spark.createDataFrame(
        [
            (
                40_000_000,
                "ephemeral quasar bramble cataract dulcimer estuary filigree "
                "gossamer harbinger icicle juniper kestrel labyrinth mandolin",
                "en",
            )
        ],
        "doc_id long, text string, lang string",
    )
    extra_emb = embs.limit(1).select(F.lit(40_000_000).alias("doc_id"), "e")

    def build(root, include_extra):
        idx = PqIvfIndex(root)
        idx.build(spark, sf_dir, include_codes=False)
        cat = idx.catalog
        b0 = docs.filter(F.pmod("doc_id", F.lit(2)) == 0)
        if include_extra:
            b0 = b0.unionByName(extra)
        e0 = embs.join(b0.select("doc_id"), "doc_id", "left_semi")
        if include_extra:
            e0 = e0.unionByName(extra_emb)
        assert corpus_batch_txn(spark, b0, cat, 0, emb_batch=e0)
        b1 = docs.filter(F.pmod("doc_id", F.lit(2)) == 1)
        e1 = embs.join(b1.select("doc_id"), "doc_id", "left_semi")
        assert corpus_batch_txn(spark, b1, cat, 1, emb_batch=e1)
        return idx, cat

    idx_w, cat_w = build(str(tmp_path / "with"), True)
    idx_n, cat_n = build(str(tmp_path / "never"), False)

    assert retract_docs(spark, cat_w, [40_000_000], op="retract-1")
    assert retract_docs(spark, cat_w, [40_000_000], op="retract-1") is False

    def folds(cat):
        corpus = {tuple(r) for r in member(spark, cat, CORPUS).collect()}
        bands = {tuple(r) for r in member(spark, cat, BANDS).collect()}
        grams = {
            (r["g"], r["n"])
            for r in member(spark, cat, GRAMS)
            .groupBy("g")
            .agg(F.sum("n").alias("n"))
            .collect()
            if r["n"] > 0
        }
        toks = {
            (r["word"], r["n"])
            for r in member(spark, cat, TOKENS)
            .groupBy("word")
            .agg(F.sum("n").alias("n"))
            .collect()
            if r["n"] > 0
        }
        rej = {tuple(r) for r in member(spark, cat, REJECTS).collect()}
        rows = member(spark, cat, CMS).collect()
        cms = (
            sum(r["n"] for r in rows),
            np.sum([np.asarray(r["sketch"]) for r in rows], axis=0).tolist(),
        )
        qpts = {}
        qn = {}
        for r in member(spark, cat, QUANTS).collect():
            qn[r["event_type"]] = qn.get(r["event_type"], 0) + r["n"]
            qpts.setdefault(r["event_type"], []).extend(r["points"])
        return corpus, bands, grams, toks, rej, cms, qn, {
            k: sorted(v) for k, v in qpts.items()
        }

    assert folds(cat_w) == folds(cat_n)

    # PQ cells: the retracted doc's codes are gone (and only its)
    def coded_ids(idx, cat):
        _, cells = idx.snapshot(spark)
        out = set()
        for _, _, path, version in cells:
            out |= {
                r["vec_id"]
                for r in ManifestTable(os.path.join(cat.root, path))
                .read(spark, version)
                .collect()
            }
        return out

    assert 40_000_000 not in coded_ids(idx_w, cat_w)
    assert coded_ids(idx_w, cat_w) == coded_ids(idx_n, cat_n)

    # a fully-retracted gram digest does not survive compaction
    zero_gs = (
        member(spark, cat_w, GRAMS)
        .groupBy("g")
        .agg(F.sum("n").alias("n"))
        .filter(F.col("n") == 0)
        .count()
    )
    assert zero_gs > 0  # the unique doc's digests are zeroed pre-compaction
    compact_pipeline(spark, cat_w, num_files=2)
    assert (
        member(spark, cat_w, GRAMS).filter(F.col("n") <= 0).count() == 0
    )
    assert (
        member(spark, cat_w, TOKENS).filter(F.col("n") <= 0).count() == 0
    )
    assert folds(cat_w)[2] == folds(cat_n)[2]
    assert folds(cat_w)[3] == folds(cat_n)[3]

    # rejected-doc erasure (r11): a doc the pipeline DROPPED still has a
    # content trace in the rejection report; retracting it purges exactly
    # its rows, touches no other member, and replays no-op
    rej_ids = {
        r["doc_id"] for r in member(spark, cat_w, REJECTS).select("doc_id").collect()
    }
    assert rej_ids
    victim = min(rej_ids)
    before_corpus = {
        tuple(r) for r in member(spark, cat_w, CORPUS).collect()
    }
    assert retract_docs(spark, cat_w, [victim], op="erase-rejected")
    assert retract_docs(spark, cat_w, [victim], op="erase-rejected") is False
    assert (
        member(spark, cat_w, REJECTS)
        .filter(F.col("doc_id") == victim)
        .count()
        == 0
    )
    assert {
        tuple(r) for r in member(spark, cat_w, CORPUS).collect()
    } == before_corpus
    # absent everywhere still refuses loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="nothing to retract"):
        retract_docs(spark, cat_w, [999_999_999], op="erase-nothing")


@pytest.mark.slow
def test_time_travel_member_reads(spark, sf_dir, tmp_path):
    """r12 (a): `member(..., version=v)` serves state AS OF one catalog
    commit — cross-member consistent at every historical version — and
    refuses loudly (naming member + version) once vacuum reclaims the
    files a pinned snapshot needs."""
    import pytest as _pytest

    from map_reduce_in_go_spark.functions.text import tokens
    from map_reduce_in_go_spark.streaming.corpus_pipeline import compact_pipeline

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    versions = []
    for i in range(3):
        assert corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(3)) == i), cat, i
        )
        versions.append(cat.version())

    # corpus history is monotone: each commit's accepted set nests
    ids = [
        {r["doc_id"] for r in member(spark, cat, CORPUS, version=v).select("doc_id").collect()}
        for v in versions
    ]
    assert ids[0] < ids[1] < ids[2]
    assert ids[2] == {
        r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()
    }

    # cross-member consistency AS OF the middle commit: the token member
    # at v1 counts exactly the v1 corpus — the multi-table pin at work
    v1 = versions[1]
    exact_v1 = {
        r["w"]: r["c"]
        for r in member(spark, cat, CORPUS, version=v1)
        .select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    stored_v1 = {
        r["word"]: r["n"]
        for r in member(spark, cat, TOKENS, version=v1)
        .groupBy("word")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert stored_v1 == exact_v1 and stored_v1

    # GC horizon: compaction rewrites members, vacuum reclaims the old
    # files — pre-compaction versions now refuse loudly, current reads
    # and post-compaction time travel still work
    compact_pipeline(spark, cat, num_files=2)
    v_compacted = cat.version()
    assert cat.vacuum(spark, retain_seconds=0.0) > 0
    with _pytest.raises(FileNotFoundError, match="GC horizon"):
        member(spark, cat, CORPUS, version=v1).collect()
    assert {
        r["doc_id"]
        for r in member(spark, cat, CORPUS, version=v_compacted)
        .select("doc_id")
        .collect()
    } == ids[2]
    assert member(spark, cat, CORPUS).count() == len(ids[2])


def test_duplicate_batch_attempt_race(spark, sf_dir, tmp_path):
    """Exactly-once under a RACING duplicate attempt (two followers, or a
    restarted driver racing its zombie): the duplicate lands between the
    top-of-function ledger check and the commit, and the loser must
    detect it inside the retry loop — one op label, no doubled content."""
    import map_reduce_in_go_spark.streaming.corpus_pipeline as cp
    from map_reduce_in_go_spark.sources.catalog import TableCatalog as TC

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat, 0
    )
    batch1 = docs.filter(F.pmod("doc_id", F.lit(3)) == 1)

    orig = TC.committed_ops
    state = {"fired": False}

    def with_race(self):
        out = orig(self)
        if not state["fired"] and self.root == cat.root:
            state["fired"] = True
            # the duplicate attempt wins the check-then-act window: it
            # commits AFTER this (pre-race) ledger snapshot was taken
            assert cp.corpus_batch_txn(
                spark, batch1, TableCatalog(cat.root), 1
            )
        return out

    TC.committed_ops = with_race
    try:
        assert cp.corpus_batch_txn(spark, batch1, cat, 1) is False
    finally:
        TC.committed_ops = orig

    labels = [op for _, op in cat.history()]
    assert labels.count("corpus-batch-1") == 1
    dup_docs = (
        member(spark, cat, CORPUS)
        .groupBy("doc_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup_docs == 0


def test_pipeline_length_quantiles_served(spark, sf_dir, tmp_path):
    """The len_quantiles member serves per-language token-length
    quantiles without re-reading documents: exact (rank_err 0) on the
    un-compacted pipeline, and within the stored rank-error budget after
    compaction recompresses."""
    from map_reduce_in_go_spark.functions.text import tokens as tok_fn
    from map_reduce_in_go_spark.streaming import pipeline_read as plr
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        compact_pipeline,
    )
    from map_reduce_in_go_spark.streaming.quantiles import (
        _weighted_value_at_rank,
    )

    import numpy as np

    # point the served-artifact path at a fresh build in this test's dir
    got = {
        r["lang"]: r
        for r in plr.pipeline_length_quantiles(spark, sf_dir).collect()
    }
    cat = plr._pipeline_catalog(spark, sf_dir)
    corpus = member(spark, cat, CORPUS)
    exact = {}
    for r in corpus.select(
        "lang", F.size(tok_fn(F.col("text"))).alias("n_tok")
    ).collect():
        exact.setdefault(r["lang"], []).append(float(r["n_tok"]))
    assert set(got) == set(exact)
    for lang, vals in exact.items():
        vals = np.sort(np.asarray(vals))
        row = got[lang]
        assert row["rank_err"] == 0 and row["n"] == len(vals)
        w = np.ones(len(vals))
        for q in (25, 50, 75):
            expect = _weighted_value_at_rank(vals, w, q / 100 * len(vals))
            assert row[f"q{q}"] == expect
        # the answers are actual data points
        assert all(row[f"q{q}"] in set(vals.tolist()) for q in (25, 50, 75))

    # post-compaction: n preserved, answers stay within the honest budget
    compact_pipeline(spark, cat, num_files=2)
    after = {
        r["lang"]: r
        for r in plr.pipeline_length_quantiles(spark, sf_dir).collect()
    }
    for lang, vals in exact.items():
        vals = np.sort(np.asarray(vals))
        row = after[lang]
        assert row["n"] == len(vals)
        err = row["rank_err"]
        for q in (25, 50, 75):
            v = row[f"q{q}"]
            # with duplicates the value occupies a rank INTERVAL; the
            # guarantee is that interval meets q*n within the budget
            lo = np.searchsorted(vals, v, side="left") + 1
            hi = np.searchsorted(vals, v, side="right")
            target = (q / 100) * len(vals)
            assert lo - (err + 1) <= target <= hi + (err + 1)


def test_compaction_preserves_columns_when_late_batch_is_narrower(
    spark, sf_dir, tmp_path
):
    """r10 advice (medium): compact_pipeline's full-member rewrite must
    read merge-schema — with a NARROWER batch landing last, a
    pinned-schema rewrite would permanently drop the earlier batches'
    evolved columns' data."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import compact_pipeline

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    wide = docs.filter(F.pmod("doc_id", F.lit(2)) == 0).withColumn(
        "url", F.concat(F.lit("https://example.org/doc/"), F.col("doc_id"))
    )
    assert corpus_batch_txn(spark, wide, cat, 0)
    assert corpus_batch_txn(
        spark, docs.filter(F.pmod("doc_id", F.lit(2)) == 1), cat, 1
    )

    before = {
        r["doc_id"]: r["url"]
        for r in member(spark, cat, CORPUS, merge_schema=True).collect()
    }
    assert any(u is not None for u in before.values())

    compact_pipeline(spark, cat, num_files=2)
    after = {
        r["doc_id"]: r["url"]
        for r in member(spark, cat, CORPUS, merge_schema=True).collect()
    }
    assert after == before  # evolved values survived the rewrite


def test_retract_null_lang_keeps_other_languages_quantiles(
    spark, sf_dir, tmp_path
):
    """r10 advice (medium): retracting a document whose lang is NULL must
    not nuke every OTHER language's quantile summaries (SQL three-valued
    logic: NULL in the isin() list makes ~isin() NULL everywhere)."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import retract_docs

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    nulldoc = spark.createDataFrame(
        [
            (
                41_000_000,
                "zephyr quarto bramble incunabula dulcimer estuary filigree "
                "gossamer harbinger icicle juniper kestrel labyrinth mandolin",
                None,
            )
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, docs.unionByName(nulldoc), cat, 0)

    langs_before = {
        r["event_type"]
        for r in member(spark, cat, QUANTS).select("event_type").collect()
    }
    assert None in langs_before and len(langs_before) > 1

    assert retract_docs(spark, cat, [41_000_000], op="retract-null-lang")

    quants = member(spark, cat, QUANTS)
    langs_after = {
        r["event_type"] for r in quants.select("event_type").collect()
    }
    # every real language's summary survives; the null-lang group is
    # rebuilt from the (now empty) remaining null-lang corpus slice
    assert langs_after >= (langs_before - {None})
    # and the corpus member no longer carries the doc
    assert (
        member(spark, cat, CORPUS).filter(F.col("doc_id") == 41_000_000).count()
        == 0
    )


def test_pipeline_trending_replica_equals_served(spark, sf_dir, tmp_path):
    """The registered replica-served trending query answers bit-identically
    to the primary-served form: the whole ledger-walk replication path sits
    between the same oracle and the same fold."""
    from map_reduce_in_go_spark.streaming.pipeline_read import (
        pipeline_trending_replica,
        pipeline_trending_served,
    )

    served = {tuple(r) for r in pipeline_trending_served(spark, sf_dir).collect()}
    replica = {tuple(r) for r in pipeline_trending_replica(spark, sf_dir).collect()}
    assert replica == served and served


@pytest.mark.slow
def test_update_docs_single_cas_upsert(spark, sf_dir, tmp_path):
    """r10 verdict #3: update_docs composes retraction + admission in ONE
    catalog CAS. End state equals the retract-then-ingest twin fold-for-
    fold (collision-free replacement); the ledger gains exactly one
    commit, so no catalog version ever serves the doc-absent in-between
    state; replays no-op; pure inserts work; replication flows through."""
    from map_reduce_in_go_spark.sources.replicate import (
        catalog_divergence,
        replicate_catalog,
    )
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        retract_docs,
        update_docs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    OLD_ID = 42_000_000
    old_doc = spark.createDataFrame(
        [
            (
                OLD_ID,
                "ephemeral quasar bramble cataract dulcimer estuary filigree "
                "gossamer harbinger icicle juniper kestrel labyrinth mandolin",
                "en",
            )
        ],
        "doc_id long, text string, lang string",
    )
    new_doc = spark.createDataFrame(
        [
            (
                OLD_ID,
                "novel aurora bastion chrysalis dirigible effervescent fjord "
                "glissando hinterland isthmus jacaranda kaleidoscope lagoon",
                "en",
            )
        ],
        "doc_id long, text string, lang string",
    )

    def seed(root):
        cat = TableCatalog(str(tmp_path / root))
        b0 = docs.filter(F.pmod("doc_id", F.lit(2)) == 0).unionByName(old_doc)
        assert corpus_batch_txn(spark, b0, cat, 0)
        assert corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(2)) == 1), cat, 1
        )
        return cat

    cat_u = seed("upd")
    cat_t = seed("twin")

    v_before = cat_u.version()
    assert update_docs(spark, cat_u, new_doc, op="update-1")
    assert cat_u.version() == v_before + 1  # ONE commit, no gap version
    assert update_docs(spark, cat_u, new_doc, op="update-1") is False

    # twin: two commits with a doc-absent state in between
    assert retract_docs(spark, cat_t, [OLD_ID], op="twin-retract")
    gap = member(spark, cat_t, CORPUS).filter(F.col("doc_id") == OLD_ID)
    assert gap.count() == 0  # the twin DOES expose the gap...
    assert corpus_batch_txn(spark, new_doc, cat_t, 2)

    # ...while every catalog version of the update path serves the doc
    for v in range(cat_u.version() + 1):
        present = (
            member(spark, cat_u, CORPUS, version=v)
            .filter(F.col("doc_id") == OLD_ID)
            .count()
        )
        assert present == 1, f"doc absent at catalog v{v}"

    def folds(cat):
        corpus = {
            (r["doc_id"], r["text"], r["lang"])
            for r in member(spark, cat, CORPUS).collect()
        }
        bands = {tuple(r) for r in member(spark, cat, BANDS).collect()}
        grams = {
            (r["g"], r["n"])
            for r in member(spark, cat, GRAMS)
            .groupBy("g")
            .agg(F.sum("n").alias("n"))
            .collect()
            if r["n"] > 0
        }
        toks = {
            (r["word"], r["n"])
            for r in member(spark, cat, TOKENS)
            .groupBy("word")
            .agg(F.sum("n").alias("n"))
            .collect()
            if r["n"] > 0
        }
        rows = member(spark, cat, CMS).collect()
        cms = (
            sum(r["n"] for r in rows),
            np.sum([np.asarray(r["sketch"]) for r in rows], axis=0).tolist(),
        )
        qpts = {}
        for r in member(spark, cat, QUANTS).collect():
            qpts.setdefault(r["event_type"], []).extend(r["points"])
        return corpus, bands, grams, toks, cms, {
            k: sorted(v) for k, v in qpts.items()
        }

    assert folds(cat_u) == folds(cat_t)
    new_text = {
        r["text"]
        for r in member(spark, cat_u, CORPUS)
        .filter(F.col("doc_id") == OLD_ID)
        .collect()
    }
    assert new_text == {new_doc.collect()[0]["text"]}

    # pure insert: an id the catalog has never seen upserts cleanly
    ins = spark.createDataFrame(
        [(43_000_000, "wholly fresh insert text zanzibar quixotic", "de")],
        "doc_id long, text string, lang string",
    )
    assert update_docs(spark, cat_u, ins, op="update-insert")
    assert (
        member(spark, cat_u, CORPUS)
        .filter(F.col("doc_id") == 43_000_000)
        .count()
        == 1
    )

    # replication flows through: the follower replays the upsert commit
    dst = TableCatalog(str(tmp_path / "upd_replica"))
    assert replicate_catalog(spark, cat_u, dst) == cat_u.version() + 1
    assert catalog_divergence(spark, cat_u, dst) == {}


def test_writer_lease_guards_batch_commits(spark, sf_dir, tmp_path):
    """r10 verdict #4, wired end-to-end: two DISTINCT-app_id writers race
    batches into one catalog and both land under their own namespaces; a
    writer whose lease was taken over refuses before minting an op label."""
    import threading

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    tok_a = cat.acquire_app_id("crawl-a")
    tok_b = cat.acquire_app_id("crawl-b")

    errs: list[Exception] = []

    def run(app_id, tok, residue):
        try:
            assert corpus_batch_txn(
                spark,
                docs.filter(F.pmod("doc_id", F.lit(2)) == residue),
                cat,
                0,
                app_id=app_id,
                writer_token=tok,
            )
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    ta = threading.Thread(target=run, args=("crawl-a", tok_a, 0))
    tb = threading.Thread(target=run, args=("crawl-b", tok_b, 1))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errs
    ops = cat.committed_ops()
    # both writers' batch 0 landed — distinct namespaces, no aliasing
    assert {"crawl-a-batch-0", "crawl-b-batch-0"} <= ops

    # a writer whose token does not hold the lease refuses loudly
    # instead of committing
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="leased by another"):
        corpus_batch_txn(
            spark,
            docs.limit(5),
            cat,
            1,
            app_id="crawl-a",
            writer_token=tok_b,
        )
    assert "crawl-a-batch-1" not in cat.committed_ops()


@pytest.mark.slow
def test_semantic_admission_gate(spark, sf_dir, tmp_path):
    """r10 verdict #6: the optional SemDeDup-at-ingest gate. A doc whose
    TEXT passes the MinHash screen but whose EMBEDDING matches an
    already-committed vector (probed from the pipeline's own PQ cells)
    is rejected; in-batch embedding dups keep the min doc_id; rejects
    land in the rejection report; replays no-op; retracting the blocker
    admits a later near-dup (the gate reads the live cells)."""
    from map_reduce_in_go_spark.operators.pq_index import PqIvfIndex
    from map_reduce_in_go_spark.streaming.corpus_pipeline import retract_docs

    embs = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("e")
    )
    e_rows = embs.limit(2).collect()
    e_star, e_two = list(e_rows[0]["e"]), list(e_rows[1]["e"])
    # a third vector orthogonal-ish: negate one of the real ones
    e_far = [-x for x in e_two]

    def doc(i, text, e):
        return (i, text, "en", e)

    B0 = [doc(50_000_000, "amber bicycle cauldron dewdrop ember foxglove "
              "garnet hyacinth ivory jasper kelp lantern", e_star)]
    B1 = [
        doc(51_000_000, "nimbus oracle pergola quartz rosette saffron "
            "tundra umber vellum willow xenon yarrow", e_star),  # sem dup of 50M
        doc(52_000_000, "basalt cobalt dolmen ephemera fresco glacier "
            "harrow isthmus jonquil krill lagoon moraine", e_two),  # in-batch pair a
        doc(53_000_000, "nectar obsidian pumice quill rampart sepia "
            "tesseract updraft vertex wharf yonder zeppelin", e_two),  # pair b: drop
        doc(54_000_000, "alcove brindle cascade driftwood eyrie fjord "
            "grotto hollow inlet juncture knoll ledge", e_far),  # unique: keep
    ]
    schema = "doc_id long, text string, lang string, e array<double>"

    idx = PqIvfIndex(str(tmp_path / "sem"))
    idx.build(spark, sf_dir, include_codes=False)  # model only, empty cells
    cat = idx.catalog

    def run(batch, bid):
        df = spark.createDataFrame(batch, schema)
        return corpus_batch_txn(
            spark,
            df.select("doc_id", "text", "lang"),
            cat,
            bid,
            emb_batch=df.select("doc_id", "e"),
            semantic_threshold=0.8,
        )

    assert run(B0, 0)
    assert run(B1, 1)
    got = {
        r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()
    }
    assert got == {50_000_000, 52_000_000, 54_000_000}
    # semantic rejects have rejection-report trace like band rejects
    rej = {
        r["doc_id"]
        for r in member(spark, cat, REJECTS).select("doc_id").distinct().collect()
    }
    assert {51_000_000, 53_000_000} <= rej

    # replay no-op
    assert run(B1, 1) is False

    # retraction interplay: the blocker's codes leave the cells, so the
    # same embedding is admitted afterwards
    assert retract_docs(spark, cat, [50_000_000], op="retract-blocker")
    assert run([B1[0]], 2)
    got2 = {
        r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()
    }
    assert 51_000_000 in got2


@pytest.mark.slow
def test_ingest_expectations_quarantine(spark, sf_dir, tmp_path):
    """Constraint-armed batches divert violating rows to the quarantine
    member BEFORE admission: audit rows match a per-rule re-evaluation,
    quarantined ids are absent from every data member, the never-firing
    rule contributes zero rows, and replay is a joint no-op."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import QUAR
    from map_reduce_in_go_spark.streaming.pipeline_read import EXPECTATIONS

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    for i in range(3):
        assert corpus_batch_txn(
            spark,
            docs.filter(F.pmod("doc_id", F.lit(3)) == i),
            cat,
            i,
            expectations=EXPECTATIONS,
        )

    quar = member(spark, cat, QUAR)
    got = {(r["doc_id"], r["rule"]) for r in quar.collect()}
    want = set()
    for name, expr in EXPECTATIONS:
        bad = docs.filter(~F.coalesce(F.expr(expr), F.lit(False)))
        want |= {(r["doc_id"], name) for r in bad.select("doc_id").collect()}
    assert got == want and got
    assert not any(rule == "lang_known" for _, rule in got)  # never fires here

    # quarantined ids reached NO data member — not even the rejection report
    quar_ids = {d for d, _ in got}
    for name in (CORPUS, BANDS, REJECTS):
        ids = {r["doc_id"] for r in member(spark, cat, name).select("doc_id").collect()}
        assert not (ids & quar_ids), name

    # the member is versioned with the batch: each audit row names its batch
    by_batch = {r["batch_id"] for r in quar.select("batch_id").collect()}
    assert by_batch <= {0, 1, 2}

    # joint replay no-op: same op labels, nothing re-applied anywhere
    v = cat.version()
    n_quar = quar.count()
    for i in range(3):
        assert not corpus_batch_txn(
            spark,
            docs.filter(F.pmod("doc_id", F.lit(3)) == i),
            cat,
            i,
            expectations=EXPECTATIONS,
        )
    assert cat.version() == v
    assert member(spark, cat, QUAR).count() == n_quar

    # an unconstrained build never creates the member at all
    cat2 = TableCatalog(str(tmp_path / "cat2"))
    assert corpus_batch_txn(spark, docs.filter(F.pmod("doc_id", F.lit(3)) == 0), cat2, 0)
    try:
        member(spark, cat2, QUAR)
        raise AssertionError("quarantine member must not exist unconstrained")
    except KeyError:
        pass


@pytest.mark.slow
def test_file_granular_corrections(spark, sf_dir, tmp_path, monkeypatch):
    """retract_docs / update_docs rewrite ONLY the corpus/bands files whose
    doc_id stats admit the affected ids: after a sort-layout compaction,
    untouched files survive BY REFERENCE (same manifest names), the end
    state equals the full-overwrite fallback path's bit-for-bit, and the
    cow commit replicates cleanly."""
    import map_reduce_in_go_spark.streaming.corpus_pipeline as cp
    from map_reduce_in_go_spark.sources.replicate import (
        catalog_divergence,
        replicate_catalog,
    )
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        compact_pipeline,
        retract_docs,
    )

    def _member_files(cat, name):
        path, pin = cat.snapshot(spark)[name]
        return set(cat.table(path).files(pin))

    def _build(root):
        cat = TableCatalog(str(root))
        _feed(spark, sf_dir, cat)
        compact_pipeline(spark, cat, num_files=8)
        return cat

    cat = _build(tmp_path / "cow")
    accepted = sorted(
        r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()
    )
    victims = accepted[:2]  # contiguous low ids → one or two sorted files

    before = _member_files(cat, CORPUS)
    before_b = _member_files(cat, BANDS)
    assert len(before) > 2
    assert retract_docs(spark, cat, victims, op="fg-retract")
    after = _member_files(cat, CORPUS)
    after_b = _member_files(cat, BANDS)
    # copy-on-write: most files survive by reference, few are rewritten
    assert before & after, "no file survived by reference"
    assert len(before - after) < len(before) / 2, (
        f"rewrote {len(before - after)}/{len(before)} files for 2 ids"
    )
    # BANDS is z-ordered by band_hash after compaction, so its doc_id
    # stats span every file — the gone docs' band-hash point probe is
    # what keeps its rewrite file-granular
    assert before_b & after_b, "bands rewrote every file"
    assert len(before_b - after_b) < len(before_b), (
        f"bands rewrote {len(before_b - after_b)}/{len(before_b)} files"
    )
    left = {r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()}
    assert left == set(accepted) - set(victims)
    for name in (BANDS, REJECTS):
        ids = {r["doc_id"] for r in member(spark, cat, name).select("doc_id").collect()}
        assert not (ids & set(victims)), name

    # fallback-path twin (probe bound forced to 0 → full anti-join
    # overwrite): end state must be identical member-for-member
    monkeypatch.setattr(cp, "MERGE_MAX_IDS", 0)
    cat2 = _build(tmp_path / "full")
    assert retract_docs(spark, cat2, victims, op="fg-retract")
    monkeypatch.undo()
    for name in (CORPUS, BANDS, GRAMS, TOKENS):
        a = member(spark, cat, name, merge_schema=True)
        b = member(spark, cat2, name, merge_schema=True)
        cols = sorted(a.columns)
        assert sorted(
            map(tuple, a.select(*cols).collect())
        ) == sorted(map(tuple, b.select(*cols).collect())), name

    # the cow commit ships through replication like any rewrite
    dst = TableCatalog(str(tmp_path / "replica"))
    replicate_catalog(spark, cat, dst)
    assert not catalog_divergence(spark, cat, dst)

    # update_docs takes the same path: upsert two victims back with new
    # text; most files again survive by reference
    from map_reduce_in_go_spark.streaming.corpus_pipeline import update_docs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    redo = docs.filter(F.col("doc_id").isin([int(v) for v in victims]))
    before_u = _member_files(cat, CORPUS)
    assert update_docs(spark, cat, redo, op="fg-upsert")
    after_u = _member_files(cat, CORPUS)
    assert before_u & after_u, "upsert rewrote every file"
    ids_now = {
        r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()
    }
    assert set(victims) <= ids_now


def test_replace_files_primitive(spark, tmp_path):
    """ManifestTable.replace_files: stale-name refusal, pure delete keeps
    the read schema, stats carried for files kept by reference."""
    import pytest as _pytest

    from map_reduce_in_go_spark.sources.manifest_table import ManifestTable

    tbl = ManifestTable(str(tmp_path / "t"), stats_cols=["k"])
    df1 = spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v").coalesce(1)
    df2 = spark.range(10, 20).selectExpr("id AS k", "id * 2 AS v").coalesce(1)
    tbl.append(df1)
    v2 = tbl.append(df2)
    f_lo, _ = tbl.files_pruned_in("k", [3], version=v2)
    assert len(f_lo) == 1
    # replace the low file with filtered content
    repl = spark.read.parquet(*f_lo).filter("k != 3")
    v3 = tbl.replace_files(f_lo, repl)
    rows = {r["k"] for r in tbl.read(spark, v3).collect()}
    assert rows == set(range(20)) - {3}
    # the untouched file kept its stats: pruning for a high key still
    # reads one file
    f_hi, total = tbl.files_pruned_in("k", [15], version=v3)
    assert len(f_hi) == 1 and total == 2
    # pure delete keeps schema readable even when the table empties
    f_all = tbl.files(v3)
    v4 = tbl.replace_files(f_all, None)
    empty = tbl.read(spark, v4)
    assert empty.count() == 0 and set(empty.columns) == {"k", "v"}
    # a name absent from the base refuses loudly
    with _pytest.raises(ValueError):
        tbl.replace_files(["nope.parquet"], None)


@pytest.mark.slow
def test_update_docs_expectations(spark, sf_dir, tmp_path):
    """Constraint parity for the MERGE verb: a violating revision is
    quarantined while the OLD version stays; a fixed revision of a
    quarantined doc is admitted and its stale indictment clears; erasure
    purges the audit trail; quarantined-only docs are retractable."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        QUAR,
        retract_docs,
        update_docs,
    )
    from map_reduce_in_go_spark.streaming.pipeline_read import EXPECTATIONS

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    for i in range(3):
        assert corpus_batch_txn(
            spark,
            docs.filter(F.pmod("doc_id", F.lit(3)) == i),
            cat,
            i,
            expectations=EXPECTATIONS,
        )

    quar0 = {r["doc_id"] for r in member(spark, cat, QUAR).select("doc_id").collect()}
    corpus0 = {
        r["doc_id"]: r["text"]
        for r in member(spark, cat, CORPUS).select("doc_id", "text").collect()
    }
    fixee = sorted(quar0)[0]  # quarantined at ingest (text too long/short)
    breakee = sorted(set(corpus0) - quar0)[0]  # accepted; we break it now

    upsert = docs.filter(F.col("doc_id").isin([int(fixee), int(breakee)])).withColumn(
        "text",
        F.when(
            F.col("doc_id") == fixee, F.expr("substr(text, 1, 300)")
        ).otherwise(F.concat(F.col("text"), F.lit("x" * 600))),
    )
    assert update_docs(
        spark, cat, upsert, op="constrained-upsert", expectations=EXPECTATIONS
    )

    corpus1 = {
        r["doc_id"]: r["text"]
        for r in member(spark, cat, CORPUS).select("doc_id", "text").collect()
    }
    # the fixed revision is admitted with the new text
    assert fixee in corpus1 and len(corpus1[fixee]) <= 300
    # the broken revision was refused: OLD text untouched
    assert corpus1[breakee] == corpus0[breakee]

    quar1 = {
        (r["doc_id"], r["batch_id"])
        for r in member(spark, cat, QUAR).select("doc_id", "batch_id").collect()
    }
    assert not any(d == fixee for d, _ in quar1), "stale indictment lingered"
    assert (breakee, -4) in quar1, "violating revision not indicted"

    # replay: joint no-op
    v = cat.version()
    assert not update_docs(
        spark, cat, upsert, op="constrained-upsert", expectations=EXPECTATIONS
    )
    assert cat.version() == v

    # a quarantined-only doc (never accepted) is erasable: audit purged
    only_q = sorted(
        d
        for d in quar0
        if d not in corpus0 and d != fixee
    )
    if only_q:
        assert retract_docs(spark, cat, [int(only_q[0])], op="erase-quar")
        left = {
            r["doc_id"] for r in member(spark, cat, QUAR).select("doc_id").collect()
        }
        assert only_q[0] not in left


@pytest.mark.slow
def test_cow_retraction_preserves_time_travel(spark, sf_dir, tmp_path):
    """A copy-on-write retraction must not break history: the files it
    removes from the NEW snapshot are still pinned by older catalog
    snapshots, so a time-travel read at the pre-retraction version serves
    the retracted doc; vacuum below the horizon then reclaims it and the
    read refuses loudly. Compaction folds the quarantine member too."""
    import pytest as _pytest

    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        QUAR,
        compact_pipeline,
        retract_docs,
    )
    from map_reduce_in_go_spark.streaming.pipeline_read import EXPECTATIONS

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    for i in range(3):
        assert corpus_batch_txn(
            spark,
            docs.filter(F.pmod("doc_id", F.lit(3)) == i),
            cat,
            i,
            expectations=EXPECTATIONS,
        )
    compact_pipeline(spark, cat, num_files=8)
    v_pre = cat.version()
    victim = min(
        r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()
    )
    assert retract_docs(spark, cat, [int(victim)], op="tt-retract")

    # newest snapshot: gone; pre-retraction snapshot: still served
    now_ids = {
        r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()
    }
    assert victim not in now_ids
    old_ids = {
        r["doc_id"]
        for r in member(spark, cat, CORPUS, version=v_pre).select("doc_id").collect()
    }
    assert victim in old_ids

    # quarantine member folded to one file by compaction, content intact
    quar_before = sorted(
        (r["doc_id"], r["rule"])
        for r in member(spark, cat, QUAR).select("doc_id", "rule").collect()
    )
    path, pin = cat.snapshot(spark)[QUAR]
    assert len(cat.table(path).files(pin)) == 1
    assert quar_before  # rules fired on this corpus

    # vacuum keeps only the newest snapshot's pins → history reclaimed
    cat.vacuum(spark, retain_seconds=0.0)
    with _pytest.raises(FileNotFoundError):
        member(spark, cat, CORPUS, version=v_pre).collect()
    # the live snapshot is untouched
    assert victim not in {
        r["doc_id"] for r in member(spark, cat, CORPUS).select("doc_id").collect()
    }


@pytest.mark.slow
def test_batch_races_update_docs(spark, sf_dir, tmp_path):
    """Cross-VERB race: a new micro-batch and a single-CAS upsert race on
    the same catalog from two threads. Exactly one loses the CAS and
    re-plans on the winner's snapshot; BOTH ops end up in the ledger, and
    the additive members still equal a recompute from the corpus member —
    no contribution lost or doubled whichever order won."""
    from concurrent.futures import ThreadPoolExecutor

    from map_reduce_in_go_spark.sources.substring_index import _token_gram_counts
    from map_reduce_in_go_spark.streaming.corpus_pipeline import update_docs

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    for i in range(2):
        assert corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(3)) == i), cat, i
        )

    batch2 = docs.filter(F.pmod("doc_id", F.lit(3)) == 2)
    upsert_ids = [
        r["doc_id"]
        for r in member(spark, cat, CORPUS).select("doc_id").limit(3).collect()
    ]
    redo = docs.filter(F.col("doc_id").isin([int(d) for d in upsert_ids])).withColumn(
        "text", F.concat("text", F.lit(" raced revision"))
    )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(corpus_batch_txn, spark, batch2, cat, 2)
        f2 = pool.submit(update_docs, spark, cat, redo, "raced-upsert")
        r1, r2 = f1.result(), f2.result()
    assert r1 and r2  # both committed (loser re-planned, no silent drop)
    assert {"corpus-batch-2", "raced-upsert"} <= cat.committed_ops()

    corpus = member(spark, cat, CORPUS, merge_schema=True)
    # gram index == recompute from the final corpus
    stored = {
        r["g"]: r["n"]
        for r in member(spark, cat, GRAMS)
        .groupBy("g")
        .agg(F.sum("n").alias("n"))
        .collect()
        if r["n"] != 0
    }
    recomputed = {r["g"]: r["n"] for r in _token_gram_counts(corpus).collect()}
    assert stored == recomputed
    # token counts == recompute from the final corpus
    from map_reduce_in_go_spark.functions.text import tokens as _tok

    stored_t = {
        r["word"]: r["n"]
        for r in member(spark, cat, TOKENS)
        .groupBy("word")
        .agg(F.sum("n").alias("n"))
        .collect()
        if r["n"] != 0
    }
    recomputed_t = {
        r["w"]: r["c"]
        for r in corpus.select(F.explode(_tok(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert stored_t == recomputed_t
    # the raced revisions are present exactly once (admitted or rejected,
    # never both): corpus doc_ids are unique
    ids = [r["doc_id"] for r in corpus.select("doc_id").collect()]
    assert len(ids) == len(set(ids))


# Crafted pair for the image admission gate (r14): X's bytes differ from
# A's ONLY at raster positions the dHash 9x8 grid never samples, so their
# synthesized images hash IDENTICALLY (Hamming 0) — while enough words
# changed that no MinHash band collides (verified as a runtime
# precondition below, so a recipe change fails loudly here, not
# mysteriously downstream).
_IMG_A = (
    "kappa ember meadow umber bravo creek river delta lumen stone bravo "
    "quartz grove bravo creek north north creek haven creek river north "
    "bravo stone delta haven umber umber stone bravo stone stone meadow "
    "bravo haven bravo river ember juno north ember river delta stone "
    "juno river vapor frost delta stone stone umber grove lumen delta "
    "river wharf creek stone bravo"
)
_IMG_X = (
    "kappa pther dehdow mpber bravo creek river delta lumen stone bravo "
    "quartz grove bravo creek north nzath cauck hztkn cwxpg grver ahltd "
    "bopai ulmqe delto aaveq umbew gmber stone bravo stone stone meadow "
    "bravo haven bravo dlfer xyser jpjo nhili zxghr ytddc llxya paopp "
    "iutc tpclr tajmr zxgkl delta qtone ltone qpber grley ludkn deluc "
    "rihwg wiurz fqazb qtgtz wdevr"
)


@pytest.mark.slow
def test_image_admission_gate(spark, tmp_path):
    """r14: the image phash admission gate end-to-end — a doc whose
    synthesized image is a near-dup of a committed doc's is rejected even
    though its TEXT passes the MinHash screen; accepted docs' phash bands
    land in the PHASH member in the same CAS; replays no-op; a MOR
    retraction of the blocker admits a later image near-dup; compaction
    folds the member and the vector."""
    from map_reduce_in_go_spark.operators.dedup import bands_of_docs
    from map_reduce_in_go_spark.operators.multimodal import image_dhashes, with_ppm_payload
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        PHASH,
        compact_pipeline,
        retract_docs,
    )

    K = 8
    other = (
        "orbital chestnut lantern silver prairie morning cobalt anchor "
        "timber fjord harbor velvet cinder maple "
    ) * 4
    rows = [(1, _IMG_A, "en"), (2, other.strip(), "en")]
    mk = lambda rws: spark.createDataFrame(rws, "doc_id long, text string, lang string")

    # preconditions, checked against the PRODUCTION kernels: identical
    # dHash (the gate must fire) but zero MinHash band collisions (the
    # text screen must NOT fire)
    pre = mk([(1, _IMG_A, "en"), (3, _IMG_X, "en")])
    hs = {r["doc_id"]: r["dhash"] for r in image_dhashes(with_ppm_payload(pre)).collect()}
    assert hs[1] == hs[3]
    b = bands_of_docs(pre)
    a, c = b.alias("a"), b.alias("c")
    n_coll = (
        a.join(
            c,
            (F.col("a.band_idx") == F.col("c.band_idx"))
            & (F.col("a.band_hash") == F.col("c.band_hash"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        ).count()
    )
    assert n_coll == 0

    cat = TableCatalog(str(tmp_path / "img_cat"))
    assert corpus_batch_txn(spark, mk(rows), cat, 0, image_hamming=K)
    assert PHASH in cat.snapshot(spark)
    assert {r["doc_id"] for r in member(spark, cat, PHASH).collect()} == {1, 2}

    # batch 1: X image-dups doc 1 (rejected by the IMAGE gate), doc 4 is
    # distinct on both axes (admitted)
    fresh = "granite plateau sundial meridian copper "*6
    b1 = [(3, _IMG_X, "en"), (4, fresh.strip(), "en")]
    assert corpus_batch_txn(spark, mk(b1), cat, 1, image_hamming=K)
    live = {r["doc_id"] for r in member(spark, cat, CORPUS).collect()}
    assert live == {1, 2, 4}
    # replay no-ops
    assert corpus_batch_txn(spark, mk(b1), cat, 1, image_hamming=K) is False
    assert {r["doc_id"] for r in member(spark, cat, CORPUS).collect()} == {1, 2, 4}
    # the standing image index covers exactly the accepted docs
    assert {r["doc_id"] for r in member(spark, cat, PHASH).collect()} == {1, 2, 4}

    # MOR-retract the blocker: its phash rows are logically gone, so a
    # resubmitted image near-dup is now admitted (live-view probe)
    assert retract_docs(spark, cat, [1], op="erase-1", mode="mor")
    assert {r["doc_id"] for r in member(spark, cat, PHASH).collect()} == {2, 4}
    assert corpus_batch_txn(spark, mk([(5, _IMG_X, "en")]), cat, 2, image_hamming=K)
    assert {r["doc_id"] for r in member(spark, cat, CORPUS).collect()} == {2, 4, 5}

    # in-batch keep-min: two image-dups arriving together keep the min id
    assert corpus_batch_txn(
        spark,
        mk([(7, _IMG_A, "en"), (6, _IMG_A, "en")]),
        cat,
        3,
        image_hamming=K,
    )
    live = {r["doc_id"] for r in member(spark, cat, CORPUS).collect()}
    # 6 < 7, and both image-dup committed doc 5 (X ≡ A by image)... doc 5
    # blocks BOTH; neither lands
    assert 6 not in live and 7 not in live

    # compaction folds the phash member and truncates the vector; the
    # gate still answers identically from the folded layout
    from map_reduce_in_go_spark.streaming.corpus_pipeline import DELETES

    compact_pipeline(spark, cat)
    assert DELETES not in cat.snapshot(spark)
    assert {r["doc_id"] for r in member(spark, cat, PHASH).collect()} == {2, 4, 5}
    assert corpus_batch_txn(
        spark, mk([(8, _IMG_A, "en")]), cat, 4, image_hamming=K
    )
    assert 8 not in {r["doc_id"] for r in member(spark, cat, CORPUS).collect()}

    # correction verb: an upsert on a gated catalog replaces the doc's
    # phash rows too — the next probe judges the NEW image
    from map_reduce_in_go_spark.streaming.corpus_pipeline import update_docs

    new_text = "harvest quarry bluff timber auburn "*8
    assert update_docs(spark, cat, mk([(5, new_text.strip(), "en")]), op="fix-5")
    ph5 = member(spark, cat, PHASH).filter(F.col("doc_id") == 5)
    fresh5 = mk([(5, new_text.strip(), "en")])
    from map_reduce_in_go_spark.operators.multimodal import phash_bands_of

    want5 = {
        (r["chunk"], r["band"])
        for r in phash_bands_of(fresh5).collect()
    }
    assert {(r["chunk"], r["band"]) for r in ph5.collect()} == want5
    # doc 5 no longer carries A's image, so A is admittable again
    assert corpus_batch_txn(
        spark, mk([(9, _IMG_A, "en")]), cat, 5, image_hamming=K
    )
    assert 9 in {r["doc_id"] for r in member(spark, cat, CORPUS).collect()}


@pytest.mark.slow
def test_image_gate_arming_is_sticky_and_backfills(spark, tmp_path):
    """r14 advice (low): the gate is armed per CATALOG, not per call —

    - a batch committed after arming is gated even when the caller omits
      image_hamming (sticky marker; intermittent arming can't punch
      holes in the standing index);
    - a different threshold on an armed catalog fails loudly;
    - arming a catalog that already holds UN-gated commits backfills the
      phash index from the live corpus inside the same CAS, so an image
      near-dup of a pre-gate doc is rejected.
    """
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        _IMAGE_GATE_MARKER,
        PHASH,
        _media_gate_threshold,
    )

    K = 8
    mk = lambda rws: spark.createDataFrame(
        rws, "doc_id long, text string, lang string"
    )
    other = (
        "orbital chestnut lantern silver prairie morning cobalt anchor "
        "timber fjord harbor velvet cinder maple "
    ) * 4

    # sticky: arm on batch 0, probe WITHOUT the kwarg on batch 1
    cat = TableCatalog(str(tmp_path / "sticky_cat"))
    assert corpus_batch_txn(
        spark, mk([(1, _IMG_A, "en")]), cat, 0, image_hamming=K
    )
    assert _media_gate_threshold(cat, _IMAGE_GATE_MARKER) == K
    assert corpus_batch_txn(spark, mk([(3, _IMG_X, "en")]), cat, 1)
    assert {r["doc_id"] for r in member(spark, cat, CORPUS).collect()} == {1}
    # a different threshold is mode-mixing → loud
    with pytest.raises(ValueError, match="already armed"):
        corpus_batch_txn(
            spark, mk([(5, other.strip(), "en")]), cat, 2, image_hamming=K + 1
        )

    # backfill: batch 0 commits UN-gated, arming happens on batch 1 —
    # the pre-gate doc's image must still block its near-dup
    cat2 = TableCatalog(str(tmp_path / "backfill_cat"))
    assert corpus_batch_txn(spark, mk([(1, _IMG_A, "en")]), cat2, 0)
    assert PHASH not in cat2.snapshot(spark)
    assert corpus_batch_txn(
        spark,
        mk([(3, _IMG_X, "en"), (4, other.strip(), "en")]),
        cat2,
        1,
        image_hamming=K,
    )
    live = {r["doc_id"] for r in member(spark, cat2, CORPUS).collect()}
    assert live == {1, 4}  # 3 rejected against the BACKFILLED index
    # the backfilled index covers the pre-gate doc too
    assert {
        r["doc_id"] for r in member(spark, cat2, PHASH).collect()
    } == {1, 4}


def test_pipeline_trending_gated_catalog_shape(spark, sf_dir):
    """The registered gated pipeline (r15): the served catalog was armed
    sticky (marker present, batches 1-2 ran WITHOUT the kwarg), holds
    the transactional phash member, and accepted strictly fewer docs
    than the un-gated pipeline (the image gate fires on this corpus)."""
    import os

    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        _IMAGE_GATE_MARKER,
        PHASH,
        _media_gate_threshold,
    )
    from map_reduce_in_go_spark.operators.multimodal import PHASH_HAMMING_MAX
    from map_reduce_in_go_spark.streaming.pipeline_read import (
        _pipeline_catalog,
        _pipeline_gated_catalog,
        pipeline_trending_gated,
    )

    gated = _pipeline_gated_catalog(spark, sf_dir)
    assert (
        _media_gate_threshold(gated, _IMAGE_GATE_MARKER) == PHASH_HAMMING_MAX
    )
    assert os.path.exists(os.path.join(gated.root, "image_gate.json"))
    snap = gated.snapshot(spark)
    assert PHASH in snap
    g_live = {r["doc_id"] for r in member(spark, gated, CORPUS).collect()}
    u_live = {
        r["doc_id"]
        for r in member(
            spark, _pipeline_catalog(spark, sf_dir), CORPUS
        ).collect()
    }
    # the gate really changes admission — NOT necessarily a subset: an
    # image-rejected doc's text bands never enter the index, so a later
    # text-near-dup of it can survive where the un-gated chain dropped it
    assert g_live != u_live
    assert u_live - g_live  # at least one image rejection happened
    # phash member covers exactly the accepted docs that have an image
    ph_ids = {r["doc_id"] for r in member(spark, gated, PHASH).collect()}
    assert ph_ids == g_live
    # and the registered query serves without error over the gated state
    assert pipeline_trending_gated(spark, sf_dir).count() > 0


_AUD_P = (
    "silver lantern harbor quiet meadow ember stone bridge winter falcon "
    "crest "
)
_AUD_A = _AUD_P + ("granite oak mosaic thunder velvet prism cascade nimbus " * 5).strip()
_AUD_X = _AUD_P + ("zephyr quartz bazaar igloo saffron tundra walnut echo " * 5).strip()


@pytest.mark.slow
def test_audio_admission_gate(spark, tmp_path):
    """r15: the audio admission gate end-to-end — a doc whose synthesized
    CLIP is a near-dup of a committed doc's (shared anchor window) is
    rejected even though its TEXT passes the MinHash screen; accepted
    docs' fingerprint bands land in the AUDIOFP member in the same CAS;
    arming is sticky; a MOR retraction of the blocker admits a later
    near-dup; compaction folds the member."""
    from map_reduce_in_go_spark.operators.dedup import bands_of_docs
    from map_reduce_in_go_spark.operators.multimodal import (
        audio_fingerprints,
    )
    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        _AUDIO_GATE_MARKER,
        AUDIOFP,
        _media_gate_threshold,
        compact_pipeline,
        retract_docs,
    )

    K = 8
    other = (
        "orbital chestnut lantern cobalt anchor timber fjord velvet "
        "cinder maple morning prairie "
    ) * 4
    mk = lambda rws: spark.createDataFrame(
        rws, "doc_id long, text string, lang string"
    )

    # preconditions against the PRODUCTION kernels: identical fingerprint
    # (the gate must fire) but zero MinHash band collisions (the text
    # screen must NOT fire)
    pre = mk([(1, _AUD_A, "en"), (3, _AUD_X, "en")])
    fps = {
        r["doc_id"]: r["dhash"] for r in audio_fingerprints(pre).collect()
    }
    assert fps[1] == fps[3]
    b = bands_of_docs(pre)
    a, c = b.alias("a"), b.alias("c")
    assert (
        a.join(
            c,
            (F.col("a.band_idx") == F.col("c.band_idx"))
            & (F.col("a.band_hash") == F.col("c.band_hash"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        ).count()
        == 0
    )

    cat = TableCatalog(str(tmp_path / "aud_cat"))
    assert corpus_batch_txn(
        spark, mk([(1, _AUD_A, "en"), (2, other.strip(), "en")]), cat, 0,
        audio_hamming=K,
    )
    assert _media_gate_threshold(cat, _AUDIO_GATE_MARKER) == K
    assert AUDIOFP in cat.snapshot(spark)
    assert {
        r["doc_id"] for r in member(spark, cat, AUDIOFP).collect()
    } == {1, 2}

    # batch 1: X audio-dups doc 1 (rejected by the AUDIO gate), doc 4 is
    # distinct on both axes (admitted) — and the kwarg is OMITTED, so
    # sticky arming must gate the batch by itself
    fresh = "granary plateau sundial meridian copper kestrel " * 6
    assert corpus_batch_txn(
        spark, mk([(3, _AUD_X, "en"), (4, fresh.strip(), "en")]), cat, 1
    )
    assert {
        r["doc_id"] for r in member(spark, cat, CORPUS).collect()
    } == {1, 2, 4}
    assert {
        r["doc_id"] for r in member(spark, cat, AUDIOFP).collect()
    } == {1, 2, 4}
    # replay no-op
    assert (
        corpus_batch_txn(spark, mk([(3, _AUD_X, "en")]), cat, 1) is False
    )

    # MOR-retract the blocker: a resubmitted audio near-dup is admitted
    assert retract_docs(spark, cat, [1], op="erase-1", mode="mor")
    assert corpus_batch_txn(spark, mk([(3, _AUD_X, "en")]), cat, 2)
    assert {
        r["doc_id"] for r in member(spark, cat, CORPUS).collect()
    } == {2, 3, 4}

    # compaction folds the vector and re-clusters the member; admission
    # answers are unchanged after the fold
    compact_pipeline(spark, cat, num_files=2)
    assert {
        r["doc_id"] for r in member(spark, cat, AUDIOFP).collect()
    } == {2, 3, 4}
    assert corpus_batch_txn(spark, mk([(5, _AUD_A, "en")]), cat, 3)
    # doc 5 collides with doc 3's fingerprint (1 was erased, 3 readmitted)
    assert 5 not in {
        r["doc_id"] for r in member(spark, cat, CORPUS).collect()
    }
