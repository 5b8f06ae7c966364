"""Merge-on-read deletion vectors (r12): retract_docs(mode="mor") defers
the corpus/band file rewrites behind a (member, file, doc_id) delete
vector; every read applies it; apply_deletes / compact_pipeline fold it."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from map_reduce_in_go_spark.sources.catalog import TableCatalog
from map_reduce_in_go_spark.sources.manifest_table import ManifestTable
from map_reduce_in_go_spark.sources.tables import load_table
from map_reduce_in_go_spark.streaming.corpus_pipeline import (
    BANDS,
    CORPUS,
    DELETES,
    GRAMS,
    QUANTS,
    TOKENS,
    apply_deletes,
    corpus_batch_txn,
    member,
    retract_docs,
    retract_docs_mor,
)


def _feed2(spark, sf_dir, root):
    cat = TableCatalog(root)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    for i in range(2):
        assert corpus_batch_txn(
            spark, docs.filter(F.pmod("doc_id", F.lit(2)) == i), cat, i
        )
    return cat


def _folds(spark, cat):
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
        .filter(F.col("n") != 0)
        .collect()
    }
    toks = {
        (r["word"], r["n"])
        for r in member(spark, cat, TOKENS)
        .groupBy("word")
        .agg(F.sum("n").alias("n"))
        .filter(F.col("n") != 0)
        .collect()
    }
    quants = {
        tuple(tuple(x) if isinstance(x, list) else x for x in r)
        for r in member(spark, cat, QUANTS).collect()
    }
    return corpus, bands, grams, toks, quants


def _raw_member(spark, cat, name):
    """The member WITHOUT the delete vector — physical state."""
    path, pinned = cat.snapshot(spark)[name]
    return ManifestTable(
        os.path.join(cat.root, path), checkpoint_interval=None
    ).read(spark, pinned)


@pytest.mark.slow
def test_mor_equals_cow_and_fold_restores_physical(spark, sf_dir, tmp_path):
    """The logical state after a MOR retraction is member-identical to the
    COW retraction of the same ids; apply_deletes then makes the PHYSICAL
    state identical too (and truncates the vector) without changing any
    logical read."""
    cow = _feed2(spark, sf_dir, str(tmp_path / "cow"))
    mor = _feed2(spark, sf_dir, str(tmp_path / "mor"))
    victims = sorted(
        r["doc_id"]
        for r in member(spark, cow, CORPUS).select("doc_id").limit(5).collect()
    )

    assert retract_docs(spark, cow, victims, op="erase-v")
    assert retract_docs_mor(spark, mor, victims, op="erase-v")
    # replay no-ops in both modes
    assert retract_docs_mor(spark, mor, victims, op="erase-v") is False

    cow_state = _folds(spark, cow)
    mor_state = _folds(spark, mor)
    # quantile summaries are rebuilt with a mode-tagged batch id on both
    # sides from the SAME live corpus; compare them value-for-value
    assert cow_state == mor_state
    for v in victims:
        assert v not in {r[0] for r in mor_state[0]}

    # physical state: MOR kept the rows on disk (deferred erasure)...
    raw_ids = {
        r["doc_id"] for r in _raw_member(spark, mor, CORPUS).collect()
    }
    assert set(victims) <= raw_ids
    vec = member(spark, mor, DELETES).collect()
    assert {r["member"] for r in vec} == {CORPUS, BANDS}
    assert {r["doc_id"] for r in vec} == set(victims)

    # ...until the fold rewrites exactly the touched files
    n = apply_deletes(spark, mor, op="fold-v")
    assert n > 0
    assert apply_deletes(spark, mor, op="fold-v") == 0  # replay no-op
    # the fold DROPS the vector member: later reads skip it entirely
    assert DELETES not in mor.snapshot(spark)
    raw_after = {
        r["doc_id"] for r in _raw_member(spark, mor, CORPUS).collect()
    }
    assert not (set(victims) & raw_after)
    assert _folds(spark, mor) == cow_state  # logical reads unchanged


@pytest.mark.slow
def test_mor_unblocks_admission_like_cow(spark, tmp_path):
    """A near-duplicate rejected because a MOR-retracted doc got there
    first is admitted on re-submission — the band probe reads the live
    view, same semantics as the copy-on-write retraction."""
    cat = TableCatalog(str(tmp_path / "cat"))
    blocker = spark.createDataFrame(
        [
            (
                1,
                "zanzibar quokka marimba fjord glyph taco nebula wombat "
                "oxide pylon quartz rivet sonar tundra umbra vortex",
                "en",
            ),
            (
                2,
                "completely different second document about alpine meadows "
                "and the slow migration of glaciers across basalt plateaus",
                "en",
            ),
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, blocker, cat, 0)
    dup = blocker.filter(F.col("doc_id") == 1).withColumn(
        "doc_id", F.lit(3).cast("long")
    )
    assert corpus_batch_txn(spark, dup, cat, 1)
    assert member(spark, cat, CORPUS).filter(F.col("doc_id") == 3).count() == 0

    assert retract_docs_mor(spark, cat, [1], op="erase-blocker")
    assert corpus_batch_txn(spark, dup, cat, 2)
    assert member(spark, cat, CORPUS).filter(F.col("doc_id") == 3).count() == 1


@pytest.mark.slow
def test_mor_reinsert_same_id_is_file_scoped(spark, tmp_path):
    """The vector hides (file, doc_id) PAIRS, not keys: an id re-inserted
    after its MOR retraction lands in a newer file and serves normally;
    a second MOR retraction then removes the new version too."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import update_docs

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = spark.createDataFrame(
        [
            (
                1,
                "original text about estuaries and the kestrels hunting "
                "over them at dusk while fishermen mend their nets",
                "en",
            ),
            (
                2,
                "unrelated filler document describing the manufacture of "
                "porcelain glazes in nineteenth century workshops",
                "en",
            ),
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, docs, cat, 0)
    assert retract_docs_mor(spark, cat, [1], op="erase-1")
    assert member(spark, cat, CORPUS).filter(F.col("doc_id") == 1).count() == 0

    revised = spark.createDataFrame(
        [
            (
                1,
                "revised text about harbor cranes unloading container "
                "ships beneath sodium lights in the winter fog",
                "en",
            )
        ],
        "doc_id long, text string, lang string",
    )
    assert update_docs(spark, cat, revised, op="reinsert-1")
    live = member(spark, cat, CORPUS).filter(F.col("doc_id") == 1).collect()
    assert len(live) == 1 and "harbor cranes" in live[0]["text"]

    assert retract_docs_mor(spark, cat, [1], op="erase-1-again")
    assert member(spark, cat, CORPUS).filter(F.col("doc_id") == 1).count() == 0
    assert apply_deletes(spark, cat) >= 0
    assert (
        _raw_member(spark, cat, CORPUS).filter(F.col("doc_id") == 1).count()
        == 0
    )


@pytest.mark.slow
def test_compaction_folds_vector(spark, sf_dir, tmp_path):
    """compact_pipeline reads the live view and truncates the vector in
    the same CAS — post-compaction physical state carries no deleted row."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import compact_pipeline

    cat = _feed2(spark, sf_dir, str(tmp_path / "cat"))
    victims = sorted(
        r["doc_id"]
        for r in member(spark, cat, CORPUS).select("doc_id").limit(3).collect()
    )
    assert retract_docs_mor(spark, cat, victims, op="erase-v")
    before = _folds(spark, cat)
    compact_pipeline(spark, cat, num_files=4)
    assert DELETES not in cat.snapshot(spark)
    raw_ids = {r["doc_id"] for r in _raw_member(spark, cat, CORPUS).collect()}
    assert not (set(victims) & raw_ids)
    after = _folds(spark, cat)
    # corpus/bands/additive folds identical; quantiles are recompressed by
    # compaction (rank-sample summaries change representation, not truth)
    assert after[:4] == before[:4]


def test_mor_nothing_to_retract_raises(spark, sf_dir, tmp_path):
    cat = _feed2(spark, sf_dir, str(tmp_path / "cat"))
    with pytest.raises(ValueError, match="nothing to retract"):
        retract_docs_mor(spark, cat, [999_999_999], op="erase-nothing")


@pytest.mark.slow
def test_large_upsert_does_not_resurrect_mor_hidden_rows(
    spark, tmp_path, monkeypatch
):
    """The full-overwrite fallback of update_docs' removal helper (taken
    past MERGE_MAX_IDS) rewrites every file — it must read the LIVE view,
    or other docs' MOR-hidden rows get copied into the new files and
    outlive their (now-inert) vector entries (r12 self-review finding)."""
    from map_reduce_in_go_spark.streaming import corpus_pipeline as cp

    cat = TableCatalog(str(tmp_path / "cat"))
    docs = spark.createDataFrame(
        [
            (
                1,
                "hidden document about tidal estuaries and the herons "
                "that stalk the mudflats when the water retreats",
                "en",
            ),
            (
                2,
                "first replaceable document on the casting of bronze "
                "bells in mountain foundries during the long winter",
                "en",
            ),
            (
                3,
                "second replaceable document about semaphore telegraph "
                "lines crossing the plateau before the electric wire",
                "en",
            ),
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, docs, cat, 0)
    assert retract_docs_mor(spark, cat, [1], op="erase-hidden")
    assert member(spark, cat, CORPUS).filter(F.col("doc_id") == 1).count() == 0

    # force the full-overwrite fallback (id_vals is None past the bound)
    monkeypatch.setattr(cp, "MERGE_MAX_IDS", 1)
    revised = spark.createDataFrame(
        [
            (
                2,
                "first replaceable document, revised to mention the "
                "tin content of the bell bronze and its overtone series",
                "en",
            ),
            (
                3,
                "second replaceable document, revised to cover the "
                "night-signalling lamps that replaced the semaphore arms",
                "en",
            ),
        ],
        "doc_id long, text string, lang string",
    )
    assert cp.update_docs(spark, cat, revised, op="bulk-upsert")
    # doc 1 stays erased, logically AND physically (its row must not have
    # been copied into the rewrite's new files)
    assert member(spark, cat, CORPUS).filter(F.col("doc_id") == 1).count() == 0
    assert (
        _raw_member(spark, cat, CORPUS).filter(F.col("doc_id") == 1).count()
        == 0
    )


@pytest.mark.slow
def test_gdpr_lifecycle_fold_then_vacuum_erases_history(
    spark, sf_dir, tmp_path
):
    """The complete physical-erasure lifecycle: MOR retract (logical,
    immediate) → apply_deletes (current files clean) → vacuum (historical
    files holding the text reclaimed; pre-fold time-travel reads refuse
    LOUDLY instead of serving the erased document)."""
    from map_reduce_in_go_spark.streaming.corpus_pipeline import compact_pipeline

    cat = _feed2(spark, sf_dir, str(tmp_path / "cat"))
    v_before = cat.version()
    victim = member(spark, cat, CORPUS).select("doc_id").first()["doc_id"]
    assert retract_docs_mor(spark, cat, [victim], op="erase-v")
    v_mor = cat.version()
    # time travel BEFORE the retraction still serves the doc (history is
    # history until GC); AT the retraction version the vector hides it
    assert (
        member(spark, cat, CORPUS, version=v_before)
        .filter(F.col("doc_id") == victim)
        .count()
        == 1
    )
    assert (
        member(spark, cat, CORPUS, version=v_mor)
        .filter(F.col("doc_id") == victim)
        .count()
        == 0
    )
    assert apply_deletes(spark, cat, op="fold") > 0
    # compaction moves every member off the pre-fold files, then GC
    compact_pipeline(spark, cat, num_files=4)
    assert cat.vacuum(spark, retain_seconds=0.0) > 0
    # the erased text has no remaining physical file...
    assert (
        _raw_member(spark, cat, CORPUS).filter(F.col("doc_id") == victim).count()
        == 0
    )
    # ...and history below the GC horizon refuses loudly rather than
    # serving the document back
    with pytest.raises(FileNotFoundError, match="reclaimed by vacuum"):
        member(spark, cat, CORPUS, version=v_before).collect()


def test_mor_on_branch_stays_isolated_until_merge(spark, sf_dir, tmp_path):
    """A branch's MOR retraction is a branch-ledger commit over the
    shared member tables: main keeps serving the doc until the merge
    republishes the branch pins (vector included); after the merge both
    timelines agree the doc is gone."""
    from map_reduce_in_go_spark.sources.branches import create_branch, merge_branch

    cat = _feed2(spark, sf_dir, str(tmp_path / "cat"))
    victim = member(spark, cat, CORPUS).select("doc_id").first()["doc_id"]
    br = create_branch(spark, cat, "erasure-exp")
    assert retract_docs_mor(spark, br, [victim], op="erase-on-branch")
    # isolation: the branch serves the erased view, main is untouched
    assert member(spark, br, CORPUS).filter(F.col("doc_id") == victim).count() == 0
    assert member(spark, cat, CORPUS).filter(F.col("doc_id") == victim).count() == 1
    assert DELETES not in cat.snapshot(spark)
    merge_branch(spark, cat, "erasure-exp")
    # the fast-forward republishes the branch's pins, vector included
    assert member(spark, cat, CORPUS).filter(F.col("doc_id") == victim).count() == 0
    assert DELETES in cat.snapshot(spark)
    # and the fold works on main afterwards
    assert apply_deletes(spark, cat, op="fold-after-merge") > 0
    assert (
        _raw_member(spark, cat, CORPUS).filter(F.col("doc_id") == victim).count()
        == 0
    )


@pytest.mark.slow
def test_replication_materializes_live_view_of_mor(spark, sf_dir, tmp_path):
    """A shipped delete vector would be inert under the replica's fresh
    file names — so replication never ships it: the walker applies each
    retraction commit's new pairs as copy-on-write at walk order, and the
    replica equals the primary's LIVE view (divergence empty) with no
    vector member at all."""
    from map_reduce_in_go_spark.sources.replicate import (
        catalog_divergence,
        replicate_catalog,
    )

    cat = _feed2(spark, sf_dir, str(tmp_path / "src"))
    victims = sorted(
        r["doc_id"]
        for r in member(spark, cat, CORPUS).select("doc_id").limit(3).collect()
    )
    assert retract_docs_mor(spark, cat, victims, op="erase-v")

    dst = TableCatalog(str(tmp_path / "dst"))
    assert replicate_catalog(spark, cat, dst) == 3  # 2 batches + retract
    assert DELETES not in dst.snapshot(spark)
    live = {r["doc_id"] for r in member(spark, dst, CORPUS).select("doc_id").collect()}
    assert not (set(victims) & live)
    # the replica's corpus is PHYSICALLY clean (no vector to apply)
    raw = {r["doc_id"] for r in _raw_member(spark, dst, CORPUS).collect()}
    assert not (set(victims) & raw)
    # logical equality across the physical difference (unfolded primary
    # vs materialized replica)
    assert catalog_divergence(spark, cat, dst) == {}

    # the fold on the primary is a content-no-op for the replica: ship
    # it and the two remain logically identical
    assert apply_deletes(spark, cat, op="fold") > 0
    assert replicate_catalog(spark, cat, dst) == 1
    assert catalog_divergence(spark, cat, dst) == {}


@pytest.mark.slow
def test_replication_walk_order_with_reinsert(spark, tmp_path):
    """Retract → re-insert (upsert) → retract again, then replicate the
    whole ledger: pair application at walk order reproduces each logical
    state transition, ending member-identical to the primary's live view
    (the exceptAll delta keeps a re-retraction's duplicate old pair from
    double-applying)."""
    from map_reduce_in_go_spark.sources.replicate import (
        catalog_divergence,
        replicate_catalog,
    )
    from map_reduce_in_go_spark.streaming.corpus_pipeline import update_docs

    cat = TableCatalog(str(tmp_path / "src"))
    docs = spark.createDataFrame(
        [
            (
                1,
                "the original charter of the lighthouse commission and "
                "its schedule of lamp oil deliveries by season",
                "en",
            ),
            (
                2,
                "an unrelated treatise on the migration of storks across "
                "the high passes before the first snows close them",
                "en",
            ),
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, docs, cat, 0)
    assert retract_docs_mor(spark, cat, [1], op="erase-a")
    revised = spark.createDataFrame(
        [
            (
                1,
                "the revised charter after the commission electrified "
                "the lamps and retired the oil schedule entirely",
                "en",
            )
        ],
        "doc_id long, text string, lang string",
    )
    assert update_docs(spark, cat, revised, op="reinsert")
    assert retract_docs_mor(spark, cat, [1], op="erase-b")

    dst = TableCatalog(str(tmp_path / "dst"))
    replicate_catalog(spark, cat, dst)
    assert DELETES not in dst.snapshot(spark)
    assert member(spark, dst, CORPUS).filter(F.col("doc_id") == 1).count() == 0
    assert member(spark, dst, CORPUS).filter(F.col("doc_id") == 2).count() == 1
    assert catalog_divergence(spark, cat, dst) == {}


@pytest.mark.slow
def test_clone_materializes_live_view_of_mor(spark, sf_dir, tmp_path):
    """A PITR clone of a catalog with a pending vector ships the live
    view and no vector member — physically folded, logically identical."""
    from map_reduce_in_go_spark.sources.replicate import (
        catalog_divergence,
        clone_catalog,
    )

    cat = _feed2(spark, sf_dir, str(tmp_path / "src"))
    victims = sorted(
        r["doc_id"]
        for r in member(spark, cat, CORPUS).select("doc_id").limit(3).collect()
    )
    assert retract_docs_mor(spark, cat, victims, op="erase-v")
    dst = TableCatalog(str(tmp_path / "dst"))
    clone_catalog(spark, cat, dst)
    assert DELETES not in dst.snapshot(spark)
    raw = {r["doc_id"] for r in _raw_member(spark, dst, CORPUS).collect()}
    assert not (set(victims) & raw)
    assert catalog_divergence(spark, cat, dst) == {}


def test_replication_of_consolidated_merge_keeps_reinserted_doc(
    spark, tmp_path
):
    """A fast-forward merge can consolidate a branch's retract-then-
    reinsert history into ONE main commit whose vector delta carries an
    INERT pair (naming a file the branch's upsert already replaced).
    The walker must apply only pairs whose file is LIVE in the shipped
    commit's own snapshot — by bare doc_id it would erase the
    re-inserted document from the replica (r12 self-review, pass 3)."""
    from map_reduce_in_go_spark.sources.branches import create_branch, merge_branch
    from map_reduce_in_go_spark.sources.replicate import (
        catalog_divergence,
        replicate_catalog,
    )
    from map_reduce_in_go_spark.streaming.corpus_pipeline import update_docs

    cat = TableCatalog(str(tmp_path / "src"))
    docs = spark.createDataFrame(
        [
            (
                1,
                "the field notes of a surveyor mapping the eastern scarp "
                "before the railway cut changed the valley's drainage",
                "en",
            ),
            (
                2,
                "a cookbook chapter on preserving quinces in honey for "
                "the months when the orchard stands bare",
                "en",
            ),
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, docs, cat, 0)
    # replica catches up BEFORE the branch work
    dst = TableCatalog(str(tmp_path / "dst"))
    replicate_catalog(spark, cat, dst)

    br = create_branch(spark, cat, "exp")
    assert retract_docs_mor(spark, br, [1], op="erase-on-exp")
    revised = spark.createDataFrame(
        [
            (
                1,
                "the surveyor's revised notes after the cutting exposed "
                "the fault line his first map had drawn as a stream",
                "en",
            )
        ],
        "doc_id long, text string, lang string",
    )
    assert update_docs(spark, br, revised, op="reinsert-on-exp")
    merge_branch(spark, cat, "exp")  # one consolidated main commit
    assert member(spark, cat, CORPUS).filter(F.col("doc_id") == 1).count() == 1

    replicate_catalog(spark, cat, dst)
    live = member(spark, dst, CORPUS).filter(F.col("doc_id") == 1).collect()
    assert len(live) == 1 and "fault line" in live[0]["text"]
    assert catalog_divergence(spark, cat, dst) == {}


@pytest.mark.slow
def test_replication_of_consolidated_merge_plain_batch_reinsert(
    spark, tmp_path
):
    """The harder consolidation shape (r12 advice, medium): the branch
    MOR-retracts doc 1 and re-inserts it via a PLAIN batch
    (corpus_batch_txn, not update_docs). The plain batch never COWs the
    retracted row's file, so the consolidated merge commit's vector pair
    (F, 1) names a file that is STILL LIVE — a live-file filter cannot
    reject it, and bare-id application would erase the re-inserted row
    from the replica. The resync walker must leave the replica EQUAL to
    the primary's live view: exactly one doc-1 row, the new text."""
    from map_reduce_in_go_spark.sources.branches import (
        create_branch,
        merge_branch,
    )
    from map_reduce_in_go_spark.sources.replicate import (
        catalog_divergence,
        replicate_catalog,
    )

    cat = TableCatalog(str(tmp_path / "src"))
    docs = spark.createDataFrame(
        [
            (
                1,
                "minutes of the harbor board debating whether the new "
                "breakwater should carry a light or a bell",
                "en",
            ),
            (
                2,
                "a botanical register of the alpine meadow listing each "
                "sedge and saxifrage by its flowering week",
                "en",
            ),
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, docs, cat, 0)
    dst = TableCatalog(str(tmp_path / "dst"))
    replicate_catalog(spark, cat, dst)

    br = create_branch(spark, cat, "exp")
    assert retract_docs_mor(spark, br, [1], op="erase-on-exp")
    reinserted = spark.createDataFrame(
        [
            (
                1,
                "the board's amended minutes adopting both the light and "
                "the bell after the december gales",
                "en",
            )
        ],
        "doc_id long, text string, lang string",
    )
    assert corpus_batch_txn(spark, reinserted, br, 1)
    merge_branch(spark, cat, "exp")  # one consolidated main commit
    assert member(spark, cat, CORPUS).filter(F.col("doc_id") == 1).count() == 1

    replicate_catalog(spark, cat, dst)
    live = member(spark, dst, CORPUS).filter(F.col("doc_id") == 1).collect()
    assert len(live) == 1 and "december gales" in live[0]["text"]
    # band index must resync at the same grain (doc 1's live bands are
    # the re-inserted text's, not the retracted original's)
    assert catalog_divergence(spark, cat, dst) == {}


@pytest.mark.slow
def test_mor_model_randomized_interleaving(spark, tmp_path):
    """Seeded random program over the verb algebra — ingest / retract
    (BOTH modes) / upsert / fold / compact — checked after every step
    against a dict model of the expected live corpus. Texts are globally
    unique (no near-dup collisions), so admission is deterministic and
    the model is exact; this hunts interplay bugs (a fold racing a
    pending re-insert, a COW rewrite resurrecting hidden rows, a
    retraction double-subtracting) that single-scenario pins miss."""
    import random

    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        compact_pipeline,
        update_docs,
    )

    rng = random.Random(0xC0FFEE)
    WORDS = (
        "granite kestrel lantern mosaic nocturne oboe parapet quarry "
        "rivulet saffron tundra umber violet wharf xylem yonder zephyr "
        "anvil bramble cinder dulcimer ember fjord"
    ).split()

    def text_for(doc_id: int, rev: int) -> str:
        r = random.Random((doc_id << 8) | rev)
        return f"doc {doc_id} rev {rev} " + " ".join(
            r.choice(WORDS) for _ in range(30)
        )

    cat = TableCatalog(str(tmp_path / "cat"))
    model: dict[int, str] = {}
    next_id = 0
    batch_n = 0
    op_n = 0

    def check():
        live = {
            r["doc_id"]: r["text"]
            for r in member(spark, cat, CORPUS).collect()
        }
        assert live == model
        # band index at the same grain: one doc's bands present iff live
        band_ids = {
            r["doc_id"] for r in member(spark, cat, BANDS).collect()
        }
        assert band_ids == set(model)

    # seed batch so every verb has something to act on
    def ingest(k: int):
        nonlocal next_id, batch_n
        rows = []
        for _ in range(k):
            rows.append((next_id, text_for(next_id, 0), "en"))
            model[next_id] = text_for(next_id, 0)
            next_id += 1
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        assert corpus_batch_txn(spark, df, cat, batch_n)
        batch_n += 1

    ingest(6)
    check()
    for step in range(14):
        op_n += 1
        verb = rng.choice(
            ["ingest", "retract_cow", "retract_mor", "upsert", "fold", "compact"]
        )
        if verb == "ingest":
            ingest(rng.randint(1, 4))
        elif verb in ("retract_cow", "retract_mor") and model:
            victims = rng.sample(sorted(model), rng.randint(1, min(3, len(model))))
            retract_docs(
                spark,
                cat,
                victims,
                op=f"model-erase-{op_n}",
                mode="mor" if verb == "retract_mor" else "cow",
            )
            for v in victims:
                del model[v]
        elif verb == "upsert":
            # mix of revisions of live ids, revivals of dead ids, and
            # brand-new ids through the MERGE verb
            ids = []
            if model and rng.random() < 0.8:
                ids.append(rng.choice(sorted(model)))
            dead = set(range(next_id)) - set(model)
            if dead and rng.random() < 0.6:
                ids.append(rng.choice(sorted(dead)))
            if not ids:
                ids.append(next_id)
                next_id += 1
            rows = [(i, text_for(i, op_n), "en") for i in sorted(set(ids))]
            df = spark.createDataFrame(
                rows, "doc_id long, text string, lang string"
            )
            assert update_docs(spark, cat, df, op=f"model-upsert-{op_n}")
            for i, t, _lang in rows:
                model[i] = t
        elif verb == "fold":
            apply_deletes(spark, cat, op=f"model-fold-{op_n}")
        elif verb == "compact":
            compact_pipeline(spark, cat, num_files=3)
        check()
    # end state: fold everything and confirm the physical corpus equals
    # the model too (no hidden rows left anywhere)
    apply_deletes(spark, cat, op="model-fold-final")
    raw = {
        r["doc_id"]: r["text"] for r in _raw_member(spark, cat, CORPUS).collect()
    }
    assert raw == model


def test_fold_keeps_member_keyed_stats_on_image_gated_catalog(
    spark, sf_dir, tmp_path
):
    """r14 advice (low): apply_deletes must re-record each member's OWN
    stats columns on the files it rewrites — the PHASH member's column
    is "band", not "band_hash"; passing another member's columns made
    the fold silently drop band [min,max] stats (correctness safe,
    point-probe pruning degraded until the next compact)."""
    import json

    from map_reduce_in_go_spark.streaming.corpus_pipeline import (
        _MOR_STATS,
        PHASH,
    )

    cat = TableCatalog(str(tmp_path / "img_cat"))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    assert corpus_batch_txn(
        spark, docs.limit(30), cat, 0, image_hamming=8
    )
    live = {r["doc_id"] for r in member(spark, cat, CORPUS).collect()}
    victims = sorted(live)[:3]
    assert retract_docs_mor(spark, cat, victims, op="erase-3")
    assert apply_deletes(spark, cat, op="fold-3") > 0
    # every member's rewritten files carry that member's stats columns
    for name in (CORPUS, BANDS, PHASH):
        path, v = cat.snapshot(spark)[name]
        man = json.load(
            open(os.path.join(cat.root, path, "_manifests", f"v{v}.json"))
        )
        assert man["files"], name
        for f in man["files"]:
            assert set(man["stats"][f]) == set(_MOR_STATS[name]), (
                name,
                f,
            )
    # and the folded catalog still serves the right live view
    assert {
        r["doc_id"] for r in member(spark, cat, CORPUS).collect()
    } == live - set(victims)
