"""Read API over the incremental-corpus pipeline catalog (r11 (b)).

``corpus_pipeline.py`` proves its member artifacts advance atomically and
exactly-once; this module closes the loop by answering REGISTERED,
DuckDB-oracle-checked queries *from those transactional members* — the
driver's hash gate then verifies the pipeline's at-rest state directly,
not just the pytest pins:

- :func:`pipeline_trending` — exact heavy hitters over everything the
  pipeline ACCEPTED, screened by the ``token_cms`` member (the folded
  Count-Min rows) and exact-recounted against the ``corpus`` member.
  Same output contract as ``heavy_hitters``, restricted to accepted docs.
- :func:`pipeline_spans` — corpus-duplicated substring spans of the
  accepted corpus, with the duplicated-gram predicate served from the
  ``gram_index`` member's additive counts (never re-aggregating per-
  occurrence gram rows). Same output contract as ``dedup_substring``.
- :func:`pipeline_trending_served` — the same trending answer with ZERO
  corpus re-scan: the ``token_counts`` member (r11 (a)) already holds
  exact per-batch additive (word, n) rows, so serving is one
  vocabulary-sized fold plus a scalar threshold — the pre-aggregated
  steady-state form of ``pipeline_trending``.

Both queries feed the standard documents table through the pipeline in
three deterministic micro-batches (``doc_id % 3``), built once per
corpus behind the shared served-artifact latch — so the oracles must
replay the batch-sequenced near-dup filter in SQL: batch 0 dedups only
in-batch (the index is empty), batch 1 probes batch 0's survivor bands,
batch 2 probes both. That chain is the 3-batch extension of the
``dedup_incremental_two_batch`` oracle (operators/dedup.py), and the
kept-set CTE below is shared by both oracles so the two queries can
never disagree about what the pipeline accepted.

At 100 TB: serving reads are O(members) — the CMS member folds a
handful of fixed-size rows, the gram member is a pre-combined count
table, and only candidate tokens / duplicated grams ever shuffle; the
corpus member scan is the one unavoidable pass, identical to the batch
operators it twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.approx import HH_K, cms_fold, cms_heavy_hitters
from ..operators.dedup import (
    _MINHASH_CTES,
    SUBSTR_K,
    SUBSTR_MIN_TOKENS,
    substring_spans,
)
from ..sources.artifacts import served_artifact
from ..sources.catalog import TableCatalog
from ..sources.tables import load_table, spread_partitions
from .corpus_pipeline import (
    CMS,
    CORPUS,
    GRAMS,
    QUANTS,
    QUAR,
    REJECTS,
    TOKENS,
    _words,
    corpus_batch_txn,
    member,
)

PIPELINE_BATCHES = 3


def _pipeline_catalog(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """The served pipeline catalog for ``sf_dir`` — built once per corpus
    (three ``doc_id % 3`` micro-batches through ``corpus_batch_txn``)
    behind the registry's per-key latch; every later call is read-only."""

    def _build(path: str) -> None:
        cat = TableCatalog(path)
        # documents ships as one parquet file (one input split); spread the
        # signature/gram/sketch work across the cluster before batching
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang")
            .repartition(spread_partitions(spark, sf_dir, "documents"), "doc_id")
        )
        for i in range(PIPELINE_BATCHES):
            corpus_batch_txn(
                spark,
                docs.filter(F.pmod("doc_id", F.lit(PIPELINE_BATCHES)) == i),
                cat,
                i,
            )

    return TableCatalog(served_artifact("pipeline", sf_dir, _build))


def _trending_from_cms(
    spark: SparkSession, cat: TableCatalog, sf_dir: str
) -> DataFrame:
    """CMS screen + exact corpus recount: the ``heavy_hitters_cms`` plan
    served from a pipeline catalog's at-rest state (one bounded driver
    fold of ~128 KB sketch rows, one corpus-member scan)."""
    total, cms = cms_fold(member(spark, cat, CMS).select("n", "sketch").collect())
    corpus = member(spark, cat, CORPUS).repartition(
        spread_partitions(spark, sf_dir, "documents")
    )
    return cms_heavy_hitters(spark, _words(corpus), total, cms)


def pipeline_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trending tokens of the ACCEPTED corpus, from the CMS member.

    The catalog's ``token_cms`` rows fold by addition into one screen
    (a bounded driver fold — one ~128 KB row per batch), candidates
    exact-recount against the ``corpus`` member in one scan: the
    ``heavy_hitters_cms`` plan served from the pipeline's at-rest state.
    """
    return _trending_from_cms(spark, _pipeline_catalog(spark, sf_dir), sf_dir)


def _trending_from_token_counts(
    spark: SparkSession, cat: TableCatalog, version: int | None = None
) -> DataFrame:
    """One vocabulary-sized fold of ``token_counts`` + scalar threshold."""
    from ..functions.caching import scoped_persist

    # persist the vocabulary fold: both the total and the threshold filter
    # read it, and recomputing means scanning the member twice
    counts = scoped_persist(
        member(spark, cat, TOKENS, version=version)
        .groupBy("word")
        .agg(F.sum("n").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("t"))  # 1-row scalar
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(HH_K) > F.col("t"))
        .select("word", "cnt")
    )


def pipeline_trending_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trending tokens with ZERO corpus re-scan (r11 (a)).

    The ``token_counts`` member already holds exact additive (word, n)
    rows — per batch at steady state, pre-combined after
    ``compact_pipeline``. Serving is one vocabulary-sized fold plus a
    broadcast scalar threshold: same answer as :func:`pipeline_trending`
    (whose CMS screen + corpus recount remains the posture for token
    stores too hot to keep exactly), at O(vocabulary) instead of
    O(corpus) per query — the pre-aggregation trade a continuously-
    queried view makes.
    """
    return _trending_from_token_counts(spark, _pipeline_catalog(spark, sf_dir))


def _pipeline_gated_catalog(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """An IMAGE-GATED pipeline catalog for ``sf_dir`` (r15): the same
    three ``doc_id % 3`` batches, with the perceptual-hash admission
    gate armed on batch 0 ONLY — batches 1 and 2 deliberately omit the
    kwarg so the driver's hash also covers the sticky-arming marker
    (an armed catalog must gate every later batch by itself)."""
    from ..operators.multimodal import PHASH_HAMMING_MAX

    def _build(path: str) -> None:
        cat = TableCatalog(path)
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang")
            .repartition(spread_partitions(spark, sf_dir, "documents"), "doc_id")
        )
        for i in range(PIPELINE_BATCHES):
            corpus_batch_txn(
                spark,
                docs.filter(F.pmod("doc_id", F.lit(PIPELINE_BATCHES)) == i),
                cat,
                i,
                image_hamming=PHASH_HAMMING_MAX if i == 0 else None,
            )

    return TableCatalog(served_artifact("pipeline_gated", sf_dir, _build))


def pipeline_trending_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending tokens of an IMAGE-GATED pipeline's accepted corpus (r15
    — the r14 #256 machinery under the driver's hash at last).

    The catalog admits each batch through BOTH screens — MinHash text
    bands, then the perceptual-hash image gate (band collision +
    packed-popcount Hamming ≤ 8 against the standing ``phash_bands``
    member and in-batch keep-min) — and the answer is served from the
    ``token_counts`` member with zero corpus re-scan. The oracle
    replays the full two-screen, three-batch admission chain in SQL
    (the ``_KEPT_CTES`` chain extended with the prefixed phash replay
    CTEs), so a wrong rejection, a missed rejection, a hole punched by
    intermittent arming, or a member/counts divergence all land in the
    hash. On this corpus the gate REALLY fires: every sf0.01 phash pair
    is image-only (no MinHash collision), so the gated accepted set
    differs from the un-gated pipeline's and the two oracles could
    never be confused.
    """
    return _trending_from_token_counts(
        spark, _pipeline_gated_catalog(spark, sf_dir)
    )


def _pipeline_replica(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """A serving REPLICA of the pipeline catalog, stood up once per corpus
    behind its own latch: every primary commit shipped through
    :func:`~..sources.replicate.replicate_catalog`'s ledger walk into a
    fresh follower catalog."""
    from ..sources.replicate import replicate_catalog

    def _build(path: str) -> None:
        src = _pipeline_catalog(spark, sf_dir)
        replicate_catalog(spark, src, TableCatalog(path))

    return TableCatalog(served_artifact("pipeline_replica", sf_dir, _build))


def pipeline_trending_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending tokens served from a REPLICATED pipeline catalog (r11).

    The steady-state read posture of a multi-region deployment: the
    primary takes ingest transactions, a follower serves queries. The
    answer must be bit-identical to :func:`pipeline_trending_served` —
    it shares the trending oracle, so the driver's hash gate crosses
    catalog replication end-to-end: documents → three exactly-once batch
    transactions → ledger-walk replication into a follower catalog →
    the follower's ``token_counts`` member → the fold. Any replication
    bug that drops, duplicates, or reorders a commit's member content
    surfaces as a hash mismatch here.
    """
    return _trending_from_token_counts(spark, _pipeline_replica(spark, sf_dir))


def pipeline_trending_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending tokens AS OF the catalog version batch 1 committed (r11).

    The first registered TIME-TRAVEL read: ``member(version=v)`` resolves
    the ``token_counts`` member through the catalog snapshot pinned by the
    second batch transaction, so the answer is trending over exactly what
    the pipeline had ACCEPTED after batches 0 and 1 — batch 2's tokens
    must be invisible even though they are already committed in newer
    snapshots of the very same member files. The oracle replays the
    batch-sequenced admission chain only through ``plsurv1``, so the
    driver's hash gate now crosses snapshot isolation end-to-end: a
    time-travel read that leaked a newer append (or resolved members
    against mismatched versions) hash-mismatches here. The version is
    found by OP LABEL from the catalog ledger, not by arithmetic on
    version numbers — maintenance commits landing in the build would not
    silently shift which snapshot this query reads.
    """
    cat = _pipeline_catalog(spark, sf_dir)
    v = next(ver for ver, op in cat.history() if op == "corpus-batch-1")
    return _trending_from_token_counts(spark, cat, version=v)


UPSERT_MOD = 17  # upsert every doc_id ≡ 3 (mod 17): replaced if accepted,
UPSERT_RES = 3  # re-adjudicated if previously rejected — both paths covered

MOR_MOD = 13  # MOR-retract every doc_id ≡ 4 (mod 13): mixes accepted ids
MOR_RES = 4  # (delete-vector entries) and rejected ids (audit-purge only)
# the tail deliberately repeats high-frequency words: admitted revisions
# must SHIFT the trending counts, so a verb that silently no-ops (catalog
# unchanged) cannot pass the hash gate by coincidence
UPSERT_TAIL = " corrigendum to the text of the record the"


def _pipeline_upsert_catalog(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """A PITR CLONE of the served pipeline with one single-CAS upsert
    applied: every ``doc_id ≡ UPSERT_RES (mod UPSERT_MOD)`` document is
    re-submitted with ``UPSERT_TAIL`` appended to its text. Built once
    per corpus behind its own latch; the primary catalog is untouched."""
    from ..sources.replicate import clone_catalog
    from .corpus_pipeline import update_docs

    def _build(path: str) -> None:
        src = _pipeline_catalog(spark, sf_dir)
        dst = TableCatalog(path)
        clone_catalog(spark, src, dst)
        new_docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang")
            .filter(F.pmod("doc_id", F.lit(UPSERT_MOD)) == UPSERT_RES)
            .withColumn("text", F.concat("text", F.lit(UPSERT_TAIL)))
            .repartition(spread_partitions(spark, sf_dir, "documents"), "doc_id")
        )
        update_docs(spark, dst, new_docs, op="upsert-corrigendum")

    return TableCatalog(served_artifact("pipeline_upsert", sf_dir, _build))


def _mor_erased_clone(spark: SparkSession, sf_dir: str, path: str) -> TableCatalog:
    """PITR-clone the served pipeline, then MOR-retract every
    ``doc_id ≡ MOR_RES (mod MOR_MOD)`` document on the clone — the pairs
    name the CLONE's own files, so the vector is live and foldable there.
    Shared by the unfolded and folded registered twins."""
    from ..sources.replicate import clone_catalog
    from .corpus_pipeline import retract_docs_mor

    src = _pipeline_catalog(spark, sf_dir)
    dst = TableCatalog(path)
    clone_catalog(spark, src, dst)
    victims = [
        int(r["doc_id"])
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.pmod("doc_id", F.lit(MOR_MOD)) == MOR_RES)
        .select("doc_id")
        .collect()
    ]
    retract_docs_mor(spark, dst, victims, op="mor-erasure")
    return dst


def _pipeline_mor_catalog(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """A PITR CLONE of the served pipeline with one MERGE-ON-READ
    retraction applied: corpus/band files UNTOUCHED, the delete vector
    carrying the logical removals. Built once per corpus behind its own
    latch; deliberately NOT folded (no apply_deletes), so every serving
    read must go through the vector to be correct."""

    def _build(path: str) -> None:
        _mor_erased_clone(spark, sf_dir, path)

    return TableCatalog(served_artifact("pipeline_mor", sf_dir, _build))


def pipeline_trending_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending tokens after a MERGE-ON-READ retraction (r12).

    The deletion-vector read path under the driver's hash gate: the
    pipeline is PITR-cloned, every ``doc_id ≡ 4 (mod 13)`` document is
    retracted with ``mode="mor"`` — ZERO corpus/band files rewritten,
    one (member, file, doc_id) vector append — and the vector is
    deliberately left UNFOLDED. Serving recounts CMS candidates against
    the corpus member, which the read path must filter through the
    vector: a ``member`` read that misses the vector (retracted rows
    still counted), a CMS fold that lost the retraction's negative
    sketch row, or a vector that over-matches (hiding live rows of a
    re-inserted id) all hash-mismatch against the oracle, which replays
    the 3-batch admission chain minus the retracted ids.
    """
    return _trending_from_cms(spark, _pipeline_mor_catalog(spark, sf_dir), sf_dir)


def _pipeline_folded_catalog(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """The same clone + MOR retraction as :func:`_pipeline_mor_catalog`,
    then :func:`~.corpus_pipeline.apply_deletes`: the vector folded into
    copy-on-write, vector member dropped. The retraction runs ON the
    clone (its pairs name the clone's files), so the fold has real work;
    cloning the already-erased MOR artifact instead would materialize
    the live view and leave nothing to fold. Built once per corpus
    behind its own latch."""
    from .corpus_pipeline import apply_deletes

    def _build(path: str) -> None:
        cat = _mor_erased_clone(spark, sf_dir, path)
        n = apply_deletes(spark, cat, op="fold-registered")
        if n <= 0:
            # not an assert: under python -O a stripped check would leave
            # this twin silently serving an unfolded catalog
            raise RuntimeError(
                "fold-registered rewrote no files — the folded twin would "
                "duplicate the unfolded MOR registration instead of "
                "covering apply_deletes"
            )

    return TableCatalog(served_artifact("pipeline_folded", sf_dir, _build))


def pipeline_trending_folded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending tokens AFTER the delete-vector fold (r12).

    Completes the MOR lifecycle under the driver's hash: the unfolded
    catalog (`pipeline_trending_mor`) proved the READ path applies the
    vector; this twin runs the same build + MOR retraction and then
    :func:`~.corpus_pipeline.apply_deletes` (rewriting exactly the files
    the vector names, then dropping the vector member), serving the same
    CMS-screen + corpus-recount plan over the now-physical state. It
    shares the MOR oracle verbatim — a fold that drops a survivor row,
    resurrects a hidden row, or mis-handles an inert entry
    hash-mismatches here.
    """
    return _trending_from_cms(spark, _pipeline_folded_catalog(spark, sf_dir), sf_dir)


def _pipeline_backup_catalog(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """A VERBATIM backup of the MOR-erased clone (r13): every commit of
    :func:`_pipeline_mor_catalog`'s artifact shipped byte-for-byte
    (`replicate_catalog(verbatim=True)`) — data files under their
    original basenames, the UNFOLDED delete vector shipped as metadata
    whose file-scoped pairs stay valid against the copied files. Built
    once per corpus behind its own latch."""
    from ..sources.replicate import replicate_catalog

    def _build(path: str) -> None:
        src = _pipeline_mor_catalog(spark, sf_dir)
        replicate_catalog(spark, src, TableCatalog(path), verbatim=True)

    return TableCatalog(served_artifact("pipeline_backup", sf_dir, _build))


def pipeline_trending_backup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending tokens served from a VERBATIM backup replica (r13).

    The backup-fidelity mode under the driver's hash gate: the MOR-erased
    pipeline (vector deliberately unfolded) is shipped byte-for-byte into
    a second catalog — `adopt_snapshot` copies every member's files under
    their ORIGINAL basenames and ships the delete vector itself, so the
    backup's serving reads must apply file-name-scoped pairs against its
    OWN copied files. Shares the MOR oracle verbatim: a ship that
    re-laid-out files (pairs gone inert → retracted rows counted), lost
    the vector member, or broke a basename mapping hash-mismatches here.
    With `pipeline_trending_replica` (materializing ship) and
    `pipeline_trending_folded` (local fold), this completes the
    replication-fidelity coverage: logical replica, physical backup, and
    fold all under the same oracle family.
    """
    return _trending_from_cms(spark, _pipeline_backup_catalog(spark, sf_dir), sf_dir)


def _forked_pipeline_build(spark: SparkSession, sf_dir: str, path: str):
    """Shared setup for the branch-crossing catalogs: batches 0..n-2 on
    main, batch n-1 as an experiment on branch ``exp``. Returns
    ``(cat, docs)`` with the merge left to the caller — fast-forward vs
    diverge-and-rebase is the one step the two registered twins vary."""
    from ..sources.branches import create_branch

    cat = TableCatalog(path)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .repartition(spread_partitions(spark, sf_dir, "documents"), "doc_id")
    )
    for i in range(PIPELINE_BATCHES - 1):
        corpus_batch_txn(
            spark,
            docs.filter(F.pmod("doc_id", F.lit(PIPELINE_BATCHES)) == i),
            cat,
            i,
        )
    br = create_branch(spark, cat, "exp")
    corpus_batch_txn(
        spark,
        docs.filter(
            F.pmod("doc_id", F.lit(PIPELINE_BATCHES)) == PIPELINE_BATCHES - 1
        ),
        br,
        PIPELINE_BATCHES - 1,
    )
    return cat, docs


def _pipeline_branch_catalog(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """A pipeline catalog whose LAST batch arrived via a zero-copy branch:
    batches 0 and 1 land on main, batch 2 runs as an experiment on branch
    ``exp`` (ordinary transactions against the shared member tables, its
    own ledger), and a fast-forward merge republishes the branch pins onto
    main. Built once per corpus behind its own latch."""
    from ..sources.branches import merge_branch

    def _build(path: str) -> None:
        cat, _docs = _forked_pipeline_build(spark, sf_dir, path)
        merge_branch(spark, cat, "exp")

    return TableCatalog(served_artifact("pipeline_branch", sf_dir, _build))


def pipeline_trending_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending tokens served from MAIN after a branch-routed batch (r12).

    The branch verbs under the driver's hash gate, the way replication /
    time travel / upsert already are: batch 2 is ingested on a zero-copy
    BRANCH (admission probes the shared band index at the fork snapshot —
    identical to main's, so the accepted set is exactly the 3-batch
    chain), then fast-forward-merged back; serving reads main's
    ``token_counts`` member. The answer must be bit-identical to
    :func:`pipeline_trending_served` — it shares the trending oracle —
    so a fork that loses pins, a merge that drops/duplicates the branch
    commit's member content, or broken op-label inheritance across the
    merge (the batch double-applying or vanishing) hash-mismatches here.
    """
    return _trending_from_token_counts(
        spark, _pipeline_branch_catalog(spark, sf_dir)
    )


def _pipeline_rebase_catalog(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """A pipeline catalog where the last batch arrives by REBASE-merge:
    batches 0 and 1 land on main, batch 2 runs on branch ``exp``, then
    MAIN MOVES (a ``compact_pipeline`` maintenance commit — content-equal,
    ledger-diverged), so the fast-forward merge refuses and
    :func:`~.corpus_pipeline.rebase_merge_branch` replays the experiment's
    batch from its input WAL through ordinary admission onto the moved
    main. Built once per corpus behind its own latch."""
    from ..sources.branches import merge_branch
    from ..sources.catalog import CommitConflict
    from .corpus_pipeline import compact_pipeline, rebase_merge_branch

    def _build(path: str) -> None:
        cat, docs = _forked_pipeline_build(spark, sf_dir, path)
        compact_pipeline(spark, cat, num_files=4)  # main moves
        try:
            merge_branch(spark, cat, "exp")
            raise AssertionError("fast-forward must refuse: main moved")
        except CommitConflict:
            pass
        rebase_merge_branch(spark, cat, "exp", docs)

    return TableCatalog(served_artifact("pipeline_rebase", sf_dir, _build))


def pipeline_trending_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending tokens after a REBASE-merge onto a moved main (r12).

    The merge-as-replay verb under the driver's hash gate: main advanced
    past the fork (a compaction commit — content-identical members, so
    the replayed admission chain must still produce EXACTLY the 3-batch
    accepted set), the fast-forward refused, and the branch's batch was
    replayed from its input WAL through the ordinary admission path.
    Shares the trending oracle verbatim: a WAL that dropped or duplicated
    input ids, a replay that skipped admission (leaking near-dups), or a
    compaction that changed the band index's content would all
    hash-mismatch here. Serving stays the O(vocabulary) token fold.
    """
    return _trending_from_token_counts(
        spark, _pipeline_rebase_catalog(spark, sf_dir)
    )


def pipeline_trending_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending tokens after a single-CAS document UPSERT (r11).

    Crosses the round's MERGE verb with the driver's hash gate: the
    pipeline is built, PITR-CLONED (:func:`~..sources.replicate.
    clone_catalog`), and every ``doc_id ≡ 3 (mod 17)`` document is
    re-submitted in ONE ``update_docs`` transaction with a revision tail
    appended to its text. Old versions' token contributions must leave
    (negative additive rows), admitted new versions' must land, and
    previously-REJECTED ids are re-adjudicated against the standing band
    index minus the ids' own bands. The oracle replays all of it in SQL —
    MinHash bands of the REVISED text included — so a verb that leaks an
    old version's counts, drops a negative row, or mis-admits a revision
    hash-mismatches. Serving stays the O(vocabulary) token_counts fold.
    """
    return _trending_from_token_counts(
        spark, _pipeline_upsert_catalog(spark, sf_dir)
    )


# Delta-style ingest expectations for the constrained pipeline build.
# Plain ANSI SQL over the batch columns — Spark evaluates them at ingest,
# the oracle re-evaluates the SAME strings on DuckDB. The set is chosen to
# exercise all three dispositions on the test corpus: a rule that fires
# rarely, a rule that fires often, and a rule that never fires (whose
# contribution to the member must be exactly zero rows).
EXPECTATIONS = [
    ("text_min_len", "length(text) >= 50"),
    ("text_max_len", "length(text) <= 500"),
    ("lang_known", "lang IS NOT NULL"),
]


def _pipeline_expect_catalog(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """A pipeline catalog built with :data:`EXPECTATIONS` armed — same
    three-batch build as the primary, plus the ``quarantine`` member."""

    def _build(path: str) -> None:
        cat = TableCatalog(path)
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang")
            .repartition(spread_partitions(spark, sf_dir, "documents"), "doc_id")
        )
        for i in range(PIPELINE_BATCHES):
            corpus_batch_txn(
                spark,
                docs.filter(F.pmod("doc_id", F.lit(PIPELINE_BATCHES)) == i),
                cat,
                i,
                expectations=EXPECTATIONS,
            )

    return TableCatalog(served_artifact("pipeline_expect", sf_dir, _build))


def pipeline_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarantine audit member of a constraint-armed pipeline (r11).

    Ingest-time data-quality enforcement, Delta-expectations style: the
    three batch transactions run with :data:`EXPECTATIONS` armed, rows
    failing a rule are diverted BEFORE admission (never reaching bands,
    corpus, or the rejection report) and indicted as one (doc_id, rule)
    audit row per violated rule inside the same catalog CAS as the data
    members. Serving is one scan of the member; the oracle re-evaluates
    the expectation expressions verbatim over the documents table, so
    the driver's hash crosses constraint evaluation, the quarantine
    diversion, and the transactional audit trail end-to-end. The
    interplay pins (quarantined docs absent from every data member,
    replay no-op) live in tests/test_corpus_pipeline.py.
    """
    cat = _pipeline_expect_catalog(spark, sf_dir)
    return member(spark, cat, QUAR).select("doc_id", "rule")


def pipeline_length_quantiles(
    spark: SparkSession,
    sf_dir: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Per-language token-length quantiles from the ``len_quantiles``
    member — raw documents never re-read.

    The member's rank-sample summary rows fold driver-side (bounded:
    one small row per (batch, language)) and each answer is an actual
    data point whose true rank lies within ``q·n ± rank_err``, where
    ``rank_err`` is the stored budget the summaries carry (0 while
    batches stay under the per-language exact-multiset threshold;
    honestly grown by compaction's recompression). Completes the read
    API over the pipeline's members: every artifact the batch
    transaction maintains now has a serving verb.
    """
    from .quantiles import _weighted_value_at_rank, merged_from_rows

    cat = _pipeline_catalog(spark, sf_dir)
    merged = merged_from_rows(member(spark, cat, QUANTS).collect())
    rows = []
    for t in sorted(merged):
        pts, ws, n, err = merged[t]
        vals = [_weighted_value_at_rank(pts, ws, q * n) for q in qs]
        rows.append((t, *vals, n, err))
    cols = ", ".join(f"q{int(q * 100)} double" for q in qs)
    return spark.createDataFrame(
        rows, schema=f"lang string, {cols}, n long, rank_err long"
    )


def pipeline_quantiles_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile member under the driver's hash gate (r12): exact
    per-language counts + a rank-bracket verdict on the served values.

    The r8 sketch-verdict pattern (``events_quantiles_approx``): the
    quantile VALUES themselves aren't SQL-comparable across engines
    (rank conventions differ), so the hash-checked columns are the exact
    per-language accepted-doc counts and a boolean that each served
    value's TRUE rank interval ``[count(<v)+1, count(<=v)]`` (computed
    against the corpus member's exact token lengths) intersects
    ``q·n ± (rank_err + 1)`` — the +1 absorbs the rank convention, so
    the flag flips only if the summaries are actually broken. The oracle
    replays the accepted set and pins ``TRUE``. Serving stays
    member-only for the quantiles; the exact lengths are one corpus-
    member scan (the verification cost, not the serving cost).
    """
    from ..functions.text import tokens

    base = pipeline_length_quantiles(spark, sf_dir)
    cat = _pipeline_catalog(spark, sf_dir)
    lens = member(spark, cat, CORPUS).select(
        "lang", F.size(tokens(F.col("text"))).cast("long").alias("len")
    )
    j = lens.join(F.broadcast(base), "lang")

    def _ok(q: int) -> F.Column:
        v, frac = F.col(f"q{q}"), q / 100.0
        lt = F.sum((F.col("len") < v).cast("long"))
        le = F.sum((F.col("len") <= v).cast("long"))
        target = F.lit(frac) * F.first("n")
        slack = F.first("rank_err") + F.lit(1)
        return (lt + 1 <= target + slack) & (le >= target - slack)

    agg = j.groupBy("lang").agg(
        F.first("n").alias("n"),
        (_ok(25) & _ok(50) & _ok(75)).alias("quantiles_ok"),
    )
    return agg.select("lang", "n", "quantiles_ok")


def pipeline_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated spans of the REJECTED documents against the accepted
    corpus ∪ themselves — "what text did the near-dup filter catch",
    served from the ``gram_index`` member.

    The accepted corpus is near-dup-free, so spans *within* it are empty
    by construction (its gram member holds no count ≥ 2 on this corpus —
    the vacuous question); the report a pipeline operator actually reads
    is where the dropped documents' text overlaps what was kept. A
    rejected gram is duplicated when its report count plus the member's
    additive count reaches 2, with the index side joined distributively
    (digest-key equijoin against the pre-combined count table) instead of
    driver point-probes, because the "batch" here is corpus-sized. The
    (doc_id, pos, g) rows come from the ``rejected_grams`` member stored
    at ingest, so only gram digests shuffle and nothing re-tokenizes.
    """
    from ..functions.caching import scoped_persist

    cat = _pipeline_catalog(spark, sf_dir)
    # the rejection report was stored AT INGEST (r11): serving never
    # re-tokenizes the rejected corpus — one member scan, one gram-keyed
    # self-count, one equijoin against the live additive gram counts.
    # (Before the member existed this recomputed every rejected doc's
    # shingles per read — the 10× replica measured that recompute as the
    # query's only super-linear term.)
    grams = scoped_persist(
        member(spark, cat, REJECTS).repartition(
            spread_partitions(spark, sf_dir, "documents"), "doc_id"
        )
    )
    idx_counts = member(spark, cat, GRAMS).groupBy("g").agg(
        F.sum("n").alias("kn")
    )
    dup = (
        grams.groupBy("g")
        .agg(F.count("*").alias("rn"))
        .join(idx_counts, "g", "left")
        .filter(F.col("rn") + F.coalesce(F.col("kn"), F.lit(0)) >= 2)
        .select("g")
    )
    return substring_spans(grams, dup_grams=dup, gram_rows=grams)


# --------------------------------------------------------------------- oracles

# The accepted-corpus CTE chain: 3-batch extension of the
# dedup_incremental_two_batch oracle. Batch i's drops = collisions with
# the standing survivor-band index ∪ in-batch collisions (keep-min-doc_id);
# docs with no bands (empty shingle sets) always survive.
_KEPT_CTES = _MINHASH_CTES + """
, pl0 AS (SELECT * FROM bands WHERE doc_id % 3 = 0),
pl1 AS (SELECT * FROM bands WHERE doc_id % 3 = 1),
pl2 AS (SELECT * FROM bands WHERE doc_id % 3 = 2),
pldrop0 AS (
  SELECT DISTINCT b.doc_id
  FROM pl0 a JOIN pl0 b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
plsurv0 AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT doc_id FROM pldrop0)
),
plidx1 AS (
  SELECT band_idx, band_hash FROM pl0
  WHERE doc_id IN (SELECT doc_id FROM plsurv0)
),
pldrop1 AS (
  SELECT DISTINCT n.doc_id
  FROM pl1 n JOIN plidx1 o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
  UNION
  SELECT DISTINCT b.doc_id
  FROM pl1 a JOIN pl1 b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
plsurv1 AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 3 = 1 AND doc_id NOT IN (SELECT doc_id FROM pldrop1)
),
plidx2 AS (
  SELECT band_idx, band_hash FROM plidx1
  UNION ALL
  SELECT band_idx, band_hash FROM pl1
  WHERE doc_id IN (SELECT doc_id FROM plsurv1)
),
pldrop2 AS (
  SELECT DISTINCT n.doc_id
  FROM pl2 n JOIN plidx2 o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
  UNION
  SELECT DISTINCT b.doc_id
  FROM pl2 a JOIN pl2 b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
plsurv2 AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 3 = 2 AND doc_id NOT IN (SELECT doc_id FROM pldrop2)
),
plkept AS (
  SELECT doc_id FROM plsurv0
  UNION ALL SELECT doc_id FROM plsurv1
  UNION ALL SELECT doc_id FROM plsurv2
),
kdocs AS (
  SELECT * FROM documents
  WHERE doc_id IN (SELECT doc_id FROM plkept)
)
"""


def _sql_tokens_k() -> str:
    from ..functions.text import sql_tokens

    return sql_tokens("text")


def _upsert_ctes() -> str:
    """CTE chain replaying the upsert verb in SQL: MinHash bands of the
    REVISED text (same tokenize→shingle→signature→band pipeline as
    ``_MINHASH_CTES``, sourced from ``udocs``), admission against the
    standing survivor bands minus the upserted ids' own, in-batch
    keep-min-doc_id included, and the post-upsert corpus."""
    from ..functions.hashing import sql_minhash_signature
    from ..functions.text import sql_shingles, sql_tokens
    from ..operators.dedup import N_BANDS, NUM_PERM, ROWS_PER_BAND, SHINGLE_N

    return f"""
, uids AS (
  SELECT doc_id FROM documents WHERE doc_id % {UPSERT_MOD} = {UPSERT_RES}
), udocs AS (
  SELECT doc_id, text || '{UPSERT_TAIL}' AS text, lang FROM documents
  WHERE doc_id % {UPSERT_MOD} = {UPSERT_RES}
), utoks AS (
  SELECT doc_id, {sql_tokens("text")} AS toks FROM udocs
), ushing AS (
  SELECT doc_id, {sql_shingles("toks", SHINGLE_N)} AS sh FROM utoks
), ushing2 AS (
  SELECT doc_id, sh FROM ushing WHERE len(sh) > 0
), usigs AS (
  SELECT doc_id, {sql_minhash_signature("sh", NUM_PERM)} AS sig FROM ushing2
), ubands AS (
  SELECT doc_id, t.b AS band_idx,
         md5(CAST(t.b AS VARCHAR) || '|' ||
             array_to_string(sig[t.b*{ROWS_PER_BAND}+1 : t.b*{ROWS_PER_BAND}+{ROWS_PER_BAND}], ',')) AS band_hash
  FROM usigs CROSS JOIN (SELECT unnest(range(0, {N_BANDS})) AS b) t
), bkept AS (
  SELECT band_idx, band_hash FROM bands
  WHERE doc_id IN (SELECT doc_id FROM plkept)
    AND doc_id NOT IN (SELECT doc_id FROM uids)
), udrop AS (
  SELECT DISTINCT n.doc_id
  FROM ubands n JOIN bkept o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
  UNION
  SELECT DISTINCT b.doc_id
  FROM ubands a JOIN ubands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), uadmit AS (
  SELECT doc_id FROM udocs
  WHERE doc_id NOT IN (SELECT doc_id FROM udrop)
), fdocs AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id IN (SELECT doc_id FROM plkept)
    AND doc_id NOT IN (SELECT doc_id FROM uids)
  UNION ALL
  SELECT doc_id, text FROM udocs
  WHERE doc_id IN (SELECT doc_id FROM uadmit)
)
"""


def _sql_shingles_k() -> str:
    from ..functions.text import sql_shingles

    return sql_shingles("ktoks", SUBSTR_K)


ORACLES = {
    "pipeline_trending": _KEPT_CTES + f"""
, kwords AS (
  SELECT unnest({{tok}}) AS word FROM kdocs
), ktot AS (SELECT count(*) AS n FROM kwords)
SELECT word, count(*) AS cnt FROM kwords GROUP BY word
HAVING count(*) * {HH_K} > (SELECT n FROM ktot)
""",
    "pipeline_spans": _KEPT_CTES + f"""
, ktk AS (
  SELECT doc_id, {{tok}} AS ktoks FROM kdocs
), ksh AS (
  SELECT doc_id, {{sh}} AS ksh FROM ktk
), kcnt AS (
  SELECT md5(gram) AS g, count(*) AS kn
  FROM (SELECT unnest(ksh) AS gram FROM ksh)
  GROUP BY md5(gram)
), rdocs AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM plkept)
), rtk AS (
  SELECT doc_id, {{tok}} AS ktoks FROM rdocs
), rsh AS (
  SELECT doc_id, {{sh}} AS ksh FROM rtk
), rgrams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, md5(gram) AS g
  FROM (
    SELECT doc_id, unnest(range(1, len(ksh) + 1)) AS i, unnest(ksh) AS gram
    FROM rsh
  )
), rdup AS (
  SELECT r.g
  FROM (SELECT g, count(*) AS rn FROM rgrams GROUP BY g) r
  LEFT JOIN kcnt k ON r.g = k.g
  WHERE r.rn + COALESCE(k.kn, 0) >= 2
), rhits AS (
  SELECT doc_id, pos FROM rgrams WHERE g IN (SELECT g FROM rdup)
), rruns AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {SUBSTR_K}
              THEN 0 ELSE 1 END AS new_run
  FROM rhits
), rlabeled AS (
  SELECT doc_id, pos,
         sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS run_id
  FROM rruns
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {SUBSTR_K - 1} AS BIGINT) AS span_end,
       CAST(max(pos) + {SUBSTR_K} - min(pos) AS BIGINT) AS span_len
FROM rlabeled
GROUP BY doc_id, run_id
HAVING max(pos) + {SUBSTR_K} - min(pos) >= {SUBSTR_MIN_TOKENS}
""",
}

def _gated_kept_ctes() -> str:
    """The two-screen admission chain in SQL: per batch, MinHash text
    drops (standing accepted band index + in-batch keep-min) then image
    drops among the text survivors (standing accepted phash index +
    in-batch keep-min, Hamming-verified) — both indexes growing with the
    FINALLY-accepted docs only, exactly as ``corpus_batch_txn`` appends
    them."""
    from ..operators.multimodal import (
        PHASH_HAMMING_MAX,
        _sql_hamming64,
        phash_ctes,
    )

    K = PHASH_HAMMING_MAX
    ham = _sql_hamming64
    parts = [_MINHASH_CTES + phash_ctes("img_", ",")]
    parts.append("""
, gt0 AS (SELECT * FROM bands WHERE doc_id % 3 = 0),
gt1 AS (SELECT * FROM bands WHERE doc_id % 3 = 1),
gt2 AS (SELECT * FROM bands WHERE doc_id % 3 = 2),
gp0 AS (SELECT doc_id, dh, c, band FROM img_bands WHERE doc_id % 3 = 0),
gp1 AS (SELECT doc_id, dh, c, band FROM img_bands WHERE doc_id % 3 = 1),
gp2 AS (SELECT doc_id, dh, c, band FROM img_bands WHERE doc_id % 3 = 2),
gtd0 AS (
  SELECT DISTINCT b.doc_id FROM gt0 a JOIN gt0 b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
gts0 AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 = 0
    AND doc_id NOT IN (SELECT doc_id FROM gtd0)
),""")
    parts.append(f"""
gid0 AS (
  SELECT DISTINCT b.doc_id FROM gp0 a JOIN gp0 b
    ON a.c = b.c AND a.band = b.band AND a.doc_id < b.doc_id
  WHERE a.doc_id IN (SELECT doc_id FROM gts0)
    AND b.doc_id IN (SELECT doc_id FROM gts0)
    AND {ham('a.dh', 'b.dh')} <= {K}
),
gacc0 AS (
  SELECT doc_id FROM gts0 WHERE doc_id NOT IN (SELECT doc_id FROM gid0)
),
gtidx1 AS (
  SELECT band_idx, band_hash FROM gt0
  WHERE doc_id IN (SELECT doc_id FROM gacc0)
),
gpidx1 AS (
  SELECT dh, c, band FROM gp0 WHERE doc_id IN (SELECT doc_id FROM gacc0)
),
gtd1 AS (
  SELECT DISTINCT n.doc_id FROM gt1 n JOIN gtidx1 o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
  UNION
  SELECT DISTINCT b.doc_id FROM gt1 a JOIN gt1 b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
gts1 AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 = 1
    AND doc_id NOT IN (SELECT doc_id FROM gtd1)
),
gid1 AS (
  SELECT DISTINCT n.doc_id FROM gp1 n JOIN gpidx1 o
    ON n.c = o.c AND n.band = o.band
  WHERE n.doc_id IN (SELECT doc_id FROM gts1)
    AND {ham('n.dh', 'o.dh')} <= {K}
  UNION
  SELECT DISTINCT b.doc_id FROM gp1 a JOIN gp1 b
    ON a.c = b.c AND a.band = b.band AND a.doc_id < b.doc_id
  WHERE a.doc_id IN (SELECT doc_id FROM gts1)
    AND b.doc_id IN (SELECT doc_id FROM gts1)
    AND {ham('a.dh', 'b.dh')} <= {K}
),
gacc1 AS (
  SELECT doc_id FROM gts1 WHERE doc_id NOT IN (SELECT doc_id FROM gid1)
),
gtidx2 AS (
  SELECT band_idx, band_hash FROM gtidx1
  UNION ALL
  SELECT band_idx, band_hash FROM gt1
  WHERE doc_id IN (SELECT doc_id FROM gacc1)
),
gpidx2 AS (
  SELECT dh, c, band FROM gpidx1
  UNION ALL
  SELECT dh, c, band FROM gp1 WHERE doc_id IN (SELECT doc_id FROM gacc1)
),
gtd2 AS (
  SELECT DISTINCT n.doc_id FROM gt2 n JOIN gtidx2 o
    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
  UNION
  SELECT DISTINCT b.doc_id FROM gt2 a JOIN gt2 b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
gts2 AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 = 2
    AND doc_id NOT IN (SELECT doc_id FROM gtd2)
),
gid2 AS (
  SELECT DISTINCT n.doc_id FROM gp2 n JOIN gpidx2 o
    ON n.c = o.c AND n.band = o.band
  WHERE n.doc_id IN (SELECT doc_id FROM gts2)
    AND {ham('n.dh', 'o.dh')} <= {K}
  UNION
  SELECT DISTINCT b.doc_id FROM gp2 a JOIN gp2 b
    ON a.c = b.c AND a.band = b.band AND a.doc_id < b.doc_id
  WHERE a.doc_id IN (SELECT doc_id FROM gts2)
    AND b.doc_id IN (SELECT doc_id FROM gts2)
    AND {ham('a.dh', 'b.dh')} <= {K}
),
gacc2 AS (
  SELECT doc_id FROM gts2 WHERE doc_id NOT IN (SELECT doc_id FROM gid2)
),
gkept AS (
  SELECT doc_id FROM gacc0
  UNION ALL SELECT doc_id FROM gacc1
  UNION ALL SELECT doc_id FROM gacc2
),
gdocs AS (
  SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM gkept)
)
""")
    return "".join(parts)


ORACLES["pipeline_trending_gated"] = _gated_kept_ctes() + f"""
, gwords AS (
  SELECT unnest({{tok}}) AS word FROM gdocs
), gtot AS (SELECT count(*) AS n FROM gwords)
SELECT word, count(*) AS cnt FROM gwords GROUP BY word
HAVING count(*) * {HH_K} > (SELECT n FROM gtot)
"""

ORACLES["pipeline_trending_asof"] = _KEPT_CTES + f"""
, k01 AS (
  SELECT doc_id FROM plsurv0
  UNION ALL SELECT doc_id FROM plsurv1
), kdocs01 AS (
  SELECT * FROM documents WHERE doc_id IN (SELECT doc_id FROM k01)
), kwords01 AS (
  SELECT unnest({{tok}}) AS word FROM kdocs01
), ktot01 AS (SELECT count(*) AS n FROM kwords01)
SELECT word, count(*) AS cnt FROM kwords01 GROUP BY word
HAVING count(*) * {HH_K} > (SELECT n FROM ktot01)
"""

ORACLES["pipeline_trending_upsert"] = _KEPT_CTES + _upsert_ctes() + f"""
, fwords AS (
  SELECT unnest({{tok}}) AS word FROM fdocs
), ftot AS (SELECT count(*) AS n FROM fwords)
SELECT word, count(*) AS cnt FROM fwords GROUP BY word
HAVING count(*) * {HH_K} > (SELECT n FROM ftot)
"""

# erasure, not time travel: the admission chain (kdocs) is replayed
# UNCHANGED — a doc rejected because a later-retracted doc got there first
# stays rejected — and only the retracted ids' own contributions leave
ORACLES["pipeline_trending_mor"] = _KEPT_CTES + f"""
, ldocs AS (
  SELECT * FROM kdocs WHERE doc_id % {MOR_MOD} != {MOR_RES}
), lwords AS (
  SELECT unnest({{tok}}) AS word FROM ldocs
), ltot AS (SELECT count(*) AS n FROM lwords)
SELECT word, count(*) AS cnt FROM lwords GROUP BY word
HAVING count(*) * {HH_K} > (SELECT n FROM ltot)
"""

ORACLES["pipeline_quantiles_check"] = _KEPT_CTES + """
SELECT lang, count(*) AS n, TRUE AS quantiles_ok
FROM kdocs
GROUP BY lang
"""

ORACLES["pipeline_quarantine"] = "\nUNION ALL\n".join(
    f"SELECT doc_id, '{name}' AS rule FROM documents "
    f"WHERE NOT coalesce(({expr}), FALSE)"
    for name, expr in EXPECTATIONS
)

ORACLES["pipeline_trending"] = ORACLES["pipeline_trending"].replace(
    "{tok}", _sql_tokens_k()
)
ORACLES["pipeline_trending_asof"] = ORACLES["pipeline_trending_asof"].replace(
    "{tok}", _sql_tokens_k()
)
ORACLES["pipeline_trending_upsert"] = ORACLES["pipeline_trending_upsert"].replace(
    "{tok}", _sql_tokens_k()
)
ORACLES["pipeline_trending_mor"] = ORACLES["pipeline_trending_mor"].replace(
    "{tok}", _sql_tokens_k()
)
ORACLES["pipeline_trending_gated"] = ORACLES["pipeline_trending_gated"].replace(
    "{tok}", _sql_tokens_k()
)
# the served form answers the SAME question from the token_counts member,
# so it shares the trending oracle verbatim — any divergence between the
# pre-aggregated member and the corpus recount is a correctness bug
ORACLES["pipeline_trending_served"] = ORACLES["pipeline_trending"]
# the replica form shares it too: the follower catalog must answer
# byte-identically to the primary or replication dropped/duplicated a
# commit's member content
ORACLES["pipeline_trending_replica"] = ORACLES["pipeline_trending"]
# the branch form shares it as well: batch 2 rode a fork → branch txn →
# fast-forward merge, and the merged main must answer exactly as if the
# batch had landed on main directly (the accepted set is snapshot-equal
# because the branch probes the same band index the fork pinned)
ORACLES["pipeline_trending_branch"] = ORACLES["pipeline_trending"]
# and the rebase form: main moved by a content-preserving compaction, so
# the replayed batch must re-derive the identical 3-batch accepted set
ORACLES["pipeline_trending_rebase"] = ORACLES["pipeline_trending"]
# the folded twin serves the SAME logical state as the unfolded MOR
# catalog (the fold changes physical layout only), so it shares the
# erasure oracle verbatim — any divergence is a fold bug
ORACLES["pipeline_trending_folded"] = ORACLES["pipeline_trending_mor"]
# the verbatim backup serves the SAME logical state again (byte-copied
# files + the shipped vector applied against them), so it shares the
# erasure oracle too — any divergence is a shipping-fidelity bug (r13)
ORACLES["pipeline_trending_backup"] = ORACLES["pipeline_trending_mor"]
ORACLES["pipeline_spans"] = (
    ORACLES["pipeline_spans"]
    .replace("{tok}", _sql_tokens_k())
    .replace("{sh}", _sql_shingles_k())
)
