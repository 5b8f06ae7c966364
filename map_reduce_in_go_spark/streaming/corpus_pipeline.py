"""One arriving batch → EVERY document-side artifact, one transaction.

The end-to-end incremental-corpus shape (r10, declared r11 landed
early): a production training-data pipeline does not run its dedup, its
substring index, its sketches, and its stats as separate jobs with
separate failure domains — one micro-batch of crawled documents must
advance all of them together or not at all. This module composes the
repo's existing per-artifact streaming pieces into ONE
:class:`~..sources.catalog.TableCatalog` transaction per batch:

- ``corpus``        — accepted (near-dup-filtered) documents;
- ``band_index``    — their MinHash bands (what the NEXT batch dedups
  against);
- ``gram_index``    — their token-K-gram counts (additive rows: the
  served substring-dedup structure, sources/substring_index.py);
- ``token_cms``     — one Count-Min sketch row (streaming/heavy.py's
  mergeable rollup: exact trending tokens over everything accepted);
- ``token_counts``  — per-batch additive ``(word, n)`` rows (r11 (a)):
  the EXACT token-frequency view, vocabulary-sized and distributed, so
  steady-state trending is a pure member filter with ZERO corpus
  re-scan (the pre-aggregation posture of a continuously-queried view;
  the CMS member stays as the bounded-state screen for ad-hoc stores);
- ``len_quantiles`` — per-language token-length summary rows
  (streaming/quantiles.py's rank-sample rollup with carried error);
- ``rejected_grams`` — the REJECTED documents' (doc_id, pos, g) gram
  rows, stored AT INGEST (r11: immutable once written — each doc is
  rejected exactly once). ``pipeline_spans`` then serves "what did the
  filter catch" by joining this member against the live gram counts,
  never re-tokenizing the rejected corpus per read (the 10× replica
  showed that recompute was the query's only super-linear term), and
  GDPR erasure of a REJECTED document has a member to purge.

Atomicity is the point: a reader can never observe an accepted document
whose bands aren't probeable, whose grams aren't counted, or whose
tokens are missing from a sketch — the catalog CAS publishes the seven
member appends together, and any crash before it leaves only orphan
member versions (invisible; vacuumed). Exactly-once falls out of the
catalog ledger: the commit is tagged ``<app_id>-batch-<id>`` and a
replayed batch is detected from PUBLISHED commits before any recompute,
so Spark's at-least-once foreachBatch (or a checkpoint-wiped restart)
re-running a batch is a no-op across ALL seven artifacts at once —
proven in tests/test_corpus_pipeline.py by wiping and replaying.

On a CAS conflict (a racing backfill writer) the batch re-plans against
the new snapshot with a full re-probe — survivors were derived from the
old snapshot, so this is the serializable behavior.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Row, SparkSession

from ..functions.caching import (
    free_local_checkpoint,
    persisted_count,
    release_persisted_since,
)
from ..operators.dedup import bands_of_docs, dedup_batch_against_bands
from ..sources.catalog import CommitConflict, TableCatalog

CORPUS = "corpus"
BANDS = "band_index"
GRAMS = "gram_index"
CMS = "token_cms"
TOKENS = "token_counts"
QUANTS = "len_quantiles"
REJECTS = "rejected_grams"
QUAR = "quarantine"
# banded perceptual-hash member (r14): (doc_id, chunk, band, dh_hi, dh_lo)
# dHash bands of every ACCEPTED document's synthesized image, written only
# when the image admission gate is armed (image_hamming=) — the image twin
# of BANDS. Row-level and doc-keyed, so it rides the MOR delete vector and
# the COW retraction exactly like BANDS.
PHASH = "phash_bands"
# standing audio-fingerprint index (r15): the audio twin of PHASH — the
# banded spectral-envelope fingerprints of every ACCEPTED doc, appended
# in the same CAS when the audio admission gate is armed (audio_hamming=)
AUDIOFP = "audio_fp_bands"
# batch-input WAL, written ONLY on branch timelines (r12): (op, doc_id)
# rows recording each branch batch's INPUT id set in the same CAS as the
# batch itself, so rebase_merge_branch can replay the experiment's batches
# through ordinary admission onto a moved main. Ids only — content is
# re-resolved from the caller's source at replay time (a WAL that copied
# text would double the corpus at 100 TB). Keyed by the globally-unique
# op label, not the bare batch id: a branch inherits its fork's pins
# (including any stale WAL a past merge carried), and a different
# app_id's batch 2 must not collide with an inherited batch 2.
WAL = "batch_wal"
# merge-on-read delete vector (r12): (member, file, doc_id) rows naming the
# PHYSICAL rows a retraction has logically removed from the two big
# row-level members (corpus, band_index) without rewriting their files —
# the Iceberg-position-delete / Delta-deletion-vector posture. Reads apply
# the vector (anti-join on the (file, doc_id) pair — FILE-scoped, so a
# later re-insert of the same doc_id lands in a new file and is NOT
# hidden); `apply_deletes` / `compact_pipeline` fold it back into
# copy-on-write and truncate it. At 100 TB this turns erasure of k docs
# from O(touched files rewritten at retract time) into O(1) metadata at
# retract time, with the rewrite batched into maintenance windows.
# INVARIANT every verb must keep: any read of corpus/band CONTENT goes
# through _txn_live_read (or member()), and any rewrite that copies rows
# out of existing files applies the vector to what it copies — a raw
# txn.read of a _MOR_MEMBERS member resurrects logically-erased rows the
# moment its output is rewritten into new files. (Transaction stays
# pipeline-agnostic by design, so the rule lives here, not in catalog.py.)
DELETES = "doc_deletes"  # schema: member string, file string, doc_id long
# the row-level members the vector defers; every other member's retraction
# algebra is already O(delta) (negative additive rows / summary rebuild /
# tiny audit COW), so deferral would buy nothing and cost read complexity.
# PHASH joins the list (r14) and AUDIOFP (r15): absent on catalogs whose
# gate was never armed — every _MOR_MEMBERS iteration must tolerate a
# missing member.
_MOR_MEMBERS = (CORPUS, BANDS, PHASH, AUDIOFP)
# Per-member stats columns every MOR rewrite must re-record (r14 advice:
# a fold that passes another member's columns silently drops the stats on
# the rewritten files — correctness survives, files-without-stats are
# conservatively kept, but point-probe pruning degrades until the next
# compact). Must match the append-path stats_cols for the same member.
_MOR_STATS = {
    CORPUS: ["doc_id"],
    BANDS: ["band_hash", "doc_id"],
    PHASH: ["band", "doc_id"],
    AUDIOFP: ["band", "doc_id"],
}
# The banded-media gate members (one standing 64-bit-hash index each,
# operators/multimodal.py bands_of_hashes shape); retraction, MOR
# vectors, upsert re-hash, and compaction treat them uniformly.
_BANDED_MEDIA = (PHASH, AUDIOFP)

# The image admission gate is armed per CATALOG, not per call (r14 advice,
# low — the mode-mixing hazard: one batch committed un-armed would leave
# its accepted docs permanently invisible to later armed batches' near-dup
# probes). The first gated batch links this marker atomically next to the
# ledger; from then on every corpus_batch_txn call is gated with the
# armed threshold even if the caller omits the kwarg (sticky arming), and
# a call naming a DIFFERENT threshold fails loudly. Arming a catalog that
# already holds un-gated commits BACKFILLS the standing phash index from
# the live corpus inside the same CAS, so the index is complete from the
# moment the marker exists.
_IMAGE_GATE_MARKER = "image_gate.json"
_AUDIO_GATE_MARKER = "audio_gate.json"  # r15: the audio gate's marker


def _media_gate_threshold(cat: TableCatalog, marker: str) -> int | None:
    """The catalog's armed Hamming threshold for one media gate, or None."""
    import json

    try:
        with open(os.path.join(cat.root, marker)) as fh:
            return int(json.load(fh)["hamming"])
    except FileNotFoundError:
        return None


def image_gate_threshold(cat: TableCatalog) -> int | None:
    """The catalog's armed image-gate Hamming threshold, or None."""
    return _media_gate_threshold(cat, _IMAGE_GATE_MARKER)


def audio_gate_threshold(cat: TableCatalog) -> int | None:
    """The catalog's armed audio-gate Hamming threshold, or None."""
    return _media_gate_threshold(cat, _AUDIO_GATE_MARKER)


def _resolve_media_gate(
    cat: TableCatalog, marker: str, kind: str, hamming: int | None
) -> tuple[int | None, bool]:
    """(effective threshold, arming-now?) for one corpus_batch_txn call."""
    armed = _media_gate_threshold(cat, marker)
    if armed is not None:
        if hamming is not None and hamming != armed:
            raise ValueError(
                f"{kind} gate already armed at hamming={armed} for "
                f"{cat.root}; a batch at {hamming} would judge "
                "near-dups inconsistently across the corpus — pass the "
                f"armed threshold (or omit {kind}_hamming; arming is sticky)"
            )
        return armed, False
    return hamming, hamming is not None


def _arm_media_gate(cat: TableCatalog, marker: str, hamming: int) -> None:
    """Persist one gate's arming marker atomically (O_EXCL via link — two
    racing first arms can never interleave: exactly one creates the
    marker, the loser re-validates against what actually landed)."""
    import json
    import tempfile

    path = os.path.join(cat.root, marker)
    os.makedirs(cat.root, exist_ok=True)  # first arm may precede first commit
    fd, tmp = tempfile.mkstemp(dir=cat.root, prefix=f"._{marker}-")
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump({"hamming": int(hamming)}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            armed = _media_gate_threshold(cat, marker)
            if armed != hamming:
                raise ValueError(
                    f"media gate {marker} concurrently armed at "
                    f"hamming={armed} for {cat.root}; this writer "
                    f"wanted {hamming}"
                ) from None
    finally:
        os.unlink(tmp)


def _media_gate_screen(
    spark: SparkSession,
    txn,
    member_name: str,
    bands_of_fn,
    src_df: DataFrame,
    band_surv: DataFrame,
    hamming_max: int,
    arming: bool,
):
    """Run ONE banded-media admission screen inside a batch transaction.

    Hashes the batch's surviving docs with ``bands_of_fn`` (one Arrow
    pass — phash_bands_of for images, audio_fp_bands_of for audio),
    probes the standing ``member_name`` index (LIVE view: MOR-retracted
    blockers do not block) and the in-batch keep-min pairs, both
    verified at packed-popcount Hamming ≤ ``hamming_max``. When
    ``arming`` (first gated batch of this catalog), the live corpus
    docs missing from the index are hashed INSIDE this CAS so the index
    is complete the moment the marker exists — and they block this very
    batch's near-dups too. Returns ``(batch_bands, drop_ids,
    backfill_bands-or-None)``; the caller anti-joins the drops and
    appends ``batch_bands ∩ final-survivors (+ backfill)`` to the
    member."""
    from pyspark.sql import functions as F

    from ..functions.caching import scoped_persist

    batch_mb = scoped_persist(
        bands_of_fn(src_df).join(band_surv, "doc_id", "left_semi")
    )
    try:
        old_mb = _txn_live_read(txn, member_name)
    except KeyError:  # first armed batch: no standing index yet
        old_mb = spark.createDataFrame(
            [],
            "doc_id long, chunk int, band string, dh_hi long, dh_lo long",
        )
    backfill = None
    if arming:
        try:
            old_corpus = _txn_live_read(txn, CORPUS)
        except KeyError:
            pass
        else:
            missing = old_corpus.select("doc_id", "text").join(
                old_mb.select("doc_id").distinct(), "doc_id", "left_anti"
            )
            backfill = scoped_persist(bands_of_fn(missing))
            cols = ["doc_id", "chunk", "band", "dh_hi", "dh_lo"]
            old_mb = old_mb.select(*cols).unionByName(backfill.select(*cols))
    ham = F.expr("bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)")
    drop_old = (
        batch_mb.select(
            "doc_id", "chunk", "band",
            F.col("dh_hi").alias("hi_b"),
            F.col("dh_lo").alias("lo_b"),
        )
        .join(
            old_mb.select(
                "chunk", "band",
                F.col("dh_hi").alias("hi_a"),
                F.col("dh_lo").alias("lo_a"),
            ),
            ["chunk", "band"],
        )
        .filter(ham <= hamming_max)
        .select("doc_id")
    )
    pa, pb = batch_mb.alias("a"), batch_mb.alias("b")
    drop_new = (
        pa.join(
            pb,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            F.expr(
                "bit_count(a.dh_hi ^ b.dh_hi) + bit_count(a.dh_lo ^ b.dh_lo)"
            )
            <= hamming_max
        )
        .select(F.col("b.doc_id").alias("doc_id"))
    )
    return batch_mb, drop_old.union(drop_new).distinct(), backfill


def _file_basename_col():
    """Physical-file provenance of each row, as the manifest-unique
    basename (data files are uuid-prefixed — see ManifestTable)."""
    from pyspark.sql import functions as F

    return F.element_at(F.split(F.input_file_name(), "/"), -1)


def _apply_delete_vector(
    df: DataFrame, dels: DataFrame, member_name: str
) -> DataFrame:
    """Filter the MOR delete vector's (file, doc_id) pairs out of a member
    read. The pair match is what makes re-insertion sound: a doc_id
    re-admitted after a MOR retraction lives in a NEWER file than the one
    its delete entry names, so only the dead physical row is hidden.
    The vector side is bounded by retractions since the last fold
    (compaction truncates it), so Spark/AQE broadcasts it in practice —
    no forced broadcast, no driver materialization."""
    from pyspark.sql import functions as F

    pairs = dels.filter(F.col("member") == F.lit(member_name)).select(
        F.col("file").alias("_dv_f"), F.col("doc_id").alias("_dv_id")
    )
    tagged = df.withColumn("_dv_file", _file_basename_col())
    return tagged.join(
        pairs,
        (tagged["_dv_file"] == pairs["_dv_f"])
        & (tagged["doc_id"] == pairs["_dv_id"]),
        "left_anti",
    ).drop("_dv_file")


def _txn_live_read(txn, name: str, merge_schema: bool = False) -> DataFrame:
    """Transaction read of ``name`` with the MOR delete vector applied —
    the view every verb must reason over for corpus/band content (a verb
    that read raw rows would recompute deltas for documents already
    logically erased). No-op for catalogs without the member."""
    df = txn.read(name, merge_schema=merge_schema)
    if name not in _MOR_MEMBERS:
        return df
    try:
        dels = txn.read(DELETES)
    except KeyError:
        return df
    return _apply_delete_vector(df, dels, name)


class NothingToRetract(ValueError):
    """No requested id exists anywhere in the catalog — raised as a TYPE
    so programmatic callers (the erasure follower) can distinguish the
    goal-state case from genuine argument errors without string-matching
    an error message."""


def _gram_rows_of(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, g) gram rows — the same shingle/digest recipe as
    `substring_spans`'s in-flight path (operators/dedup.py)."""
    from pyspark.sql import functions as F

    from ..functions.text import shingles_of, tokens
    from ..operators.dedup import SUBSTR_K

    return docs.select(
        "doc_id",
        F.posexplode(shingles_of(tokens(F.col("text")), SUBSTR_K)).alias(
            "pos", "gram"
        ),
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.md5("gram").alias("g"),
    )


def _token_count_rows(kept: DataFrame) -> DataFrame:
    """Additive ``(word, n)`` rows for one batch's accepted documents.

    Linear like the gram member: retraction appends negative rows,
    compaction folds by key and drops zeroes. One map-side explode + one
    vocabulary-keyed aggregation — the token stream never leaves the
    cluster and only distinct-word rows shuffle.
    """
    from pyspark.sql import functions as F

    from ..functions.text import tokens

    return (
        kept.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def corpus_batch_txn(
    spark: SparkSession,
    batch_df: DataFrame,
    cat: TableCatalog,
    batch_id: int,
    app_id: str = "corpus",
    emb_batch: DataFrame | None = None,
    writer_token: str | None = None,
    semantic_threshold: float | None = None,
    expectations: list[tuple[str, str]] | None = None,
    image_hamming: int | None = None,
    audio_hamming: int | None = None,
) -> bool:
    """Process one (doc_id, text, lang) micro-batch; False on replay.

    ``expectations`` are Delta-style ingest constraints (r11): ``(rule
    name, SQL boolean expression)`` pairs evaluated per row BEFORE
    admission. A row failing any rule — NULL counts as failure, these
    are assertions — is QUARANTINED: it never touches the band index,
    the corpus, or the rejection report; instead one ``(doc_id, rule,
    batch_id)`` audit row per violated rule lands in the ``quarantine``
    member inside the SAME catalog CAS as every other member, so the
    audit trail is exactly as transactional (and replayable, and
    replicable) as the data it indicts. Expression strings must be plain
    ANSI SQL over the batch's columns — the serving oracle re-evaluates
    them verbatim on DuckDB.

    ``semantic_threshold`` arms the OPTIONAL second admission gate
    (SemDeDup-at-ingest, r10 verdict #6): after the MinHash-band screen,
    each surviving doc's embedding probes the catalog's own served
    IVF-PQ cells and is REJECTED when an already-committed vector (ADC
    approx-cosine over the served codebooks) or an earlier in-batch
    survivor (exact cosine, keep-min) scores ≥ the threshold. Requires
    ``emb_batch`` and a published PQ model; docs absent from
    ``emb_batch`` pass the gate un-checked (no embedding to judge).
    Semantic rejects land in the rejection report like band rejects, so
    the erasure story is unchanged; retraction frees the blocker — a
    later near-dup of a RETRACTED doc is admitted (pinned).

    ``image_hamming`` arms the OPTIONAL image admission gate (r14 — the
    #semdedup-at-ingest discipline for the multimodal column): each doc
    surviving the text screens has its synthesized image dHashed
    (operators/multimodal.py `phash_bands_of` — banded 4×16), and is
    REJECTED when a band collision with an already-committed image (live
    view: MOR-retracted blockers do not block) or an earlier in-batch
    survivor verifies at Hamming ≤ the threshold. The accepted docs'
    phash bands land in the :data:`PHASH` member inside the SAME CAS, so
    the standing image index a later batch probes is exactly as
    transactional as BANDS; retraction covers it in both modes (COW
    anti-join / MOR vector pairs). Docs with no image (NULL/empty text)
    pass un-checked, mirroring ``emb_batch``'s absent-embedding rule.
    Arming is STICKY per catalog (r14 advice): the first gated batch
    links an ``image_gate.json`` marker next to the ledger; later calls
    are gated at the armed threshold even when the kwarg is omitted
    (intermittent arming cannot punch holes in the standing index), a
    different threshold fails loudly, and arming a catalog that already
    holds un-gated commits backfills the phash index from the live
    corpus inside the same CAS.

    ``audio_hamming`` arms the AUDIO admission gate (r15) — the same
    screen at the audio modality: surviving docs' spectral-envelope
    fingerprints (operators/multimodal.py ``audio_fp_bands_of``) probe
    the standing :data:`AUDIOFP` member + in-batch keep-min at packed-
    popcount Hamming ≤ threshold, accepted docs' bands land in the SAME
    CAS, retraction/compaction/upsert re-hash cover the member exactly
    like PHASH, and arming is sticky via ``audio_gate.json`` with the
    same backfill discipline. The audio screen runs AFTER the image
    screen (each gate filters the previous survivors).

    ``writer_token`` (from :meth:`~..sources.catalog.TableCatalog.
    acquire_app_id`) verifies this process still holds ``app_id``'s
    op-label lease before every commit attempt — without it, two writer
    processes sharing an ``app_id`` would silently alias each other's
    batch ids as replays. ``None`` keeps the single-writer legacy
    behavior.

    ``emb_batch`` is the optional embeddings side-channel: (doc_id, e)
    rows for this batch's documents. When present, the catalog must
    already hold a published IVF-PQ model (:class:`~..operators.pq_index.
    PqIvfIndex` built at ``cat.root``) — the ACCEPTED documents'
    embeddings are encoded with that SERVED model (never a retrain) and
    their codes land in the per-cell member tables inside the SAME commit
    as corpus/bands/grams/sketches, so a reader can never observe an
    accepted document whose vector isn't probeable (r11 candidate (a):
    eight members, one CAS; the joint replay no-op covers all eight).
    """
    from pyspark.sql import functions as F

    from ..functions.text import tokens
    from ..operators.pq_index import PqIvfIndex
    from ..sources.substring_index import _token_gram_counts
    from .heavy import _batch_sketch
    from .quantiles import summaries_for

    # sticky per-catalog arming: an armed catalog gates EVERY batch at
    # the marker's threshold (caller may omit the kwarg); a different
    # threshold, or arming races, fail loudly (see _IMAGE_GATE_MARKER)
    image_hamming, arming_image_gate = _resolve_media_gate(
        cat, _IMAGE_GATE_MARKER, "image", image_hamming
    )
    if arming_image_gate:
        _arm_media_gate(cat, _IMAGE_GATE_MARKER, image_hamming)
    audio_hamming, arming_audio_gate = _resolve_media_gate(
        cat, _AUDIO_GATE_MARKER, "audio", audio_hamming
    )
    if arming_audio_gate:
        _arm_media_gate(cat, _AUDIO_GATE_MARKER, audio_hamming)
    op = f"{app_id}-batch-{batch_id}"
    if op in cat.committed_ops():
        return False
    for _ in range(10):
        if writer_token is not None:
            cat.check_app_id(app_id, writer_token)
        mark = persisted_count()
        txn = cat.transaction(spark)
        # Linearizable replay check: re-read the ledger AFTER pinning the
        # transaction base. The top-of-function check alone is check-then-
        # act — a duplicate attempt landing in that window (two followers,
        # a restarted driver) would re-apply the batch and mint a second
        # op label. If the op is absent from a ledger ≥ our base and our
        # CAS at that base succeeds, nothing landed in between — exactly-
        # once becomes a property of the commit, not of timing. A racing
        # duplicate that lands after this point costs us only a
        # CommitConflict retry, which re-enters here and returns False.
        if op in cat.committed_ops():
            return False
        try:
            # live view: a MOR-retracted doc's bands must not block a new
            # near-duplicate, exactly as after a copy-on-write retraction
            old_bands = _txn_live_read(txn, BANDS)
        except KeyError:
            old_bands = spark.createDataFrame([], "band_idx int, band_hash string")
        from ..functions.caching import scoped_persist

        # Everything from the first persist through the commit runs under
        # one try whose finally releases the scoped persist and the two
        # eager localCheckpoints: a member-append failure (transient Spark
        # error) must not leak executor storage for the life of a
        # long-running streaming driver (r10 advice, low).
        survivors = kept = None
        try:
            src_df = batch_df
            quar_rows = None
            if expectations:
                # one codegen scan tags each row with its violated rules;
                # clean rows proceed to admission, the rest become audit rows
                viol = F.array_compact(
                    F.array(
                        *[
                            F.when(
                                ~F.coalesce(F.expr(expr), F.lit(False)),
                                F.lit(name),
                            )
                            for name, expr in expectations
                        ]
                    )
                )
                tagged = scoped_persist(batch_df.withColumn("_viol", viol))
                quar_rows = (
                    tagged.filter(F.size("_viol") > 0)
                    .select("doc_id", F.explode("_viol").alias("rule"))
                    .withColumn("batch_id", F.lit(batch_id))
                )
                src_df = tagged.filter(F.size("_viol") == 0).drop("_viol")
            # one signature pass per batch: the same band table probes the
            # standing index AND (survivor-filtered) becomes the BANDS append
            batch_bands = scoped_persist(bands_of_docs(src_df))
            band_surv = dedup_batch_against_bands(
                src_df, old_bands, batch_bands=batch_bands
            )
            if semantic_threshold is not None:
                if emb_batch is None:
                    raise ValueError(
                        "semantic_threshold needs emb_batch: the semantic "
                        "admission gate judges embeddings"
                    )
                pq_gate = PqIvfIndex(cat.root)
                sem_drops = pq_gate.semantic_duplicates(
                    spark,
                    emb_batch.join(band_surv, "doc_id", "left_semi"),
                    semantic_threshold,
                    catalog_version=txn.base_version,
                )
                band_surv = band_surv.join(sem_drops, "doc_id", "left_anti")
            batch_ph = backfill_ph = None
            if image_hamming is not None:
                from ..operators.multimodal import phash_bands_of

                batch_ph, drops_img, backfill_ph = _media_gate_screen(
                    spark, txn, PHASH, phash_bands_of, src_df, band_surv,
                    image_hamming, arming_image_gate,
                )
                band_surv = band_surv.join(drops_img, "doc_id", "left_anti")
            batch_afp = backfill_afp = None
            if audio_hamming is not None:
                from ..operators.multimodal import audio_fp_bands_of

                batch_afp, drops_afp, backfill_afp = _media_gate_screen(
                    spark, txn, AUDIOFP, audio_fp_bands_of, src_df,
                    band_surv, audio_hamming, arming_audio_gate,
                )
                band_surv = band_surv.join(drops_afp, "doc_id", "left_anti")
            survivors = band_surv.localCheckpoint(eager=True)
            kept = src_df.join(survivors, "doc_id", "left_semi").localCheckpoint(
                eager=True
            )
            # additive schema evolution: extra document columns (url, crawl
            # metadata, ...) ride along into the corpus member — older rows
            # surface them as nulls on merge-schema reads, no rewrite
            rejected = src_df.join(survivors, "doc_id", "left_anti")
            extras = [
                c for c in src_df.columns if c not in ("doc_id", "text", "lang")
            ]
            # The seven member appends are INDEPENDENT tables with independent
            # manifest logs, all reading the already-checkpointed `kept`/
            # `batch_bands` frames — so they submit as CONCURRENT Spark jobs
            # (one driver thread each) and the batch pays max(member) instead
            # of sum(member) in fixed per-job latency. Atomicity is untouched:
            # the staged versions stay invisible until the single catalog CAS.
            from concurrent.futures import ThreadPoolExecutor

            def _corpus():
                # doc_id stats: the skipping index file-granular
                # corrections (retract/update copy-on-write) prune with
                txn.append(
                    CORPUS,
                    kept.select("doc_id", "text", "lang", *extras),
                    op=op,
                    stats_cols=["doc_id"],
                )

            def _bands():
                txn.append(
                    BANDS,
                    batch_bands.join(survivors, "doc_id", "left_semi"),
                    op=op,
                    stats_cols=["band_hash", "doc_id"],
                )

            def _grams():
                txn.append(
                    GRAMS, _token_gram_counts(kept), op=op, stats_cols=["g"]
                )

            def _tokens():
                txn.append(
                    TOKENS, _token_count_rows(kept), op=op, stats_cols=["word"]
                )

            def _cms():
                total, agg = _batch_sketch(kept)
                txn.append(
                    CMS,
                    spark.createDataFrame(
                        [Row(batch_id=batch_id, n=total, sketch=agg.tolist())],
                        schema="batch_id long, n long, sketch array<long>",
                    ).coalesce(1),
                    op=op,
                )

            def _quants():
                lens = kept.select(
                    "lang",
                    F.size(tokens(F.col("text"))).cast("double").alias("n_tok"),
                )
                txn.append(
                    QUANTS,
                    summaries_for(lens, "lang", "n_tok", batch_id).coalesce(1),
                    op=op,
                )

            def _rejects():
                txn.append(
                    REJECTS, _gram_rows_of(rejected), op=op, stats_cols=["doc_id"]
                )

            def _quar():
                txn.append(QUAR, quar_rows, op=op, stats_cols=["doc_id"])

            def _wal():
                # the batch's full INPUT id set (pre-expectations, pre-
                # admission): replaying the batch means re-adjudicating
                # everything that was submitted, not just what survived.
                # `seq` = the transaction's base catalog version — strictly
                # increasing across committed batches — so REPLAY ORDER
                # survives even after the branch ledger's own checkpoint
                # truncates per-version manifests (op labels survive a
                # checkpoint; order otherwise would not).
                txn.append(
                    WAL,
                    batch_df.select(
                        F.lit(op).alias("op"),
                        F.lit(int(txn.base_version)).alias("seq"),
                        "doc_id",
                    ),
                    op=op,
                    stats_cols=["op", "doc_id"],
                )

            def _phash():
                rows = batch_ph.join(survivors, "doc_id", "left_semi")
                if backfill_ph is not None:
                    rows = rows.unionByName(backfill_ph)
                txn.append(PHASH, rows, op=op, stats_cols=_MOR_STATS[PHASH])

            def _audiofp():
                rows = batch_afp.join(survivors, "doc_id", "left_semi")
                if backfill_afp is not None:
                    rows = rows.unionByName(backfill_afp)
                txn.append(
                    AUDIOFP, rows, op=op, stats_cols=_MOR_STATS[AUDIOFP]
                )

            members = [
                _corpus, _bands, _grams, _tokens, _cms, _quants, _rejects,
            ]
            if batch_ph is not None:
                members.append(_phash)
            if batch_afp is not None:
                members.append(_audiofp)
            if quar_rows is not None:
                members.append(_quar)
            if cat.ledger != "_catalog":
                # branch timelines WAL their batch inputs so the experiment
                # is replayable onto a moved main (rebase_merge_branch);
                # main's hot path stays seven members
                members.append(_wal)
            with ThreadPoolExecutor(max_workers=len(members)) as pool:
                futures = [pool.submit(f) for f in members]
                for fut in futures:
                    fut.result()  # re-raise the first member failure
            if emb_batch is not None:
                pq = PqIvfIndex(cat.root)
                # the txn's base snapshot encodes: model and codes stay
                # consistent even when a CAS conflict re-plans the batch
                books, cells = pq.snapshot(spark, txn.base_version)
                kept_emb = (
                    emb_batch.join(survivors, "doc_id", "left_semi")
                    .select(F.col("doc_id").alias("vec_id"), "e")
                )
                rows = pq.encode_with_model(spark, kept_emb, books, cells)
                pq.stage_append(txn, rows, cells, op=op)
            try:
                txn.commit(op=op)
                return True
            except CommitConflict:
                continue  # re-plan on the new catalog snapshot
        finally:
            release_persisted_since(mark)
            for df in (survivors, kept):
                if df is not None:
                    free_local_checkpoint(df)
    raise CommitConflict(
        f"batch {batch_id} lost the catalog race 10 times at {cat.root}; "
        "Spark will retry the batch"
    )


def bootstrap_pipeline(
    spark: SparkSession,
    cat: TableCatalog,
    docs: DataFrame,
    bands: DataFrame | None = None,
    grams: DataFrame | None = None,
    app_id: str = "corpus",
    writer_token: str | None = None,
    expectations: list[tuple[str, str]] | None = None,
) -> bool:
    """Seed an EMPTY pipeline catalog from a static corpus, then stream.

    ``expectations`` mirrors :func:`corpus_batch_txn`'s constraint gate
    (full verb parity, r11): violating rows are diverted to the
    ``quarantine`` member (batch_id −2) BEFORE admission — they never
    reach bands/corpus/rejects, so a constraint-armed bootstrap followed
    by constraint-armed streaming is member-identical to streaming
    everything constrained. REFUSED (loudly) on the adoption path: with
    precomputed ``bands`` the caller vouches ``docs`` is already curated,
    and silently skipping the gate would make the two claims ambiguous.

    The backfill posture: a corpus already exists (and often its band
    index and gram index exist as standalone batch artifacts — e.g.
    ``build_band_index`` / ``build_gram_index`` output); adopting it
    must not force a from-scratch re-stream. This verb publishes all
    seven members in ONE transaction from the static input, after which
    ``corpus_batch_txn`` continues incrementally — bootstrapping on a
    prefix and streaming the rest lands member-identical state to
    streaming everything (pinned in tests/test_corpus_pipeline.py).

    ``bands``/``grams`` let the caller pass the PRECOMPUTED artifacts
    verbatim; ``docs`` is then trusted as already near-dup-free (they
    describe it). Without them, ``docs`` is treated exactly like a first
    micro-batch: in-batch near-dup filtering against the empty index,
    bands/grams derived from the survivors — so the bootstrap-vs-stream
    equivalence holds by construction, not by luck.

    Returns False (no recompute, nothing moves) if this ``app_id`` was
    already bootstrapped — the same ledger replay discipline as batches.
    Refuses a NON-empty catalog loudly: adopting into live state would
    silently double-count every additive member.
    """
    from pyspark.sql import functions as F

    from ..functions.caching import (
        free_local_checkpoint,
        persisted_count,
        release_persisted_since,
        scoped_persist,
    )
    from ..functions.text import tokens
    from ..sources.substring_index import _token_gram_counts
    from .heavy import _batch_sketch
    from .quantiles import summaries_for

    op = f"{app_id}-bootstrap"
    if op in cat.committed_ops():
        return False
    if writer_token is not None:
        cat.check_app_id(app_id, writer_token)
    if cat.snapshot(spark):
        raise ValueError(
            f"catalog at {cat.root} already has members; bootstrap only "
            "seeds an empty pipeline (additive members would double-count)"
        )
    mark = persisted_count()
    kept = None
    survivors = None
    try:
        quar_rows = None
        if bands is None:
            src = docs
            if expectations:
                viol = F.array_compact(
                    F.array(
                        *[
                            F.when(
                                ~F.coalesce(F.expr(expr), F.lit(False)),
                                F.lit(name),
                            )
                            for name, expr in expectations
                        ]
                    )
                )
                tagged = scoped_persist(docs.withColumn("_viol", viol))
                quar_rows = (
                    tagged.filter(F.size("_viol") > 0)
                    .select("doc_id", F.explode("_viol").alias("rule"))
                    .withColumn("batch_id", F.lit(-2))
                )
                src = tagged.filter(F.size("_viol") == 0).drop("_viol")
            empty = spark.createDataFrame(
                [], "band_idx int, band_hash string"
            )
            batch_bands = scoped_persist(bands_of_docs(src))
            survivors = dedup_batch_against_bands(
                src, empty, batch_bands=batch_bands
            ).localCheckpoint(eager=True)
            kept = src.join(survivors, "doc_id", "left_semi").localCheckpoint(
                eager=True
            )
            bands = batch_bands.join(survivors, "doc_id", "left_semi")
            rejected = src.join(survivors, "doc_id", "left_anti")
        else:
            if expectations:
                raise ValueError(
                    "bootstrap_pipeline: expectations cannot be combined "
                    "with precomputed bands/grams — the adoption path "
                    "trusts docs as already curated; filter upstream or "
                    "drop the precomputed artifacts"
                )
            kept = docs.localCheckpoint(eager=True)
            # adoption path: docs are described as already near-dup-free,
            # so the rejection report starts empty (still created — every
            # snapshot carries the full member set)
            rejected = spark.createDataFrame(
                [], "doc_id long, text string, lang string"
            )
        if grams is None:
            grams = _token_gram_counts(kept)
        txn = cat.transaction(spark)
        extras = [
            c for c in docs.columns if c not in ("doc_id", "text", "lang")
        ]
        # same concurrent-submit shape as corpus_batch_txn: six independent
        # member appends pay max(member), not sum(member), in job latency
        from concurrent.futures import ThreadPoolExecutor

        def _cms():
            total, agg = _batch_sketch(kept)
            txn.append(
                CMS,
                spark.createDataFrame(
                    [Row(batch_id=-1, n=total, sketch=agg.tolist())],
                    schema="batch_id long, n long, sketch array<long>",
                ).coalesce(1),
                op=op,
            )

        def _quants():
            lens = kept.select(
                "lang",
                F.size(tokens(F.col("text"))).cast("double").alias("n_tok"),
            )
            txn.append(
                QUANTS,
                summaries_for(lens, "lang", "n_tok", -1).coalesce(1),
                op=op,
            )

        appends = (
            lambda: txn.append(
                CORPUS,
                kept.select("doc_id", "text", "lang", *extras),
                op=op,
                stats_cols=["doc_id"],
            ),
            lambda: txn.append(
                BANDS, bands, op=op, stats_cols=["band_hash", "doc_id"]
            ),
            lambda: txn.append(GRAMS, grams, op=op, stats_cols=["g"]),
            lambda: txn.append(
                TOKENS, _token_count_rows(kept), op=op, stats_cols=["word"]
            ),
            lambda: txn.append(
                REJECTS, _gram_rows_of(rejected), op=op, stats_cols=["doc_id"]
            ),
            _cms,
            _quants,
        )
        if quar_rows is not None:
            appends = appends + (
                lambda: txn.append(
                    QUAR, quar_rows, op=op, stats_cols=["doc_id"]
                ),
            )
        with ThreadPoolExecutor(max_workers=len(appends)) as pool:
            for fut in [pool.submit(f) for f in appends]:
                fut.result()
        txn.commit(op=op)
        return True
    finally:
        release_persisted_since(mark)
        for df in (kept, survivors):
            if df is not None:
                free_local_checkpoint(df)


# past this many affected ids, per-file [min,max] pruning buys nothing
# (same bound + rationale as operators/dedup.py MAX_PROBE_KEYS)
MERGE_MAX_IDS = 100_000


def _touched_cells(
    spark: SparkSession, txn, cells: list[str], vec_ids: DataFrame
) -> list[str]:
    """Which IVF-PQ cell members hold any of ``vec_ids`` — resolved in
    ONE Spark job over the union of cell scans tagged with their member
    name, instead of one membership-probe job per cell (r13: at many
    cells the per-cell job loop dominates a retraction's wall clock —
    driver job-submission overhead × #cells — while the union is a
    single job whose tasks scan the same bytes in parallel). The
    rewrite that follows stays per-TOUCHED-cell; untouched cells are
    never read twice because the detection scan projects only vec_id."""
    from pyspark.sql import functions as F

    if not cells:
        return []
    tagged = None
    for c in cells:
        df = txn.read(c).select(F.lit(c).alias("_cell"), "vec_id")
        tagged = df if tagged is None else tagged.unionByName(df)
    return sorted(
        r["_cell"]
        for r in tagged.join(vec_ids, "vec_id", "left_semi")
        .select("_cell")
        .distinct()
        .collect()
    )


def _remove_ids_cow(
    spark: SparkSession,
    txn,
    name: str,
    ids: DataFrame,
    id_vals: list[int],
    op: str,
    stats_cols: list[str] | None = None,
    extra_probe: tuple[str, list] | None = None,
) -> None:
    """Remove rows with ``doc_id ∈ ids`` from member ``name`` by COPY-ON-
    WRITE: rewrite ONLY the files whose recorded [min, max] doc_id admits
    an affected id; every other file survives by reference. At 100 TB
    this is the difference between O(corpus) and O(touched files) per
    correction — the Delta-MERGE posture. Falls back to the full
    anti-join overwrite when the id set exceeds :data:`MERGE_MAX_IDS`
    (driver probe-set bound) or when stats are absent (every file kept →
    the rewrite IS the full member, same cost either way, one code path).
    """
    if len(id_vals) > MERGE_MAX_IDS:
        # live read: a full rewrite is a fold opportunity for any pending
        # MOR deletes — and copying raw rows would RESURRECT them (their
        # vector entries name the old files, which this rewrite replaces)
        txn.overwrite(
            name,
            _txn_live_read(txn, name, merge_schema=True).join(
                ids, "doc_id", "left_anti"
            ),
            stats_cols=stats_cols,
        )
        return
    touched, _total = txn.files_pruned_in(name, "doc_id", id_vals)
    if extra_probe is not None:
        # compositional pruning: both probes are sound over-approximations
        # of "files that may hold an affected row", so their intersection
        # is too. This is what keeps the BANDS member file-granular after
        # compaction z-orders it by band_hash (its doc_id stats then span
        # every file, but the gone docs' band-hash point set does not).
        col, vals = extra_probe
        if not vals:
            return  # empty probe value set ⇒ the ids own no row here
        if len(vals) <= MERGE_MAX_IDS:
            extra, _t = txn.files_pruned_in(name, col, vals)
            touched = [f for f in touched if f in set(extra)]
    if not touched:
        return  # stats prove no file holds an affected id
    survivors = spark.read.option("mergeSchema", "true").parquet(*touched)
    if name in _MOR_MEMBERS:
        # the rewritten files must not carry MOR-hidden rows forward: a
        # copied raw row would outlive its (old file, doc_id) vector entry
        # and silently reappear. Applying the vector here folds the
        # touched files' pending deletes as a free side effect.
        try:
            survivors = _apply_delete_vector(
                survivors, txn.read(DELETES), name
            )
        except KeyError:
            pass
    survivors = survivors.join(ids, "doc_id", "left_anti")
    txn.replace_files(name, touched, survivors, op=op, stats_cols=stats_cols)


def retract_docs(
    spark: SparkSession,
    cat: TableCatalog,
    doc_ids: list[int],
    op: str,
    max_retries: int = 10,
    mode: str = "cow",
) -> bool:
    """Remove previously-accepted documents from EVERY member, one CAS.

    The deletion/correction verb (GDPR erasure, takedown, bad-crawl
    rollback): after it commits, no member carries any contribution from
    the retracted documents. Per-member mechanics follow each structure's
    algebra honestly:

    - ``corpus`` / ``band_index`` — anti-join rewrite (at fleet scale
      you'd rewrite only the files whose stats admit the ids; the member
      overwrite is the semantics, file-pruned rewrite is an optimization);
    - ``gram_index`` / ``token_counts`` — NEGATIVE additive rows appended
      (the count tables are linear, so retraction is just more appends;
      compaction folds and drops zeroed keys);
    - ``token_cms`` — a NEGATIVE sketch row. Count-Min is a linear
      sketch: sketch(corpus ∖ doc) = sketch(corpus) − sketch(doc)
      EXACTLY, and since a real document's tokens are being removed the
      folded counters stay the true remaining sums — the overestimate
      guarantee survives;
    - ``len_quantiles`` — rank samples are NOT linear; the affected
      languages' summaries are rebuilt from the post-retraction corpus
      member (one scan of those partitions), unaffected languages keep
      their rows untouched;
    - IVF-PQ cells — the documents' codes anti-joined out of the cells
      that held them.

    Semantics note: retraction removes CONTRIBUTIONS; it does not replay
    admission history. A near-duplicate that was rejected because the
    retracted document got there first stays rejected — erasure, not
    time travel. (Equality with a never-ingested run therefore holds
    exactly when the retracted docs caused no rejections — pinned on a
    collision-free doc in tests.)

    REJECTED documents are erasable too: their only stored trace is the
    ``rejected_grams`` member (content-derived digests + positions), and
    retraction purges those rows — an erasure request does not care
    whether the pipeline originally kept the document.

    Exactly-once per ``op`` from the catalog ledger; racing batches
    CAS-conflict and one side re-plans. Raises if none of ``doc_ids``
    is in the corpus OR the rejection report (a silent no-op would mask
    an erasure failure).

    ``mode="mor"`` (merge-on-read, r12): instead of rewriting corpus /
    band files, ONE append to the :data:`DELETES` vector records the
    affected (member, file, doc_id) physical rows — O(metadata) at
    retract time where copy-on-write is O(touched files). Every read
    path (serving :func:`member`, admission probes, later corrections)
    applies the vector, so the logical deletion is immediate and
    indistinguishable from COW; the PHYSICAL erasure lands when
    :func:`apply_deletes` or :func:`compact_pipeline` folds the vector —
    call one of them within your erasure SLA. Everything else is
    identical in both modes: the linear members take their negative rows
    NOW (deferral would buy nothing — they're O(delta) appends), the
    affected languages' quantiles rebuild from the live view, audit
    members (rejection report / quarantine / WAL) purge by COW — they
    are tiny, content-free, and the stored-trace erasure should not wait
    for a maintenance window.
    """
    from pyspark.sql import functions as F

    from ..functions.text import tokens
    from ..sources.substring_index import _token_gram_counts
    from .heavy import _batch_sketch
    from .quantiles import summaries_for

    if mode not in ("cow", "mor"):
        raise ValueError(f"retract_docs: unknown mode {mode!r}")
    if op in cat.committed_ops():
        return False
    for _ in range(max_retries):
        txn = cat.transaction(spark)
        # linearizable replay check (see corpus_batch_txn): a duplicate
        # retraction attempt that landed since the top-of-function check
        # must no-op here, not erase twice / re-rebuild quantiles
        if op in cat.committed_ops():
            return False
        ids = spark.createDataFrame(
            [(int(d),) for d in doc_ids], "doc_id long"
        )
        # merge-schema throughout: the anti-join rewrites below replace
        # whole members, and the pinned (newest-append) schema may be
        # narrower than earlier batches' evolved columns (r10 advice)
        gone = (
            # live view: an id already MOR-retracted contributes nothing
            # here — recomputing its negative rows would double-subtract
            _txn_live_read(txn, CORPUS, merge_schema=True)
            .join(ids, "doc_id", "left_semi")
            .localCheckpoint(eager=True)
        )
        try:
            names = cat.snapshot(spark, txn.base_version)
            n_gone = gone.count()
            rej_gone = 0
            if REJECTS in names:
                rej_gone = (
                    txn.read(REJECTS)
                    .join(ids, "doc_id", "left_semi")
                    .limit(1)
                    .count()
                )
            quar_gone = 0
            if QUAR in names:
                quar_gone = (
                    txn.read(QUAR)
                    .join(ids, "doc_id", "left_semi")
                    .limit(1)
                    .count()
                )
            if not n_gone and not rej_gone and not quar_gone:
                raise NothingToRetract(
                    f"none of {sorted(set(doc_ids))[:10]}... is in the corpus, "
                    f"the rejection report, or the quarantine at {cat.root}; "
                    "nothing to retract"
                )
            id_vals = sorted({int(d) for d in doc_ids})
            if rej_gone:
                _remove_ids_cow(
                    spark, txn, REJECTS, ids, id_vals, op, stats_cols=["doc_id"]
                )
            if quar_gone:
                # erasure covers the audit trail too: quarantine rows are
                # content-free (doc_id, rule, batch_id) but they are still
                # a stored trace of the document's ingest attempts
                _remove_ids_cow(
                    spark, txn, QUAR, ids, id_vals, op, stats_cols=["doc_id"]
                )
            if WAL in names:
                # branch input WAL: (op, doc_id) rows are content-free but
                # trace a submission — purge them like quarantine rows. A
                # later rebase replay then resubmits WITHOUT the erased id.
                wal_gone = (
                    txn.read(WAL)
                    .join(ids, "doc_id", "left_semi")
                    .limit(1)
                    .count()
                )
                if wal_gone:
                    _remove_ids_cow(
                        spark,
                        txn,
                        WAL,
                        ids,
                        id_vals,
                        op,
                        stats_cols=["op", "doc_id"],
                    )
            if not n_gone:
                # rejected/quarantined-only erasure: no data member saw it
                txn.commit(op=op)
                return True
            if mode == "mor":
                # merge-on-read: ONE metadata-sized append names the
                # physical rows; no corpus/band file is rewritten. The
                # pair scan is file-pruned exactly like the COW probe
                # would be (doc_id stats admit the ids), and a duplicate
                # pair (an id re-inserted then re-retracted) is harmless —
                # anti-joins and folds are idempotent over pairs.
                def _vector_rows(name: str) -> DataFrame:
                    return (
                        txn.read(name, merge_schema=True)
                        .withColumn("file", _file_basename_col())
                        .join(ids, "doc_id", "left_semi")
                        .select(
                            F.lit(name).alias("member"), "file", "doc_id"
                        )
                        .distinct()
                    )

                vec = _vector_rows(CORPUS).unionByName(_vector_rows(BANDS))
                for media in _BANDED_MEDIA:
                    if media in names:
                        vec = vec.unionByName(_vector_rows(media))
                txn.append(
                    DELETES,
                    vec,
                    op=op,
                    stats_cols=["doc_id"],
                )
            else:
                # copy-on-write removals: only files whose doc_id stats
                # admit a retracted id are rewritten; the rest survive by
                # reference
                _remove_ids_cow(
                    spark, txn, CORPUS, ids, id_vals, op, stats_cols=["doc_id"]
                )
                # the gone docs' own band hashes sharpen the file probe:
                # after compaction z-orders BANDS by band_hash, doc_id
                # stats span every file but this point set does not
                # (≤ N_BANDS per doc)
                gone_hashes = [
                    r["band_hash"]
                    for r in _txn_live_read(txn, BANDS)
                    .join(ids, "doc_id", "left_semi")
                    .select("band_hash")
                    .distinct()
                    .collect()
                ]
                _remove_ids_cow(
                    spark,
                    txn,
                    BANDS,
                    ids,
                    id_vals,
                    op,
                    stats_cols=["band_hash", "doc_id"],
                    extra_probe=("band_hash", gone_hashes),
                )
                for media in _BANDED_MEDIA:
                    if media in names:
                        _remove_ids_cow(
                            spark,
                            txn,
                            media,
                            ids,
                            id_vals,
                            op,
                            stats_cols=_MOR_STATS[media],
                        )
            # read-your-writes: the staged post-removal corpus (live —
            # other docs' pending MOR deletes must stay invisible too)
            remaining = _txn_live_read(txn, CORPUS, merge_schema=True)
            neg = _token_gram_counts(gone).select(
                "g", (-F.col("n")).alias("n")
            )
            txn.append(GRAMS, neg, op=op, stats_cols=["g"])
            if TOKENS in names:  # catalogs predating the member: nothing to subtract
                neg_tok = _token_count_rows(gone).select(
                    "word", (-F.col("n")).alias("n")
                )
                txn.append(TOKENS, neg_tok, op=op, stats_cols=["word"])
            total, agg = _batch_sketch(gone)
            txn.append(
                CMS,
                spark.createDataFrame(
                    [Row(batch_id=-3, n=-total, sketch=(-agg).tolist())],
                    schema="batch_id long, n long, sketch array<long>",
                ).coalesce(1),
                op=op,
            )
            affected = [r["lang"] for r in gone.select("lang").distinct().collect()]
            # three-valued logic (r10 advice, medium): a NULL in `affected`
            # makes `isin` evaluate to NULL for every non-matching row, so
            # `~isin` would silently DROP every untouched language's
            # summary. Split the null-lang case into explicit isNull()
            # branches and coalesce the predicate so NULL never leaks.
            null_affected = any(a is None for a in affected)
            affected_nn = [a for a in affected if a is not None]
            is_affected = (
                F.col("event_type").isin(affected_nn)
                if affected_nn
                else F.lit(False)
            )
            if null_affected:
                is_affected = is_affected | F.col("event_type").isNull()
            keep_rows = txn.read(QUANTS).filter(
                ~F.coalesce(is_affected, F.lit(False))
            )
            redo_pred = (
                F.col("lang").isin(affected_nn) if affected_nn else F.lit(False)
            )
            if null_affected:
                redo_pred = redo_pred | F.col("lang").isNull()
            redo = remaining.filter(F.coalesce(redo_pred, F.lit(False))).select(
                "lang",
                F.size(tokens(F.col("text"))).cast("double").alias("n_tok"),
            )
            txn.overwrite(
                QUANTS,
                keep_rows.unionByName(
                    summaries_for(redo, "lang", "n_tok", -3)
                ).coalesce(1),
            )
            if "centroids" in names:
                # PQ cells stay COPY-ON-WRITE by decision (r13, measured —
                # see SURVEY §2 #... closure): touch detection is ONE
                # union-scan job, the rewrite is O(touched cells) whose
                # sizes the IVF maintenance bounds, and a MOR deferral
                # would put a vector anti-join inside every ANN probe's
                # served hot path to save rewrites that are already small.
                vec_ids = ids.select(F.col("doc_id").alias("vec_id"))
                cells = [r["cell"] for r in txn.read("centroids").collect()]
                for cell in _touched_cells(spark, txn, cells, vec_ids):
                    txn.overwrite(
                        cell,
                        txn.read(cell).join(vec_ids, "vec_id", "left_anti"),
                    )
            txn.commit(op=op)
            return True
        except CommitConflict:
            continue  # a batch landed mid-retraction; redo on the new base
        finally:
            free_local_checkpoint(gone)
    raise CommitConflict(
        f"retraction {op!r} lost the catalog race {max_retries} times at {cat.root}"
    )


def retract_docs_mor(
    spark: SparkSession,
    cat: TableCatalog,
    doc_ids: list[int],
    op: str,
    max_retries: int = 10,
) -> bool:
    """Merge-on-read retraction: :func:`retract_docs` with ``mode="mor"``
    — logical deletion via one delete-vector append (O(metadata)),
    physical erasure deferred to :func:`apply_deletes` /
    :func:`compact_pipeline`."""
    return retract_docs(spark, cat, doc_ids, op, max_retries, mode="mor")


def retract_where(
    spark: SparkSession,
    cat: TableCatalog,
    predicate: str,
    op: str,
    max_retries: int = 10,
    mode: str = "cow",
    max_ids: int = 5_000_000,
) -> bool:
    """Predicate erasure: retract every LIVE document matching a SQL
    predicate over the corpus member's columns (``"lang = 'de'"``,
    ``"source = 'badcrawl' AND doc_id < 1000"``) — the DELETE-WHERE verb
    a takedown or bad-crawl rollback actually issues, composed from
    :func:`retract_docs` so both erasure modes, the member algebra, and
    exactly-once come along unchanged.

    Resolution happens on the transaction-free LIVE view (MOR deletes
    applied — an already-erased doc must not resolve), then the id set
    goes through the ordinary retraction CAS loop; a batch landing
    between resolution and commit conflicts there and the retry
    RE-RESOLVES, so a matching doc admitted mid-verb is either fully
    covered or untouched-and-matchable-again, never half-erased.

    ``max_ids`` bounds the driver-held id list (the same probe-set
    posture as ``MERGE_MAX_IDS``); past it, refuse loudly — an erasure
    that big should run as a sequence of narrower predicates (or a
    full-member rewrite a human signs off on), not an accidental
    corpus wipe.
    """
    from pyspark.sql import functions as F

    if op in cat.committed_ops():
        return False
    for _ in range(max_retries):
        txn = cat.transaction(spark)
        ids_df = (
            _txn_live_read(txn, CORPUS, merge_schema=True)
            .filter(F.expr(predicate))
            .select("doc_id")
        )
        # one job resolves the bound check AND the id list (the live-view
        # scan — corpus + vector anti-join + predicate — is paid once)
        rows = ids_df.limit(max_ids + 1).collect()
        if len(rows) > max_ids:
            raise ValueError(
                f"retract_where: predicate {predicate!r} matches more than "
                f"max_ids={max_ids} live documents at {cat.root}; split the "
                "erasure or raise the bound explicitly"
            )
        ids = sorted(int(r["doc_id"]) for r in rows)
        if not ids:
            raise NothingToRetract(
                f"retract_where: predicate {predicate!r} matches no live "
                f"document at {cat.root}; nothing to retract"
            )
        try:
            return retract_docs(spark, cat, ids, op, max_retries=1, mode=mode)
        except CommitConflict:
            continue  # re-resolve against the moved snapshot
    raise CommitConflict(
        f"retract_where {op!r} lost the catalog race {max_retries} times "
        f"at {cat.root}"
    )


def apply_deletes(
    spark: SparkSession,
    cat: TableCatalog,
    op: str | None = None,
    max_retries: int = 10,
) -> int:
    """Fold the MOR delete vector back into copy-on-write, ONE CAS.

    The maintenance half of ``retract_docs(mode="mor")``: rewrite ONLY
    the files the vector names (minus their deleted rows — and minus any
    pairs whose file a later COW correction already replaced, which are
    inert), then truncate the vector in the same commit. After it lands,
    the physical state is identical to having retracted copy-on-write in
    the first place; readers never see an intermediate (the vector and
    the rewrites publish atomically). This is the deletion-vector →
    compaction lifecycle Delta/Iceberg run on a schedule; unlike
    :func:`compact_pipeline` it re-clusters nothing — cost is exactly
    O(files holding deleted rows).

    Driver work is one DISTINCT (member, file) collect — bounded by the
    files touched since the last fold, not by row count. Exactly-once
    when ``op`` is passed; the default label is base-version-scoped (a
    retry after a conflict re-plans on fresh state, so idempotence comes
    from the vector being empty on re-entry). Returns files rewritten.
    """
    import os

    for _ in range(max_retries):
        txn = cat.transaction(spark)
        names = cat.snapshot(spark, txn.base_version)
        if DELETES not in names:
            return 0
        label = op or f"apply-deletes-{txn.base_version}"
        if label in cat.committed_ops():
            return 0
        dels = txn.read(DELETES)
        touched = [
            (r["member"], r["file"])
            for r in dels.select("member", "file").distinct().collect()
        ]
        if not touched:
            return 0
        n_rewritten = 0
        for name in _MOR_MEMBERS:
            try:
                live = {os.path.basename(p): p for p in txn.files(name)}
            except KeyError:
                continue  # member absent (e.g. image gate never armed)
            fl = sorted(
                {f for m, f in touched if m == name and f in live}
            )
            if not fl:
                continue
            survivors = _apply_delete_vector(
                spark.read.option("mergeSchema", "true").parquet(
                    *[live[f] for f in fl]
                ),
                dels,
                name,
            )
            txn.replace_files(
                name,
                fl,
                survivors,
                op=label,
                stats_cols=_MOR_STATS[name],
            )
            n_rewritten += len(fl)
        # DROP, not overwrite-empty: an absent vector member short-circuits
        # every later live read (no anti-join, no member scan); the next
        # MOR retraction re-creates it
        txn.drop(DELETES)
        try:
            txn.commit(op=label)
            return n_rewritten
        except CommitConflict:
            continue  # a batch landed mid-fold; re-plan on the new base
    raise CommitConflict(
        f"apply-deletes lost the catalog race {max_retries} times at {cat.root}"
    )


def deletes_status(spark: SparkSession, cat: TableCatalog) -> dict:
    """Pending-delete-vector report — what an operator reads before
    scheduling :func:`apply_deletes` against an erasure SLA.

    Metadata + one tiny member scan (the vector is bounded by
    retractions since the last fold): per member, the pending pair
    count, the distinct files a fold would rewrite (inert entries for
    already-replaced files excluded — those cost nothing), and that
    member's total live file count for the rewrite fraction.
    Returns ``{}`` when no vector member exists (nothing pending).
    """
    import os

    from pyspark.sql import functions as F

    # one transaction = one consistent base version for the vector AND
    # the live-file sets (the same resolution apply_deletes uses): a
    # concurrent fold dropping the member mid-report, or pair counts and
    # file sets read from different snapshots, can't skew the numbers
    txn = cat.transaction(spark)
    try:
        dels = txn.read(DELETES)
    except KeyError:
        return {}
    counts = {
        (r["member"], r["file"]): r["n"]
        for r in dels.groupBy("member", "file")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    out: dict = {}
    for name in _MOR_MEMBERS:
        try:
            live = {os.path.basename(p) for p in txn.files(name)}
        except KeyError:
            continue  # member absent (e.g. image gate never armed)
        mine = {f: n for (m, f), n in counts.items() if m == name}
        fold_files = [f for f in mine if f in live]
        out[name] = {
            "pending_pairs": int(sum(mine.values())),
            "files_to_rewrite": len(fold_files),
            "inert_entries": int(
                sum(n for f, n in mine.items() if f not in live)
            ),
            "member_files": len(live),
        }
    return out


def _vector_age_commits(spark: SparkSession, cat: TableCatalog) -> int:
    """How many catalog commits the CURRENT delete-vector streak has been
    pending: walks back from the newest version while the vector member
    is present. A truncated (checkpointed-away) snapshot means the
    streak extends past the ledger's horizon — the walk cannot see how
    much further — so the CONSERVATIVE answer for an age-based SLA is
    ``sys.maxsize`` (older than any finite threshold: the fold TRIPS).
    Returning the partial count instead would cap measurable age at the
    ledger checkpoint interval (default 16) and a threshold above it
    could never trip (r13 self-review).
    O(streak) driver-side manifest reads, no jobs."""
    import sys

    cur = cat.version()
    first = None
    v = cur
    while v >= 0:
        try:
            snap = cat.snapshot(spark, v)
        except FileNotFoundError:
            return sys.maxsize  # streak crosses the truncation horizon
        if DELETES not in snap:
            break
        first = v
        v -= 1
    return 0 if first is None else cur - first + 1


def maintain_deletes(
    spark: SparkSession,
    cat: TableCatalog,
    max_pending_pairs: int | None = None,
    max_rewrite_files: int | None = None,
    max_age_commits: int | None = None,
) -> int:
    """Erasure-SLA maintenance policy (r13, r12 verdict #5): fold the MOR
    delete vector (:func:`apply_deletes`) when any threshold trips, no-op
    otherwise. Returns files rewritten (0 = nothing pending or no trip).

    The operator's contract made concrete: ``retract_docs(mode="mor")``
    is O(metadata) at request time BECAUSE the physical erasure batches
    into a maintenance window — this verb IS that window's trigger, so a
    follower can run unattended while the vector stays bounded by policy
    instead of by an operator watching :func:`deletes_status`:

    - ``max_pending_pairs`` — bound on total vector rows (serve-side
      anti-join cost is ∝ pending pairs);
    - ``max_rewrite_files`` — bound on the files a fold would rewrite
      (fold cost; also the knob that keeps each fold's window small);
    - ``max_age_commits`` — bound on how many catalog commits the current
      vector streak has been pending (the GDPR wall-clock proxy in ledger
      time: every erasure request is at most that many commits from
      physical erasure).

    Thresholds are AND-of-None / OR-of-tripped: pass only the ones your
    SLA names. Cost when nothing trips: the ``deletes_status`` metadata
    scan (+ the O(streak) age walk if requested) — cheap enough for every
    follower batch.
    """
    st = deletes_status(spark, cat)
    if not st:
        return 0
    pend = sum(m["pending_pairs"] for m in st.values())
    files = sum(m["files_to_rewrite"] for m in st.values())
    trip = (
        max_pending_pairs is not None and pend > max_pending_pairs
    ) or (max_rewrite_files is not None and files > max_rewrite_files)
    if not trip and max_age_commits is not None:
        trip = _vector_age_commits(spark, cat) > max_age_commits
    if not trip:
        return 0
    return apply_deletes(spark, cat)


def start_erasure_follower(
    stream_requests: DataFrame,
    catalog_root: str,
    checkpoint_dir: str,
    app_id: str = "erasure",
    mode: str = "mor",
    ledger: str = "_catalog",
    writer_token: str | None = None,
    maintain: dict | None = None,
):
    """Erasure-request stream → one retraction transaction per micro-batch.

    The GDPR shape a production pipeline actually runs: deletion requests
    arrive CONTINUOUSLY (a ``doc_id`` column is all the stream needs),
    and each micro-batch applies one :func:`retract_docs` transaction —
    ``mode="mor"`` by default, so steady-state erasure is O(metadata) per
    batch (one delete-vector append + the additive negatives) and the
    file rewrites batch into whatever :func:`apply_deletes` /
    :func:`compact_pipeline` cadence the erasure SLA dictates.

    Exactly-once mirrors :func:`start_corpus_pipeline`: the op label is
    ``<app_id>-batch-<id>``, so Spark's at-least-once ``foreachBatch``
    (or a checkpoint-wiped restart) re-delivering a batch is a ledger
    no-op — negatives can never double-subtract. One follower semantics
    difference from the interactive verb: a batch whose ids are ALL
    absent from the catalog completes as a no-op instead of raising —
    erasure is a final-state goal, and for a stream "never ingested or
    already erased" IS the goal state (the interactive verb keeps its
    loud :class:`NothingToRetract`, where a typo'd id means a human is
    watching). The goal-state batch still COMMITS an empty marker
    transaction under its op label: an un-ledgered batch would not be a
    batch at all — a checkpoint-wiped replay of it after the requested
    id finally got ingested would erase a document the original
    execution did not (at-least-once must replay EFFECTS, not re-decide
    them). Requests for ids that were only ever REJECTED still purge
    their stored traces, exactly like the verb. NULL ids (a malformed
    request record under the PERMISSIVE reader) are dropped rather than
    wedging the query.

    ``writer_token`` carries an :meth:`~..sources.catalog.TableCatalog.
    acquire_app_id` lease into every batch, mirroring the ingest
    follower: two erasure followers accidentally sharing an ``app_id``
    would silently alias each other's batch ids as replays and SKIP
    erasures — with a token, the expropriated follower fails loudly
    before minting an op label.

    Driver work per batch is the distinct-id collect — erasure batches
    are request-sized, not corpus-sized.

    ``maintain`` (r13, r12 verdict #5) arms the in-loop erasure-SLA
    policy: a dict of :func:`maintain_deletes` thresholds (e.g.
    ``{"max_pending_pairs": 10_000, "max_age_commits": 32}``) checked
    after every batch, so the follower keeps the vector bounded WITHOUT
    an operator scheduling folds. The fold is its own ledgered commit —
    a crash between retraction and fold re-trips the policy on the next
    batch, and a replayed batch (retraction no-op) still folds if the
    thresholds say so.
    """
    from pyspark.sql import functions as F

    spark = stream_requests.sparkSession
    cat = TableCatalog(catalog_root, ledger=ledger)

    def _one(df: DataFrame, bid: int) -> None:
        ids = [
            int(r["doc_id"])
            for r in df.select("doc_id")
            .filter(F.col("doc_id").isNotNull())
            .distinct()
            .collect()
        ]
        if not ids:
            if maintain:
                # r14 (r13 advice): maintenance folds COMMIT rewritten
                # members — a fenced-out zombie follower must fail the
                # lease check before it can fold, same as before a
                # retraction. The empty-batch path previously skipped
                # the fence entirely.
                if writer_token is not None:
                    cat.check_app_id(app_id, writer_token)
                maintain_deletes(spark, cat, **maintain)
            return
        op = f"{app_id}-batch-{bid}"
        if writer_token is not None:
            cat.check_app_id(app_id, writer_token)
        try:
            retract_docs(spark, cat, ids, op=op, mode=mode)
            if maintain:
                maintain_deletes(spark, cat, **maintain)
        except NothingToRetract:
            # all ids already absent everywhere: the erasure is complete
            # by definition — but the DECISION must still be ledgered, or
            # a checkpoint-wiped replay after one of these ids finally
            # got ingested would erase what this execution did not
            for _ in range(10):
                if op in cat.committed_ops():
                    break
                txn = cat.transaction(spark)
                if op in cat.committed_ops():  # linearizable recheck
                    break
                try:
                    txn.commit(op=op, force=True)  # content-no-op marker
                    break
                except CommitConflict:
                    continue
            else:
                raise CommitConflict(
                    f"erasure marker {op!r} lost the catalog race at {cat.root}"
                )
            # the policy runs on EVERY batch outcome (r13 self-review):
            # a goal-state batch adds nothing, but an age threshold can
            # trip on it — the final availableNow batch must not strand
            # a tripping vector unfolded
            if maintain:
                maintain_deletes(spark, cat, **maintain)

    return (
        stream_requests.writeStream.foreachBatch(_one)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def update_docs(
    spark: SparkSession,
    cat: TableCatalog,
    new_docs: DataFrame,
    op: str,
    max_retries: int = 10,
    emb_batch: DataFrame | None = None,
    expectations: list[tuple[str, str]] | None = None,
) -> bool:
    """UPSERT documents into every member in ONE catalog CAS (r11).

    The MERGE/correction verb the retraction verb started (r10 verdict
    #3): "this document changed" was previously ``retract_docs`` then a
    fresh ``corpus_batch_txn`` — two catalog commits, so a reader could
    observe the in-between snapshot where the doc is absent from every
    member. This verb composes the same member algebras in ONE
    transaction, so there is no intermediate catalog version at all:

    - old versions of ``new_docs``' ids lose their contributions exactly
      as in :func:`retract_docs` (anti-join rewrites for corpus/bands,
      negative additive rows for grams/token counts, a negative CMS
      term, affected-language quantile rebuild, PQ-cell code removal);
    - the new versions are ADMITTED like a micro-batch: near-dup-probed
      against the band index MINUS the replaced ids' own bands (a doc
      must never collide with the version it replaces), in-batch dedup
      included; rejected new versions land in the rejection report;
    - ids absent from the catalog insert cleanly (upsert, not update-
      only), and the additive members take ONE append each carrying the
      negative and positive rows together.

    Admission history is not replayed (same honest semantics note as
    retraction): a past near-duplicate that lost to the OLD version
    stays rejected even if the new text no longer collides.

    ``emb_batch`` mirrors :func:`corpus_batch_txn`: (doc_id, e) rows for
    the new versions, encoded with the catalog's SERVED IVF-PQ model so
    replaced codes leave and replacement codes land in the same commit.

    ``expectations`` mirrors ingest's constraint gate (r11): a revision
    failing a rule is QUARANTINED — its audit rows (batch_id −4) land in
    the ``quarantine`` member and the OLD version STAYS untouched
    (refusing a correction is not erasing the record). Every id the
    attempt touched clears its previous audit rows first, so the member
    reads as each document's LATEST adjudication: a fixed revision's
    stale indictment disappears in the same commit that admits it.

    Exactly-once per ``op`` from the catalog ledger; CAS conflicts
    re-plan against the new snapshot. Returns False on replay.
    """
    from pyspark.sql import functions as F

    from ..functions.caching import scoped_persist
    from ..functions.text import tokens
    from ..operators.pq_index import PqIvfIndex
    from ..sources.substring_index import _token_gram_counts
    from .heavy import _batch_sketch
    from .quantiles import summaries_for

    if op in cat.committed_ops():
        return False
    for _ in range(max_retries):
        mark = persisted_count()
        txn = cat.transaction(spark)
        # linearizable replay check (see corpus_batch_txn)
        if op in cat.committed_ops():
            return False
        survivors = kept = gone = None
        try:
            names = cat.snapshot(spark, txn.base_version)
            # constraint parity with ingest (r11): a revision failing an
            # expectation is QUARANTINED — audit rows land, the OLD
            # version STAYS (the correction is refused per-doc; refusing
            # is not erasing). Clean revisions proceed unchanged.
            src_docs = new_docs
            quar_rows = None
            if expectations:
                viol = F.array_compact(
                    F.array(
                        *[
                            F.when(
                                ~F.coalesce(F.expr(expr), F.lit(False)),
                                F.lit(name),
                            )
                            for name, expr in expectations
                        ]
                    )
                )
                tagged = scoped_persist(new_docs.withColumn("_viol", viol))
                quar_rows = (
                    tagged.filter(F.size("_viol") > 0)
                    .select("doc_id", F.explode("_viol").alias("rule"))
                    .withColumn("batch_id", F.lit(-4))
                )
                src_docs = tagged.filter(F.size("_viol") == 0).drop("_viol")
            ids = src_docs.select("doc_id").distinct()
            # live view: upserting a MOR-retracted id is a clean INSERT
            # (its old version is logically gone — no negative rows), and
            # other docs' pending deletes must not leak into `remaining`
            corpus0 = _txn_live_read(txn, CORPUS, merge_schema=True)
            gone = (
                corpus0.join(ids, "doc_id", "left_semi")
                .localCheckpoint(eager=True)
            )
            # the standing index minus the replaced ids' own bands: the
            # replacement text must not near-dup-collide with itself
            bands_kept = _txn_live_read(txn, BANDS, merge_schema=True).join(
                ids, "doc_id", "left_anti"
            )
            batch_bands = scoped_persist(bands_of_docs(src_docs))
            survivors = dedup_batch_against_bands(
                src_docs, bands_kept, batch_bands=batch_bands
            ).localCheckpoint(eager=True)
            kept = src_docs.join(survivors, "doc_id", "left_semi").localCheckpoint(
                eager=True
            )
            rejected = src_docs.join(survivors, "doc_id", "left_anti")
            extras = [
                c
                for c in src_docs.columns
                if c not in ("doc_id", "text", "lang")
            ]

            remaining = corpus0.join(ids, "doc_id", "left_anti")
            # file-granular removal of the replaced versions (copy-on-
            # write; O(touched files)); past the probe bound, collect
            # nothing and fall back to the full anti-join overwrite
            id_vals = None
            if ids.limit(MERGE_MAX_IDS + 1).count() <= MERGE_MAX_IDS:
                id_vals = sorted(int(r["doc_id"]) for r in ids.collect())

            def _rm(
                name: str,
                stats: list[str],
                extra: tuple[str, list] | None = None,
            ) -> None:
                if id_vals is None:
                    # live read: this full rewrite replaces every file, so
                    # copying raw rows would resurrect other docs' MOR-
                    # hidden rows (their vector entries die with the old
                    # files) — same rule as _remove_ids_cow's fallback
                    txn.overwrite(
                        name,
                        _txn_live_read(txn, name, merge_schema=True).join(
                            ids, "doc_id", "left_anti"
                        ),
                        stats_cols=stats,
                    )
                else:
                    _remove_ids_cow(
                        spark,
                        txn,
                        name,
                        ids,
                        id_vals,
                        op,
                        stats_cols=stats,
                        extra_probe=extra,
                    )

            _rm(CORPUS, ["doc_id"])
            txn.append(
                CORPUS,
                kept.select("doc_id", "text", "lang", *extras),
                op=op,
                stats_cols=["doc_id"],
            )
            old_hashes = None
            if id_vals is not None:
                # the replaced versions' own band hashes (≤ N_BANDS per
                # doc): sharpens BANDS file pruning post-compaction
                old_hashes = [
                    r["band_hash"]
                    for r in txn.read(BANDS)
                    .join(ids, "doc_id", "left_semi")
                    .select("band_hash")
                    .distinct()
                    .collect()
                ]
            _rm(
                BANDS,
                ["band_hash", "doc_id"],
                extra=None if old_hashes is None else ("band_hash", old_hashes),
            )
            txn.append(
                BANDS,
                batch_bands.join(survivors, "doc_id", "left_semi"),
                op=op,
                stats_cols=["band_hash", "doc_id"],
            )
            for media in _BANDED_MEDIA:
                if media not in names:
                    continue
                # media-gated catalogs: the correction replaces the docs'
                # banded hashes too, or a later probe would judge against
                # the superseded version's image/audio
                from ..operators.multimodal import (
                    audio_fp_bands_of,
                    phash_bands_of,
                )

                bands_of = (
                    phash_bands_of if media == PHASH else audio_fp_bands_of
                )
                _rm(media, _MOR_STATS[media])
                txn.append(
                    media,
                    bands_of(kept).join(survivors, "doc_id", "left_semi"),
                    op=op,
                    stats_cols=_MOR_STATS[media],
                )
            # additive members: negative (old) and positive (new) rows in
            # one append each — the fold is the state, rows are the delta
            neg_g = _token_gram_counts(gone).select(
                "g", (-F.col("n")).alias("n")
            )
            txn.append(
                GRAMS,
                neg_g.unionByName(_token_gram_counts(kept)),
                op=op,
                stats_cols=["g"],
            )
            if TOKENS in names:
                neg_t = _token_count_rows(gone).select(
                    "word", (-F.col("n")).alias("n")
                )
                txn.append(
                    TOKENS,
                    neg_t.unionByName(_token_count_rows(kept)),
                    op=op,
                    stats_cols=["word"],
                )
            old_total, old_agg = _batch_sketch(gone)
            new_total, new_agg = _batch_sketch(kept)
            txn.append(
                CMS,
                spark.createDataFrame(
                    [
                        Row(
                            batch_id=-4,
                            n=new_total - old_total,
                            sketch=(new_agg - old_agg).tolist(),
                        )
                    ],
                    schema="batch_id long, n long, sketch array<long>",
                ).coalesce(1),
                op=op,
            )
            # rank samples are not linear: rebuild every language either
            # side touched, from the POST-update corpus (remaining ∪ kept)
            affected = {
                r["lang"]
                for r in gone.select("lang")
                .union(kept.select("lang"))
                .distinct()
                .collect()
            }
            null_affected = None in affected
            affected_nn = [a for a in affected if a is not None]
            is_affected = (
                F.col("event_type").isin(affected_nn)
                if affected_nn
                else F.lit(False)
            )
            if null_affected:
                is_affected = is_affected | F.col("event_type").isNull()
            keep_rows = txn.read(QUANTS).filter(
                ~F.coalesce(is_affected, F.lit(False))
            )
            redo_pred = (
                F.col("lang").isin(affected_nn) if affected_nn else F.lit(False)
            )
            if null_affected:
                redo_pred = redo_pred | F.col("lang").isNull()
            final_corpus = remaining.select("doc_id", "text", "lang").unionByName(
                kept.select("doc_id", "text", "lang")
            )
            redo = final_corpus.filter(
                F.coalesce(redo_pred, F.lit(False))
            ).select(
                "lang",
                F.size(tokens(F.col("text"))).cast("double").alias("n_tok"),
            )
            txn.overwrite(
                QUANTS,
                keep_rows.unionByName(
                    summaries_for(redo, "lang", "n_tok", -4)
                ).coalesce(1),
            )
            if REJECTS in names:
                # purge any stored trace of the replaced versions, then
                # store the NEW versions' rejection report rows
                _rm(REJECTS, ["doc_id"])
                txn.append(
                    REJECTS,
                    _gram_rows_of(rejected),
                    op=op,
                    stats_cols=["doc_id"],
                )
            if expectations:
                # latest-adjudication semantics: every id this attempt
                # touched clears its old audit rows (a fixed revision's
                # stale indictment must not linger); this attempt's own
                # violations land in the same commit
                attempt_ids = new_docs.select("doc_id").distinct()
                if QUAR in names:
                    if (
                        attempt_ids.limit(MERGE_MAX_IDS + 1).count()
                        <= MERGE_MAX_IDS
                    ):
                        a_vals = sorted(
                            int(r["doc_id"]) for r in attempt_ids.collect()
                        )
                        _remove_ids_cow(
                            spark,
                            txn,
                            QUAR,
                            attempt_ids,
                            a_vals,
                            op,
                            stats_cols=["doc_id"],
                        )
                    else:
                        txn.overwrite(
                            QUAR,
                            txn.read(QUAR, merge_schema=True).join(
                                attempt_ids, "doc_id", "left_anti"
                            ),
                            stats_cols=["doc_id"],
                        )
                txn.append(QUAR, quar_rows, op=op, stats_cols=["doc_id"])
            if "centroids" in names:
                # same one-job touch detection + COW decision as
                # retract_docs (r13)
                vec_ids = ids.select(F.col("doc_id").alias("vec_id"))
                cells = [r["cell"] for r in txn.read("centroids").collect()]
                for cell in _touched_cells(spark, txn, cells, vec_ids):
                    txn.overwrite(
                        cell,
                        txn.read(cell).join(
                            vec_ids, "vec_id", "left_anti"
                        ),
                    )
                if emb_batch is not None:
                    pq = PqIvfIndex(cat.root)
                    books, cells = pq.snapshot(spark, txn.base_version)
                    kept_emb = emb_batch.join(
                        survivors, "doc_id", "left_semi"
                    ).select(F.col("doc_id").alias("vec_id"), "e")
                    rows = pq.encode_with_model(spark, kept_emb, books, cells)
                    pq.stage_append(txn, rows, cells, op=op)
            try:
                txn.commit(op=op)
                return True
            except CommitConflict:
                continue  # a batch landed mid-update; re-plan on the new base
        finally:
            release_persisted_since(mark)
            for df in (survivors, kept, gone):
                if df is not None:
                    free_local_checkpoint(df)
    raise CommitConflict(
        f"update {op!r} lost the catalog race {max_retries} times at {cat.root}"
    )


def compact_pipeline(
    spark: SparkSession,
    cat: TableCatalog,
    num_files: int = 8,
    max_retries: int = 10,
) -> int:
    """OPTIMIZE the whole pipeline in ONE maintenance transaction.

    Years of micro-batches leave every member log-structured: per-batch
    gram-count fragments, one sketch row per batch, per-batch quantile
    summaries, small corpus/band/code files. This verb rewrites them all
    and publishes one catalog CAS — answers unchanged (additivity /
    mergeability per member), file counts bounded, and the gram/band
    members re-clustered with per-file [min, max] stats so point probes
    prune again (the OPTIMIZE-ZORDER half of the lakehouse story):

    - ``gram_index`` → one pre-combined row per digest, range-clustered
      on ``g`` with stats (the steady-state layout ``build_gram_index``
      ships; incremental appends erode it, this restores it);
    - ``token_counts`` → folded by word (zero-count words from retraction
      dropped), range-clustered on ``word`` with stats;
    - ``band_index`` → hash-range-clustered on ``band_hash`` with stats;
    - ``token_cms``  → the elementwise-summed single sketch row;
    - ``len_quantiles`` → one recompressed row per type, recompression
      cost honestly ADDED to the stored rank-error budget;
    - ``corpus`` and any IVF-PQ cell members → coalesced;
    - model members (codebooks/centroids) are already O(model): untouched.

    Exactly-once ledger is unaffected — the batch ops live in the CATALOG
    manifest log, which compaction appends to but never rewrites, so a
    replayed batch is still detected afterwards. A racing ``corpus_batch
    _txn`` conflicts on the catalog CAS and one side re-plans (the same
    refold-on-conflict discipline as the standalone sketch compactors).
    """
    import numpy as np

    from pyspark.sql import functions as F

    from ..sources.layout import zorder_layout
    from .quantiles import _SCHEMA as _Q_SCHEMA
    from .quantiles import merged_from_rows, recompressed_rows

    from ..sources.catalog import CommitConflict

    for _ in range(max_retries):
        txn = cat.transaction(spark)
        names = set(cat.snapshot(spark, txn.base_version))

        # drop digests zeroed by retraction's negative rows: a gram fully
        # retracted must not survive compaction as a dead (g, 0) row
        grams = (
            txn.read(GRAMS)
            .groupBy("g")
            .agg(F.sum("n").alias("n"))
            .filter(F.col("n") != 0)
        )
        txn.overwrite(
            GRAMS, zorder_layout(grams, ["g"], num_files), stats_cols=["g"]
        )
        # full-member rewrites read merge-schema: the pinned schema is the
        # NEWEST append's, and a narrower late batch would make this
        # rewrite permanently drop earlier batches' evolved columns
        # (r10 advice, medium)
        # live reads: the full rewrite FOLDS any pending MOR deletes (the
        # vector's files all die here), so the vector truncates below
        txn.overwrite(
            BANDS,
            zorder_layout(
                _txn_live_read(txn, BANDS, merge_schema=True),
                ["band_hash"],
                num_files,
            ),
            stats_cols=["band_hash", "doc_id"],
        )
        if TOKENS in names:
            toks = (
                txn.read(TOKENS)
                .groupBy("word")
                .agg(F.sum("n").alias("n"))
                .filter(F.col("n") != 0)  # fully-retracted words fold away
            )
            txn.overwrite(
                TOKENS,
                zorder_layout(toks, ["word"], num_files),
                stats_cols=["word"],
            )
        for media in _BANDED_MEDIA:
            if media not in names:
                continue
            # media-gate member: live read folds any pending MOR deletes,
            # band clustering restores probe pruning (same story as BANDS)
            txn.overwrite(
                media,
                zorder_layout(
                    _txn_live_read(txn, media, merge_schema=True),
                    ["band"],
                    num_files,
                ),
                stats_cols=_MOR_STATS[media],
            )
        if REJECTS in names:
            txn.overwrite(
                REJECTS,
                zorder_layout(
                    txn.read(REJECTS, merge_schema=True), ["doc_id"], num_files
                ),
                stats_cols=["doc_id"],
            )
        if QUAR in names:
            # the audit member is tiny (one row per violated rule), but
            # constraint-armed pipelines append to it every batch — fold
            # its log like every other member so reads stay O(1 file)
            txn.overwrite(
                QUAR,
                txn.read(QUAR, merge_schema=True).coalesce(1),
                stats_cols=["doc_id"],
            )
        if WAL in names:
            # branch-timeline input WAL: content is immutable (ids per
            # batch op), compaction only re-clusters — doc_id layout for
            # erasure point probes, op stats for per-batch replay reads
            txn.overwrite(
                WAL,
                zorder_layout(
                    txn.read(WAL, merge_schema=True), ["doc_id"], num_files
                ),
                stats_cols=["op", "doc_id"],
            )
        cms_rows = txn.read(CMS).collect()
        if cms_rows:
            total = int(sum(r["n"] for r in cms_rows))
            agg = np.sum(
                [np.asarray(r["sketch"], dtype=np.int64) for r in cms_rows],
                axis=0,
            )
            txn.overwrite(
                CMS,
                spark.createDataFrame(
                    [Row(batch_id=-1, n=total, sketch=agg.tolist())],
                    schema="batch_id long, n long, sketch array<long>",
                ).coalesce(1),
            )
        txn.overwrite(
            QUANTS,
            spark.createDataFrame(
                recompressed_rows(merged_from_rows(txn.read(QUANTS).collect())),
                schema=_Q_SCHEMA,
            ).coalesce(1),
        )
        # sort-by-doc_id layout: post-compaction files PARTITION the id
        # space, so later corrections' copy-on-write removals prune to the
        # few files whose [min,max] admit the affected ids
        txn.overwrite(
            CORPUS,
            zorder_layout(
                _txn_live_read(txn, CORPUS, merge_schema=True),
                ["doc_id"],
                num_files,
            ),
            stats_cols=["doc_id"],
        )
        if DELETES in names:
            # every file the vector names was replaced by the rewrites
            # above — the pairs are all inert now. DROP the member (not
            # overwrite-empty): an absent vector costs every later
            # corpus/band read NOTHING, where an empty one would pay the
            # anti-join forever; the next MOR retraction re-creates it.
            txn.drop(DELETES)
        if "centroids" in names:
            for cell in [r["cell"] for r in txn.read("centroids").collect()]:
                txn.overwrite(cell, txn.read(cell).coalesce(1))
        try:
            return txn.commit(op=f"pipeline-compact-{txn.base_version}")
        except CommitConflict:
            continue  # a batch landed mid-rewrite; refold on the new base
    raise CommitConflict(
        f"pipeline-compact lost the catalog race {max_retries} times at {cat.root}"
    )


def member(
    spark: SparkSession,
    cat: TableCatalog,
    name: str,
    merge_schema: bool = False,
    version: int | None = None,
) -> DataFrame:
    """One member table at a catalog snapshot's pinned version.

    ``merge_schema=True`` unions schemas across the snapshot's files —
    columns added by later batches (additive evolution) surface as nulls
    on rows appended before them, same contract as Delta/Iceberg readers.

    ``version`` time-travels: it is a CATALOG snapshot version, so the
    member is served exactly as of that multi-table commit — two
    time-travel reads at the same version are mutually consistent (the
    corpus AS OF v and its token counts AS OF v describe the same
    accepted set), the property per-member version pins alone can't give.
    History is only as durable as GC allows: a time-travel read whose
    pinned files were reclaimed by ``TableCatalog.vacuum`` refuses
    LOUDLY up front (naming the member and version) instead of
    half-resolving into a mid-scan failure.
    """
    import os

    from ..sources.manifest_table import ManifestTable

    pins = cat.snapshot(spark, version)
    if name not in pins:
        raise KeyError(
            f"member {name!r} not in catalog snapshot "
            f"v{cat.version() if version is None else version} at {cat.root}"
        )
    path, pinned = pins[name]
    tbl = ManifestTable(os.path.join(cat.root, path), checkpoint_interval=None)
    if version is not None:
        missing = [f for f in tbl.files(pinned) if not os.path.exists(f)]
        if missing:
            raise FileNotFoundError(
                f"time-travel read of member {name!r} at catalog v{version} "
                f"needs {len(missing)} data file(s) already reclaimed by "
                f"vacuum (below the GC horizon), e.g. {missing[0]}; only "
                "versions newer than the last vacuumed rewrite are readable"
            )
    df = tbl.read(spark, pinned, merge_schema=merge_schema)
    if name in _MOR_MEMBERS and DELETES in pins:
        # serve the LIVE view: the MOR delete vector is read at the SAME
        # catalog snapshot, so time-travel reads stay mutually consistent
        # (the corpus AS OF v minus the deletes AS OF v)
        dpath, dpin = pins[DELETES]
        dtbl = ManifestTable(
            os.path.join(cat.root, dpath), checkpoint_interval=None
        )
        if version is not None:
            # same up-front loud refusal as the member's own files: the
            # vector is part of this snapshot's read set
            dmissing = [f for f in dtbl.files(dpin) if not os.path.exists(f)]
            if dmissing:
                raise FileNotFoundError(
                    f"time-travel read of member {name!r} at catalog "
                    f"v{version} needs its delete-vector file(s) already "
                    f"reclaimed by vacuum, e.g. {dmissing[0]}; only "
                    "versions newer than the last vacuumed rewrite are "
                    "readable"
                )
        df = _apply_delete_vector(df, dtbl.read(spark, dpin), name)
    return df


def rebase_merge_branch(
    spark: SparkSession,
    cat: TableCatalog,
    name: str,
    source_docs: DataFrame,
    app_id: str = "corpus",
    emb_lookup: DataFrame | None = None,
    writer_token: str | None = None,
    semantic_threshold: float | None = None,
    expectations: list[tuple[str, str]] | None = None,
) -> int:
    """Merge branch ``name`` onto a MOVED main by REPLAYING its batches
    (r12, declared r11): where :func:`~..sources.branches.merge_branch`
    can only fast-forward, this verb re-runs the experiment's batch
    transactions through the ORDINARY admission path against main's
    current state — member-identical to having run the experiment on the
    new main in the first place.

    Mechanics: the branch ledger gives the batch ops in commit order;
    each op's INPUT id set comes from the branch's ``batch_wal`` member
    (written in the same CAS as the batch — see :data:`WAL`); inputs are
    re-resolved as ``source_docs`` semi-joined on those ids and fed to
    :func:`corpus_batch_txn` on main. Replay detection is the ordinary
    ledger check, so a batch main already has (pre-fork, or landed on
    both sides) no-ops, and re-running the rebase is idempotent.

    Refuses LOUDLY (``CommitConflict``) instead of guessing when the
    replay cannot be faithful:

    - a branch commit that is not a plain ``{app_id}-batch-<n>`` op
      (retractions/upserts/compactions carry semantics a batch replay
      would misstate — re-apply those by hand on main);
    - a branch predating the WAL member (nothing records its inputs),
      or a batch whose WAL rows were fully erased (its replay order and
      content are both unrecoverable).

    Replay ORDER comes from the branch ledger when its manifests are
    intact, else from the WAL's ``seq`` column (the committing
    transaction's base version — strictly increasing), so long
    experiments survive their own ledger auto-checkpoint: op labels
    survive a checkpoint, and the WAL carries the order.

    Semantics note: admission on the moved main may adjudicate
    differently than it did on the branch (main's band index has grown —
    that is the point of rebasing); and input CONTENT is re-resolved
    from ``source_docs``, so a source that drifted since the experiment
    makes this a different experiment, exactly as re-running it would.
    The same goes for ADMISSION CONFIGURATION: the WAL stores inputs,
    not code — pass the experiment's own ``expectations`` /
    ``semantic_threshold`` / ``emb_lookup`` here, or the replay runs
    with those gates off and admits rows the branch quarantined or
    semantically rejected. ``writer_token`` carries main's ``app_id``
    lease into every replayed commit (the multi-writer loudness
    contract applies to rebases like any other writer). A clean
    fast-forward (main never moved) delegates to
    :func:`~..sources.branches.merge_branch`. Returns main's version.

    At 100 TB: the WAL is O(ids); each replayed batch pays ordinary
    ingest cost against only ITS OWN inputs — nothing about the rest of
    main is read or rewritten beyond what admission always reads.
    """
    import re as _re

    from ..sources.branches import branch, fork_point, merge_branch

    br = branch(cat, name)
    fork_v = fork_point(br)
    if cat.version() == fork_v:
        return merge_branch(spark, cat, name)  # nothing to rebase over
    pat = _re.compile(rf"^{_re.escape(app_id)}-batch-(\d+)$")
    fork_re = _re.compile(r"^branch-from-v(\d+)$")
    # the branch's OWN commits (ledger labels survive its checkpoints;
    # inherited labels are main's, never replayed)
    own_ops = br._catalog.committed_ops()
    batch_ops: set[str] = set()
    for op2 in sorted(own_ops):
        if fork_re.match(op2):
            continue
        if pat.match(op2):
            batch_ops.add(op2)
            continue
        raise CommitConflict(
            f"branch {name!r} commit {op2!r} is not a replayable "
            f"{app_id} batch; rebase replays batch admissions only — "
            "re-apply corrections/maintenance on main explicitly."
        )
    if batch_ops and WAL not in br.snapshot(spark):
        raise CommitConflict(
            f"branch {name!r} predates the batch-input WAL; its inputs "
            "were never recorded. Re-branch from current main and re-run."
        )
    from pyspark.sql import functions as F

    from ..functions.caching import (
        persisted_count,
        release_persisted_since,
        scoped_persist,
    )

    # only batches MAIN does not already have need replaying (pre-fork
    # batches, or ones that landed on both sides, are ledger no-ops)
    needed = batch_ops - cat.committed_ops()
    if not needed:
        return cat.version()
    mark = persisted_count()
    try:
        # ONE materialized read of the WAL serves the guard scan AND
        # every per-op id filter below — a long experiment would
        # otherwise re-scan the whole member once per replayed batch
        wal = scoped_persist(
            member(spark, br, WAL)
            .filter(F.col("op").isin(list(needed)))
            .select("op", "seq", "doc_id")
        )
        # one scan resolves both guards: which needed ops still have WAL
        # rows (a fully-erased batch's order AND content are gone — both
        # the ledger-intact and the checkpointed path must refuse it the
        # same way, never silently mint an empty op label on main), and
        # the seq order for the checkpointed fallback below
        walled = {
            r["op"]: r["seq"]
            for r in wal.groupBy("op").agg(F.min("seq").alias("seq")).collect()
        }
        missing = needed - set(walled)
        if missing:
            raise CommitConflict(
                f"branch {name!r} batches {sorted(missing)} have no WAL "
                "rows (inputs fully erased, empty, or predating the "
                "seq-carrying WAL); their replay order and content are "
                "unrecoverable. Re-branch and re-run."
            )
        hist = br.history()
        if hist and hist[0][1] == f"branch-from-v{fork_v}":
            # ledger order, intact; skip ops main already has
            ordered = [op2 for _v, op2 in hist[1:] if op2 in needed]
        else:
            # ledger manifests truncated by the branch's own checkpoint:
            # recover replay order from the WAL's seq column
            ordered = sorted(walled, key=lambda o: walled[o])
        for op2 in ordered:
            ids = wal.filter(F.col("op") == op2).select("doc_id")
            inputs = source_docs.join(ids, "doc_id", "left_semi")
            emb = (
                None
                if emb_lookup is None
                else emb_lookup.join(ids, "doc_id", "left_semi")
            )
            corpus_batch_txn(
                spark,
                inputs,
                cat,
                int(pat.match(op2).group(1)),
                app_id=app_id,
                emb_batch=emb,
                writer_token=writer_token,
                semantic_threshold=semantic_threshold,
                expectations=expectations,
            )
    finally:
        release_persisted_since(mark)
    return cat.version()


def start_corpus_pipeline(
    stream_docs: DataFrame,
    catalog_root: str,
    checkpoint_dir: str,
    app_id: str = "corpus",
    emb_lookup: DataFrame | None = None,
    writer_token: str | None = None,
    semantic_threshold: float | None = None,
    ledger: str = "_catalog",
):
    """(doc_id, text, lang) stream → one multi-member txn per micro-batch.

    ``emb_lookup`` is a STATIC (doc_id, e) side table (the stream-static
    pattern — embeddings computed upstream of ingestion); each batch's
    accepted docs pull their vectors from it and the codes commit in the
    same transaction. ``writer_token`` carries the ``acquire_app_id``
    lease into every batch commit (multi-writer namespacing); a restarted
    driver passes the SAME token it persisted alongside its checkpoint.

    ``ledger`` targets a TIMELINE (r12): pass a branch ledger name
    (``_catalog@<name>`` — or just use ``branch(cat, name).ledger``) to
    run a streaming experiment against a zero-copy branch. Branch
    batches WAL their inputs (see :data:`WAL`), so the whole streamed
    experiment stays mergeable — fast-forward if main never moved,
    :func:`rebase_merge_branch` otherwise. Exactly-once is unchanged:
    the branch ledger inherits main's op labels at the fork, so a
    checkpoint-replayed batch that predates the fork is still a no-op.
    Give each experiment its own ``app_id`` (root-scoped leases).
    """
    spark = stream_docs.sparkSession
    cat = TableCatalog(catalog_root, ledger=ledger)

    def _one(df: DataFrame, bid: int) -> None:
        emb = (
            None
            if emb_lookup is None
            else emb_lookup.join(df.select("doc_id"), "doc_id", "left_semi")
        )
        corpus_batch_txn(
            spark, df, cat, bid, app_id, emb_batch=emb,
            writer_token=writer_token,
            semantic_threshold=semantic_threshold,
        )

    return (
        stream_docs.writeStream.foreachBatch(_one)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
