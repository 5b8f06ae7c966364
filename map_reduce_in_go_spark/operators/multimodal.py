"""Multimodal column handling: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: store the raw bytes as a ``binary``
column (or a pointer + byte-range into an object store), keep typed metadata
columns alongside, and run decode/feature kernels as Arrow-batched Python
(``mapInPandas``) — one Python invocation per batch, zero-copy via Arrow.

The image format here is binary PPM (P6) — a REAL raster format any image
tool opens — synthesized deterministically from each document (r9; the
former length-derived decode stub is gone). :func:`decode_ppm` is a genuine
parser: it reads width/height/maxval out of the header bytes and the pixel
statistics out of the raster, and raises on malformed input. Swapping in
PIL/ffmpeg for JPEG/mp4 changes only the two kernel bodies; the Arrow batch
shape, schema and partitioning stay as tested. ``multimodal_meta`` routes
the corpus through encode → decode end-to-end and emits SQL-checkable
metadata (the synthesis recipe is arithmetic on the text bytes, so DuckDB
replays width/height/pixel_sum without ever seeing the binary).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table, spread_partitions

# Synthesized image dims: derived from the document's byte length so the
# oracle can replay them; small and co-prime-ish moduli give a spread of
# shapes including non-square ones.
W_MOD, W_MIN = 29, 4
H_MOD, H_MIN = 13, 4

# Synthesized audio params (see encode_wav): sample count from the length
# modulus, sample rate picked from the standard-rate ladder — both
# oracle-replayable arithmetic, both yielding REAL RIFF/WAVE files.
WAV_RATES = (8000, 11025, 16000, 22050, 44100)
S_MOD, S_MIN = 211, 32


def encode_ppm(text_bytes: bytes) -> bytes:
    """Deterministically synthesize a valid binary PPM (P6) image from a
    document's bytes: dims from the length, raster = the bytes tiled
    cyclically. The output is a real image file (``file`` says
    'Netpbm image data'); determinism is what makes it oracle-replayable.
    """
    if not text_bytes:
        raise ValueError("encode_ppm: empty payload")
    w = len(text_bytes) % W_MOD + W_MIN
    h = len(text_bytes) % H_MOD + H_MIN
    total = w * h * 3
    reps = total // len(text_bytes) + 1
    raster = (text_bytes * reps)[:total]
    return b"P6\n%d %d\n255\n" % (w, h) + raster


def decode_ppm(payload: bytes) -> dict:
    """REAL decode of a binary PPM (P6): parse the header for dims and
    maxval, validate the raster length, return pixel statistics. Raises
    ``ValueError`` on anything malformed — no silent fallbacks."""
    if not payload.startswith(b"P6"):
        raise ValueError("decode_ppm: not a P6 PPM payload")
    try:
        i1 = payload.index(b"\n")
        i2 = payload.index(b"\n", i1 + 1)
        i3 = payload.index(b"\n", i2 + 1)
        w, h = (int(t) for t in payload[i1 + 1 : i2].split())
        maxval = int(payload[i2 + 1 : i3])
    except (ValueError, IndexError) as e:
        raise ValueError(f"decode_ppm: malformed header: {e}") from e
    raster = payload[i3 + 1 :]
    if len(raster) != w * h * 3:
        raise ValueError(
            f"decode_ppm: raster is {len(raster)} bytes, expected {w * h * 3}"
        )
    import numpy as np

    return {
        "width": w,
        "height": h,
        "maxval": maxval,
        # vectorized byte sum (r15, guide §4.2) — same integer as sum(raster)
        "pixel_sum": int(
            np.frombuffer(raster, dtype=np.uint8).sum(dtype=np.int64)
        ),
    }


def encode_wav(text_bytes: bytes) -> bytes:
    """Deterministically synthesize a valid RIFF/WAVE file (16-bit PCM
    mono) from a document's bytes: sample count and rate from the length,
    samples = the bytes tiled cyclically and scaled to int16. The output
    is a real audio file (``file`` says 'RIFF ... WAVE audio'); any WAV
    reader plays it. Determinism makes it oracle-replayable, exactly like
    :func:`encode_ppm` for images."""
    import struct

    import numpy as np

    if not text_bytes:
        raise ValueError("encode_wav: empty payload")
    n = len(text_bytes)
    rate = WAV_RATES[n % len(WAV_RATES)]
    n_samples = n % S_MOD + S_MIN
    reps = n_samples // n + 1
    tiled = (text_bytes * reps)[:n_samples]
    # b*256 - 16384 exceeds int16 for bytes >= 192 (every UTF-8 lead byte
    # of a non-ASCII char) — wrap into int16 deterministically instead of
    # crashing the kernel; identity for all ASCII input, which is also
    # the regime where the SQL oracle's codepoint replay is byte-exact
    vals = (
        np.frombuffer(tiled, dtype=np.uint8).astype(np.int32) * 256 - 16384
    )
    pcm = (((vals + 32768) % 65536) - 32768).astype("<i2").tobytes()
    data_size = 2 * n_samples
    return (
        b"RIFF"
        + struct.pack("<I", 36 + data_size)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", data_size)
        + pcm
    )


def decode_wav(payload: bytes) -> dict:
    """REAL decode of a RIFF/WAVE container: validate the RIFF magic and
    declared size, walk the chunk list to find ``fmt `` and ``data``
    (extra chunks between them are legal WAV and are skipped), validate
    the PCM format fields for internal consistency, and return header
    metadata + sample statistics. Raises ``ValueError`` on anything
    malformed — no silent fallbacks."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("decode_wav: not a RIFF/WAVE payload")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    if riff_size != len(payload) - 8:
        raise ValueError(
            f"decode_wav: RIFF size {riff_size} != {len(payload) - 8}"
        )
    fmt = None
    data = None
    off = 12
    while off + 8 <= len(payload):
        cid = payload[off : off + 4]
        (csize,) = struct.unpack_from("<I", payload, off + 4)
        body = payload[off + 8 : off + 8 + csize]
        if len(body) != csize:
            raise ValueError(f"decode_wav: chunk {cid!r} truncated")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        off += 8 + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("decode_wav: missing fmt/data chunk")
    audio_fmt, channels, rate, byte_rate, block_align, bits = struct.unpack(
        "<HHIIHH", fmt[:16]
    )
    if audio_fmt != 1 or bits != 16:
        raise ValueError(
            f"decode_wav: only 16-bit PCM supported, got fmt={audio_fmt} bits={bits}"
        )
    if rate == 0 or channels == 0:
        raise ValueError("decode_wav: zero sample rate or channel count")
    if block_align != channels * 2 or byte_rate != rate * block_align:
        raise ValueError("decode_wav: inconsistent fmt fields")
    if len(data) % block_align or not data:
        raise ValueError("decode_wav: data chunk empty or not frame-aligned")
    samples = np.frombuffer(data, dtype="<i2")
    n_samples = len(samples) // channels
    return {
        "sample_rate": rate,
        "channels": channels,
        "n_samples": n_samples,
        "duration_us": n_samples * 1_000_000 // rate,
        "peak": int(samples.max()),
        "amp_sum": int(np.abs(samples.astype(np.int64)).sum()),
    }


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach a binary payload column (UTF-8 bytes of the text stand in for
    an opaque media container — used by the frame/feature plumbing)."""
    return docs.withColumn("payload", F.encode(F.col("text"), "UTF-8"))


def with_ppm_payload(docs: DataFrame) -> DataFrame:
    """Attach a real binary-PPM payload + source-text md5 per document.

    NULL/empty texts are filtered out up front (a zero-byte doc has no
    image — same predicate the oracle applies), so the encode kernel
    never sees an input it would have to reject mid-job. The digest is
    emitted from the SAME kernel that holds the text, so downstream
    consumers don't re-scan the table just to content-address rows.
    """

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, digests = [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                # loud precondition (r14 advice, low — mirrors the audio
                # kernels): every image oracle replays the raster from
                # CODEPOINTS via ascii()/length(text), which is byte-exact
                # only for ASCII; a non-ASCII doc would make the UTF-8-byte
                # kernel silently diverge into a mysterious hash mismatch.
                if not t.isascii():
                    raise ValueError(
                        f"with_ppm_payload: doc {int(doc_id)} contains "
                        "non-ASCII text; the registered image oracles "
                        "(multimodal_meta, dedup_image_phash, ...) replay "
                        "the raster from codepoints, which matches the "
                        "UTF-8 payload bytes only for ASCII input"
                    )
                b = t.encode("utf-8")
                payloads.append(encode_ppm(b))
                digests.append(hashlib.md5(b).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": payloads,
                    "digest": digests,
                }
            )

    return (
        docs.select("doc_id", "text")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .mapInPandas(_enc, schema="doc_id long, payload binary, digest string")
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline, decode FOR REAL: synthesize a PPM per doc,
    parse it back in an Arrow kernel (header-derived width/height, raster
    pixel sum), emit typed metadata. ``digest`` is the md5 of the SOURCE
    text, carried through from the encode kernel — no second table scan
    or join just to content-address rows (the payload digest is pinned
    separately in tests/test_multimodal.py). Zero-byte/NULL docs are
    excluded by :func:`with_ppm_payload` on both sides."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # spread the encode/decode kernel across cores: the single-file
        # testdata scan is one split (r15, guide §2.5); drops out on a
        # multi-split production layout
        .repartition(spread_partitions(spark, sf_dir, "documents"), "doc_id")
    )
    payloads = with_ppm_payload(docs)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, digest in zip(
                pdf["doc_id"], pdf["payload"], pdf["digest"]
            ):
                payload = bytes(payload)
                meta = decode_ppm(payload)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_bytes": len(payload),
                        "digest": digest,
                        "width": meta["width"],
                        "height": meta["height"],
                        "pixel_sum": meta["pixel_sum"],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_bytes", "digest", "width", "height", "pixel_sum",
                ],
            )

    return payloads.mapInPandas(
        _extract,
        schema=(
            "doc_id long, n_bytes long, digest string, width long, "
            "height long, pixel_sum long"
        ),
    )


def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column pipeline, decode FOR REAL: synthesize a RIFF/WAVE
    (16-bit PCM mono) per doc, parse it back in an Arrow kernel (chunk
    walk, fmt validation, PCM sample statistics), emit typed metadata.
    The second real codec through the multimodal seam (PPM images are
    §2 #40): WAV is the format a speech-training pipeline actually lands,
    and the parse here is the genuine container walk — a header-write or
    chunk-size bug lands in the oracle hash. Scale: one encode + one
    decode kernel back-to-back in the SAME mapInPandas stage chain, zero
    shuffles, zero Python-row paths; at 100 TB this is an embarrassingly
    parallel scan, exactly like production decode. Zero-byte/NULL docs
    are excluded on both sides (no audio for an empty doc)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        # spread the WAV encode + container-walk kernel across cores
        # (single-split testdata scan; r15, guide §2.5)
        .repartition(spread_partitions(spark, sf_dir, "documents"), "doc_id")
    )

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # loud precondition (r12 advice, low): the SQL oracle
                # replays samples from CODEPOINTS (c*256-16384), which is
                # byte-exact only for ASCII — encode_wav's int16 wrap for
                # bytes >= 192 (UTF-8 lead bytes) would silently diverge.
                # The testdata generator emits pure ASCII today; if that
                # ever changes, fail with the reason instead of
                # hash-mismatching mysteriously.
                if not text.isascii():
                    raise ValueError(
                        f"multimodal_audio: doc {int(doc_id)} contains "
                        "non-ASCII text; the registered oracle's codepoint "
                        "replay matches encode_wav only for ASCII input "
                        "(see encode_wav's int16 wrap note)"
                    )
                payload = encode_wav(text.encode("utf-8"))
                meta = decode_wav(payload)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_bytes": len(payload),
                        "sample_rate": meta["sample_rate"],
                        "n_samples": meta["n_samples"],
                        "duration_us": meta["duration_us"],
                        "peak": meta["peak"],
                        "amp_sum": meta["amp_sum"],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_bytes", "sample_rate", "n_samples",
                    "duration_us", "peak", "amp_sum",
                ],
            )

    return docs.mapInPandas(
        _roundtrip,
        schema=(
            "doc_id long, n_bytes long, sample_rate long, n_samples long, "
            "duration_us long, peak long, amp_sum long"
        ),
    )


AUDIO_BANDS = 4  # spectral band count for the band-energy feature vector


def audio_spectral_features(docs: DataFrame) -> DataFrame:
    """Per-document spectral summary through the REAL WAV codec (r14,
    r13 verdict #7 — the audio twin of #41's raster features): encode →
    container parse → numpy rFFT in ONE fused Arrow pass, zero shuffles.

    Emitted per doc: exact integer time-domain stats (``sample_sum``,
    ``energy`` = Σx², both replayable from the synthesis arithmetic),
    the rFFT-derived features a speech pipeline would keep —
    ``dominant_bin`` (argmax |X_k|² over k ≥ 1, DC excluded),
    ``dominant_hz`` (bin · rate / N) and ``band_energy``
    (``AUDIO_BANDS`` equal bin-range sums of |X_k|², DC excluded) — and
    two float spectral invariants for the verdict recipe:
    ``spec_energy`` (full-spectrum Σ|X_k|², unfolded from the one-sided
    rFFT with correct even/odd-N edge handling) and ``dc_re`` (X₀, which
    mathematically IS Σxₙ). The FFT arithmetic itself cannot be replayed
    honestly in SQL; what CAN be checked exactly are its conservation
    laws — Parseval (Σ|X_k|² = N·Σxₙ²) and the DC identity — which tie
    the float spectrum to integer sums an oracle replays.
    """
    import numpy as np

    def _spec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # per-doc container work (encode + parse) stays a loop —
            # cheap byte ops; the FFTs are the cost, so they batch below
            metas, xs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not text.isascii():  # same contract as multimodal_audio
                    raise ValueError(
                        f"audio_spectral_features: doc {int(doc_id)} is "
                        "non-ASCII; the oracle's codepoint replay matches "
                        "encode_wav only for ASCII input"
                    )
                payload = encode_wav(text.encode("utf-8"))
                meta = decode_wav(payload)
                x = np.frombuffer(payload[44:], dtype="<i2").astype(np.int64)
                metas.append((int(doc_id), meta["sample_rate"], len(x)))
                xs.append(x)
            # vectorized spectra: group docs by sample count and run ONE
            # matrix rFFT per distinct length (n ∈ [S_MIN, S_MIN+S_MOD) —
            # ≤ S_MOD calls per Arrow batch instead of one per doc; the
            # 10× sweep had the per-doc FFT loop as this kernel's tail)
            rows: list[dict] = [None] * len(xs)
            by_n: dict[int, list[int]] = {}
            for i, (_, _, n) in enumerate(metas):
                by_n.setdefault(n, []).append(i)
            for n, idxs in by_n.items():
                M = np.stack([xs[i] for i in idxs]).astype(np.float64)
                X = np.fft.rfft(M, axis=1)
                mag2 = X.real * X.real + X.imag * X.imag
                # unfold the one-sided spectrum: bins 1..⌈N/2⌉-1 appear
                # twice in the full DFT; the Nyquist bin (even N) once
                if n % 2 == 0:
                    spec = (
                        mag2[:, 0]
                        + 2.0 * mag2[:, 1:-1].sum(axis=1)
                        + mag2[:, -1]
                    )
                else:
                    spec = mag2[:, 0] + 2.0 * mag2[:, 1:].sum(axis=1)
                ac = mag2[:, 1:]  # DC excluded for features
                dom = (
                    np.argmax(ac, axis=1) + 1
                    if ac.shape[1]
                    else np.zeros(len(idxs), dtype=np.int64)
                )
                edges = np.linspace(0, ac.shape[1], AUDIO_BANDS + 1).astype(int)
                for row_j, i in enumerate(idxs):
                    doc_id, rate, _ = metas[i]
                    x = xs[i]
                    rows[i] = {
                        "doc_id": doc_id,
                        "n_samples": n,
                        "sample_rate": rate,
                        "sample_sum": int(x.sum()),
                        "energy": int((x * x).sum()),
                        "dominant_bin": int(dom[row_j]),
                        "dominant_hz": int(dom[row_j]) * rate / n,
                        "band_energy": [
                            float(ac[row_j, edges[k] : edges[k + 1]].sum())
                            for k in range(AUDIO_BANDS)
                        ],
                        "spec_energy": float(spec[row_j]),
                        "dc_re": float(X[row_j, 0].real),
                    }
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "sample_rate", "sample_sum",
                    "energy", "dominant_bin", "dominant_hz", "band_energy",
                    "spec_energy", "dc_re",
                ],
            )

    return docs.select("doc_id", "text").mapInPandas(
        _spec,
        schema=(
            "doc_id long, n_samples long, sample_rate long, "
            "sample_sum long, energy long, dominant_bin long, "
            "dominant_hz double, band_energy array<double>, "
            "spec_energy double, dc_re double"
        ),
    )


def audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered audio-FFT query under the sketch-verdict recipe (r14):
    exact integer time-domain columns the DuckDB oracle replays from the
    synthesis arithmetic (n_samples, rate, Σxₙ, Σxₙ²) plus a pinned-TRUE
    ``fft_ok`` verdict that the kernel's rFFT obeys its conservation
    laws against those exact integers — Parseval (Σ|X_k|² = N·Σxₙ²
    within float tolerance) and the DC identity (X₀ = Σxₙ). A broken
    FFT call, a mis-unfolded one-sided spectrum, or a sample-decode bug
    flips the verdict and lands in the driver's hash; the feature
    values themselves (dominant bin/Hz, band energies) are pinned in
    pytest against an independent stdlib-``wave`` + numpy reference.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        # single-file testdata = one input split: spread the FFT kernel
        # across cores (r15 — this query was the SCALE_r15 4.86× tail,
        # a single task running every FFT; guide §2.5 input skew). On a
        # production multi-split layout the scan parallelizes itself and
        # this shuffle (a few KB/doc of text) is the first thing to drop.
        .repartition(spread_partitions(spark, sf_dir, "documents"), "doc_id")
    )
    feat = audio_spectral_features(docs)
    parseval = (
        F.abs(
            F.col("spec_energy") - F.col("n_samples") * F.col("energy")
        )
        <= 1e-6 * F.greatest(
            F.col("n_samples") * F.col("energy"), F.lit(1)
        ).cast("double")
    )
    dc = F.abs(F.col("dc_re") - F.col("sample_sum")) <= 1e-6 * F.greatest(
        F.abs(F.col("sample_sum")), F.lit(1)
    ).cast("double")
    return feat.select(
        "doc_id",
        "n_samples",
        "sample_rate",
        "sample_sum",
        "energy",
        (parseval & dc).alias("fft_ok"),
    )


# Audio fingerprint shape (r15, r14 verdict #3 — the chromaprint-style
# bit recipe pointed at the STFT frame grid): 33 frames per clip, per
# frame the TWO spectral moments that are conservation-exact integers —
# X₀ (the frame's DC coefficient, = Σxₙ by the DC identity) and the
# frame's total spectral power Σ|X_k|²/N (= Σxₙ² by Parseval) — then
# 64 bits = sign of the frame-to-frame delta of each moment sequence
# (32 energy bits + 32 DC bits). Computing the moments THROUGH the rFFT
# and rounding to the integers the conservation laws guarantee is what
# makes the fingerprint fully SQL-replayable while keeping the transform
# in the hot path: a broken FFT call or mis-unfolded spectrum shifts the
# rounded integers → flipped bits → the driver's hash catches it.
AUDIO_FP_FRAMES = 33  # 33 frames → 32 deltas per moment → 64 bits
AUDIO_FP_HAMMING_MAX = 8  # same verify threshold as the image dHash
# Anchor window: fingerprint the clip's HEAD (first ≤66 samples → 2-sample
# frames when full), not a grid relative to the whole clip. A near-dup
# transcript differs by a few appended chars, which shifts n_samples and
# would misalign every relative frame boundary; anchoring at the signal
# start makes shared-prefix clips hash identically — the subfingerprint-
# anchor trick real audio retrieval uses (match on a fixed-duration
# window, not the whole variable-length clip).
AUDIO_FP_WINDOW = 2 * AUDIO_FP_FRAMES


def audio_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, dhash: 64-char bit string) spectral-envelope fingerprint
    per audio doc through the REAL WAV codec: encode → container parse →
    per-frame rFFT in ONE fused Arrow pass, zero shuffles.

    Per doc the ANCHOR WINDOW (first ``AUDIO_FP_WINDOW`` samples — see
    the constant's note on why anchoring beats a whole-clip-relative
    grid) is cut into ``AUDIO_FP_FRAMES`` frames on the integer grid
    ``b_i = i·n//33``; each frame's rFFT yields its DC
    coefficient and (via the unfolded Parseval sum) its total power,
    both rounded to the exact integers the conservation laws equate
    them to (Σxₙ, Σxₙ² over the frame — float error is ~1e-5 against
    integer spacing 1, so the round is exact). Frames are batched by
    length across the Arrow batch (≤ 9 matrix rFFTs per batch — the
    r14 audio-batching lesson); empty frames (n < 33) contribute
    (0, 0), matching the oracle's empty-sum convention. Bits: strict
    frame-to-frame increase of each moment sequence.
    """
    import numpy as np

    nf = AUDIO_FP_FRAMES

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids: list[int] = []
            en = np.zeros((len(pdf), nf), dtype=np.int64)
            dc = np.zeros((len(pdf), nf), dtype=np.int64)
            # per-doc container work (encode + parse) stays a loop — cheap
            # byte ops; everything after is vectorized across the batch
            # (r16, guide §4.2 — the old shape appended one Python tuple
            # per (doc, frame): 33 appends/doc plus a per-item scatter
            # loop, ~60% of the kernel's CPU at sf0.1)
            xs: list[np.ndarray] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not text.isascii():  # same contract as multimodal_audio
                    raise ValueError(
                        f"audio_fingerprints: doc {int(doc_id)} is "
                        "non-ASCII; the oracle's codepoint replay matches "
                        "encode_wav only for ASCII input"
                    )
                payload = encode_wav(text.encode("utf-8"))
                decode_wav(payload)  # genuine container validation
                x = np.frombuffer(payload[44:], dtype="<i2")
                xs.append(x[:AUDIO_FP_WINDOW])  # anchor window (see note)
                doc_ids.append(int(doc_id))
            if not xs:
                yield pd.DataFrame({"doc_id": [], "dhash": []}).astype(
                    {"doc_id": "int64", "dhash": "object"}
                )
                continue
            ns = np.array([len(x) for x in xs], dtype=np.int64)
            offs = np.concatenate(([0], np.cumsum(ns)[:-1]))
            xcat = np.concatenate(xs).astype(np.int64)
            # frame boundaries b_i = (i·n)//nf for every doc at once
            bounds = (np.arange(nf + 1, dtype=np.int64)[None, :] * ns[:, None]) // nf
            flens = bounds[:, 1:] - bounds[:, :-1]  # (ndocs, nf) ∈ {0, 1, 2}
            for flen in np.unique(flens):
                if flen == 0:
                    continue  # empty frames contribute (0, 0) — pre-zeroed
                ri, fi = np.nonzero(flens == flen)
                starts = offs[ri] + bounds[ri, fi]
                M = xcat[
                    starts[:, None] + np.arange(flen, dtype=np.int64)[None, :]
                ].astype(np.float64)
                X = np.fft.rfft(M, axis=1)
                mag2 = X.real * X.real + X.imag * X.imag
                if flen % 2 == 0:
                    spec = (
                        mag2[:, 0]
                        + 2.0 * mag2[:, 1:-1].sum(axis=1)
                        + mag2[:, -1]
                    )
                else:
                    spec = mag2[:, 0] + 2.0 * mag2[:, 1:].sum(axis=1)
                en[ri, fi] = np.rint(spec / flen).astype(np.int64)  # Parseval
                dc[ri, fi] = np.rint(X[:, 0].real).astype(np.int64)  # DC identity
            ebits = en[:, 1:] > en[:, :-1]
            dbits = dc[:, 1:] > dc[:, :-1]
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "dhash": [
                        "".join("1" if b else "0" for b in ebits[ri])
                        + "".join("1" if b else "0" for b in dbits[ri])
                        for ri in range(len(doc_ids))
                    ],
                }
            )

    return (
        docs.select("doc_id", "text")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .mapInPandas(_fp, schema="doc_id long, dhash string")
    )


def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs: spectral-envelope fingerprints through the
    rFFT kernel, 16-bit band collision blocking, packed-popcount Hamming
    verify (r15, r14 verdict #3) — the audio twin of
    :func:`dedup_image_phash`, completing the modality's dedup family
    the way r14's dHash completed images.

    Plan: encode → parse → per-frame rFFT in ONE chained Arrow stage
    (no shuffle until one 64-bit row per clip exists), then the shared
    :func:`banded_hamming_pairs` engine — 4×16-bit band explode,
    (chunk, band) self-equijoin (never all-pairs), exact Hamming ≤
    ``AUDIO_FP_HAMMING_MAX`` as two XOR popcounts. Pigeonhole: pairs
    within ≤3 bits cannot escape the 4 bands. The DuckDB oracle replays
    the ENTIRE pipeline from the WAV synthesis arithmetic — tiled int16
    samples, frame-boundary prefix sums for the per-frame (Σx, Σx²)
    moments the FFT's conservation laws pin, delta bits, banding,
    Hamming — so a flipped bit anywhere lands in the driver's hash.
    At 100 TB: embarrassingly parallel fingerprint scan (a real
    chromaprint kernel swaps in for the synthesizer; batch shape,
    banding and verify identical), shuffle carries only (band, packed
    hash) tuples.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spread_partitions(spark, sf_dir, "documents"), "doc_id")
    )
    return banded_hamming_pairs(
        bands_of_hashes(audio_fingerprints(docs)), AUDIO_FP_HAMMING_MAX
    )


# Perceptual-hash dedup shape: 64-bit dHash (8×8 horizontal-gradient bits
# from a 9×8 nearest-neighbor downsample), banded 4×16 for LSH blocking —
# the same band geometry as dedup_simhash. Threshold 8 matches
# SIMHASH_HAMMING_MAX; pairs within ≤3 bits are GUARANTEED caught
# (pigeonhole: 4 bands, ≤3 differing bits → one band untouched).
PHASH_BANDS = 4
PHASH_BAND_BITS = 16
PHASH_HAMMING_MAX = 8


def image_dhashes(payloads: DataFrame) -> DataFrame:
    """64-bit dHash per image over REAL decoded PPM rasters.

    The standard perceptual difference hash (dHash): grayscale the
    raster ((r+g+b)//3 — integer, so the oracle replays it exactly),
    nearest-neighbor downsample to a 9-wide × 8-tall grid
    (``x_j = j·w//9``, ``y_i = i·h//8``), emit bit (i,j) = 1 iff the
    right neighbor is strictly brighter. Everything is integer
    arithmetic over genuinely parsed pixels (:func:`decode_ppm` raises
    on malformed input), which is what makes the hash replayable in SQL.
    One Arrow pass, numpy only — at 100 TB this is the embarrassingly
    parallel scan production image-dedup runs (with PIL decoding JPEGs
    in place of the PPM parser; the batch shape is identical).
    """
    import numpy as np

    def _dh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ys8 = np.arange(8)
        xs9 = np.arange(9)
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                meta = decode_ppm(payload)
                w, h = meta["width"], meta["height"]
                px = np.frombuffer(
                    payload[len(payload) - w * h * 3 :], dtype=np.uint8
                ).astype(np.int64).reshape(h, w, 3)
                gray = px.sum(axis=2) // 3
                g = gray[np.ix_((ys8 * h) // 8, (xs9 * w) // 9)]
                bits = (g[:, 1:] > g[:, :-1]).ravel()
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "dhash": "".join("1" if b else "0" for b in bits),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "dhash"])

    return payloads.select("doc_id", "payload").mapInPandas(
        _dh, schema="doc_id long, dhash string"
    )


def bands_of_hashes(hashes: DataFrame) -> DataFrame:
    """(doc_id, chunk, band, dhash, dh_hi, dh_lo) banded table from any
    64-bit perceptual hash frame ``(doc_id, dhash: 64-char bit string)``
    — the LSH blocking geometry shared by the image dHash family and the
    audio fingerprint family (4 bands × 16 bits, packed BIGINT halves
    for the popcount verify). One projection + explode, no shuffle."""
    return hashes.select(
        "doc_id",
        "dhash",
        F.explode(F.sequence(F.lit(0), F.lit(PHASH_BANDS - 1))).alias("chunk"),
    ).select(
        "doc_id",
        "chunk",
        F.expr(
            f"substr(dhash, chunk * {PHASH_BAND_BITS} + 1, {PHASH_BAND_BITS})"
        ).alias("band"),
        "dhash",
        # packed halves: Hamming between two hashes is then two XOR
        # popcounts (O(1) per candidate) instead of 64 substr compares —
        # the verify kernel is what scales with candidate volume
        F.expr("CAST(conv(substr(dhash, 1, 32), 2, 10) AS BIGINT)").alias(
            "dh_hi"
        ),
        F.expr("CAST(conv(substr(dhash, 33, 32), 2, 10) AS BIGINT)").alias(
            "dh_lo"
        ),
    )


def packed_hamming(hi_a: str, lo_a: str, hi_b: str, lo_b: str) -> Column:
    """Hamming distance of two 64-bit hashes held as the packed BIGINT
    halves :func:`bands_of_hashes` emits: two XOR popcounts."""
    return F.expr(f"bit_count({hi_a} ^ {hi_b}) + bit_count({lo_a} ^ {lo_b})")


def phash_bands_of(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk, band, dhash) banded dHash table straight from a
    (doc_id, text) frame — encode → decode+hash → band explode, one
    chained Arrow stage, no shuffle. The image family's analogue of
    ``bands_of_docs`` (operators/dedup.py): the frame a standing
    perceptual-hash index persists and a probing batch derives."""
    return bands_of_hashes(
        image_dhashes(
            with_ppm_payload(
                docs.select("doc_id", "text").filter(
                    F.col("text").isNotNull() & (F.length("text") > 0)
                )
            )
        )
    )


def banded_hamming_pairs(bands: DataFrame, hamming_max: int) -> DataFrame:
    """(doc_a, doc_b, hamming) near-dup pairs from a banded 64-bit hash
    table (:func:`bands_of_hashes` output): self-equijoin on
    (chunk, band) — never all-pairs — then exact Hamming ≤ ``hamming_max``
    verified by TWO XOR popcounts over the packed BIGINT halves. The
    pair engine shared by :func:`dedup_image_phash` and
    :func:`dedup_audio_fingerprint`; at 100 TB the shuffle carries only
    (band, packed-hash) tuples and bucket sizes are bounded by the
    16-bit band space.

    The banded table is scope-persisted before the self-join: without it
    both join sides re-run the entire upstream fingerprint chain (encode
    → container parse → numpy hash, the expensive Python stages) — the
    r15 before-plan showed the MapInPandas pipeline duplicated under
    each side of the join (guide §2.4: share one computation instead of
    two subtrees). The cached frame is ~30 bytes/doc·band at any scale.
    """
    from ..functions.caching import scoped_persist

    b_ = scoped_persist(bands.select("doc_id", "chunk", "band", "dh_hi", "dh_lo"))
    a, b = b_.alias("a"), b_.alias("b")
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
            F.col("a.dh_hi").alias("hi_a"),
            F.col("a.dh_lo").alias("lo_a"),
            F.col("b.dh_hi").alias("hi_b"),
            F.col("b.dh_lo").alias("lo_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming",
            packed_hamming("hi_a", "lo_a", "hi_b", "lo_b"),
        )
        .filter(F.col("hamming") <= hamming_max)
        .select(
            "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
        )
    )


def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs: dHash over the synthesized PPM
    rasters, 16-bit band collision blocking, Hamming-verified (r14,
    r13 verdict #1) — the image twin of ``dedup_simhash``
    (operators/dedup.py) and the first dedup over the multimodal column.

    Plan: encode → decode+hash in ONE chained mapInPandas stage (no
    shuffle until the hashes exist — one 10-byte-ish row per image),
    then the simhash banding: explode 4 bands × 16 bits, self-equijoin
    on (chunk, band) — never all-pairs — and verify candidates by exact
    Hamming distance ≤ {PHASH_HAMMING_MAX} as a codegen'd expression.
    At 100 TB the hash scan is embarrassingly parallel and the shuffle
    carries only (band, hash) tuples; bucket sizes are bounded by the
    16-bit band space. The DuckDB oracle replays the ENTIRE pipeline —
    grayscale, downsample grid, gradient bits, banding, Hamming — from
    the synthesis arithmetic (ASCII corpus: char codes == raster
    bytes), so a single flipped bit anywhere lands in the hash gate.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spread_partitions(spark, sf_dir, "documents"), "doc_id")
    )
    # the 64-char string stays out of the shuffle (banded table carries
    # only the 16-bit band + two packed BIGINT halves per row)
    return banded_hamming_pairs(phash_bands_of(docs), PHASH_HAMMING_MAX)


def dedup_image_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup CLUSTERS: connected components over the
    :func:`dedup_image_phash` pair graph via the shared star-contraction
    engine (``star_components``, operators/dedup.py — Kiveris et al.
    SoCC'14), labels = component-minimum doc_id.

    The keep-one-per-cluster step image dedup actually ships: pairs say
    "these two look alike", clusters say "keep the min id of each look".
    O(log² n) contraction rounds, each one groupBy + one join — the
    shape that survives stringy components at 100 TB. Registered r15
    (r14 verdict #1): the recursive-CTE oracle replays the phash pairs
    and walks reachability, the exact ``dedup_clusters`` pattern; the
    union-find pytest stays as the independent pin
    (tests/test_multimodal.py::test_image_clusters_match_union_find).
    """
    from .dedup import star_components

    pairs = dedup_image_phash(spark, sf_dir)
    return star_components(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )


def build_banded_index(bands: DataFrame, root: str, op: str) -> bool:
    """Persist ANY banded 64-bit hash table (:func:`bands_of_hashes`
    shape) as a ledgered ManifestTable index — the standing near-dup
    structure shared by the image dHash and audio fingerprint families.

    One commit per ``op`` id, exactly-once across retries/replays (the
    band-index / substring-index discipline): an arriving batch appends
    its bands under its own op and a re-delivered batch is a ledger
    no-op. ``stats_cols=["band"]`` gives per-file [min,max] on the band
    string, so a small probing batch can prune index files by point-set
    (the layout tightens under ``compact(zorder_cols=["band"])``).
    Returns False (no recompute) on a replayed op."""
    from ..sources.manifest_table import ManifestTable

    tbl = ManifestTable(root, stats_cols=["band"])
    if op in tbl.committed_ops():
        return False
    tbl.append(bands, op=op)
    return True


def optimize_banded_index(
    spark: SparkSession, root: str, num_files: int = 16
) -> int:
    """Re-cluster a banded hash index on the band string (OPTIMIZE-
    ZORDER): one atomic CAS rewrite restores tight per-file [min,max]
    band ranges after a run of incremental appends — same maintenance
    verb as the anchor-gram and gram-frequency indexes
    (sources/substring_index.py). Returns the new table version."""
    from ..sources.manifest_table import ManifestTable

    return ManifestTable(root, stats_cols=["band"]).compact(
        spark, num_files=num_files, zorder_cols=["band"]
    )


def banded_index_batch_pairs(
    spark: SparkSession, batch_bands: DataFrame, root: str, hamming_max: int
) -> DataFrame:
    """A new batch's banded hashes probed against a standing banded
    index: (doc_a = index doc, doc_b = batch doc, hamming ≤ threshold).

    The storage-agnostic core under :func:`image_batch_near_dups`: the
    batch's band strings are collected as probe keys and the index is
    read through point-set file skipping (``ManifestTable.read_probed``
    over the per-file band [min,max] stats the build records and OPTIMIZE
    tightens, which reads the full snapshot past ``MAX_PROBE_KEYS``);
    then band-equijoin + packed-popcount Hamming verify. Cost scales with
    the BATCH — the standing corpus is never re-hashed."""
    from ..functions.caching import scoped_persist
    from ..sources.manifest_table import ManifestTable

    tbl = ManifestTable(root, stats_cols=["band"])
    nb = scoped_persist(
        batch_bands.select(
            F.col("doc_id").alias("doc_b"),
            "chunk",
            "band",
            F.col("dh_hi").alias("hi_b"),
            F.col("dh_lo").alias("lo_b"),
        )
    )
    idx = tbl.read_probed(spark, "band", nb).select(
        F.col("doc_id").alias("doc_a"),
        "chunk",
        "band",
        F.col("dh_hi").alias("hi_a"),
        F.col("dh_lo").alias("lo_a"),
    )
    cand = (
        nb.join(idx, ["chunk", "band"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "hi_a", "lo_a", "hi_b", "lo_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            packed_hamming("hi_a", "lo_a", "hi_b", "lo_b"),
        )
        .filter(F.col("hamming") <= hamming_max)
        .select(
            "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
        )
    )


def build_phash_index(docs: DataFrame, root: str, op: str = "phash-build") -> bool:
    """The image instance of :func:`build_banded_index` (r14): persist a
    corpus's banded dHash table as the standing image near-dup index."""
    return build_banded_index(phash_bands_of(docs), root, op)


def optimize_phash_index(
    spark: SparkSession, root: str, num_files: int = 16
) -> int:
    """OPTIMIZE-ZORDER for the image phash index (r14); see
    :func:`optimize_banded_index`."""
    return optimize_banded_index(spark, root, num_files)


def image_batch_near_dups(
    spark: SparkSession, batch_docs: DataFrame, root: str
) -> DataFrame:
    """A new image batch probed against the standing phash index:
    (doc_a = index doc, doc_b = batch doc, hamming ≤ threshold).

    Cost scales with the BATCH: only the batch's hashes are computed
    (one Arrow pass over the batch), then the shared
    :func:`banded_index_batch_pairs` probe — point-set file skipping on
    the band stats (r14 advice, low: the docstring promised pruning the
    read never did), band-equijoin, packed-popcount Hamming verify.
    At 100 TB the standing index is the persisted artifact daily ingest
    appends to; no corpus re-hash ever happens."""
    return banded_index_batch_pairs(
        spark, phash_bands_of(batch_docs), root, PHASH_HAMMING_MAX
    )


def audio_fp_bands_of(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk, band, dhash, dh_hi, dh_lo) banded audio
    fingerprints straight from a (doc_id, text) frame — the audio
    analogue of :func:`phash_bands_of`, one chained Arrow stage."""
    return bands_of_hashes(audio_fingerprints(docs))


def _phash_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Even-doc corpus phash index for ``sf_dir``, built once per process
    behind the shared served-artifact latch (sources/artifacts.py) —
    the image twin of dedup's ``_corpus_index_path``. Every call after
    the first is pure probe, the posture a standing 100 TB image index
    has where the build amortizes across every batch that lands."""
    from ..sources.artifacts import served_artifact

    def _build(path: str) -> None:
        corpus = (
            load_table(spark, sf_dir, "documents")
            .filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
            # spread the corpus hash pass of the one-time build across
            # cores (single-split testdata scan; r15, guide §2.5)
            .repartition(spread_partitions(spark, sf_dir, "documents"), "doc_id")
        )
        build_phash_index(corpus, path)
        optimize_phash_index(spark, path)  # tight [min,max] band stats

    return served_artifact("phash", sf_dir, _build)


def dedup_image_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IMAGE ingestion dedup through the standing phash index
    (r15, r14 verdict #2) — the ``dedup_incremental_indexed`` recipe
    pointed at the image modality: the standing corpus (even doc_ids)
    is hashed ONCE into a ledgered, band-clustered
    :func:`build_phash_index` artifact; the arriving batch (odd
    doc_ids) is hashed in one Arrow pass and probed via
    :func:`image_batch_near_dups` — point-set file skipping on the band
    stats, band-equijoin, packed-popcount Hamming verify. Returns
    (doc_a = corpus image, doc_b = batch image, hamming ≤
    {PHASH_HAMMING_MAX}): exactly the pairs a full recompute finds
    across the split, which is what the driver's hash proves — the
    served index loses nothing vs deriving both sides. Cost scales with
    the batch; the corpus is never re-hashed.
    """
    batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        # spread the batch hash pass across cores (single-split testdata
        # scan; r15, guide §2.5)
        .repartition(spread_partitions(spark, sf_dir, "documents"), "doc_id")
    )
    return image_batch_near_dups(
        spark, batch, _phash_index_path(spark, sf_dir)
    )


FRAME_SCHEMA = "doc_id long, frame_idx long, frame_bytes long, frame_digest string"


def sample_frames(docs_with_payload: DataFrame, every: int = 64, frame: int = 32) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads.

    Treats the binary payload as a frame container: every ``every`` bytes a
    ``frame``-byte window is cut and fingerprinted. A real decoder (ffmpeg)
    would replace the slicing; the batching, schema and fan-out (one row in
    → N frame rows out) are exactly what production needs.
    """

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                for idx, off in enumerate(range(0, len(payload), every)):
                    chunk = payload[off : off + frame]
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "frame_idx": idx,
                            "frame_bytes": len(chunk),
                            "frame_digest": hashlib.md5(chunk).hexdigest(),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_bytes", "frame_digest"]
            )

    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        _sample, schema=FRAME_SCHEMA
    )


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered frame-sampling query: the 1→N binary fan-out, oracle-checked.

    Routes the corpus through :func:`with_payload` → :func:`sample_frames`
    (real binary slicing in Arrow batches). The DuckDB oracle replays the
    frame grid with *character* slicing, which is byte-exact because the
    synthetic corpus is pure ASCII (octet_length == length at every sf —
    a non-ASCII corpus would need a BLOB-slicing oracle instead).
    """
    return sample_frames(
        with_payload(
            # spread the frame-slicing kernel (single-split testdata
            # scan; r15, guide §2.5)
            load_table(spark, sf_dir, "documents").repartition(
                spread_partitions(spark, sf_dir, "documents"), "doc_id"
            )
        )
    )


def _sql_hamming64(a: str, b: str) -> str:
    """DuckDB expression: Hamming distance between two 64-char bit strings."""
    return (
        f"len(list_filter(range(1, 65), i -> substr({a}, CAST(i AS INTEGER), 1)"
        f" <> substr({b}, CAST(i AS INTEGER), 1)))"
    )


# Shared phash replay CTEs (dedup_image_phash / _clusters / _incremental,
# and — prefixed — the gated-pipeline oracle in streaming/pipeline_read.py):
# the PPM synthesis arithmetic (ASCII corpus: char codes == raster bytes,
# raster[k] = codes[k % len + 1] by the cyclic tiling) → integer grayscale
# → 9×8 nearest-neighbor grid → gradient bits → 4×16 banding.
def phash_ctes(prefix: str = "", lead: str = "WITH") -> str:
    """The phash replay CTE chain with every CTE name ``prefix``ed (so a
    composite oracle can splice it next to CTEs that already use the
    bare names) and ``lead`` as the opening keyword (``WITH`` standalone,
    ``,`` when appended to an existing WITH chain)."""
    return _PHASH_CTES_TEMPLATE.format(p=prefix, lead=lead)


_PHASH_CTES_TEMPLATE = f"""
    {{lead}} {{p}}base AS (
      SELECT doc_id,
             octet_length(encode(text)) AS len,
             octet_length(encode(text)) % {W_MOD} + {W_MIN} AS w,
             octet_length(encode(text)) % {H_MOD} + {H_MIN} AS h,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, i, 1))) AS codes
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ), {{p}}cells AS (
      SELECT doc_id, len, w, h, codes, t.b AS b,
             (t.b // 8) AS gi, (t.b % 8) AS gj
      FROM {{p}}base, (SELECT unnest(range(0, 64)) AS b) t
    ), {{p}}pos AS (
      SELECT doc_id, b, len, w, codes,
             ((gi * h) // 8) AS y,
             ((gj * w) // 9) AS x1,
             (((gj + 1) * w) // 9) AS x2
      FROM {{p}}cells
    ), {{p}}gv AS (
      SELECT doc_id, b,
        (codes[CAST((3 * (y * w + x1)) % len AS BIGINT) + 1]
         + codes[CAST((3 * (y * w + x1) + 1) % len AS BIGINT) + 1]
         + codes[CAST((3 * (y * w + x1) + 2) % len AS BIGINT) + 1]) // 3 AS g1,
        (codes[CAST((3 * (y * w + x2)) % len AS BIGINT) + 1]
         + codes[CAST((3 * (y * w + x2) + 1) % len AS BIGINT) + 1]
         + codes[CAST((3 * (y * w + x2) + 2) % len AS BIGINT) + 1]) // 3 AS g2
      FROM {{p}}pos
    ), {{p}}hashes AS (
      SELECT doc_id,
             string_agg(CASE WHEN g2 > g1 THEN '1' ELSE '0' END, ''
                        ORDER BY b) AS dh
      FROM {{p}}gv GROUP BY doc_id
    ), {{p}}bands AS (
      SELECT doc_id, dh, t.c AS c,
             substr(dh, CAST(t.c * {PHASH_BAND_BITS} + 1 AS INTEGER),
                    {PHASH_BAND_BITS}) AS band
      FROM {{p}}hashes, (SELECT unnest(range(0, {PHASH_BANDS})) AS c) t
    )"""

_PHASH_CTES = phash_ctes()


# Shared audio-fingerprint replay CTEs: the WAV synthesis arithmetic →
# per-frame boundary prefix sums of (vals, sqs) over the tiled int16
# signal (P(m) = full-cycle sums + partial-prefix, evaluated at the 34
# frame boundaries i·n//33) → per-frame moments by differencing → strict
# frame-to-frame delta bits (32 energy + 32 DC) → 4×16 banding.
_AUDIO_FP_CTES = f"""
    WITH base AS (
      SELECT doc_id, octet_length(encode(text)) AS len,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, i, 1))) AS codes
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ), sized AS (
      SELECT doc_id, len, codes,
             least(len % {S_MOD} + {S_MIN}, {AUDIO_FP_WINDOW}) AS n
      FROM base
    ), samp AS (
      SELECT doc_id, len, n,
             list_transform(codes, c -> CAST(c * 256 - 16384 AS BIGINT))
               AS vals,
             list_transform(codes,
                            c -> CAST(c * 256 - 16384 AS BIGINT)
                                 * CAST(c * 256 - 16384 AS BIGINT)) AS sqs
      FROM sized
    ), tot AS (
      SELECT doc_id, len, n, vals, sqs,
             list_sum(vals) AS tv, list_sum(sqs) AS ts
      FROM samp
    ), pref AS (
      SELECT doc_id,
             list_transform(range(0, {AUDIO_FP_FRAMES + 1}), i ->
               ((i * n // {AUDIO_FP_FRAMES}) // len) * tv
               + coalesce(list_sum(
                   vals[1:((i * n // {AUDIO_FP_FRAMES}) % len)]), 0)) AS pv,
             list_transform(range(0, {AUDIO_FP_FRAMES + 1}), i ->
               ((i * n // {AUDIO_FP_FRAMES}) // len) * ts
               + coalesce(list_sum(
                   sqs[1:((i * n // {AUDIO_FP_FRAMES}) % len)]), 0)) AS ps
      FROM tot
    ), abits AS (
      SELECT doc_id,
             string_agg(CASE WHEN ps[i + 3] - ps[i + 2] > ps[i + 2] - ps[i + 1]
                             THEN '1' ELSE '0' END, '' ORDER BY i)
             || string_agg(CASE WHEN pv[i + 3] - pv[i + 2] > pv[i + 2] - pv[i + 1]
                                THEN '1' ELSE '0' END, '' ORDER BY i) AS dh
      FROM pref, (SELECT unnest(range(0, {AUDIO_FP_FRAMES - 1})) AS i) t
      GROUP BY doc_id
    ), abands AS (
      SELECT doc_id, dh, t.c AS c,
             substr(dh, CAST(t.c * {PHASH_BAND_BITS} + 1 AS INTEGER),
                    {PHASH_BAND_BITS}) AS band
      FROM abits, (SELECT unnest(range(0, {PHASH_BANDS})) AS c) t
    )"""


ORACLES: dict[str, str] = {
    # Replays the WAV synthesis arithmetic for the exact time-domain
    # columns (tiled codepoints scaled to int16 — the multimodal_audio
    # recipe plus Σx and Σx²); the FFT's conservation-law verdict is
    # pinned TRUE (Parseval + DC hold for a correct transform).
    "audio_spectral": f"""
    WITH base AS (
      SELECT doc_id, octet_length(encode(text)) AS len,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, i, 1))) AS codes
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
    ), sized AS (
      SELECT doc_id, len, codes,
             ([{",".join(str(r) for r in WAV_RATES)}])[len % {len(WAV_RATES)} + 1]
               AS rate,
             len % {S_MOD} + {S_MIN} AS n_samples
      FROM base
    ), samp AS (
      SELECT doc_id, rate, n_samples,
             n_samples // len AS cycles, n_samples % len AS rem,
             list_transform(codes, c -> CAST(c * 256 - 16384 AS BIGINT))
               AS vals,
             list_transform(codes,
                            c -> CAST(c * 256 - 16384 AS BIGINT)
                                 * CAST(c * 256 - 16384 AS BIGINT)) AS sqs
      FROM sized
    )
    SELECT doc_id,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(cycles * list_sum(vals)
                + coalesce(list_sum(vals[1:rem]), 0) AS BIGINT) AS sample_sum,
           CAST(cycles * list_sum(sqs)
                + coalesce(list_sum(sqs[1:rem]), 0) AS BIGINT) AS energy,
           TRUE AS fft_ok
    FROM samp
    """,
    # Replays the ENTIRE audio-fingerprint pipeline from the WAV synthesis
    # arithmetic (ASCII corpus: char codes == payload bytes, sample j =
    # codes[j % len + 1]·256 − 16384 by the cyclic tiling): per-frame
    # (Σx, Σx²) via boundary prefix sums over the tiled signal — the exact
    # integers the kernel's rFFT recovers through the DC identity and
    # Parseval — then delta bits, 4×16 banding, Hamming.
    "dedup_audio_fingerprint": _AUDIO_FP_CTES + f"""
    , cpairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.dh AS dh_a, b.dh AS dh_b
      FROM abands a JOIN abands b
        ON a.c = b.c AND a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST({_sql_hamming64('dh_a', 'dh_b')} AS BIGINT) AS hamming
    FROM cpairs
    WHERE {_sql_hamming64('dh_a', 'dh_b')} <= {AUDIO_FP_HAMMING_MAX}
    """,
    # Replays the ENTIRE perceptual-hash pipeline from the PPM synthesis
    # arithmetic (ASCII corpus: char codes == raster bytes, raster[k] =
    # codes[k % len + 1] by the cyclic tiling): integer grayscale,
    # 9×8 nearest-neighbor grid, gradient bits, 4×16 banding, Hamming.
    "dedup_image_phash": _PHASH_CTES + f"""
    , cpairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.dh AS dh_a, b.dh AS dh_b
      FROM bands a JOIN bands b
        ON a.c = b.c AND a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST({_sql_hamming64('dh_a', 'dh_b')} AS BIGINT) AS hamming
    FROM cpairs
    WHERE {_sql_hamming64('dh_a', 'dh_b')} <= {PHASH_HAMMING_MAX}
    """,
    # Same banded pair set, then connected components by recursive reach
    # (the dedup_clusters oracle pattern): labels = component-min doc_id
    # over the Hamming-verified phash pair graph.
    "dedup_image_clusters": _PHASH_CTES.replace(
        "WITH base", "WITH RECURSIVE base", 1
    )
    + f"""
    , cpairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.dh AS dh_a, b.dh AS dh_b
      FROM bands a JOIN bands b
        ON a.c = b.c AND a.band = b.band AND a.doc_id < b.doc_id
    ), fpairs AS (
      SELECT doc_a, doc_b FROM cpairs
      WHERE {_sql_hamming64('dh_a', 'dh_b')} <= {PHASH_HAMMING_MAX}
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM fpairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM fpairs
    ), reach AS (
      SELECT src AS doc_id, src AS r FROM edges
      UNION
      SELECT e.src AS doc_id, reach.r
      FROM edges e JOIN reach ON reach.doc_id = e.dst
    )
    SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
    """,
    # The batch-vs-standing-index split replayed in SQL (the
    # dedup_incremental oracle pattern): corpus = even doc_ids (what the
    # served index holds), batch = odd; cross pairs only, Hamming-verified.
    "dedup_image_incremental": _PHASH_CTES + f"""
    , cpairs AS (
      SELECT DISTINCT o.doc_id AS doc_a, n.doc_id AS doc_b,
             o.dh AS dh_a, n.dh AS dh_b
      FROM bands n JOIN bands o
        ON n.c = o.c AND n.band = o.band
      WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
    )
    SELECT doc_a, doc_b,
           CAST({_sql_hamming64('dh_a', 'dh_b')} AS BIGINT) AS hamming
    FROM cpairs
    WHERE {_sql_hamming64('dh_a', 'dh_b')} <= {PHASH_HAMMING_MAX}
    """,
    "multimodal_frames": """
    WITH b AS (
      SELECT doc_id, text, length(text) AS n FROM documents
    ), grid AS (
      SELECT doc_id, text, n, t.o AS off
      FROM b CROSS JOIN (
        SELECT unnest(range(0, (SELECT max(n) FROM b), 64)) AS o
      ) t
      WHERE t.o < n
    )
    SELECT doc_id, CAST(off // 64 AS BIGINT) AS frame_idx,
           CAST(length(substring(text, CAST(off + 1 AS BIGINT), 32)) AS BIGINT)
             AS frame_bytes,
           md5(substring(text, CAST(off + 1 AS BIGINT), 32)) AS frame_digest
    FROM grid
    """,
    # Replays the PPM synthesis arithmetically (ASCII corpus: char codes ==
    # payload bytes): dims from the length moduli, pixel_sum = full tiling
    # cycles × the text's byte sum + the partial-cycle prefix sum, n_bytes =
    # rendered header length + raster size. The Spark side must DECODE its
    # binary back to these numbers — a header-write or parse bug lands here.
    "multimodal_meta": f"""
    WITH base AS (
      SELECT doc_id, text,
             octet_length(encode(text)) AS len,
             octet_length(encode(text)) % {W_MOD} + {W_MIN} AS w,
             octet_length(encode(text)) % {H_MOD} + {H_MIN} AS h,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, i, 1))) AS codes
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
    ), sized AS (
      SELECT doc_id, text, len, w, h, codes,
             w * h * 3 AS total,
             (w * h * 3) // len AS cycles,
             (w * h * 3) % len AS rem
      FROM base
    )
    SELECT doc_id,
           CAST(length('P6' || chr(10) || CAST(w AS VARCHAR) || ' ' ||
                       CAST(h AS VARCHAR) || chr(10) || '255' || chr(10))
                + total AS BIGINT) AS n_bytes,
           md5(text) AS digest,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(cycles * list_sum(codes)
                + coalesce(list_sum(codes[1:rem]), 0) AS BIGINT) AS pixel_sum
    FROM sized
    """,
    # Replays the WAV synthesis arithmetically (ASCII corpus: char codes ==
    # payload bytes): rate from the standard ladder indexed by len, sample
    # count from the length modulus, sample values = tiled codes scaled to
    # int16 (c*256 - 16384). The Spark side must PARSE its RIFF container
    # back to these numbers — a chunk-size or fmt-field bug lands here.
    "multimodal_audio": f"""
    WITH base AS (
      SELECT doc_id, octet_length(encode(text)) AS len,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, i, 1))) AS codes
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
    ), sized AS (
      SELECT doc_id, len, codes,
             ([{",".join(str(r) for r in WAV_RATES)}])[len % {len(WAV_RATES)} + 1]
               AS rate,
             len % {S_MOD} + {S_MIN} AS n_samples
      FROM base
    ), samp AS (
      SELECT doc_id, rate, n_samples,
             n_samples // len AS cycles, n_samples % len AS rem,
             list_transform(codes, c -> abs(c * 256 - 16384)) AS amps,
             list_transform(codes, c -> c * 256 - 16384) AS vals
      FROM sized
    )
    SELECT doc_id,
           CAST(44 + 2 * n_samples AS BIGINT) AS n_bytes,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST(n_samples * 1000000 // rate AS BIGINT) AS duration_us,
           CAST(CASE WHEN cycles > 0 THEN list_max(vals)
                     ELSE list_max(vals[1:rem]) END AS BIGINT) AS peak,
           CAST(cycles * list_sum(amps)
                + coalesce(list_sum(amps[1:rem]), 0) AS BIGINT) AS amp_sum
    FROM samp
    """,
}
