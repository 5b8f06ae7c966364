from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from map_reduce_in_go_spark.operators.multimodal import (
    decode_ppm,
    encode_ppm,
    multimodal_meta,
    sample_frames,
    with_payload,
    with_ppm_payload,
)
from map_reduce_in_go_spark.sources.tables import load_table


def test_ppm_roundtrip_is_a_real_image():
    """encode_ppm emits a valid binary PPM; decode_ppm parses dims out of
    the HEADER BYTES (not out of the input length) and validates the
    raster. The bytes are a file any Netpbm-reading tool opens."""
    payload = encode_ppm(b"hello world, twelve bytes plus")
    assert payload.startswith(b"P6\n")
    meta = decode_ppm(payload)
    n = len(b"hello world, twelve bytes plus")
    assert meta["width"] == n % 29 + 4
    assert meta["height"] == n % 13 + 4
    assert meta["maxval"] == 255
    # pixel_sum equals the tiled byte sum
    total = meta["width"] * meta["height"] * 3
    tiled = (b"hello world, twelve bytes plus" * (total // n + 1))[:total]
    assert meta["pixel_sum"] == sum(tiled)


def test_decode_ppm_rejects_malformed():
    with pytest.raises(ValueError):
        decode_ppm(b"JFIF not a ppm")
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n4 4\n255\n" + b"x" * 5)  # truncated raster
    # a header written by someone else decodes fine (it's a real format)
    other = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    assert decode_ppm(other) == {
        "width": 2,
        "height": 1,
        "maxval": 255,
        "pixel_sum": 210,
    }


def test_payload_roundtrip(spark, sf_dir):
    docs = with_payload(load_table(spark, sf_dir, "documents"))
    row = docs.select(
        "text", "payload", F.length("payload").alias("n")
    ).first()
    assert bytes(row["payload"]).decode("utf-8") == row["text"]
    assert row["n"] == len(row["text"].encode())


def test_meta_matches_direct_compute(spark, sf_dir):
    """The distributed encode→decode pipeline equals a local encode→decode
    of the same docs, including the payload md5 (pinning the exact bytes
    Spark synthesized, which the SQL oracle can't see)."""
    out = multimodal_meta(spark, sf_dir).orderBy("doc_id").limit(5).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").limit(50).collect()
    }
    payload_digests = {
        r["doc_id"]: hashlib.md5(bytes(r["payload"])).hexdigest()
        for r in with_ppm_payload(
            load_table(spark, sf_dir, "documents").limit(50)
        ).collect()
    }
    for r in out:
        local = decode_ppm(encode_ppm(docs[r["doc_id"]].encode()))
        assert r["width"] == local["width"]
        assert r["height"] == local["height"]
        assert r["pixel_sum"] == local["pixel_sum"]
        assert r["digest"] == hashlib.md5(docs[r["doc_id"]].encode()).hexdigest()
        assert (
            payload_digests[r["doc_id"]]
            == hashlib.md5(encode_ppm(docs[r["doc_id"]].encode())).hexdigest()
        )


def test_frame_sampling_fanout(spark, sf_dir):
    import math

    docs = with_payload(load_table(spark, sf_dir, "documents")).limit(10)
    frames = sample_frames(docs, every=64, frame=32).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_doc: dict[int, list] = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(texts)
    for doc_id, rows in by_doc.items():
        payload = texts[doc_id].encode()
        assert len(rows) == math.ceil(len(payload) / 64)
        first = min(rows, key=lambda r: r["frame_idx"])
        assert first["frame_digest"] == hashlib.md5(payload[:32]).hexdigest()


def test_empty_and_null_docs_are_excluded(spark):
    """Zero-byte and NULL texts have no image: with_ppm_payload filters
    them (matching the oracle's predicate) instead of crashing the job."""
    df = spark.createDataFrame(
        [(1, "real content here"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    rows = with_ppm_payload(df).collect()
    assert [r["doc_id"] for r in rows] == [1]
    meta = decode_ppm(bytes(rows[0]["payload"]))
    assert meta["width"] > 0 and meta["pixel_sum"] > 0


def test_wav_roundtrip_is_a_real_audio_file():
    """encode_wav emits a valid RIFF/WAVE (16-bit PCM mono) the stdlib
    `wave` module — a third-party parser for this purpose — opens and
    reads back sample-exact; decode_wav parses the header FIELDS (not the
    input length) and its stats match a direct computation."""
    import struct
    import wave
    from io import BytesIO

    from map_reduce_in_go_spark.operators.multimodal import (
        S_MIN,
        S_MOD,
        WAV_RATES,
        decode_wav,
        encode_wav,
    )

    raw = b"twelve tones of pcm, deterministically"
    payload = encode_wav(raw)
    with wave.open(BytesIO(payload)) as w:
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        assert w.getframerate() == WAV_RATES[len(raw) % len(WAV_RATES)]
        n = len(raw) % S_MOD + S_MIN
        assert w.getnframes() == n
        frames = w.readframes(n)
    tiled = (raw * (n // len(raw) + 1))[:n]
    expect = [b * 256 - 16384 for b in tiled]
    assert list(struct.unpack("<%dh" % n, frames)) == expect
    meta = decode_wav(payload)
    assert meta["sample_rate"] == WAV_RATES[len(raw) % len(WAV_RATES)]
    assert meta["n_samples"] == n
    assert meta["peak"] == max(expect)
    assert meta["amp_sum"] == sum(abs(v) for v in expect)
    assert meta["duration_us"] == n * 1_000_000 // meta["sample_rate"]


def test_decode_wav_walks_chunks_and_rejects_malformed():
    """decode_wav is a genuine container parser: a WAV written by another
    producer with an extra LIST chunk between fmt and data decodes fine;
    truncation, bad magic, size lies, and non-PCM formats all raise."""
    import struct

    from map_reduce_in_go_spark.operators.multimodal import decode_wav, encode_wav

    # foreign file: fmt, then a LIST/INFO chunk (odd size → pad byte), then data
    pcm = struct.pack("<4h", 100, -200, 300, -400)
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    info = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad to even
    data = b"data" + struct.pack("<I", len(pcm)) + pcm
    body = b"WAVE" + fmt + info + data
    foreign = b"RIFF" + struct.pack("<I", len(body)) + body
    meta = decode_wav(foreign)
    assert meta == {
        "sample_rate": 8000,
        "channels": 1,
        "n_samples": 4,
        "duration_us": 500,
        "peak": 300,
        "amp_sum": 1000,
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_wav(b"OggS not a wav")
    good = encode_wav(b"some content")
    with _pytest.raises(ValueError):
        decode_wav(good[:-3])  # truncated data chunk (RIFF size lies)
    bad_fmt = bytearray(good)
    bad_fmt[20] = 3  # audio_format = IEEE float
    with _pytest.raises(ValueError):
        decode_wav(bytes(bad_fmt))


def test_multimodal_audio_matches_direct_compute(spark, sf_dir):
    from map_reduce_in_go_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        multimodal_audio,
    )

    out = multimodal_audio(spark, sf_dir).orderBy("doc_id").limit(5).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(50)
        .collect()
    }
    for r in out:
        payload = encode_wav(docs[r["doc_id"]].encode())
        local = decode_wav(payload)
        assert r["n_bytes"] == len(payload)
        for k in ("sample_rate", "n_samples", "duration_us", "peak", "amp_sum"):
            assert r[k] == local[k], k


def test_encode_wav_wraps_non_ascii_bytes_into_int16():
    """Bytes >= 192 (every UTF-8 lead byte of a non-ASCII char) would
    overflow int16 under the raw b*256-16384 mapping; the kernel wraps
    deterministically instead of crashing, and stays byte-identical on
    pure-ASCII input (r12 self-review finding)."""
    import struct

    from map_reduce_in_go_spark.operators.multimodal import decode_wav, encode_wav

    payload = encode_wav("café au lait".encode("utf-8"))
    meta = decode_wav(payload)  # parses cleanly, no struct.error
    raw = "café au lait".encode("utf-8")
    n = meta["n_samples"]
    tiled = (raw * (n // len(raw) + 1))[:n]
    expect = [((b * 256 - 16384 + 32768) % 65536) - 32768 for b in tiled]
    got = struct.unpack("<%dh" % n, payload[44:])
    assert list(got) == expect
    assert meta["peak"] == max(expect)
    # identity on ASCII: same bytes as the unwrapped formula
    ascii_payload = encode_wav(b"plain ascii text")
    n2 = decode_wav(ascii_payload)["n_samples"]
    tiled2 = (b"plain ascii text" * (n2 // 16 + 1))[:n2]
    assert list(struct.unpack("<%dh" % n2, ascii_payload[44:])) == [
        b * 256 - 16384 for b in tiled2
    ]


def _ref_dhash(text: str) -> str:
    """Pure-python/numpy reference dHash (independent of the Spark kernel)."""
    import numpy as np

    from map_reduce_in_go_spark.operators.multimodal import (
        H_MIN, H_MOD, W_MIN, W_MOD,
    )

    b = text.encode("utf-8")
    n = len(b)
    w, h = n % W_MOD + W_MIN, n % H_MOD + H_MIN
    total = w * h * 3
    raster = (b * (total // n + 1))[:total]
    px = np.frombuffer(raster, dtype=np.uint8).astype(np.int64).reshape(h, w, 3)
    gray = px.sum(axis=2) // 3
    g = gray[np.ix_((np.arange(8) * h) // 8, (np.arange(9) * w) // 9)]
    return "".join(
        "1" if x else "0" for x in (g[:, 1:] > g[:, :-1]).ravel()
    )


def test_image_dhash_matches_reference(spark, sf_dir):
    """The Arrow dHash kernel (which decodes the PPM it is handed) agrees
    bit-for-bit with an independent reference that computes the hash from
    the synthesis arithmetic alone — the same equivalence the DuckDB
    oracle relies on."""
    from map_reduce_in_go_spark.operators.multimodal import (
        image_dhashes, with_ppm_payload,
    )

    docs = load_table(spark, sf_dir, "documents").limit(40)
    got = {
        r["doc_id"]: r["dhash"]
        for r in image_dhashes(with_ppm_payload(docs)).collect()
    }
    src = {
        r["doc_id"]: r["text"]
        for r in docs.filter(
            F.col("text").isNotNull() & (F.length("text") > 0)
        ).collect()
    }
    assert set(got) == set(src)
    for d, t in src.items():
        assert got[d] == _ref_dhash(t), d
        assert len(got[d]) == 64 and set(got[d]) <= {"0", "1"}


def test_image_phash_banding_recall(spark, sf_dir):
    """Banding recall pins (r14, r13 verdict #1):

    - pairs within Hamming ≤ 3 are caught with recall EXACTLY 1.0 —
      pigeonhole over 4 bands (≤ 3 differing bits leave one band
      untouched), so the guarantee is structural, not statistical;
    - at the registered threshold (8) the measured recall on this fixed
      corpus is pinned ≥ 0.8 (sf0.001: 55/67 banded) — the honest LSH
      tradeoff, documented rather than hidden.
    """
    import itertools

    from map_reduce_in_go_spark.operators.multimodal import (
        PHASH_HAMMING_MAX, dedup_image_phash,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    hashes = {
        r["doc_id"]: _ref_dhash(r["text"]) for r in docs.collect()
    }
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup_image_phash(spark, sf_dir).collect()
    }
    banded_pairs = {(a, b) for a, b, _ in banded}
    # brute-force ground truth over all pairs
    true_pairs = {}
    for a, b in itertools.combinations(sorted(hashes), 2):
        d = sum(x != y for x, y in zip(hashes[a], hashes[b]))
        if d <= PHASH_HAMMING_MAX:
            true_pairs[(a, b)] = d
    # every emitted pair is a true pair with the right distance
    for a, b, d in banded:
        assert true_pairs.get((a, b)) == d
    # pigeonhole: hamming <= 3 recall is exactly 1.0
    close = {p for p, d in true_pairs.items() if d <= 3}
    assert close <= banded_pairs
    # measured recall at the registered threshold stays above the pin
    if true_pairs:
        recall = len(banded_pairs & set(true_pairs)) / len(true_pairs)
        assert recall >= 0.8, recall


def test_audio_spectral_matches_wave_numpy_reference(spark, sf_dir):
    """FFT features pinned against an INDEPENDENT reference: samples
    re-read via the stdlib `wave` module (not our parser), spectrum via
    numpy on that independent decode — dominant bin/Hz, band energies,
    exact integer sums all agree; conservation-law verdicts hold."""
    import io
    import wave as wave_mod

    import numpy as np

    from map_reduce_in_go_spark.operators.multimodal import (
        AUDIO_BANDS,
        audio_spectral,
        audio_spectral_features,
        encode_wav,
    )

    docs = load_table(spark, sf_dir, "documents").limit(25)
    got = {
        r["doc_id"]: r
        for r in audio_spectral_features(
            docs.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        ).collect()
    }
    src = {
        r["doc_id"]: r["text"]
        for r in docs.filter(
            F.col("text").isNotNull() & (F.length("text") > 0)
        ).collect()
    }
    assert set(got) == set(src)
    for d, t in src.items():
        with wave_mod.open(io.BytesIO(encode_wav(t.encode())), "rb") as wf:
            rate = wf.getframerate()
            x = np.frombuffer(
                wf.readframes(wf.getnframes()), dtype="<i2"
            ).astype(np.int64)
        r = got[d]
        assert r["sample_rate"] == rate and r["n_samples"] == len(x)
        assert r["sample_sum"] == int(x.sum())
        assert r["energy"] == int((x * x).sum())
        X = np.fft.rfft(x.astype(np.float64))
        mag2 = X.real * X.real + X.imag * X.imag
        ac = mag2[1:]
        assert r["dominant_bin"] == int(np.argmax(ac)) + 1
        assert r["dominant_hz"] == pytest.approx(
            r["dominant_bin"] * rate / len(x)
        )
        edges = np.linspace(0, len(ac), AUDIO_BANDS + 1).astype(int)
        for i in range(AUDIO_BANDS):
            assert r["band_energy"][i] == pytest.approx(
                float(ac[edges[i] : edges[i + 1]].sum()), rel=1e-9
            )
        # conservation laws (what the registered verdict checks)
        assert r["dc_re"] == pytest.approx(float(x.sum()), rel=1e-9)
        assert r["spec_energy"] == pytest.approx(
            len(x) * float((x * x).sum()), rel=1e-9
        )
    # and the registered query's verdict is TRUE for the whole corpus
    out = audio_spectral(spark, sf_dir)
    assert out.filter(~F.col("fft_ok")).count() == 0


def test_phash_index_incremental_probe(spark, sf_dir, tmp_path):
    """Standing perceptual-hash index (r14): a batch probed against the
    ledgered index finds exactly the cross pairs the full in-flight query
    finds; appends are exactly-once per op; a day-2 batch collides with
    day-1 appends only through the appended files."""
    from map_reduce_in_go_spark.operators.multimodal import (
        build_phash_index,
        dedup_image_phash,
        image_batch_near_dups,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.pmod("doc_id", F.lit(3)) == 0)
    batch1 = docs.filter(F.pmod("doc_id", F.lit(3)) == 1)
    batch2 = docs.filter(F.pmod("doc_id", F.lit(3)) == 2)
    root = str(tmp_path / "phash_idx")

    assert build_phash_index(corpus, root) is True
    assert build_phash_index(corpus, root) is False  # replay no-op

    got1 = {
        frozenset((r["doc_a"], r["doc_b"])): r["hamming"]
        for r in image_batch_near_dups(spark, batch1, root).collect()
    }
    # ground truth: the registered full query's pairs, restricted to
    # corpus × batch1 (the probe is pure cross — in-batch pairs are the
    # caller's in-batch dedup step, as in dedup_incremental)
    full = {
        frozenset((r["doc_a"], r["doc_b"])): r["hamming"]
        for r in dedup_image_phash(spark, sf_dir).collect()
    }
    c_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    b1_ids = {r["doc_id"] for r in batch1.select("doc_id").collect()}
    want1 = {
        p: h
        for p, h in full.items()
        if len(p & c_ids) == 1 and len(p & b1_ids) == 1
    }
    assert got1 == want1

    # day-2: append batch1's bands under an op, probe batch2 — pairs
    # against batch1 docs can only come from the appended files
    assert build_phash_index(batch1, root, op="day-1") is True
    assert build_phash_index(batch1, root, op="day-1") is False
    got2 = {
        frozenset((r["doc_a"], r["doc_b"])): r["hamming"]
        for r in image_batch_near_dups(spark, batch2, root).collect()
    }
    b2_ids = {r["doc_id"] for r in batch2.select("doc_id").collect()}
    want2 = {
        p: h
        for p, h in full.items()
        if len(p & b2_ids) == 1 and len(p & (c_ids | b1_ids)) == 1
    }
    assert got2 == want2

    # maintenance: the OPTIMIZE-ZORDER rewrite changes no probe answer
    # and flattens the file count after the append run
    from map_reduce_in_go_spark.operators.multimodal import (
        optimize_phash_index,
    )
    from map_reduce_in_go_spark.sources.manifest_table import ManifestTable

    optimize_phash_index(spark, root, num_files=4)
    after = len(ManifestTable(root, stats_cols=["band"]).files())
    assert after <= 4  # re-clustered into the requested file budget
    got2b = {
        frozenset((r["doc_a"], r["doc_b"])): r["hamming"]
        for r in image_batch_near_dups(spark, batch2, root).collect()
    }
    assert got2b == got2


def test_image_clusters_match_union_find(spark, sf_dir):
    """Star-contraction clusters over the phash pair graph equal a
    driver-side union-find on the same pairs (labels = component min);
    docs with no near-dup pair carry no row."""
    from map_reduce_in_go_spark.operators.multimodal import (
        dedup_image_clusters,
        dedup_image_phash,
    )

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup_image_phash(spark, sf_dir).collect()
    ]
    assert pairs  # the fixture corpus has near-dup images
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_image_clusters(spark, sf_dir).collect()
    }
    assert got == want


def test_dedup_image_incremental_registered(spark, sf_dir):
    """The registered incremental probe (r15): pairs equal the full
    recompute's pairs restricted to corpus(even) × batch(odd), the index
    artifact is memoized (second call is probe-only), and every pair is
    oriented (doc_a = corpus image, doc_b = batch image)."""
    from map_reduce_in_go_spark.operators.multimodal import (
        dedup_image_incremental,
        dedup_image_phash,
    )
    from map_reduce_in_go_spark.sources.artifacts import memo

    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup_image_incremental(spark, sf_dir).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"])
        if r["doc_a"] % 2 == 0
        else (r["doc_b"], r["doc_a"]): r["hamming"]
        for r in dedup_image_phash(spark, sf_dir).collect()
        if r["doc_a"] % 2 != r["doc_b"] % 2
    }
    assert got == want
    assert all(a % 2 == 0 and b % 2 == 1 for a, b in got)
    # served artifact: one build per process, keyed by resolved sf_dir
    assert os.path.realpath(sf_dir) in memo("phash")
    again = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup_image_incremental(spark, sf_dir).collect()
    }
    assert again == got


def _ref_audio_fp(text: str) -> str:
    """Independent fingerprint reference: stdlib-wave decode + pure
    integer TIME-DOMAIN frame moments (no FFT anywhere) — the exact
    integers the kernel's rFFT must recover through the DC identity and
    Parseval before taking delta bits."""
    import io
    import wave

    from map_reduce_in_go_spark.operators.multimodal import (
        AUDIO_FP_FRAMES,
        AUDIO_FP_WINDOW,
        encode_wav,
    )

    with wave.open(io.BytesIO(encode_wav(text.encode("utf-8")))) as w:
        raw = w.readframes(w.getnframes())
    x = [
        int.from_bytes(raw[2 * i : 2 * i + 2], "little", signed=True)
        for i in range(len(raw) // 2)
    ][:AUDIO_FP_WINDOW]
    n = len(x)
    bs = [(i * n) // AUDIO_FP_FRAMES for i in range(AUDIO_FP_FRAMES + 1)]
    en = [sum(v * v for v in x[bs[i] : bs[i + 1]]) for i in range(AUDIO_FP_FRAMES)]
    dc = [sum(x[bs[i] : bs[i + 1]]) for i in range(AUDIO_FP_FRAMES)]
    return "".join(
        "1" if en[i + 1] > en[i] else "0" for i in range(AUDIO_FP_FRAMES - 1)
    ) + "".join(
        "1" if dc[i + 1] > dc[i] else "0" for i in range(AUDIO_FP_FRAMES - 1)
    )


def test_audio_fingerprint_matches_time_domain_reference(spark, sf_dir):
    """The rFFT-path fingerprints equal a pure time-domain integer
    reference computed through an independent stdlib-``wave`` decode:
    the conservation laws (DC identity + Parseval) really do pin every
    rounded moment, so the float FFT path yields bit-exact fingerprints."""
    from map_reduce_in_go_spark.operators.multimodal import audio_fingerprints

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    want = {r["doc_id"]: _ref_audio_fp(r["text"]) for r in docs.collect()}
    got = {
        r["doc_id"]: r["dhash"]
        for r in audio_fingerprints(docs.select("doc_id", "text")).collect()
    }
    assert got == want
    assert all(len(h) == 64 and set(h) <= {"0", "1"} for h in got.values())


def test_audio_fingerprint_banding_recall(spark, sf_dir):
    """Banding recall pins for the registered audio fingerprint (r15):

    - every emitted pair is a true pair with the exact Hamming distance;
    - pairs within Hamming ≤ 3 are caught with recall EXACTLY 1.0
      (pigeonhole over 4 bands — structural, not statistical);
    - the fixture corpus genuinely yields near-dup audio pairs (the
      anchor-window design catches shared-prefix transcripts).
    """
    import itertools

    from map_reduce_in_go_spark.operators.multimodal import (
        AUDIO_FP_HAMMING_MAX,
        dedup_audio_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    hashes = {r["doc_id"]: _ref_audio_fp(r["text"]) for r in docs.collect()}
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup_audio_fingerprint(spark, sf_dir).collect()
    }
    assert banded  # the corpus has near-dup clips
    banded_pairs = {(a, b) for a, b, _ in banded}
    true_pairs = {}
    for a, b in itertools.combinations(sorted(hashes), 2):
        d = sum(x != y for x, y in zip(hashes[a], hashes[b]))
        if d <= AUDIO_FP_HAMMING_MAX:
            true_pairs[(a, b)] = d
    for a, b, d in banded:
        assert true_pairs.get((a, b)) == d
    close = {p for p, d in true_pairs.items() if d <= 3}
    assert close <= banded_pairs
