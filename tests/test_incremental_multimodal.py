"""Tests for incremental (snapshot-diff) updates and multimodal plumbing."""

from __future__ import annotations

import hashlib
from dataclasses import replace

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lsh_for_source_code_spark.caching import release_all
from lsh_for_source_code_spark.config import PipelineConfig
from lsh_for_source_code_spark.corpus import generate_corpus
from lsh_for_source_code_spark.functions.minhash import sign_files
from lsh_for_source_code_spark.functions.multimodal import (
    extract_media_features,
    media_exact_dups,
)
from lsh_for_source_code_spark.operators.banding import band_files
from lsh_for_source_code_spark.plans.pipeline import (
    run_pipeline,
    shingle_stage,
    with_file_id,
)
from lsh_for_source_code_spark.streaming.incremental import (
    delta_files,
    incremental_update,
)

CFG = PipelineConfig(num_perm=16, bands=8, rows_per_band=2)


def _files_df(spark, items):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "file_id": [i for i, _ in items],
                "content": [c for _, c in items],
            }
        )
    )


def test_delta_files_left_anti(spark):
    new = _files_df(spark, [(1, "a"), (2, "b"), (3, "c")])
    known = spark.createDataFrame(pd.DataFrame({"file_id": [2]}))
    got = {r.file_id for r in delta_files(new, known).collect()}
    assert got == {1, 3}


def _cross_batch_inputs(spark):
    """(new, old_shingled, old_bands): file 3 is file 1 plus one token."""
    base_text = " ".join(f"w{i}" for i in range(60))
    old = _files_df(spark, [(1, base_text), (2, "totally other words entirely")])
    old_shingled = shingle_stage(old, CFG)
    old_bands = band_files(sign_files(old_shingled, CFG), CFG)

    new = _files_df(spark, [(3, base_text + " extra")]).select(
        F.col("file_id"), F.col("content")
    )
    return new, old_shingled, old_bands


def test_incremental_update_finds_cross_batch_pairs(spark):
    new, old_shingled, old_bands = _cross_batch_inputs(spark)
    out = incremental_update(new, old_shingled, old_bands, CFG)
    assert {r.file_id for r in out["delta_shingled"].collect()} == {3}
    # cached, so banding and a caller reading both run the signature UDF once
    assert out["delta_signatures"].is_cached
    pairs = {(r.id_a, r.id_b) for r in out["verified_new_pairs"].collect()}
    assert (1, 3) in pairs
    # old-old pairs are not re-verified
    assert all(3 in p for p in pairs)


def test_repeated_delta_compiles_nothing(spark):
    """A repeated delta reuses every generated class. One delta needs more
    distinct classes than Spark's default 100-entry codegen LRU holds, so
    without `session.CODEGEN_CACHE_ENTRIES` every repeat missed on every
    class and recompiled it (~150 per delta); with stage ids in the class
    names, AQE's re-planning order still made 30-44 of them miss."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    new, old_shingled, old_bands = _cross_batch_inputs(spark)
    counts = []
    for _ in range(2):
        before = compiles.getCount()
        incremental_update(new, old_shingled, old_bands, CFG)["verified_new_pairs"].collect()
        release_all()
        counts.append(compiles.getCount() - before)
    assert counts[1] == 0, counts


@pytest.mark.parametrize(
    "max_bucket_pairs,exact_dups",
    [
        pytest.param(64, False, id="64"),
        pytest.param(10000, False, id="10000"),
        pytest.param(64, True, id="dups-64"),
        pytest.param(10000, True, id="dups-10000"),
    ],
)
def test_delta_equals_batch(spark, max_bucket_pairs, exact_dups):
    """incremental_update(D; B) against the run_pipeline(B u D) verified
    pairs that have an endpoint in D, jaccard included, for the split
    D = {pmod(file_id, 5) == 0} of generate_corpus(600, 7).

    Without exact-content duplicates the two are equal. With them (600
    files, 475 distinct contents) batch S2 signs one representative per
    content_sha and links the copies through exact-dup edges, while the
    delta signs and verifies every new file. So there:

    - the delta pairs contain every batch pair with an endpoint in D;
    - every extra delta pair has jaccard 1.0 and an endpoint that batch
      never signed (a non-representative copy);
    - the components of run_pipeline(B)'s verified pairs and exact-dup
      edges plus the delta pairs equal the run_pipeline(B u D) clusters.

    max_bucket_pairs=64 sends the boilerplate bands down the mega path;
    10000 keeps every bucket on exact all-pairs. Mega refinement (batch
    passes `signed` to S5, the delta does not) makes no difference on
    this corpus at either value."""
    cfg = replace(PipelineConfig(), max_bucket_pairs=max_bucket_pairs)
    files = generate_corpus(600, 7).files
    if not exact_dups:
        files = files.drop_duplicates("content")
    ids = with_file_id(spark.createDataFrame(files))
    in_delta = F.pmod("file_id", F.lit(5)) == 0
    base = shingle_stage(ids.filter(~in_delta), cfg)
    bands = band_files(sign_files(base, cfg), cfg)
    delta = ids.filter(in_delta).select("file_id", "content")

    def triples(pairs):
        return {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in pairs.select("id_a", "id_b", "jaccard").collect()
        }

    got = triples(incremental_update(delta, base, bands, cfg)["verified_new_pairs"])
    release_all()
    new_ids = ids.filter(in_delta).select("file_id")
    batch = run_pipeline(spark, spark.createDataFrame(files), cfg)
    pairs = batch["verified_pairs"]
    want = triples(
        pairs.join(new_ids.withColumnRenamed("file_id", "id_a"), "id_a", "left_semi")
        .unionByName(
            pairs.join(new_ids.withColumnRenamed("file_id", "id_b"), "id_b", "left_semi")
        )
    )
    signed = {r.file_id for r in batch["signatures"].select("file_id").collect()}
    want_clusters = _partition(
        (r.file_id, r.cluster_id) for r in batch["clusters"].collect()
    )
    release_all()
    assert want, "the split must put verified pairs on the delta side"
    if not exact_dups:
        assert got == want
        return
    assert got > want
    extra = got - want
    assert all(j == 1.0 for _, _, j in extra)
    assert all(a not in signed or b not in signed for a, b, _ in extra)

    base_run = run_pipeline(spark, ids.filter(~in_delta).drop("file_id"), cfg)
    edges = [
        (r.id_a, r.id_b)
        for df in (base_run["verified_pairs"], base_run["exact_dup_edges"])
        for r in df.select("id_a", "id_b").collect()
    ] + [(a, b) for a, b, _ in got]
    nodes = [r.file_id for r in ids.select("file_id").collect()]
    release_all()
    assert _partition(_components(nodes, edges)) == want_clusters


def _components(nodes, edges):
    """(node, root) by union-find over `edges`."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    return [(n, find(n)) for n in nodes]


def _partition(labels):
    """{frozenset of members} from (member, label) pairs."""
    groups = {}
    for n, c in labels:
        groups.setdefault(c, set()).add(n)
    return {frozenset(g) for g in groups.values()}


def test_media_feature_extraction_and_dedup(spark):
    payloads = [b"imgbytes-A", b"imgbytes-A", b"imgbytes-B", b"audio-X"]
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2, 3, 4],
                "kind": ["image", "image", "image", "audio"],
                "mime": ["image/png"] * 3 + ["audio/wav"],
                "payload": payloads,
                "width": [8, 8, 8, None],
                "height": [8, 8, 8, None],
                "duration_ms": [None, None, None, 1000],
            }
        )
    )
    feats = extract_media_features(media)
    rows = {r.media_id: r for r in feats.collect()}
    assert len(rows) == 4
    for mid, payload in zip([1, 2, 3, 4], payloads):
        assert rows[mid].payload_sha == hashlib.sha256(payload).hexdigest()
        assert rows[mid].n_bytes == len(payload)
    # deterministic stub: identical payloads -> identical features
    assert np.allclose(rows[1].feature, rows[2].feature)
    assert not np.allclose(rows[1].feature, rows[3].feature)
    assert len(rows[1].feature) == 16

    dups = {r.payload_sha: r for r in media_exact_dups(feats).collect()}
    a_sha = hashlib.sha256(b"imgbytes-A").hexdigest()
    assert dups[a_sha].n_copies == 2 and dups[a_sha].rep_id == 1


def _encode_png(px: np.ndarray, filters=None, color_type=None) -> bytes:
    """Minimal test-side PNG ENCODER (independent of the decoder under
    test): filter each scanline per `filters`, deflate, wrap in chunks."""
    import struct
    import zlib

    h, w, c = px.shape
    ct = color_type if color_type is not None else {1: 0, 2: 4, 3: 2, 4: 6}[c]
    filters = filters or [0] * h
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.uint8)
    for y in range(h):
        row = px[y].reshape(-1)
        f = filters[y]
        raw.append(f)
        if f == 0:
            flt = row
        elif f == 1:  # sub
            left = np.concatenate([np.zeros(c, np.uint8), row[:-c]])
            flt = row - left
        elif f == 2:  # up
            flt = row - prev
        elif f == 3:  # average
            left = np.concatenate([np.zeros(c, np.uint8), row[:-c]])
            flt = row - ((left.astype(np.uint16) + prev.astype(np.uint16)) >> 1).astype(np.uint8)
        elif f == 4:  # paeth
            from lsh_for_source_code_spark.functions.png import _paeth

            flt = np.empty(w * c, dtype=np.uint8)
            for x in range(w * c):
                a = int(row[x - c]) if x >= c else 0
                b = int(prev[x])
                cc = int(prev[x - c]) if x >= c else 0
                flt[x] = (int(row[x]) - _paeth(a, b, cc)) & 0xFF
        raw.extend(flt.tobytes())
        prev = row
    def chunk(t, body):
        return (
            struct.pack(">I", len(body)) + t + body
            + struct.pack(">I", zlib.crc32(t + body))
        )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decoder_roundtrip_all_filters():
    """decode_png must reconstruct exact pixels through every PNG filter
    type (0 none / 1 sub / 2 up / 3 average / 4 paeth) and every supported
    8-bit color type -- encoder is written independently in the test."""
    from lsh_for_source_code_spark.functions.png import decode_png

    rng = np.random.default_rng(11)
    for c in (1, 2, 3, 4):
        px = rng.integers(0, 256, size=(7, 5, c), dtype=np.uint8)
        for filters in ([0] * 7, [1] * 7, [2] * 7, [3] * 7, [4] * 7,
                        [0, 1, 2, 3, 4, 3, 1]):
            data = _encode_png(px, filters=filters)
            got = decode_png(data)
            assert got.shape == px.shape
            assert (got == px).all(), (c, filters)


def test_png_decoder_rejects_unsupported():
    import struct
    import zlib

    import pytest

    from lsh_for_source_code_spark.functions.png import decode_png

    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    # interlaced flag -> NotImplementedError
    def chunk(t, body):
        return (struct.pack(">I", len(body)) + t + body
                + struct.pack(">I", zlib.crc32(t + body)))
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)
    raw = zlib.compress(bytes([0, 1, 2, 0, 3, 4]))
    data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", raw) + chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError):
        decode_png(data)


def test_media_features_use_real_png_pixels(spark):
    """End-to-end through the Spark mapInPandas channel: a real PNG payload
    must produce the 4x4 block-mean LUMINANCE feature of its decoded
    pixels (not the digest fallback) -- two byte-wise DIFFERENT encodings
    of the same pixels (filter choice differs) must featurize identically,
    which is impossible for any digest-of-bytes stub."""
    from lsh_for_source_code_spark.functions.png import pixel_feature

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    png_a = _encode_png(px, filters=[0] * 8)
    png_b = _encode_png(px, filters=[4] * 8)
    assert png_a != png_b  # different bytes, same pixels
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2],
                "kind": ["image", "image"],
                "mime": ["image/png"] * 2,
                "payload": [png_a, png_b],
                "width": [8, 8],
                "height": [8, 8],
                "duration_ms": [None, None],
            }
        )
    )
    rows = {r.media_id: r for r in extract_media_features(media).collect()}
    expected = pixel_feature(px, grid=4)
    assert np.allclose(rows[1].feature, expected, atol=1e-6)
    assert np.allclose(rows[2].feature, expected, atol=1e-6)
    assert len(rows[1].feature) == 16


# ---------------------------------------------------------------- WAV / Y4M


def _encode_wav(samples: np.ndarray, rate: int = 8000, bits: int = 16,
                n_ch: int = 1, fmt_code: int | None = None,
                extra_chunk: bytes | None = None) -> bytes:
    """Independent test-side WAV encoder (RIFF writer written from the
    public spec, NOT via functions/wav.py). samples: float in [-1, 1],
    mono; replicated across n_ch channels."""
    import struct

    x = np.tile(samples.reshape(-1, 1), (1, n_ch)).reshape(-1)
    if fmt_code is None:
        fmt_code = 1 if bits in (8, 16, 24, 32) else 3
    if fmt_code == 1:
        if bits == 8:
            pcm = (np.clip(x, -1, 1) * 127 + 128).astype(np.uint8).tobytes()
        elif bits == 16:
            pcm = (np.clip(x, -1, 1) * 32767).astype("<i2").tobytes()
        elif bits == 24:
            v = (np.clip(x, -1, 1) * 8388607).astype(np.int32)
            b = np.empty((len(v), 3), dtype=np.uint8)
            b[:, 0] = v & 0xFF
            b[:, 1] = (v >> 8) & 0xFF
            b[:, 2] = (v >> 16) & 0xFF
            pcm = b.tobytes()
        else:
            pcm = (np.clip(x, -1, 1) * 2147483647).astype("<i4").tobytes()
    else:
        pcm = x.astype("<f4" if bits == 32 else "<f8").tobytes()
    block = n_ch * bits // 8
    fmt = struct.pack("<HHIIHH", fmt_code, n_ch, rate, rate * block, block, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk is not None:
        chunks += extra_chunk
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    if len(pcm) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _encode_y4m(luma: np.ndarray, chroma: str = "420jpeg",
                header_extra: str = "", frame_extra: str = "") -> bytes:
    """Independent test-side Y4M encoder. luma: (n, h, w) uint8; chroma
    planes are written as the per-frame midpoint constant 128."""
    n, h, w = luma.shape
    div = {"420jpeg": (2, 2), "420mpeg2": (2, 2), "420": (2, 2),
           "422": (2, 1), "444": (1, 1), "mono": None}[chroma]
    hdr = f"YUV4MPEG2 W{w} H{h} F25:1{header_extra} C{chroma}\n".encode()
    out = bytearray(hdr)
    for f in range(n):
        out += f"FRAME{frame_extra}\n".encode()
        out += luma[f].tobytes()
        if div is not None:
            out += b"\x80" * (2 * ((w // div[0]) * (h // div[1])))
    return bytes(out)


def test_wav_decoder_all_encodings():
    """decode_wav must recover the same waveform through every supported
    encoding: PCM 8/16/24/32-bit, float32/float64, stereo-duplicated,
    WAVE_FORMAT_EXTENSIBLE, and with an unknown RIFF chunk before data."""
    import struct

    from lsh_for_source_code_spark.functions.wav import decode_wav

    t = np.arange(800) / 8000.0
    ref = (0.5 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    for bits, fmt_code, atol in [
        (8, 1, 2e-2), (16, 1, 1e-4), (24, 1, 1e-6), (32, 1, 1e-7),
        (32, 3, 1e-7), (64, 3, 1e-7),
    ]:
        got, rate = decode_wav(_encode_wav(ref, bits=bits, fmt_code=fmt_code))
        assert rate == 8000
        assert np.allclose(got, ref, atol=atol), (bits, fmt_code)
    # stereo with identical channels mixes back to the same mono waveform
    got, _ = decode_wav(_encode_wav(ref, bits=16, n_ch=2))
    assert np.allclose(got, ref, atol=1e-4)
    # WAVE_FORMAT_EXTENSIBLE wrapper around PCM16
    data = _encode_wav(ref, bits=16)
    fmt_ext = struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16) \
        + struct.pack("<HHI", 22, 16, 0x00000003) \
        + struct.pack("<H", 1) + b"\x00" * 14
    pcm = (np.clip(ref, -1, 1) * 32767).astype("<i2").tobytes()
    chunks = b"fmt " + struct.pack("<I", len(fmt_ext)) + fmt_ext \
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    ext = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    got, _ = decode_wav(ext)
    assert np.allclose(got, ref, atol=1e-4)
    # unknown chunk (LIST metadata) before data is skipped
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    got, _ = decode_wav(_encode_wav(ref, bits=16, extra_chunk=extra))
    assert np.allclose(got, ref, atol=1e-4)


def test_wav_decoder_rejects_unsupported():
    import struct

    import pytest

    from lsh_for_source_code_spark.functions.wav import decode_wav

    with pytest.raises(ValueError):
        decode_wav(b"not a wav")
    # mu-law (format code 7) -> NotImplementedError
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", 4) + b"\x01\x02\x03\x04"
    data = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    with pytest.raises(NotImplementedError):
        decode_wav(data)


def test_y4m_decoder_layouts_and_rejects():
    """decode_y4m must return exact luma planes for every supported chroma
    layout, tolerate frame-level params, and reject corrupt/unsupported
    input."""
    import pytest

    from lsh_for_source_code_spark.functions.y4m import decode_y4m

    rng = np.random.default_rng(17)
    luma = rng.integers(0, 256, size=(3, 6, 8), dtype=np.uint8)
    for chroma in ("420jpeg", "420mpeg2", "420", "422", "444", "mono"):
        got = decode_y4m(_encode_y4m(luma, chroma=chroma))
        assert (got == luma).all(), chroma
    # frame-level params shift the header but not the planes
    got = decode_y4m(_encode_y4m(luma, frame_extra=" Xsc"))
    assert (got == luma).all()
    with pytest.raises(ValueError):
        decode_y4m(b"not a y4m")
    with pytest.raises(ValueError):  # truncated last frame
        decode_y4m(_encode_y4m(luma)[:-5])
    with pytest.raises(NotImplementedError):  # 411 layout unsupported
        decode_y4m(b"YUV4MPEG2 W4 H4 C411\n" + b"FRAME\n" + b"\x00" * 24)


def test_media_features_use_real_wav_and_y4m(spark):
    """End-to-end through the Spark mapInPandas channel: WAV audio and Y4M
    video payloads must produce decoded-sample features (not the digest
    fallback) -- byte-wise DIFFERENT encodings of the same content (PCM16
    vs float32; 420jpeg vs 420mpeg2 chroma siting tag) must featurize
    identically, which is impossible for any digest-of-bytes stub."""
    from lsh_for_source_code_spark.functions.wav import audio_feature, decode_wav
    from lsh_for_source_code_spark.functions.y4m import decode_y4m, video_feature

    # waveform bounded away from zero: the RMS/zero-crossing feature is then
    # invariant to PCM quantization (a near-zero sample's SIGN can
    # legitimately flip between encodings, which would change ZCR)
    rng_w = np.random.default_rng(31)
    wave = (
        rng_w.uniform(0.1, 0.9, 4000) * rng_w.choice([-1.0, 1.0], 4000)
    ).astype(np.float32)
    wav_a = _encode_wav(wave, bits=16)
    wav_b = _encode_wav(wave, bits=32, fmt_code=3)
    assert wav_a != wav_b
    rng = np.random.default_rng(23)
    luma = rng.integers(0, 256, size=(5, 8, 8), dtype=np.uint8)
    y4m_a = _encode_y4m(luma, chroma="420jpeg")
    y4m_b = _encode_y4m(luma, chroma="420mpeg2")
    assert y4m_a != y4m_b
    mp3ish = b"\xff\xfb" + b"\x00" * 64  # non-WAV audio -> digest fallback
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2, 3, 4, 5],
                "kind": ["audio", "audio", "video", "video", "audio"],
                "mime": ["audio/wav", "audio/wav", "video/x-y4m",
                         "video/x-y4m", "audio/mpeg"],
                "payload": [wav_a, wav_b, y4m_a, y4m_b, mp3ish],
                "width": [None] * 5,
                "height": [None] * 5,
                "duration_ms": [500, 500, 200, 200, 100],
            }
        )
    )
    rows = {r.media_id: r for r in extract_media_features(media).collect()}
    exp_audio = audio_feature(decode_wav(wav_a)[0], n_frames=8)
    exp_video = video_feature(decode_y4m(y4m_a), k=4, grid=2)
    assert np.allclose(rows[1].feature, exp_audio, atol=1e-4)
    assert np.allclose(rows[2].feature, exp_audio, atol=1e-4)
    assert len(rows[1].feature) == 16  # 8 RMS + 8 zero-crossing windows
    assert np.allclose(rows[3].feature, exp_video, atol=1e-6)
    assert np.allclose(rows[4].feature, exp_video, atol=1e-6)
    assert len(rows[3].feature) == 16  # 4 frames x 2x2 luminance grid
    assert rows[1].feature != rows[3].feature
    assert len(rows[5].feature) == 32  # digest fallback path, marked stub


def test_resize_image_math_and_modes():
    """Bilinear and nearest resize: identity at the source size, constancy
    preservation, pixel replication on 2x nearest upsample, and an exact
    hand-computed bilinear midpoint (edge-aligned grid: 1x4 [0,100,200,255]
    downsampled to 1x2 samples at source x=0.5 and x=2.5 -> 50, 228)."""
    from lsh_for_source_code_spark.functions.png import resize_image

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
    assert (resize_image(px, 7, 5, "bilinear") == px).all()
    assert (resize_image(px, 7, 5, "nearest") == px).all()
    c = np.full((4, 4, 1), 77, dtype=np.uint8)
    assert (resize_image(c, 9, 3, "bilinear") == 77).all()
    up = resize_image(px, 14, 10, "nearest")
    assert (up[::2, ::2] == px).all() and (up[1::2, 1::2] == px).all()
    g = np.array([[[0], [100], [200], [255]]], dtype=np.uint8)
    assert resize_image(g, 1, 2, "bilinear").ravel().tolist() == [50, 228]
    import pytest

    with pytest.raises(ValueError):
        resize_image(px, 0, 5)
    with pytest.raises(ValueError):
        resize_image(px, 4, 4, "bicubic")


def test_media_features_with_resize_stage(spark):
    """decode -> resize -> feature-extract through the Spark channel:
    features of a PNG with resize_to must equal pixel_feature of the
    numpy-resized decoded pixels."""
    from lsh_for_source_code_spark.functions.png import (
        decode_png,
        pixel_feature,
        resize_image,
    )

    rng = np.random.default_rng(8)
    px = rng.integers(0, 256, size=(16, 12, 3), dtype=np.uint8)
    png = _encode_png(px, filters=[2] * 16)
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1],
                "kind": ["image"],
                "mime": ["image/png"],
                "payload": [png],
                "width": [12],
                "height": [16],
                "duration_ms": [None],
            }
        )
    )
    row = extract_media_features(media, resize_to=(8, 8)).collect()[0]
    expected = pixel_feature(resize_image(decode_png(png), 8, 8), grid=4)
    assert np.allclose(row.feature, expected, atol=1e-6)


# ---------------------------------------------------------------- JPEG


def test_jpeg_roundtrip_quant_bounded():
    """Baseline JPEG roundtrip error must stay inside the quantization
    budget: constant blocks reconstruct exactly (DC-only), smooth gradients
    at quality 95 within +-2, and a 4:2:0 constant-color image exactly
    (chroma box-mean of a constant is the constant)."""
    from lsh_for_source_code_spark.functions.jpeg import decode_jpeg, encode_jpeg

    const = np.full((16, 24), 130, dtype=np.uint8)
    got = decode_jpeg(encode_jpeg(const, quality=90))
    assert got.shape == (16, 24, 1)
    assert np.abs(got[:, :, 0].astype(int) - 130).max() <= 1

    grad = np.linspace(0, 255, 37 * 53).reshape(37, 53).astype(np.uint8)
    got = decode_jpeg(encode_jpeg(grad, quality=95))
    assert got.shape == (37, 53, 1)
    assert np.abs(got[:, :, 0].astype(int) - grad.astype(int)).max() <= 2

    cc = np.full((20, 20, 3), [200, 50, 90], dtype=np.uint8)
    got = decode_jpeg(encode_jpeg(cc, quality=90, subsampling="420"))
    assert got.shape == (20, 20, 3)
    assert np.abs(got.astype(int) - cc.astype(int)).max() <= 1


def test_jpeg_subsampling_and_restart_markers():
    """4:2:0 odd-dimension images decode at full size, and restart markers
    (DRI + RSTn, predictor reset + bit realign) must not change a single
    pixel vs the same image coded without restarts -- the quantized
    coefficients are identical either way."""
    from lsh_for_source_code_spark.functions.jpeg import decode_jpeg, encode_jpeg

    y, x = np.mgrid[0:45, 0:51]
    px = np.stack(
        [(y * 3) % 256, (x * 5) % 256, ((x + y) * 2) % 256], axis=-1
    ).astype(np.uint8)
    for sub in ("420", "422"):  # 422 exercises the asymmetric h != v path
        plain = decode_jpeg(encode_jpeg(px, quality=92, subsampling=sub))
        assert plain.shape == (45, 51, 3)
        assert np.abs(plain.astype(int) - px.astype(int)).max() <= 6
        for ri in (1, 2, 5):
            with_rst = decode_jpeg(
                encode_jpeg(px, quality=92, subsampling=sub, restart_interval=ri)
            )
            assert np.array_equal(plain, with_rst)
    # 4:4:4 and 4:2:0 of a smooth image agree closely (chroma is smooth)
    smooth = np.stack([y * 2, y * 2, y * 2], axis=-1).astype(np.uint8)
    f444 = decode_jpeg(encode_jpeg(smooth, quality=95, subsampling="444"))
    f420 = decode_jpeg(encode_jpeg(smooth, quality=95, subsampling="420"))
    assert np.abs(f444.astype(int) - f420.astype(int)).max() <= 4


def test_jpeg_rejects_unsupported():
    """Corrupt input -> ValueError; valid-but-unsupported (progressive
    SOF2) -> NotImplementedError so the channel digest-falls-back."""
    import struct

    import pytest

    from lsh_for_source_code_spark.functions.jpeg import decode_jpeg

    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    sof2 = (
        b"\xff\xd8"
        + b"\xff\xc2"
        + struct.pack(">H", 11)
        + struct.pack(">BHHB", 8, 8, 8, 1)
        + bytes([1, 0x11, 0])
        + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError):
        decode_jpeg(sof2)
    # non-interleaved multi-scan: SOS covering 1 of 3 frame components
    from lsh_for_source_code_spark.functions.jpeg import encode_jpeg

    px = np.zeros((8, 8, 3), dtype=np.uint8)
    full = bytearray(encode_jpeg(px, quality=90))
    i = bytes(full).find(b"\xff\xda")
    seglen = struct.unpack(">H", full[i + 2 : i + 4])[0]
    one_scan = b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    crafted = bytes(full[:i]) + one_scan + bytes(full[i + 2 + seglen :])
    with pytest.raises(NotImplementedError):
        decode_jpeg(crafted)


def test_media_features_use_real_jpeg_pixels(spark):
    """End-to-end through the Spark mapInPandas channel: two byte-wise
    DIFFERENT encodings of the same image (restart-interval choice) must
    featurize identically -- impossible for a digest-of-bytes stub -- and
    the feature must match pixel_feature of the decoded pixels, which sits
    near the original image's feature (quantization-bounded)."""
    from lsh_for_source_code_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from lsh_for_source_code_spark.functions.png import pixel_feature

    y, x = np.mgrid[0:24, 0:32]
    px = np.stack(
        [(y * 7) % 256, (x * 3) % 256, ((x * y) // 2) % 256], axis=-1
    ).astype(np.uint8)
    jpg_a = encode_jpeg(px, quality=95, subsampling="444")
    jpg_b = encode_jpeg(px, quality=95, subsampling="444", restart_interval=1)
    assert jpg_a != jpg_b  # different bytes, same quantized coefficients
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2],
                "kind": ["image", "image"],
                "mime": ["image/jpeg"] * 2,
                "payload": [jpg_a, jpg_b],
                "width": [32, 32],
                "height": [24, 24],
                "duration_ms": [None, None],
            }
        )
    )
    rows = {r.media_id: r for r in extract_media_features(media).collect()}
    decoded = pixel_feature(decode_jpeg(jpg_a), grid=4)
    assert np.allclose(rows[1].feature, decoded, atol=1e-6)
    assert np.allclose(rows[2].feature, decoded, atol=1e-6)
    # decoded-pixel feature tracks the original pixels, not a digest
    assert np.abs(np.asarray(rows[1].feature) - pixel_feature(px, grid=4)).max() < 0.02


def test_corrupt_media_payloads_fall_back_not_fail(spark):
    """ADVICE r4: scraped corpora are guaranteed to contain truncated or
    corrupt media. A payload with a valid magic but corrupt body must route
    to the deterministic digest fallback -- never propagate ValueError /
    zlib.error / struct.error out of the mapInPandas loop and kill the job."""
    from lsh_for_source_code_spark.functions.jpeg import encode_jpeg
    from lsh_for_source_code_spark.functions.png import PNG_MAGIC, encode_png

    px = (np.mgrid[0:16, 0:16][0] * 11 % 256).astype(np.uint8)
    good_jpg = encode_jpeg(px, quality=90)
    good_png = encode_png(np.stack([px] * 3, axis=-1))
    payloads = [
        good_jpg[: len(good_jpg) // 2],          # truncated JPEG
        good_png[:-8] + b"\x00" * 8,             # corrupt PNG CRC/IEND
        PNG_MAGIC + b"\x00\x01garbage",          # PNG magic, garbage chunks
        b"RIFF\x10\x00\x00\x00WAVEjunkjunk",     # WAV magic, corrupt body
        b"YUV4MPEG2 W16 H16\nFRAME\nxx",         # Y4M header, truncated frame
        b"\xff\xd8\xff\xe0junk",                 # JPEG SOI then garbage
    ]
    kinds = ["image", "image", "image", "audio", "video", "image"]
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": list(range(1, len(payloads) + 1)),
                "kind": kinds,
                "mime": [None] * len(payloads),
                "payload": payloads,
                "width": [16] * len(payloads),
                "height": [16] * len(payloads),
                "duration_ms": [None] * len(payloads),
            }
        )
    )
    rows = {r.media_id: r for r in extract_media_features(media).collect()}
    assert len(rows) == len(payloads)  # the job survived every corruption
    for mid, payload in enumerate(payloads, start=1):
        assert rows[mid].payload_sha == hashlib.sha256(payload).hexdigest()
        assert len(rows[mid].feature) in (16, 32)


def test_encode_png_roundtrips_through_production_decoder():
    from lsh_for_source_code_spark.functions.png import decode_png, encode_png

    rng = np.random.default_rng(11)
    for c in (1, 2, 3, 4):
        px = rng.integers(0, 256, size=(9, 13, c), dtype=np.uint8)
        got = decode_png(encode_png(px))
        assert got.shape == (9, 13, c)
        assert np.array_equal(got, px)
    gray2d = rng.integers(0, 256, size=(5, 7), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(gray2d))[:, :, 0], gray2d)


def test_decode_jpeg_tolerates_fill_bytes_and_tem_marker():
    """T.81 allows 0xFF fill bytes before any marker and the standalone TEM
    (0x01) marker; both are legal streams and must decode identically
    (ADVICE r4: previously 'JPEG marker desync' / misparsed segment)."""
    from lsh_for_source_code_spark.functions.jpeg import decode_jpeg, encode_jpeg

    y, x = np.mgrid[0:16, 0:16]
    px = ((y * 5 + x * 3) % 256).astype(np.uint8)
    plain = encode_jpeg(px, quality=92)
    base = decode_jpeg(plain)
    # inject fill bytes + a TEM marker right after SOI (before the first
    # tables segment)
    padded = plain[:2] + b"\xff\xff\xff" + b"\xff\x01" + plain[2:]
    assert np.array_equal(decode_jpeg(padded), base)
