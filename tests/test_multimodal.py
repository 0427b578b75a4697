"""Round-trip and golden tests for the multimodal binary-column layer
(pack → decode/feature/resize/frame-sample; external-codec stub)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from big_data_science_project_spark.operators import multimodal as M
from big_data_science_project_spark.sources.cells import load_cells


def test_pack_decode_roundtrip_features(spark):
    """Features from the binary path equal features from the array path
    (float32 storage: tolerance at the f32 epsilon of the magnitudes)."""
    cells = load_cells(spark, n_images=16)
    enc_feats = {(r["image_id"], r["channel"]): (r["mean_intensity"], r["max_intensity"])
                 for r in M.decode_features(M.encode_cells(cells)).collect()}
    raw = cells.collect()
    assert len(enc_feats) == 16 * 3
    for row in raw:
        arr = np.asarray(row["data"], dtype=np.float32).reshape(
            row["n_channels"], row["width"], row["height"])
        for ch in range(row["n_channels"]):
            mean_i, max_i = enc_feats[(row["image_id"], ch)]
            assert mean_i == pytest.approx(float(arr[ch].mean()), abs=1e-3)
            assert max_i == pytest.approx(float(arr[ch].max()), abs=1e-3)


def test_resize_golden(spark):
    """4×4 → 2×2 nearest-neighbor keeps the (0,0),(0,2),(2,0),(2,2) pixels."""
    data = [float(i) for i in range(16)]  # one channel, 4×4 row-major (x,y)
    df = spark.createDataFrame(
        [(0, 1, 4, 4, data)],
        "image_id long, n_channels int, width int, height int, data array<double>")
    enc = M.encode_cells(df)
    resized = enc.select(
        M.make_resize_udf(2, 2)(
            F.col("payload"), F.col("n_channels"),
            F.col("width"), F.col("height")).alias("p"))
    payload = resized.first()["p"]
    arr = np.frombuffer(payload, dtype=np.float32).reshape(1, 2, 2)
    assert arr.reshape(-1).tolist() == [0.0, 2.0, 8.0, 10.0]


def test_frame_sample_golden(spark):
    """8-frame 2×2 'video': keep every 3rd frame → frames 0,3,6."""
    frames = np.arange(8 * 2 * 2, dtype=np.float32).reshape(8, 2, 2)
    df = spark.createDataFrame(
        [(0, 8, 2, 2, bytearray(frames.tobytes()))],
        "vid long, n_frames int, width int, height int, payload binary")
    sampled = df.select(
        M.make_frame_sample_udf(3)(
            F.col("payload"), F.col("n_frames"),
            F.col("width"), F.col("height")).alias("p"))
    got = np.frombuffer(sampled.first()["p"], dtype=np.float32).reshape(-1, 2, 2)
    assert (got == frames[[0, 3, 6]]).all()


def test_external_codec_stub_contract():
    # JPEG decodes for REAL now (functions/jpeg_codec.py) — garbage
    # raises a codec error, valid baseline bytes round-trip
    from big_data_science_project_spark.functions.jpeg_codec import (
        jpeg_encode)

    with pytest.raises(ValueError, match="SOI"):
        M.decode_external(b"\x00\x01", "jpeg")
    img = np.full((8, 8), 200, dtype=np.uint8)
    real = M.decode_external(jpeg_encode(img, 90), "jpeg")
    assert real.dtype == np.float32 and len(real) == 64
    assert (real == 200.0).all()  # constant block is lossless
    # audio codecs remain the disclosed stub boundary
    with pytest.raises(NotImplementedError, match="mp3"):
        M.decode_external(b"\x00\x01", "mp3")
    a = M.decode_external(b"\x00\x01", "mp3", use_fake=True)
    b = M.decode_external(b"\x00\x01", "mp3", use_fake=True)
    assert (a == b).all() and a.dtype == np.float32 and len(a) == 16


def test_decode_external_descope_message():
    # the mp3/opus descope is PERMANENT and the error message must keep
    # naming every real codec tier so the boundary stays self-documenting
    # (r10 verdict item 8)
    for name in ("mp3", "opus"):
        with pytest.raises(NotImplementedError) as ei:
            M.decode_external(b"\x00\x01", name)
        msg = str(ei.value)
        assert "format-bitstream framing" in msg
        for tier in ("png", "jpeg", "flac", "adpcm", "mdct",
                     "mdct_psycho"):
            assert tier in msg
        assert "ffmpeg" in msg
    # the six named tiers must all be REAL dispatch targets, not just
    # prose: each decodes its own encoder's output without use_fake
    from big_data_science_project_spark.functions.adpcm_codec import (
        adpcm_encode)
    from big_data_science_project_spark.functions.flac_codec import (
        flac_encode)
    from big_data_science_project_spark.functions.jpeg_codec import (
        jpeg_encode)
    from big_data_science_project_spark.functions.mdct_codec import (
        mdct_encode, mdct_encode_psycho)
    from big_data_science_project_spark.functions.png_codec import (
        png_encode)

    img = np.full((8, 8), 200, dtype=np.uint8)
    pcm = (np.sin(np.linspace(0, 20, 1024)) * 3000).astype(np.int16)
    payloads = {
        "png": png_encode(img), "jpeg": jpeg_encode(img, 90),
        "flac": flac_encode(pcm), "adpcm": adpcm_encode(pcm),
        "mdct": mdct_encode(pcm), "mdct_psycho": mdct_encode_psycho(pcm),
    }
    for codec, payload in payloads.items():
        out = M.decode_external(payload, codec)
        assert out.dtype == np.float32 and len(out) > 0, codec


def test_external_decode_udf(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, bytearray(b"abc"))], "id long, payload binary")
    out = df.select("id", M.make_external_decode_udf("jpeg")(
        F.col("payload")).alias("v")).collect()
    assert out[0]["v"] == out[1]["v"]  # deterministic
    assert len(out[0]["v"]) == 16


def test_phash_dedup_finds_planted_noisy_copies(spark):
    """Each planted noisy copy must hash IDENTICALLY to its source
    (asserted directly per id, robust to natural source-source
    collisions), and the group output must contain every planted id in
    a group that reaches below the id offset."""
    from big_data_science_project_spark.operators.multimodal import (
        PHASH_DUPS, PHASH_ID_OFFSET, _ahash64, encode_cells,
        multimodal_phash_dedup)
    from big_data_science_project_spark.sources.cells import load_cells

    base = encode_cells(load_cells(spark))
    src_hash = {r["image_id"]: r["h"] for r in base.select(
        "image_id", _ahash64("payload", "n_channels", "width",
                             "height").alias("h")).collect()}

    @F.pandas_udf("binary")
    def perturb(payload: pd.Series) -> pd.Series:
        return payload.map(
            lambda b: (np.frombuffer(b, dtype=np.float32) + np.float32(0.4))
            .tobytes())

    dup_hash = {r["image_id"]: r["h"] for r in
                base.filter(F.col("image_id") < PHASH_DUPS).select(
                    "image_id",
                    _ahash64(perturb("payload"), "n_channels", "width",
                             "height").alias("h")).collect()}
    for i in range(PHASH_DUPS):
        assert dup_hash[i] == src_hash[i], i  # noisy copy → same aHash

    groups = multimodal_phash_dedup(spark).collect()
    assert groups
    by_hash = {g["phash"]: g for g in groups}
    for g in groups:
        assert g["n_images"] > 1
        assert g["min_image_id"] <= g["max_image_id"]
    for i in range(PHASH_DUPS):
        g = by_hash[src_hash[i]]
        # the group holding this hash spans source ids and planted ids
        assert g["min_image_id"] < PHASH_ID_OFFSET <= g["max_image_id"]


def test_audio_vad_matches_local_mirror(spark):
    """Distributed VAD == a local numpy replay of the same integer
    arithmetic, and each clip's planted silence gap is detected (the
    longest silent run spans at least gap_len/AUDIO_WIN − 1 windows)."""
    import numpy as np

    from big_data_science_project_spark.operators.multimodal import (
        AUDIO_CLIPS, AUDIO_RMS_GATE, AUDIO_WIN, _gen_pcm,
        multimodal_audio_vad)

    got = {r["clip_id"]: (r["speech_windows"], r["silent_windows"],
                          r["longest_silence"])
           for r in multimodal_audio_vad(spark).collect()}
    assert len(got) == AUDIO_CLIPS
    for cid in range(AUDIO_CLIPS):
        x = _gen_pcm(cid).astype(np.int64)
        n_win = len(x) // AUDIO_WIN
        w = x[:n_win * AUDIO_WIN].reshape(n_win, AUDIO_WIN)
        ms = (w * w).sum(axis=1) // AUDIO_WIN
        speech = ms >= AUDIO_RMS_GATE * AUDIO_RMS_GATE
        runs, cur, mx = [], 0, 0
        for s in speech:
            cur = 0 if s else cur + 1
            mx = max(mx, cur)
        want = (int(speech.sum()), int(n_win - speech.sum()), mx)
        assert got[cid] == want, (cid, got[cid], want)
        gap_windows = (2 + cid % 4)
        assert got[cid][2] >= gap_windows - 1, (cid, got[cid])


def test_scene_cuts_recover_planted_boundaries(spark):
    """The distributed detector must recover EXACTLY the planted scene
    changes for every clip (the generator is wrap-free by construction,
    so no other frame pair can clear the MAD gate), and match the
    shared numpy kernel bit-for-bit."""
    from big_data_science_project_spark.operators.multimodal import (
        VIDEO_CLIPS, _gen_video, multimodal_scene_cuts, scene_cuts_np)

    rows = multimodal_scene_cuts(spark).collect()
    assert len(rows) == VIDEO_CLIPS
    for r in rows:
        got = [int(x) for x in r.cut_frames.split(",")] if r.cut_frames \
            else []
        assert got == scene_cuts_np(_gen_video(r.clip_id)), r
        planted = {8 + (r.clip_id * 7) % 30}
        if r.clip_id % 2:
            planted.add(20 + (r.clip_id * 11) % 25)
        if r.clip_id % 3 == 0:
            planted.add(5 + (r.clip_id * 13) % 40)
        assert got == sorted(planted), r
        assert r.n_cuts == len(got) and r.first_cut == got[0]


# ---------------------------------------------------------------------------
# real PNG codec (functions/png_codec.py): stdlib zlib+struct. The
# filter tests build filtered scanlines with an INDEPENDENT per-spec
# transliteration so the production decoder's unfiltering isn't checked
# against itself.
# ---------------------------------------------------------------------------
def _filter_rows_testside(img: np.ndarray, ftype: int) -> bytes:
    """Apply PNG filter `ftype` to every row of a grayscale image, per
    the spec's forward (encoder-side) definitions."""
    h, w = img.shape
    out = bytearray()
    prev = np.zeros(w, dtype=np.int64)
    for i in range(h):
        row = img[i].astype(np.int64)
        out.append(ftype)
        for x in range(w):
            a = int(row[x - 1]) if x >= 1 else 0
            b = int(prev[x])
            c = int(prev[x - 1]) if x >= 1 else 0
            if ftype == 0:
                fx = row[x]
            elif ftype == 1:
                fx = row[x] - a
            elif ftype == 2:
                fx = row[x] - b
            elif ftype == 3:
                fx = row[x] - ((a + b) >> 1)
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                fx = row[x] - pred
            out.append(int(fx) & 0xFF)
        prev = row
    return bytes(out)


def test_png_roundtrip_gray_and_rgb():
    from big_data_science_project_spark.functions.png_codec import (
        png_decode, png_encode)

    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, size=(13, 9), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(gray)), gray)
    rgb = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(rgb)), rgb)
    # signature + IHDR fields present
    raw = png_encode(gray)
    assert raw[:8] == b"\x89PNG\r\n\x1a\n" and b"IHDR" in raw[:33]


def test_png_decoder_handles_all_five_filters():
    """Hand-build a PNG whose scanlines use each spec filter type; the
    decoder must reconstruct the original image for every one."""
    import struct
    import zlib

    from big_data_science_project_spark.functions.png_codec import (
        _chunk, png_decode)

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(10, 8), dtype=np.uint8)
    for ftype in range(5):
        ihdr = struct.pack(">IIBBBBB", 8, 10, 8, 0, 0, 0, 0)
        raw = _filter_rows_testside(img, ftype)
        data = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", zlib.compress(raw))
                + _chunk(b"IEND", b""))
        assert np.array_equal(png_decode(data), img), f"filter {ftype}"


def test_png_decoder_rejects_unsupported():
    import struct
    import zlib

    import pytest

    from big_data_science_project_spark.functions.png_codec import (
        _chunk, png_decode, png_encode)

    with pytest.raises(ValueError, match="signature"):
        png_decode(b"JUNKJUNKJUNK")
    # 16-bit depth
    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 0, 0, 0, 0)
    bad = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(b"\x00" * 36))
           + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="bit depth"):
        png_decode(bad)
    # corrupted CRC
    good = bytearray(png_encode(np.zeros((4, 4), np.uint8)))
    good[-5] ^= 0xFF  # flip a CRC byte of IEND
    with pytest.raises(ValueError, match="CRC"):
        png_decode(bytes(good))
    # wrong dtype into the encoder
    with pytest.raises(ValueError, match="uint8"):
        png_encode(np.zeros((4, 4), np.float32))


def test_png_roundtrip_query_is_exact(spark):
    """Registry query: encode → write files → binaryFile read-back →
    decode → pixel identity for every image."""
    from big_data_science_project_spark.operators.multimodal import (
        multimodal_png_roundtrip)

    r = multimodal_png_roundtrip(spark).collect()[0]
    assert r.n_images == 32 and r.n_written == 32
    assert r.n_roundtrip_exact == 32


def test_decode_external_png_is_real():
    """codec='png' decodes without the fake flag; other codecs still
    raise the disclosed NotImplementedError."""
    import pytest

    from big_data_science_project_spark.functions.png_codec import png_encode
    from big_data_science_project_spark.operators.multimodal import (
        decode_external)

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    got = decode_external(png_encode(img), "png")
    assert got.dtype == np.float32
    assert np.array_equal(got.reshape(8, 8).astype(np.uint8), img)
    # jpeg decodes for real now — a truncated stream is a codec error,
    # not a missing-library stub
    with pytest.raises(ValueError, match="truncated"):
        decode_external(b"\xff\xd8\xff\xdb", "jpeg")


def test_jpeg_roundtrip_query_bounds(spark):
    """The in-plan JPEG round-trip must compress (fewer bytes than raw)
    and reconstruct within the quality-90 quantization envelope on
    every image."""
    import __spark_entry__ as e

    from big_data_science_project_spark.functions.jpeg_codec import (
        jpeg_encode)

    row = e.queries()["multimodal_jpeg_roundtrip"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_images == 32
    # 16x16 tiles are smaller than the fixed DQT/DHT headers, so total
    # file size can't beat raw — the ENTROPY-CODED payload must:
    # subtract the per-image header floor (a minimal constant image is
    # essentially pure header) before comparing against raw bytes
    header_floor = len(jpeg_encode(np.zeros((8, 8), dtype=np.uint8), 90)) - 8
    assert 0 < row.bytes_jpeg - 32 * header_floor < row.bytes_raw
    assert row.worst_abs_err <= 40          # q90 quant envelope
    assert row.worst_mean_err_milli <= 6000  # mean abs err <= 6 levels


def test_flac_roundtrip_query_lossless(spark):
    """The in-plan FLAC round-trip must be bit-exact on EVERY clip
    (lossless is the codec's contract, not an error envelope) and must
    compress the synthetic tone+silence clips."""
    import __spark_entry__ as e

    row = e.queries()["multimodal_flac_roundtrip"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_clips > 0
    assert row.n_lossless == row.n_clips
    assert 0 < row.bytes_flac < row.bytes_raw


def test_adpcm_roundtrip_query_quality(spark):
    """The in-plan IMA-ADPCM round-trip: exactly ~4:1 compression by
    construction (4-bit codes for 16-bit samples plus a fixed header)
    and a pinned SNR floor on the tone+silence fixture — the number
    that bounds how lossy the lossy tier is."""
    import __spark_entry__ as e

    row = e.queries()["multimodal_adpcm_roundtrip"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_clips > 0
    # ratio: raw/adpcm in (3.9, 4.1) — nibble stream + 20-byte header
    assert 3.9 < row.bytes_raw / row.bytes_adpcm < 4.1
    # every fixture clip carries a sine segment, so none is lossless and
    # the SNR stats cover the full clip set (lossless clips would be
    # counted apart and EXCLUDED from min/avg — sentinel-free by design)
    assert row.n_lossless == 0
    # IMA ADPCM delivers ~2 bits/sample effective SNR loss vs PCM on
    # band-limited tones; 20 dB is a conservative floor for EVERY clip
    assert row.min_snr_db >= 20
    assert row.avg_snr_db >= row.min_snr_db


def test_ingest_dedup_tiers_and_evidence(spark):
    """The composed image-ingest gate: each planted batch image is
    caught by exactly the tier built for its edit — byte copy by the
    digest, +0.4 re-encode by the global phash, occluded (local-edit)
    copies by the SURF structural vote with the right source as
    evidence — and the four genuinely fresh images are admitted."""
    from big_data_science_project_spark.operators.multimodal import (
        INGEST_IMG_OFFSET, multimodal_ingest_dedup)

    rows = {r.image_id: r for r in multimodal_ingest_dedup(spark).collect()}
    assert len(rows) == 8
    for fresh_id in (16, 17, 18, 19):
        assert rows[fresh_id].tier == "admitted"
        assert rows[fresh_id].evidence_id is None
    expect = {2: "exact", 5: "phash", 0: "structural", 1: "structural"}
    for src, tier in expect.items():
        got = rows[src + INGEST_IMG_OFFSET]
        assert got.tier == tier, (src, got)
        assert got.evidence_id == src


def test_audio_fingerprint_dedup_finds_planted_clones_only(spark):
    """The audio dedup tier: exactly the three planted clones pair with
    their sources — the cropped copy at the 8-frame offset
    (AUDIO_FP_SHIFT / 256 MDCT hop), the amplitude-scaled and
    ADPCM-re-encoded copies at offset 0 — and no unrelated chirp pair
    clears AUDIO_FP_MIN_VOTES (measured best conspiracy: 58)."""
    from big_data_science_project_spark.functions.mdct_codec import N_COEFF
    from big_data_science_project_spark.operators.multimodal import (
        AUDIO_FP_CLONE_OFFSET, AUDIO_FP_MIN_VOTES, AUDIO_FP_SHIFT,
        multimodal_audio_fingerprint_dedup)

    # the exact-offset guarantee below holds only because the crop is a
    # whole number of MDCT hops — misaligned frames would scatter votes
    assert AUDIO_FP_SHIFT % N_COEFF == 0

    rows = multimodal_audio_fingerprint_dedup(spark).collect()
    assert len(rows) == 3
    by_src = {r.clip_a: r for r in rows}
    assert set(by_src) == {0, 1, 2}
    for src, r in by_src.items():
        assert r.clip_b == src + AUDIO_FP_CLONE_OFFSET
        assert r.n_votes >= AUDIO_FP_MIN_VOTES
    assert by_src[0].offset == AUDIO_FP_SHIFT // N_COEFF
    assert by_src[1].offset == 0 and by_src[2].offset == 0


def test_video_fingerprint_dedup_finds_planted_clones_only(spark):
    """The video dedup tier: exactly the two planted clones pair with
    their sources — the 6-frame trim AT offset 6, the +30 brightness
    edit (per-frame-mean aHash is brightness-invariant) at offset 0 —
    and no unrelated motion-clip pair clears VIDEO_FP_MIN_VOTES
    (measured best conspiracy: 8 of 48 frames)."""
    from big_data_science_project_spark.operators.multimodal import (
        VIDEO_FP_CLONE_OFFSET, VIDEO_FP_MIN_VOTES, VIDEO_FP_TRIM,
        multimodal_video_fingerprint_dedup)

    rows = multimodal_video_fingerprint_dedup(spark).collect()
    assert len(rows) == 2
    by_src = {r.clip_a: r for r in rows}
    assert set(by_src) == {0, 1}
    for src, r in by_src.items():
        assert r.clip_b == src + VIDEO_FP_CLONE_OFFSET
        assert r.n_votes >= VIDEO_FP_MIN_VOTES
    assert by_src[0].offset == VIDEO_FP_TRIM
    assert by_src[1].offset == 0


def test_export_payloads_per_task_manifest(spark, tmp_path):
    """S5 sink manifest is bounded by TASK COUNT, not corpus size (r10
    verdict finding 1): one summary row per non-empty task, sums equal
    to the global totals, every file really on disk."""
    import os

    from big_data_science_project_spark.operators.multimodal import (
        encode_cells, export_payloads, load_cells, multimodal_export)

    enc = encode_cells(load_cells(spark, n_images=32)).repartition(4)
    base = str(tmp_path / "exp")
    rows = export_payloads(enc, base).collect()
    # bounded: at most one row per task, never one per image
    assert 1 <= len(rows) <= 4
    assert sum(r.n_files for r in rows) == 32
    assert sum(r.n_distinct_paths for r in rows) == 32
    on_disk = [f for f in os.listdir(base) if f.endswith(".bin")]
    assert len(on_disk) == 32
    assert sum(r.n_bytes for r in rows) == sum(
        os.path.getsize(os.path.join(base, f)) for f in on_disk)
    # the registry query aggregates the manifest in-plan
    out = multimodal_export(spark).collect()
    assert len(out) == 1 and out[0].n_files == 32
    assert out[0].n_distinct_paths == 32


def test_audio_ingest_gate_tiers(spark):
    """Batch-vs-index audio gate: fresh chirps admitted; the byte-copy
    caught by the EXACT tier; the time-shifted and ADPCM-re-encoded
    copies caught by the FINGERPRINT tier against the persisted index,
    each pointing at its true source clip."""
    from big_data_science_project_spark.operators.multimodal import (
        AUDIO_GATE_COPY_SRC, AUDIO_GATE_FRESH, AUDIO_GATE_OFFSET,
        AUDIO_GATE_REENC_SRC, AUDIO_GATE_SHIFT_SRC,
        multimodal_audio_ingest_gate)

    by_id = {r.clip_id: r for r in
             multimodal_audio_ingest_gate(spark).collect()}
    assert len(by_id) == len(AUDIO_GATE_FRESH) + 3
    for f in AUDIO_GATE_FRESH:
        assert by_id[f].tier == "admitted"
        assert by_id[f].evidence_id is None
    cp = by_id[AUDIO_GATE_OFFSET + AUDIO_GATE_COPY_SRC]
    assert cp.tier == "exact" and cp.evidence_id == AUDIO_GATE_COPY_SRC
    for src in (AUDIO_GATE_SHIFT_SRC, AUDIO_GATE_REENC_SRC):
        r = by_id[AUDIO_GATE_OFFSET + src]
        assert r.tier == "fingerprint" and r.evidence_id == src


def test_video_ingest_gate_tiers(spark):
    """Batch-vs-index video gate: fresh motion clips admitted; byte-copy
    exact; trimmed and brightness-edited copies fingerprint-caught."""
    from big_data_science_project_spark.operators.multimodal import (
        VIDEO_GATE_BRIGHT_SRC, VIDEO_GATE_COPY_SRC, VIDEO_GATE_FRESH,
        VIDEO_GATE_OFFSET, VIDEO_GATE_TRIM_SRC,
        multimodal_video_ingest_gate)

    by_id = {r.clip_id: r for r in
             multimodal_video_ingest_gate(spark).collect()}
    assert len(by_id) == len(VIDEO_GATE_FRESH) + 3
    for f in VIDEO_GATE_FRESH:
        assert by_id[f].tier == "admitted"
        assert by_id[f].evidence_id is None
    cp = by_id[VIDEO_GATE_OFFSET + VIDEO_GATE_COPY_SRC]
    assert cp.tier == "exact" and cp.evidence_id == VIDEO_GATE_COPY_SRC
    for src in (VIDEO_GATE_TRIM_SRC, VIDEO_GATE_BRIGHT_SRC):
        r = by_id[VIDEO_GATE_OFFSET + src]
        assert r.tier == "fingerprint" and r.evidence_id == src


def test_gate_votes_land_at_true_offsets(spark):
    """The gate's batch-vs-index constellation votes carry the SAME
    offset semantics as the self-join tiers: the shifted audio clone
    votes at its crop length in MDCT frames, the trimmed video clone at
    its trim length, the re-encode/brightness edits at 0 — and every
    surviving vote clears the modality's threshold with its true
    source."""
    import big_data_science_project_spark.operators.multimodal as MM
    from big_data_science_project_spark.functions.mdct_codec import N_COEFF
    from big_data_science_project_spark.operators.dedup import (
        bucketed_artifact_table)

    # audio
    root = MM.audio_fp_artifacts(spark, "")
    batch_ids = [MM.AUDIO_GATE_OFFSET + s for s in
                 (MM.AUDIO_GATE_SHIFT_SRC, MM.AUDIO_GATE_REENC_SRC)]
    clips = spark.createDataFrame([(i,) for i in batch_ids],
                                  "clip_id long")
    bat = clips.mapInPandas(MM._audio_lm_extract(MM._audio_gate_pcm),
                            MM._AUDIO_LM_SCHEMA).persist()
    idx = spark.table(bucketed_artifact_table(
        spark, root, "landmarks", ["f1", "f2", "dt"]))
    votes = {(r.clip_a, r.clip_b): r for r in MM._constellation_votes(
        bat, ("f1", "f2", "dt"), MM.AUDIO_FP_PER_CLIP,
        MM.AUDIO_FP_MIN_VOTES, t="t_anchor", index=idx).collect()}
    sh = votes[(MM.AUDIO_GATE_SHIFT_SRC,
                MM.AUDIO_GATE_OFFSET + MM.AUDIO_GATE_SHIFT_SRC)]
    assert sh.offset == MM.AUDIO_FP_SHIFT // N_COEFF
    re_ = votes[(MM.AUDIO_GATE_REENC_SRC,
                 MM.AUDIO_GATE_OFFSET + MM.AUDIO_GATE_REENC_SRC)]
    assert re_.offset == 0
    bat.unpersist()

    # video
    vroot = MM.video_fp_artifacts(spark, "")
    vbatch = [MM.VIDEO_GATE_OFFSET + s for s in
              (MM.VIDEO_GATE_TRIM_SRC, MM.VIDEO_GATE_BRIGHT_SRC)]
    vclips = spark.createDataFrame([(i,) for i in vbatch],
                                   "clip_id long")
    vbat = vclips.mapInPandas(MM._video_fh_extract(MM._video_gate_frames),
                              MM._VIDEO_FH_SCHEMA).persist()
    vidx = spark.table(bucketed_artifact_table(
        spark, vroot, "framehashes", ["fhash"]))
    vvotes = {(r.clip_a, r.clip_b): r for r in MM._constellation_votes(
        vbat, ("fhash",), MM.VIDEO_FP_PER_CLIP, MM.VIDEO_FP_MIN_VOTES,
        index=vidx).collect()}
    tr = vvotes[(MM.VIDEO_GATE_TRIM_SRC,
                 MM.VIDEO_GATE_OFFSET + MM.VIDEO_GATE_TRIM_SRC)]
    assert tr.offset == MM.VIDEO_FP_TRIM
    br = vvotes[(MM.VIDEO_GATE_BRIGHT_SRC,
                 MM.VIDEO_GATE_OFFSET + MM.VIDEO_GATE_BRIGHT_SRC)]
    assert br.offset == 0
    vbat.unpersist()


def test_gate_fingerprint_join_shuffles_only_batch_side(spark):
    """The gates' scale claim, plan-pinned: the persisted fingerprint
    index reads IN PLACE from its bucketed layout — the votes join
    exchanges only the batch side's hashes, so per-batch cost is
    independent of index growth."""
    import re

    import big_data_science_project_spark.operators.multimodal as MM
    from big_data_science_project_spark.operators.dedup import (
        bucketed_artifact_table)

    root = MM.audio_fp_artifacts(spark, "")
    clips = spark.createDataFrame(
        [(MM.AUDIO_GATE_OFFSET + MM.AUDIO_GATE_SHIFT_SRC,)],
        "clip_id long")
    bat = clips.mapInPandas(MM._audio_lm_extract(MM._audio_gate_pcm),
                            MM._AUDIO_LM_SCHEMA).persist()
    idx = spark.table(bucketed_artifact_table(
        spark, root, "landmarks", ["f1", "f2", "dt"])).hint("merge")
    def plan_of(index_df):
        v = MM._constellation_votes(
            bat, ("f1", "f2", "dt"), MM.AUDIO_FP_PER_CLIP,
            MM.AUDIO_FP_MIN_VOTES, t="t_anchor", index=index_df)
        v.count()  # finalize the adaptive plan
        return v._jdf.queryExecution().executedPlan().toString()

    plan = plan_of(idx)
    assert "Bucketed: true" in plan, plan
    assert "SortMergeJoin" in plan, plan

    def n_hash_exchanges(p):
        return len(re.findall(r"Exchange hashpartitioning", p))

    # comparative pin: every hash exchange in the bucketed plan is on
    # the BATCH lineage (cap count, votes join input, vote aggregates).
    # Reading the SAME index from plain parquet adds exactly ONE more —
    # the index side moving into the join — proving the bucketed scan
    # contributes none.
    plan_plain = plan_of(
        spark.read.parquet(f"{root}/landmarks").hint("merge"))
    assert n_hash_exchanges(plan) == n_hash_exchanges(plan_plain) - 1, \
        (plan, plan_plain)
    bat.unpersist()
