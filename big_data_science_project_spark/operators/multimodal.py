"""Multimodal opaque-binary columns — images/audio/video as ``binary``
payloads with typed metadata, processed by Arrow-batched pandas UDFs
(engine-mandated surface; SURVEY.md Phase 5 / §1.4 "consider binary +
uint16 reinterpretation for 100 TB-scale").

This is the scale-path encoding of the reference's cell images: instead
of ``array<double>`` (8 bytes/pixel + array headers), pixels ride as a
packed little-endian float32 blob — 4 bytes/pixel, zero per-element
overhead, and parquet stores it as one BYTE_ARRAY. The decode /
feature-extract / resize / frame-sample kernels below are real numpy
(``np.frombuffer`` is the whole "codec"); a genuinely external codec
(JPEG/audio) is stubbed behind ``NotImplementedError`` with a
deterministic fake, as the image/audio libraries are not in this
container — the Spark-side plumbing (schema, batch shape, UDF
signatures) is exactly what the real codec would use.

Reference trace: the scifio reader materializes decoded pixel arrays
(``main.py:19``); here decode is explicit and lazy, so channel pruning /
frame sampling can drop bytes BEFORE they are ever widened to doubles.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.adpcm_codec import adpcm_decode, adpcm_encode
from ..functions.flac_codec import flac_decode, flac_encode
from ..functions.mdct_codec import (mdct_decode, mdct_decode_psycho,
                                    mdct_encode)
from ..functions.jpeg_codec import jpeg_decode, jpeg_encode
from ..functions.png_codec import png_decode, png_encode
from ..sources.cells import load_cells
from ..sources.tables import literal_table

QUERIES: dict = {}


# ---------------------------------------------------------------------------
# encode: array<double> → packed float32 binary (the storage format)
# ---------------------------------------------------------------------------
@F.pandas_udf(T.BinaryType())
def pack_f32(data: pd.Series) -> pd.Series:
    return data.map(lambda a: np.asarray(a, dtype=np.float32).tobytes())


def encode_cells(cells: DataFrame) -> DataFrame:
    """(image_id, n_channels, width, height, payload binary) — the
    multimodal table layout: opaque payload + typed metadata columns."""
    return cells.select(
        "image_id", "n_channels", "width", "height",
        pack_f32(F.col("data")).alias("payload"),
    )


# ---------------------------------------------------------------------------
# decode + per-channel feature extraction in ONE pass over the bytes:
# the mapInPandas iterator sees Arrow record batches; each task decodes
# only its partition's payloads and emits tidy per-channel stats without
# materializing the full double array in the plan.
# ---------------------------------------------------------------------------
_FEAT_SCHEMA = T.StructType([
    T.StructField("image_id", T.LongType()),
    T.StructField("channel", T.IntegerType()),
    T.StructField("mean_intensity", T.DoubleType()),
    T.StructField("max_intensity", T.DoubleType()),
])


def decode_features(encoded: DataFrame) -> DataFrame:
    def extract(batches):
        for pdf in batches:
            out = {"image_id": [], "channel": [],
                   "mean_intensity": [], "max_intensity": []}
            for img_id, c, w, h, payload in zip(
                    pdf["image_id"], pdf["n_channels"], pdf["width"],
                    pdf["height"], pdf["payload"]):
                arr = np.frombuffer(payload, dtype=np.float32).reshape(
                    int(c), int(w), int(h))
                for ch in range(int(c)):
                    out["image_id"].append(int(img_id))
                    out["channel"].append(ch)
                    out["mean_intensity"].append(round(float(arr[ch].mean()), 4))
                    out["max_intensity"].append(round(float(arr[ch].max()), 4))
            yield pd.DataFrame(out)

    return encoded.mapInPandas(extract, _FEAT_SCHEMA)


# ---------------------------------------------------------------------------
# resize: nearest-neighbor downsample INSIDE the binary domain — bytes
# in, bytes out, the decoded tensor never enters the Spark plan
# ---------------------------------------------------------------------------
def make_resize_udf(out_w: int, out_h: int):
    @F.pandas_udf(T.BinaryType())
    def resize(payload: pd.Series, n_channels: pd.Series,
               width: pd.Series, height: pd.Series) -> pd.Series:
        out = []
        for p, c, w, h in zip(payload, n_channels, width, height):
            arr = np.frombuffer(p, dtype=np.float32).reshape(int(c), int(w), int(h))
            xi = (np.arange(out_w) * (int(w) / out_w)).astype(int)
            yi = (np.arange(out_h) * (int(h) / out_h)).astype(int)
            out.append(arr[:, xi][:, :, yi].tobytes())
        return pd.Series(out)

    return resize


# ---------------------------------------------------------------------------
# frame sampling: a "video" is (n_frames, w, h) in the same packed layout;
# keep every k-th frame by slicing the byte buffer — no decode at all
# (frame stride in bytes is w·h·4)
# ---------------------------------------------------------------------------
def make_frame_sample_udf(every_k: int):
    @F.pandas_udf(T.BinaryType())
    def sample_frames(payload: pd.Series, n_frames: pd.Series,
                      width: pd.Series, height: pd.Series) -> pd.Series:
        out = []
        for p, nf, w, h in zip(payload, n_frames, width, height):
            stride = int(w) * int(h) * 4
            kept = b"".join(p[i * stride:(i + 1) * stride]
                            for i in range(0, int(nf), every_k))
            out.append(kept)
        return pd.Series(out)

    return sample_frames


# ---------------------------------------------------------------------------
# external codecs. PNG, JPEG, FLAC, IMA-ADPCM and the MDCT transform
# codec are REAL — stdlib/numpy implementations (functions/png_codec.py,
# jpeg_codec.py, flac_codec.py, adpcm_codec.py, mdct_codec.py), closing
# the reference's image-sink boundary (feature extraction.py:89-91
# cv.imwrite) plus every published audio tier: lossless (FLAC),
# time-domain lossy (ADPCM), and the full transform-codec spine —
# window → MDCT → quantize → adaptive canonical-Huffman entropy coding
# (MDC2) → PSYCHOACOUSTIC bit allocation (MDC3: pseudo-critical bands,
# asymmetric spread masking, per-band scalefactors + masking-driven
# mantissa widths; mdct_codec.py's simplified MPEG-1 model 1). The ONLY
# remaining gap vs mp3/opus is format BITSTREAM compatibility, which
# needs codec libraries not in this container: for those names the UDF
# shape is real, the body raises unless the fake is requested, and the
# fake is deterministic (hash-derived) so tests and oracles are stable.
# ---------------------------------------------------------------------------
def decode_external(payload: bytes, codec: str, use_fake: bool = False) -> np.ndarray:
    """Decode an external image/audio payload to a flat float32 array.

    ``codec="png"`` (8-bit gray/RGB) and ``codec="jpeg"`` (baseline
    sequential, gray/4:4:4 color) decode for real, yielding raw 0..255
    sample values; ``codec="flac"`` (16-bit fixed-predictor subset)
    decodes for real too, yielding int16 sample values as float32, as
    do ``codec="adpcm"`` (IMA 4-bit, the time-domain lossy tier),
    ``codec="mdct"`` (the transform-domain tier) and
    ``codec="mdct_psycho"`` (the psychoacoustically bit-allocated MDC3
    tier). Only FORMAT-bitstream codecs (mp3/opus framing) would
    dispatch to ffmpeg — absent here, so those names raise unless
    ``use_fake=True`` (a deterministic pseudo-decode: first 16 bytes
    of sha256 as float32 levels)."""
    if not use_fake:
        # module-level import: a runtime relative import inside a UDF body
        # fails on workers that can't import the package by name (the
        # pickle-by-value registration covers captured objects, not
        # import statements)
        if codec == "png":
            return png_decode(payload).astype(np.float32).reshape(-1)
        if codec == "jpeg":
            return jpeg_decode(payload).astype(np.float32).reshape(-1)
        if codec == "flac":
            return flac_decode(payload).astype(np.float32).reshape(-1)
        if codec == "adpcm":
            return adpcm_decode(payload).astype(np.float32).reshape(-1)
        if codec == "mdct":
            return mdct_decode(payload).astype(np.float32).reshape(-1)
        if codec == "mdct_psycho":
            return mdct_decode_psycho(payload).astype(np.float32).reshape(-1)
        # PERMANENT DESCOPE (r10 verdict item 8): mp3/opus support here
        # means only the FORMAT-BITSTREAM FRAMING — every algorithmic
        # tier those formats are built from is already implemented for
        # real in this repo (png, jpeg, flac, adpcm, mdct, mdct_psycho:
        # time-domain prediction, transform coding, entropy coding, and
        # psychoacoustic bit allocation). Emitting the remaining
        # container syntax needs an external muxer (ffmpeg), absent in
        # this environment by mandate, and adds no new signal-
        # processing capability. Pinned by tests/test_multimodal.py
        # (test_decode_external_descope_message).
        raise NotImplementedError(
            f"codec {codec!r}: only format-bitstream framing (mp3/opus "
            "container syntax) is out of scope — the real tiers are "
            "png, jpeg, flac, adpcm, mdct, mdct_psycho; external "
            "bitstream muxing would dispatch to ffmpeg, absent in this "
            "environment. Pass use_fake=True for the deterministic "
            "pseudo-decode.")
    digest = hashlib.sha256(payload).digest()[:16]
    return (np.frombuffer(digest, dtype=np.uint8) / 255.0).astype(np.float32)


def make_external_decode_udf(codec: str, use_fake: bool = True):
    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def decode(payload: pd.Series) -> pd.Series:
        return payload.map(
            lambda p: decode_external(bytes(p), codec, use_fake).tolist())

    return decode


# ---------------------------------------------------------------------------
# registry queries (rows-only: binary kernels aren't DuckDB-expressible;
# pytest goldens in tests/test_multimodal.py carry correctness)
# ---------------------------------------------------------------------------
def multimodal_features(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """cells → packed binary → decoded per-channel features."""
    return decode_features(encode_cells(load_cells(spark)))


def multimodal_resize_stats(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """resize 16×16 → 8×8 inside the binary domain, then re-extract —
    payload sizes prove the bytes were cut before any decode."""
    enc = encode_cells(load_cells(spark))
    resized = enc.select(
        "image_id", "n_channels",
        F.lit(8).alias("width"), F.lit(8).alias("height"),
        make_resize_udf(8, 8)(
            F.col("payload"), F.col("n_channels"),
            F.col("width"), F.col("height")).alias("payload"),
    )
    return (
        decode_features(resized)
        .groupBy("channel")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("mean_intensity"), 4).alias("avg_mean_intensity"))
    )


# ---------------------------------------------------------------------------
# image-file sink (reference S5: cv.imwrite inside the distributed map,
# feature extraction.py:89-91 — which wrote every worker to the SAME
# relative path, SURVEY.md §Pitfalls 9). Correct version: each task
# writes its partition's payloads under a shared base dir with
# per-image filenames, and the operator returns what was written so the
# caller can audit — a foreach-style side-effect sink with no collisions.
# ---------------------------------------------------------------------------
def export_payloads(encoded: DataFrame, base_dir: str) -> DataFrame:
    """Write each payload to ``base_dir/cell_{image_id}.bin`` inside the
    distributed map and return ONE SUMMARY ROW PER TASK (not per image):
    the manifest a driver sees is bounded by task count, never corpus
    size, matching the one-row-per-container discipline of the cells
    sink (``sources/cells_datasource.py``). Filenames are an injective
    function of ``image_id``, so per-task ``n_distinct_paths`` sums to
    the global distinct count whenever image ids are globally unique
    (they are, by construction of ``load_cells``)."""
    schema = T.StructType([
        T.StructField("n_files", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_distinct_paths", T.LongType()),
        T.StructField("min_image_id", T.LongType()),
        T.StructField("max_image_id", T.LongType()),
    ])

    def write(batches):
        import os
        os.makedirs(base_dir, exist_ok=True)
        n_files = n_bytes = 0
        paths = set()
        lo, hi = None, None
        for pdf in batches:
            for img_id, payload in zip(pdf["image_id"], pdf["payload"]):
                p = os.path.join(base_dir, f"cell_{int(img_id):06d}.bin")
                with open(p, "wb") as f:
                    f.write(bytes(payload))
                n_files += 1
                n_bytes += len(payload)
                paths.add(p)
                i = int(img_id)
                lo = i if lo is None else min(lo, i)
                hi = i if hi is None else max(hi, i)
        if n_files:
            yield pd.DataFrame({"n_files": [n_files], "n_bytes": [n_bytes],
                                "n_distinct_paths": [len(paths)],
                                "min_image_id": [lo], "max_image_id": [hi]})

    return encoded.mapInPandas(write, schema)


def multimodal_export(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    from ..session import scratch_dir

    enc = encode_cells(load_cells(spark, n_images=32))
    base = scratch_dir(spark, "payload_export_")
    written = export_payloads(enc, base)
    return written.agg(
        F.sum("n_files").alias("n_files"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_distinct_paths").alias("n_distinct_paths"))


QUERIES["multimodal_features"] = (multimodal_features, None)
QUERIES["multimodal_resize"] = (multimodal_resize_stats, None)
QUERIES["multimodal_export"] = (multimodal_export, None)


# ---------------------------------------------------------------------------
# real PNG round-trip (reference S5 PNG sink, feature extraction.py:89-91):
# channel-0 of each cell is quantized to uint8, encoded to a real PNG by
# the stdlib codec inside the distributed map, written per-image (unique
# paths — Pitfall 9 fix as in export_payloads), read BACK through
# Spark's binaryFile source, decoded by the same codec, and compared
# pixel-for-pixel in-plan against the independently re-quantized
# originals. Output: one row proving every image round-tripped exactly.
# ---------------------------------------------------------------------------
@F.pandas_udf(T.BinaryType())
def _png_encode_gray(data_ch: pd.Series, width: pd.Series,
                     height: pd.Series) -> pd.Series:
    out = []
    for d, w, h in zip(data_ch, width, height):
        img = np.asarray(d, dtype=np.float64).reshape(int(w), int(h))
        out.append(png_encode(np.clip(img, 0, 255).astype(np.uint8)))
    return pd.Series(out)


def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    import os

    from ..functions.image_kernels import channel_slice
    from ..session import scratch_dir

    n_images = 32
    cells = load_cells(spark, n_images=n_images)
    wh = F.col("width") * F.col("height")
    ch0 = cells.select(
        "image_id", "width", "height",
        channel_slice(F.col("data"), 0, wh).alias("data_ch"))
    encoded = ch0.select(
        "image_id",
        _png_encode_gray("data_ch", "width", "height").alias("payload"))

    base = scratch_dir(spark, "png_export_")
    schema = T.StructType([
        T.StructField("image_id", T.LongType()),
        T.StructField("path", T.StringType()),
    ])

    def write(batches):
        os.makedirs(base, exist_ok=True)
        for pdf in batches:
            paths = []
            for img_id, payload in zip(pdf["image_id"], pdf["payload"]):
                p = os.path.join(base, f"cell_{int(img_id):06d}.png")
                with open(p, "wb") as f:
                    f.write(bytes(payload))
                paths.append(p)
            yield pd.DataFrame({"image_id": pdf["image_id"].astype("int64"),
                                "path": paths})

    # materialize the writes before binaryFile lists the directory —
    # bounded driver collect (n_images=32 rows of (id, path))
    n_written = len(encoded.mapInPandas(write, schema).collect())

    files = (spark.read.format("binaryFile").load(f"{base}/*.png")
             .select(
                 F.regexp_extract(F.col("path"), r"cell_(\d+)\.png", 1)
                 .cast("long").alias("image_id"),
                 make_external_decode_udf("png", use_fake=False)(
                     F.col("content")).alias("decoded")))
    # re-quantize the originals the same way the encoder did: clip to
    # [0,255] then truncate toward zero (uint8 cast semantics)
    want = ch0.select(
        "image_id",
        F.expr("transform(data_ch, x ->"
               " cast(greatest(least(x, 255.0D), 0.0D) as int))")
        .alias("want_px"))
    joined = files.join(F.broadcast(want), "image_id")
    exact = F.expr(
        "forall(zip_with(decoded, want_px,"
        " (d, w) -> cast(d as int) = w), p -> p)")
    return joined.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.when(exact, 1).otherwise(0)).cast("long")
        .alias("n_roundtrip_exact"),
        F.lit(n_written).cast("long").alias("n_written"))


QUERIES["multimodal_png_roundtrip"] = (multimodal_png_roundtrip, None)


# ---------------------------------------------------------------------------
# real JPEG round-trip — the lossy twin of the PNG round-trip (which
# already exercises the per-image file write + binaryFile re-read
# plumbing; this one stays in-plan and measures what lossy compression
# actually costs): channel-0 of each cell is quantized to uint8,
# encoded to a REAL baseline JPEG (functions/jpeg_codec.py) and decoded
# back inside one Arrow batch, and the per-image reconstruction error
# + compressed size are aggregated. Error bounds are asserted by
# tests/test_multimodal.py; the codec itself is pinned bit-exactly
# against an independent quantization mirror in tests/test_jpeg_codec.
# ---------------------------------------------------------------------------
JPEG_RT_QUALITY = 90

_JPEG_RT_SCHEMA = T.StructType([
    T.StructField("image_id", T.LongType()),
    T.StructField("n_bytes_raw", T.LongType()),
    T.StructField("n_bytes_jpeg", T.LongType()),
    T.StructField("max_abs_err", T.LongType()),
    T.StructField("mean_abs_err_milli", T.LongType()),
])


def multimodal_jpeg_roundtrip(spark: SparkSession,
                              sf_dir: str = "") -> DataFrame:
    from ..functions.image_kernels import channel_slice

    cells = load_cells(spark, n_images=32)
    wh = F.col("width") * F.col("height")
    ch0 = cells.select(
        "image_id", "width", "height",
        channel_slice(F.col("data"), 0, wh).alias("data_ch"))

    def rt(batches):
        for pdf in batches:
            out = {k.name: [] for k in _JPEG_RT_SCHEMA}
            for img_id, w, h, d in zip(pdf["image_id"], pdf["width"],
                                       pdf["height"], pdf["data_ch"]):
                img = np.clip(np.asarray(d, dtype=np.float64)
                              .reshape(int(w), int(h)), 0, 255) \
                    .astype(np.uint8)
                enc = jpeg_encode(img, JPEG_RT_QUALITY)
                dec = jpeg_decode(enc)
                err = np.abs(dec.astype(np.int64) - img.astype(np.int64))
                out["image_id"].append(int(img_id))
                out["n_bytes_raw"].append(img.size)
                out["n_bytes_jpeg"].append(len(enc))
                out["max_abs_err"].append(int(err.max()))
                out["mean_abs_err_milli"].append(
                    int(round(float(err.mean()) * 1000)))
            yield pd.DataFrame(out)

    per_image = ch0.mapInPandas(rt, _JPEG_RT_SCHEMA)
    return per_image.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("n_bytes_raw").cast("bigint").alias("bytes_raw"),
        F.sum("n_bytes_jpeg").cast("bigint").alias("bytes_jpeg"),
        F.max("max_abs_err").cast("bigint").alias("worst_abs_err"),
        F.max("mean_abs_err_milli").cast("bigint")
        .alias("worst_mean_err_milli"))


QUERIES["multimodal_jpeg_roundtrip"] = (multimodal_jpeg_roundtrip, None)


# ---------------------------------------------------------------------------
# real FLAC round-trip — the LOSSLESS audio twin of the JPEG query:
# each synthetic PCM clip is encoded to a real FLAC stream
# (functions/flac_codec.py: fixed predictors, Rice coding, CRC-8/16,
# STREAMINFO MD5) and decoded back inside one Arrow batch; the result
# aggregates compression ratio and a lossless flag per clip, which
# tests/test_multimodal.py asserts is 100% (bit-exact round-trip is the
# codec's whole contract). Distribution shape is identical to every
# other multimodal kernel: pixels/samples never shuffle — only the
# per-clip scalar summary does.
# ---------------------------------------------------------------------------
_FLAC_RT_SCHEMA = T.StructType([
    T.StructField("clip_id", T.LongType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("n_bytes_raw", T.LongType()),
    T.StructField("n_bytes_flac", T.LongType()),
    T.StructField("lossless", T.LongType()),
])


def multimodal_flac_roundtrip(spark: SparkSession,
                              sf_dir: str = "") -> DataFrame:
    audio = load_audio(spark)

    def rt(batches):
        for pdf in batches:
            out = {k.name: [] for k in _FLAC_RT_SCHEMA}
            for cid, sr, p in zip(pdf["clip_id"], pdf["sample_rate"],
                                  pdf["pcm"]):
                x = np.frombuffer(bytes(p), dtype=np.int16)
                enc = flac_encode(x, int(sr))
                # flac_decode raises ValueError on CRC/MD5 mismatch, so a
                # lossy regression would otherwise crash the query instead
                # of surfacing as n_lossless < n_clips — catch it so the
                # metric can actually report a miss
                try:
                    dec = flac_decode(enc)[:, 0]
                    lossless = int(np.array_equal(dec, x))
                except ValueError:
                    lossless = 0
                out["clip_id"].append(int(cid))
                out["n_samples"].append(len(x))
                out["n_bytes_raw"].append(len(x) * 2)
                out["n_bytes_flac"].append(len(enc))
                out["lossless"].append(lossless)
            yield pd.DataFrame(out)

    per_clip = audio.mapInPandas(rt, _FLAC_RT_SCHEMA)
    return per_clip.agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum("n_bytes_raw").cast("bigint").alias("bytes_raw"),
        F.sum("n_bytes_flac").cast("bigint").alias("bytes_flac"),
        F.sum("lossless").cast("bigint").alias("n_lossless"))


QUERIES["multimodal_flac_roundtrip"] = (multimodal_flac_roundtrip, None)


# ---------------------------------------------------------------------------
# real IMA-ADPCM round-trip — the LOSSY audio twin of the JPEG query:
# each clip is compressed 4:1 through the real IMA codec
# (functions/adpcm_codec.py, spec-exact tables + reconstruction rule)
# and decoded back inside one Arrow batch; the result aggregates the
# corpus compression ratio and the per-clip signal-to-noise ratio in
# whole dB — the number that says how lossy the tier actually is
# (tests/test_multimodal.py pins the floor). Distribution shape is the
# same as every multimodal kernel: samples never shuffle, only the
# per-clip scalar summary does.
# ---------------------------------------------------------------------------
_LOSSY_RT_SCHEMA = T.StructType([
    T.StructField("clip_id", T.LongType()),
    T.StructField("n_bytes_raw", T.LongType()),
    T.StructField("n_bytes_coded", T.LongType()),
    T.StructField("lossless", T.LongType()),
    T.StructField("snr_db_floor", T.LongType()),  # NULL when lossless
])


def _lossy_audio_roundtrip(spark: SparkSession, encode, decode,
                           bytes_alias: str) -> DataFrame:
    """Shared encode→decode→SNR report for the lossy audio tiers (ADPCM
    and MDCT run the identical harness, differing only in the codec
    pair and the output byte-count alias)."""
    audio = load_audio(spark)

    def rt(batches):
        for pdf in batches:
            out = {k.name: [] for k in _LOSSY_RT_SCHEMA}
            for cid, sr, p in zip(pdf["clip_id"], pdf["sample_rate"],
                                  pdf["pcm"]):
                x = np.frombuffer(bytes(p), dtype=np.int16)
                enc = encode(x, int(sr))
                dec = decode(enc)[:, 0]
                err = x.astype(np.float64) - dec.astype(np.float64)
                sig = float((x.astype(np.float64) ** 2).sum())
                noise = float((err ** 2).sum())
                # whole-dB floor: stable across platforms (the exact
                # float varies in the last ulps with numpy reduction
                # order; the integer floor does not). A losslessly
                # round-tripped clip (e.g. pure silence) has no SNR —
                # record NULL + a lossless flag rather than a sentinel,
                # which would poison the corpus average
                snr = int(np.floor(10.0 * np.log10(sig / noise))) \
                    if noise > 0 else None
                out["clip_id"].append(int(cid))
                out["n_bytes_raw"].append(len(x) * 2)
                out["n_bytes_coded"].append(len(enc))
                out["lossless"].append(int(noise == 0))
                out["snr_db_floor"].append(snr)
            pdf_out = pd.DataFrame(out)
            # nullable Int64: a plain list with None infers float64 and
            # Arrow would ship NaN instead of a NULL long
            pdf_out["snr_db_floor"] = pd.array(out["snr_db_floor"],
                                               dtype="Int64")
            yield pdf_out

    per_clip = audio.mapInPandas(rt, _LOSSY_RT_SCHEMA)
    # min/avg skip NULLs, so both SNR stats cover exactly the LOSSY
    # clips; lossless clips are counted separately
    return per_clip.agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum("n_bytes_raw").cast("bigint").alias("bytes_raw"),
        F.sum("n_bytes_coded").cast("bigint").alias(bytes_alias),
        F.sum("lossless").cast("bigint").alias("n_lossless"),
        F.min("snr_db_floor").cast("bigint").alias("min_snr_db"),
        F.avg("snr_db_floor").alias("avg_snr_db"))


def multimodal_adpcm_roundtrip(spark: SparkSession,
                               sf_dir: str = "") -> DataFrame:
    return _lossy_audio_roundtrip(spark, adpcm_encode, adpcm_decode,
                                  "bytes_adpcm")


QUERIES["multimodal_adpcm_roundtrip"] = (multimodal_adpcm_roundtrip, None)


# ---------------------------------------------------------------------------
# real MDCT round-trip — the TRANSFORM-domain lossy audio tier (the
# mp3/opus spine: 50%-overlap sine-window MDCT + per-block scalefactor
# + uniform 8-bit mantissas; functions/mdct_codec.py). Same report
# shape as the ADPCM query so the two lossy tiers are directly
# comparable: corpus compression ratio + whole-dB per-clip SNR floor.
# Unlike ADPCM (4:1 fixed, time-domain), the MDCT tier's error is
# spread across each block by the inverse transform — the SNR floor the
# tests pin is on the SAME tone+silence fixture, so the numbers answer
# "which lossy tier for this corpus" directly. Distribution shape
# unchanged: samples never shuffle, only per-clip scalars do.
# ---------------------------------------------------------------------------
def multimodal_mdct_roundtrip(spark: SparkSession,
                              sf_dir: str = "") -> DataFrame:
    return _lossy_audio_roundtrip(spark, mdct_encode, mdct_decode,
                                  "bytes_mdct")


QUERIES["multimodal_mdct_roundtrip"] = (multimodal_mdct_roundtrip, None)


# ---------------------------------------------------------------------------
# ENTROPY-CODED MDCT round-trip (r9) — the same transform/quantization
# through the MDC2 container, whose int8 mantissas are canonical-
# Huffman coded with a per-stream adaptive table
# (functions/huffman.py): window → MDCT → quantize → ENTROPY-CODE, the
# complete published-transform-codec spine. Identical harness, so the
# report is directly comparable with the uncoded MDCT tier: the
# entropy stage is lossless relative to MDC1's quantized mantissas
# (identical decoded PCM — pinned by tests/test_mdct_codec.py), so the
# SNR columns MATCH multimodal_mdct_roundtrip row-for-row and only
# bytes_mdct_huff shrinks (~3.7x under MDC1 on program material). The
# remaining mp3/opus gap is format bitstream compatibility (the
# disclosed stub above); the psychoacoustic allocation tier is the
# MDC3 query below.
# ---------------------------------------------------------------------------
def multimodal_mdct_entropy_roundtrip(spark: SparkSession,
                                      sf_dir: str = "") -> DataFrame:
    from ..functions.mdct_codec import (mdct_decode_entropy,
                                        mdct_encode_entropy)

    return _lossy_audio_roundtrip(spark, mdct_encode_entropy,
                                  mdct_decode_entropy, "bytes_mdct_huff")


QUERIES["multimodal_mdct_entropy_roundtrip"] = (
    multimodal_mdct_entropy_roundtrip, None)


# ---------------------------------------------------------------------------
# PSYCHOACOUSTIC MDCT round-trip (MDC3, functions/mdct_codec.py) — the
# tier mp3/opus actually live on: a simplified MPEG-1 psychoacoustic
# model 1 (25 pseudo-critical bands, asymmetric spread masking, 30 dB
# tonal offset, absolute threshold) drives PER-BAND scalefactors and
# mantissa widths, so masked bands ship zero bits and transmitted bands
# exactly as many as their threshold demands (noise-to-mask <= 0 dB by
# construction — the contract tests/test_mdct_codec.py pins, along
# with the measured comparison: on broadband material MDC2's global
# scalefactor violates the masking threshold in ~80% of signal-carrying
# bands at this corpus's rates; MDC3 in <10% residual). Same report
# harness, so bytes/SNR are directly comparable with the MDC1/MDC2
# rows; expect LOWER SNR here — a perceptual codec spends nothing on
# noise the model says is inaudible, which plain SNR still counts.
# Format bitstream compat (mp3/opus framing) stays the disclosed stub.
# ---------------------------------------------------------------------------
def multimodal_mdct_psycho_roundtrip(spark: SparkSession,
                                     sf_dir: str = "") -> DataFrame:
    from ..functions.mdct_codec import (mdct_decode_psycho,
                                        mdct_encode_psycho)

    return _lossy_audio_roundtrip(spark, mdct_encode_psycho,
                                  mdct_decode_psycho, "bytes_mdct_psycho")


QUERIES["multimodal_mdct_psycho_roundtrip"] = (
    multimodal_mdct_psycho_roundtrip, None)


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup — the image-modality member of the dedup
# family (exact/minhash/simhash/containment cover text; embedding_neardup
# covers vectors). aHash: decode channel 0, 2×2 block-mean down to 8×8,
# threshold at the block mean → 64-bit fingerprint; re-encodes and
# low-amplitude noise land on the SAME hash, so near-dup detection is a
# plain groupBy on an 8-byte key — at 100 TB the shuffle carries hashes,
# never pixels (same digest-only-shuffle design as dedup_exact).
# The fixture plants PHASH_DUPS noisy copies (+0.4 intensity, well below
# the block-mean threshold step) with offset ids; the operator must find
# exactly those pairs — asserted in tests/test_multimodal.py.
# ---------------------------------------------------------------------------
PHASH_DUPS = 10
PHASH_ID_OFFSET = 10_000


@F.pandas_udf(T.LongType())
def _ahash64(payload: pd.Series, n_channels: pd.Series,
             width: pd.Series, height: pd.Series) -> pd.Series:
    out = []
    weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
    for buf, c, w, h in zip(payload, n_channels, width, height):
        px = np.frombuffer(buf, dtype=np.float32).astype(np.float64)
        ch0 = px.reshape(int(c), int(w), int(h))[0]
        bw, bh = int(w) // 8, int(h) // 8
        if bw == 0 or bh == 0:
            raise ValueError(f"aHash needs ≥8×8 images, got {w}×{h}")
        # trim to a multiple of 8 so any geometry block-means cleanly
        ch0 = ch0[:bw * 8, :bh * 8]
        small = ch0.reshape(8, bw, 8, bh).mean(axis=(1, 3))
        bits = (small > small.mean()).reshape(-1)
        # pack in uint64 then reinterpret as int64: bit 63 set would
        # overflow a Python-int → int64 Series (pandas raises)
        out.append(np.int64((weights[bits]).sum(dtype=np.uint64)
                            .astype(np.uint64).view(np.int64)))
    return pd.Series(out, dtype="int64")


def multimodal_phash_dedup(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    base = encode_cells(load_cells(spark))

    @F.pandas_udf(T.BinaryType())
    def perturb(payload: pd.Series) -> pd.Series:
        return payload.map(
            lambda b: (np.frombuffer(b, dtype=np.float32) + np.float32(0.4))
            .tobytes())

    dups = (encode_cells(load_cells(spark, n_images=PHASH_DUPS))
            .select((F.col("image_id") + PHASH_ID_OFFSET).alias("image_id"),
                    "n_channels", "width", "height",
                    perturb(F.col("payload")).alias("payload")))
    allimg = base.unionByName(dups)
    hashed = allimg.select(
        "image_id",
        _ahash64("payload", "n_channels", "width", "height").alias("phash"))
    return (hashed.groupBy("phash")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.min("image_id").alias("min_image_id"),
                 F.max("image_id").alias("max_image_id"))
            .filter(F.col("n_images") > 1)
            .orderBy("min_image_id"))


QUERIES["multimodal_phash_dedup"] = (multimodal_phash_dedup, None)  # rows-only


# ---------------------------------------------------------------------------
# SURF near-duplicate image detection — the STRUCTURAL image-dedup tier
# beside the global phash one, and the K6 descriptors doing the job
# local features exist for. Classic visual-matching pipeline, each
# stage the Spark-shaped version of the published technique:
#
#   1. per image: upright SURF keypoints + 64-dim unit descriptors
#      (functions/surf.py) inside one Arrow batch — pixels never
#      shuffle, only (image_id, kp, descriptor) rows do;
#   2. LSH candidates: each descriptor's 64-bit SIGN pattern splits
#      into four 16-bit bands; a self-join on (band, value) proposes
#      pairs (the sign pattern is stable under the contrast/brightness
#      edits the upright descriptor is built to survive — banding makes
#      near-misses still collide on >=1 band, and the join is banded,
#      NEVER all-pairs, with the dedup ladder's hot-bucket cap);
#   3. verify: exact cosine >= 0.99 via zip_with/aggregate (unit
#      norms make the dot product the cosine) — JVM-side, no Python;
#   4. GEOMETRIC verification, the step cosine alone cannot replace on
#      low-texture corpora (every cells image is a disk, so isolated
#      descriptor cosines run to 0.998 BETWEEN DISTINCT images):
#      matched keypoints vote for their translation (dr, dc); a pair
#      is a near-duplicate only when >= MIN_ALIGNED keypoints agree on
#      ONE translation — Hough pose clustering as a groupBy.
#
# The planted clones are contrast-scaled (x0.7) copies of four
# feature-rich images; their votes land on (0, 0) with 6-10 aligned
# keypoints while the best cross-image conspiracy on this fixture
# musters 2 (tests pin both margins). Disclosed limit, same shape as
# the lexical ladder's short-document guard: an image with fewer than
# MIN_ALIGNED keypoints (a featureless frame) cannot clear the vote —
# that is the global phash tier's job, not the structural tier's.
# Rows-only: SURF NMS is not DuckDB-expressible; tests/test_surf.py +
# tests/test_multimodal.py carry the values.
# ---------------------------------------------------------------------------
SURF_DEDUP_IMAGES = 16
SURF_DEDUP_CLONES = 4
SURF_CLONE_OFFSET = 9000
SURF_MATCH_COS = 0.99
# Hough-vote floor. 3 sufficed at the 20-image fixture (best cross-image
# conspiracy 2), but the coincidence budget grows with the corpus: the
# 100x probe (1600 images, ~1.28M candidate pair slots) produced 66
# different-radius pairs ALL at n_aligned 3-4, while every true match —
# contrast clones (6-10), occluded gate copies (8-10) — sits at >= 6.
# 5 splits the measured gap: zero spurious pairs at 100x, full recall
# at every scale (the r10 cap-normalization lesson, applied to the vote
# threshold).
SURF_MIN_ALIGNED = 5
# Degenerate-bucket cap, PER-IMAGE-NORMALIZED (ladder idiom, made
# scale-stable): a band value is dropped when it averages more than
# this many keypoints per image that carries it. A fixed global count
# (the first cut used 32) is corpus-size-dependent — at 10x the images
# it silently drops the legitimately-shared structure buckets that
# clone matching rides on, eroding recall exactly when the corpus
# grows (measured: clone votes 6-10 -> 5-9 at 160 images under the
# fixed cap). Normalizing by distinct images keeps the target — a
# structure-free value repeated MANY times by the SAME images (the
# all-zeros band of flat descriptors) — while shared-across-images
# structure survives at any corpus size.
SURF_BAND_PER_IMAGE = 4


_SURF_KP_SCHEMA = T.StructType([
    T.StructField("image_id", T.LongType()),
    T.StructField("kp_r", T.LongType()),
    T.StructField("kp_c", T.LongType()),
    T.StructField("bands", T.ArrayType(T.LongType())),
    T.StructField("desc", T.ArrayType(T.DoubleType())),
])


def _surf_keypoints(images: DataFrame) -> DataFrame:
    """(image_id, width, height, data_ch) -> keypoint table
    (image_id, kp_r, kp_c, bands[4], desc[64]) — the expensive Python
    stage (decode + detect + describe), run once per image inside one
    Arrow batch, and checkpointed because every caller fans it into
    several join branches (``cell_outlier_filter`` idiom)."""
    from ..functions import surf as S
    from ..functions.image_kernels import _to_uint8

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for img_id, w, h, data in zip(pdf["image_id"], pdf["width"],
                                          pdf["height"], pdf["data_ch"]):
                img = _to_uint8(np.asarray(data, dtype=np.float64)
                                .reshape(int(w), int(h))).astype(np.float64)
                kps, desc = S.surf_detect_describe(img)
                for i in range(len(kps)):
                    # band b = sign bits of descriptor dims 16b..16b+15,
                    # folded as plain ints (no byte-order reinterpretation
                    # — identical on any executor architecture)
                    sign = desc[i] > 0
                    bands = [int(sum(1 << j for j in range(16)
                                     if sign[16 * b + j]))
                             for b in range(4)]
                    rows.append((int(img_id), int(kps[i, 0]),
                                 int(kps[i, 1]), bands, desc[i].tolist()))
            yield pd.DataFrame(rows, columns=[f.name
                                              for f in _SURF_KP_SCHEMA.fields])

    return images.mapInPandas(extract, _SURF_KP_SCHEMA) \
        .localCheckpoint(eager=False)


def _surf_votes(kp_left: DataFrame, kp_right: DataFrame,
                same_table: bool) -> DataFrame:
    """Banded match + cosine verify + Hough translation vote between two
    keypoint tables -> (image_a, image_b, n_aligned, dr, dc) for pairs
    clearing SURF_MIN_ALIGNED. ``same_table=True`` runs the self-join
    form (image_a < image_b); False assumes DISJOINT id spaces (the
    batch-vs-index ingest shape) and pairs every left image with every
    colliding right image."""
    def slim(kp):
        return kp.select("image_id", "kp_r", "kp_c",
                         F.posexplode("bands").alias("band_id", "band_val"))

    band_l, band_r = slim(kp_left), slim(kp_right)
    # hot-bucket cap: a sign-band value shared by too many keypoints is
    # structure-free (the all-zeros band of flat descriptors) — capped
    # exactly like LSH_MAX_BUCKET caps shingle bands in the text ladder.
    # In the self-join shape left and right ARE the same table: count it
    # once, or every keypoint counts twice and the cap silently halves
    counted = band_l if same_table else band_l.unionByName(band_r)
    bucket_ok = (counted
                 .groupBy("band_id", "band_val")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.countDistinct("image_id").alias("n_img"))
                 .filter(F.col("n") <=
                         F.lit(SURF_BAND_PER_IMAGE) * F.col("n_img"))
                 .select("band_id", "band_val"))
    band_l = band_l.join(F.broadcast(bucket_ok), ["band_id", "band_val"])
    band_r = band_r.join(F.broadcast(bucket_ok), ["band_id", "band_val"])

    a, b = band_l.alias("a"), band_r.alias("b")
    pair_cond = (F.col("a.image_id") < F.col("b.image_id")) if same_table \
        else (F.col("a.image_id") != F.col("b.image_id"))
    cand = (a.join(b, on=[F.col("a.band_id") == F.col("b.band_id"),
                          F.col("a.band_val") == F.col("b.band_val"),
                          pair_cond])
            .select(F.col("a.image_id").alias("image_a"),
                    F.col("b.image_id").alias("image_b"),
                    F.col("a.kp_r").alias("ra"), F.col("a.kp_c").alias("ca"),
                    F.col("b.kp_r").alias("rb"), F.col("b.kp_c").alias("cb"))
            # a keypoint pair colliding on several bands is ONE match
            .dropDuplicates(["image_a", "image_b", "ra", "ca", "rb", "cb"]))
    # descriptors did NOT ride the LSH shuffle — join them back only for
    # the deduped candidate pairs
    da = kp_left.select("image_id", "kp_r", "kp_c", "desc").alias("da")
    db = kp_right.select("image_id", "kp_r", "kp_c", "desc").alias("db")
    pairs = (cand
             .join(da, on=[F.col("image_a") == F.col("da.image_id"),
                           F.col("ra") == F.col("da.kp_r"),
                           F.col("ca") == F.col("da.kp_c")])
             .join(db, on=[F.col("image_b") == F.col("db.image_id"),
                           F.col("rb") == F.col("db.kp_r"),
                           F.col("cb") == F.col("db.kp_c")]))
    cos = F.aggregate(
        F.zip_with("da.desc", "db.desc", lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    verified = (pairs.withColumn("cos", cos)
                .filter(F.col("cos") >= SURF_MATCH_COS))
    votes = (verified
             .groupBy("image_a", "image_b",
                      (F.col("ra") - F.col("rb")).alias("dr"),
                      (F.col("ca") - F.col("cb")).alias("dc"))
             .agg(F.count(F.lit(1)).alias("n_aligned")))
    # deterministic on vote ties: max_by key is (count, then the
    # smallest (dr, dc)) — bare n_aligned would emit a partitioning-
    # dependent translation when two bins tie (segmentation.py:434 idiom)
    return (votes.groupBy("image_a", "image_b")
            .agg(F.max_by(
                F.struct("n_aligned", "dr", "dc"),
                F.struct(F.col("n_aligned"),
                         (-F.col("dr")).alias("ndr"),
                         (-F.col("dc")).alias("ndc"))).alias("top"))
            .select("image_a", "image_b", "top.n_aligned",
                    "top.dr", "top.dc")
            .filter(F.col("n_aligned") >= SURF_MIN_ALIGNED))


def multimodal_surf_neardup(spark: SparkSession,
                            sf_dir: str = "") -> DataFrame:
    wh = F.col("width") * F.col("height")

    def ch0(n_images):
        return load_cells(spark, n_images=n_images, width=48,
                          height=48).select(
            "image_id", "width", "height",
            F.slice("data", F.lit(1), wh).alias("data_ch"))
    clones = (ch0(SURF_DEDUP_CLONES)
              .select((F.col("image_id") + SURF_CLONE_OFFSET)
                      .alias("image_id"), "width", "height",
                      F.transform("data_ch", lambda x: x * F.lit(0.7))
                      .alias("data_ch")))
    kp = _surf_keypoints(ch0(SURF_DEDUP_IMAGES).unionByName(clones))
    return _surf_votes(kp, kp, same_table=True) \
        .orderBy("image_a", "image_b")


QUERIES["multimodal_surf_neardup"] = (multimodal_surf_neardup, None)


# ---------------------------------------------------------------------------
# Composed image-ingest dedup gate — the IMAGE twin of the text
# pipeline's ingest_gate_pipeline (operators/ingest.py): one fresh
# batch screened against an index through every image-dedup tier the
# engine has, cheapest first, one verdict row per batch image.
#
#   exact       md5 of the packed payload ∈ index digests — byte-level
#               copies; the only tier a bit-identical re-upload needs.
#   phash       aHash-64 ∈ index hashes — survives re-encodes,
#               low-amplitude noise, brightness/contrast edits (the
#               global tier; one 8-byte key per image shuffles).
#   structural  SURF sign-band LSH + cosine + Hough translation vote
#               (>= SURF_MIN_ALIGNED keypoints agreeing on one (dr,
#               dc)) — survives LOCAL edits that change every global
#               hash: the planted batch carries occluded copies (a
#               10x10 patch stamped over the corner) whose digest AND
#               phash differ while interior keypoint descriptors are
#               untouched (Gaussian-weighted windows make the far-away
#               patch contribution negligible) — the exact failure
#               mode global hashing has and local features exist for.
#
# Tier precedence is cost order: a batch image caught by a cheaper
# tier never reaches the next one's verdict (the joins still run
# batch-wide — at fixture scale filtering first saves nothing, and at
# 100 TB the cascade is a policy choice the caller makes by feeding
# tier outputs forward; the ledger matters more: digests and hashes
# shuffle 8-16 bytes per image, keypoints ~100 rows per 1000 images,
# pixels never).
# Rows-only: the SURF tier is not DuckDB-expressible; the planted
# expectations (exact copy of image 2, +0.4 re-encode of image 5,
# occluded copies of images 0-1, four fresh images admitted) are
# pinned in tests/test_multimodal.py.
# ---------------------------------------------------------------------------
INGEST_IMG_INDEX = 16           # index images 0..15
INGEST_IMG_FRESH = 4            # batch brings 16..19 (genuinely new)
INGEST_IMG_OFFSET = 10_000      # planted batch duplicates: 10000 + src


def _gen_fresh_gate_image(k: int, w: int = 48, h: int = 48) -> np.ndarray:
    """Fresh-plant family for the image ingest gate — the image twin of
    ``_gen_fresh_chirp`` / ``_gen_fresh_video`` (r13 verdict item 1,
    the fix's third modality). Keyed by the BATCH-RELATIVE index k,
    not the absolute image id, so the planted content is identical at
    every MULTIMODAL_SCALE probe rung; drawn from a geometry family
    hash-disjoint from the blob corpus at ANY index size: block-
    aligned stripe/checker patterns whose 8×8 aHash has ≥4 separated
    components, while every blob image's aHash is ONE connected disk
    cluster (disk radius < 3 blocks) — before this, the "fresh" images
    were just the next blob ids, and at 100× index they progressively
    collided with aHash twins (MULTIMODAL_SCALE admitted 4→3→2)."""
    yy, xx = np.meshgrid(np.arange(h), np.arange(w))
    bx, by = xx // (w // 8), yy // (h // 8)  # aHash block coordinates
    pattern = ((bx % 2, by % 2, (bx + by) % 2, (bx + by + 1) % 2)
               [k % 4]) == 0
    hi, lo = 600.0 + 7.0 * k, 25.0 + k  # k-distinct digests
    return np.where(pattern, hi, lo).astype(np.float64).reshape(-1)


def multimodal_ingest_dedup(spark: SparkSession, sf_dir: str = "",
                            only_ids: DataFrame | None = None,
                            ) -> DataFrame:
    """``only_ids`` (one ``image_id`` column) restricts the screened
    batch to a subset of its items — each image's verdict depends only
    on itself vs the index, so screening a subset per micro-batch and
    unioning equals screening the whole batch at once (the streaming
    unified gate's twin property, test-pinned)."""
    wh = F.col("width") * F.col("height")

    def ch0():
        return load_cells(spark, n_images=INGEST_IMG_INDEX, width=48,
                          height=48).select(
            "image_id", "width", "height",
            F.slice("data", F.lit(1), wh).alias("data_ch"))
    index = ch0()
    # fresh plants come from their OWN salted generator family (keyed
    # by batch-relative index — _gen_fresh_gate_image docstring), not
    # the next blob ids: ids planned as a range, content made in the
    # task (as the cells source's reader does per id range)
    base = INGEST_IMG_INDEX

    def _gen_fresh(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [(int(i), 48, 48,
                  _gen_fresh_gate_image(int(i) - base).tolist())
                 for i in pdf["id"]],
                columns=["image_id", "width", "height", "data_ch"])

    fresh = (spark.range(base, base + INGEST_IMG_FRESH, 1, 2)
             .mapInPandas(_gen_fresh,
                          "image_id long, width int, height int, "
                          "data_ch array<double>"))

    def plant(src_ids, fn):
        return (ch0().filter(F.col("image_id").isin(src_ids))
                .select((F.col("image_id") + INGEST_IMG_OFFSET)
                        .alias("image_id"), "width", "height",
                        fn(F.col("data_ch")).alias("data_ch")))

    h = F.col("height")
    occlude = lambda c: F.transform(
        c, lambda x, i: F.when(
            ((i / h).cast("long") >= 2) & ((i / h).cast("long") < 12)
            & ((i % h) >= 2) & ((i % h) < 12), F.lit(200.0)).otherwise(x))
    # batch and index each feed several subtrees (signature joins, the
    # keypoint stage, the verdict base) — checkpoint so the generator and
    # the encode/hash Python stages run once per side
    # (``cell_outlier_filter`` idiom)
    index = index.localCheckpoint(eager=False)
    batch = (fresh
             .unionByName(plant([2], lambda c: c))                  # exact
             .unionByName(plant([5], lambda c: F.transform(
                 c, lambda x: x + F.lit(0.4))))                     # re-encode
             .unionByName(plant([0, 1], occlude)))                  # local edit
    if only_ids is not None:
        batch = batch.join(F.broadcast(only_ids.select("image_id")),
                           "image_id", "left_semi")
    batch = batch.localCheckpoint(eager=False)

    def sig(df, id_alias):
        enc = df.select("image_id", "width", "height",
                        pack_f32(F.col("data_ch")).alias("payload"))
        return enc.select(
            F.col("image_id").alias(id_alias),
            F.md5("payload").alias("digest"),
            _ahash64("payload", F.lit(1), "width", "height")
            .alias("phash")).localCheckpoint(eager=False)

    idx_sig = sig(index, "index_id")
    bat_sig = sig(batch, "image_id")

    # the signature table is index-card sized — broadcast both tiers
    ex = (bat_sig.join(F.broadcast(idx_sig.select("digest", "index_id")),
                       "digest")
          .groupBy("image_id")
          .agg(F.min("index_id").alias("exact_src")))
    ph = (bat_sig.join(F.broadcast(idx_sig.select("phash", "index_id")),
                       "phash")
          .groupBy("image_id")
          .agg(F.min("index_id").alias("phash_src")))

    kp_idx = _surf_keypoints(index)
    kp_bat = _surf_keypoints(batch)
    st = (_surf_votes(kp_idx, kp_bat, same_table=False)
          .groupBy(F.col("image_b").alias("image_id"))
          .agg(F.max_by("image_a", F.struct(
              F.col("n_aligned"), -F.col("image_a"))).alias("struct_src")))

    verdict = (batch.select("image_id")
               .join(ex, "image_id", "left")
               .join(ph, "image_id", "left")
               .join(st, "image_id", "left")
               .select(
                   "image_id",
                   F.when(F.col("exact_src").isNotNull(), F.lit("exact"))
                    .when(F.col("phash_src").isNotNull(), F.lit("phash"))
                    .when(F.col("struct_src").isNotNull(),
                          F.lit("structural"))
                    .otherwise(F.lit("admitted")).alias("tier"),
                   F.coalesce("exact_src", "phash_src", "struct_src")
                    .alias("evidence_id")))
    return verdict.orderBy("image_id")


QUERIES["multimodal_ingest_dedup"] = (multimodal_ingest_dedup, None)


# ---------------------------------------------------------------------------
# Audio landmark-fingerprint dedup — the AUDIO member of the dedup
# family, completing the modality symmetry (text ladder / image
# phash+SURF / audio landmarks). The published design (peak-pair
# landmark hashing with a time-offset vote — the constellation scheme
# every audio-ID service descends from, Wang 2003) in the same Spark
# shape as the image tier:
#
#   1. per clip: MDCT frames (the codec's own transform) → dominant
#      bin per live frame → landmark hashes (f_anchor, f_other, dt)
#      over a fan-out-3 window, each carrying its anchor frame time —
#      one Arrow batch per clip, samples never shuffle;
#   2. candidates: self-join on the hash (banded, never all-pairs,
#      hot-hash cap — the ladder idiom);
#   3. verification = the time-offset VOTE: matched landmarks from a
#      true copy agree on ONE (t_a - t_b); unrelated clips that share
#      spectral content scatter. Same Hough-style groupBy as the SURF
#      tier's translation vote, with time standing in for (dr, dc).
#
# The fixture is chirps (frequency sweeps), not the VAD fixture's
# constant tones — a constant tone repeats ONE dominant bin all clip,
# which degenerates every landmark into the same hash (a join hot
# bucket carrying no identity); sweeps give the varied spectrum the
# published scheme assumes. Planted clones: a time-SHIFTED copy
# (crop — votes land on the shift, 8 frames), an amplitude-scaled
# copy (argmax bins are scale-invariant), and a REAL ADPCM
# encode→decode round-trip (codec noise leaves dominant bins intact).
# Measured margins over all 105 non-clone pairs of the 15-clip corpus
# (base-base AND base-vs-wrong-clone): clones >= 162 votes, best
# unrelated pair 58 (similar-slope chirps genuinely share a bin
# sequence at one offset) — AUDIO_FP_MIN_VOTES = 110 sits between at
# 1.47x under the weakest clone and 1.90x over the best impostor,
# pinned in tests/test_multimodal.py.
# Rows-only: MDCT peak tracking is not DuckDB-expressible.
# ---------------------------------------------------------------------------
AUDIO_FP_CLIPS = 12
AUDIO_FP_CLONE_OFFSET = 20_000
AUDIO_FP_MIN_VOTES = 110
# per-clip-normalized degenerate-hash cap (see SURF_BAND_PER_IMAGE for
# the rationale): a constant tone emits ONE hash ~170 times per clip
# (>> 8) and is dropped; chirp landmarks repeat <= 3 times per clip and
# survive no matter how many clips legitimately share them — a fixed
# global count collapsed recall to ZERO at 10x the clips (measured:
# even the planted clones lost their hashes to the cap)
AUDIO_FP_PER_CLIP = 8
AUDIO_FP_FANOUT = 3
AUDIO_FP_ENERGY_GATE = 1e6      # live-frame gate, coeff-energy units
AUDIO_FP_SHIFT = 2048           # samples cropped from the shift clone


def _gen_chirp(cid: int) -> np.ndarray:
    """2 s linear chirp, clip-keyed start/end frequency and amplitude."""
    n = AUDIO_SR * AUDIO_SEC
    t = np.arange(n, dtype=np.float64)
    f0 = 150.0 + 37.0 * (cid % 11)
    f1 = f0 + 400.0 + 23.0 * (cid % 7)
    ph = 2.0 * np.pi * (f0 * t + (f1 - f0) / (2.0 * n) * t * t) / AUDIO_SR
    amp = 3000.0 + 150.0 * (cid % 5)
    return (amp * np.sin(ph)).astype(np.int16)


def _fp_corpus_pcm(cid: int) -> np.ndarray:
    """Corpus clip by id: base chirps, plus the three planted clones
    (shifted / amplitude-scaled / ADPCM-re-encoded copies)."""
    if cid < AUDIO_FP_CLONE_OFFSET:
        return _gen_chirp(cid)
    src = _gen_chirp(cid - AUDIO_FP_CLONE_OFFSET)
    which = cid - AUDIO_FP_CLONE_OFFSET
    if which == 0:                       # time shift: crop the head
        return src[AUDIO_FP_SHIFT:]
    if which == 1:                       # amplitude scale
        return np.clip(src.astype(np.float64) * 0.6,
                       -32768, 32767).astype(np.int16)
    # which == 2: REAL lossy re-encode through the ADPCM codec
    return adpcm_decode(adpcm_encode(src, AUDIO_SR))[:, 0]


def _fp_hash_cap(rows: DataFrame, hash_cols: tuple, per_entity: int,
                 entity: str) -> DataFrame:
    """Per-entity-normalized degenerate-hash cap: drop hashes occurring
    more than ``per_entity`` times per distinct entity emitting them (a
    constant tone / static clip floods ONE hash; legitimately shared
    hashes scale with the entities sharing them and survive). Shared by
    the self-join tiers, the artifact builds, and the gates' batch
    sides — the cap must count identically everywhere."""
    hash_ok = (rows.groupBy(*hash_cols)
               .agg(F.count(F.lit(1)).alias("n"),
                    F.countDistinct(entity).alias("n_ent"))
               .filter(F.col("n") <= F.lit(per_entity) * F.col("n_ent"))
               .select(*hash_cols))
    return rows.join(F.broadcast(hash_ok), list(hash_cols))


def _constellation_votes(rows: DataFrame, hash_cols: tuple,
                         per_entity: int, min_votes: int,
                         entity: str = "clip_id",
                         t: str = "t",
                         index: DataFrame | None = None) -> DataFrame:
    """Shared candidates+vote spine of the audio and video fingerprint
    tiers (one discipline, two modalities): per-entity-normalized
    degenerate-hash cap, banded hash join (never all-pairs), and the
    time-offset Hough vote with the deterministic smallest-offset
    tie-break. ``rows`` should already be persisted by the caller (it
    feeds both the cap count and the join).

    Self-join mode (``index=None``): within-corpus dedup, pairs
    ``entity_a < entity_b``. Batch-vs-index mode: ``rows`` is the FRESH
    BATCH (capped on the fly, per-batch scale) and ``index`` the
    persisted fingerprint table — capped at BUILD time and read through
    its bucketed layout, so the index side is never exchanged; only the
    batch's hashes shuffle. ``clip_a`` is then the index entity and
    ``clip_b`` the batch entity, and ``offset`` keeps its self-join
    meaning (a trimmed batch copy votes AT its trim length)."""
    rows = _fp_hash_cap(rows, hash_cols, per_entity, entity)
    if index is None:
        a, b = rows.alias("a"), rows.alias("b")
        cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in hash_cols]
        cond.append(F.col(f"a.{entity}") < F.col(f"b.{entity}"))
    else:
        a, b = index.alias("a"), rows.alias("b")
        cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in hash_cols]
    votes = (a.join(b, on=cond)
             .groupBy(F.col(f"a.{entity}").alias("clip_a"),
                      F.col(f"b.{entity}").alias("clip_b"),
                      (F.col(f"a.{t}") - F.col(f"b.{t}")).alias("offset"))
             .agg(F.count(F.lit(1)).alias("n_votes")))
    # deterministic on ties, smallest offset wins (SURF-vote idiom)
    return (votes.groupBy("clip_a", "clip_b")
            .agg(F.max_by(F.struct("n_votes", "offset"),
                          F.struct(F.col("n_votes"),
                                   (-F.col("offset")).alias("noff")))
                 .alias("top"))
            .select("clip_a", "clip_b", "top.n_votes", "top.offset")
            .filter(F.col("n_votes") >= min_votes)
            .orderBy("clip_a", "clip_b"))


_AUDIO_LM_SCHEMA = T.StructType([
    T.StructField("clip_id", T.LongType()),
    T.StructField("f1", T.IntegerType()),
    T.StructField("f2", T.IntegerType()),
    T.StructField("dt", T.IntegerType()),
    T.StructField("t_anchor", T.IntegerType()),
])


def _audio_lm_extract(gen):
    """mapInPandas landmark extractor over a clip-id table, with the
    PCM source injected — the self-join tier, the persisted index
    build, and the ingest gate's batch side all run THIS function (the
    landmark definition must not drift between them, or index and
    batch hashes stop matching)."""
    from ..functions import mdct_codec as M

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid in pdf["clip_id"]:
                x = gen(int(cid)).astype(np.float64)
                coeffs = M.mdct(M.analysis_frames(x))
                peaks = np.abs(coeffs).argmax(axis=1)
                energy = (coeffs ** 2).sum(axis=1)
                live = np.flatnonzero(energy > AUDIO_FP_ENERGY_GATE)
                for a_i, a in enumerate(live):
                    for b in live[a_i + 1: a_i + 1 + AUDIO_FP_FANOUT]:
                        rows.append((int(cid), int(peaks[a]),
                                     int(peaks[b]), int(b - a), int(a)))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in
                                        _AUDIO_LM_SCHEMA.fields])

    return extract


def multimodal_audio_fingerprint_dedup(spark: SparkSession,
                                       sf_dir: str = "") -> DataFrame:
    ids = list(range(AUDIO_FP_CLIPS)) + [AUDIO_FP_CLONE_OFFSET + i
                                         for i in range(3)]
    clips = literal_table(spark, [(i,) for i in ids], "clip_id long") \
        .repartition(8, "clip_id")
    lm = clips.mapInPandas(_audio_lm_extract(_fp_corpus_pcm),
                           _AUDIO_LM_SCHEMA) \
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    return _constellation_votes(lm, ("f1", "f2", "dt"),
                                AUDIO_FP_PER_CLIP, AUDIO_FP_MIN_VOTES,
                                t="t_anchor")


QUERIES["multimodal_audio_fingerprint_dedup"] = (
    multimodal_audio_fingerprint_dedup, None)


# ---------------------------------------------------------------------------
# Video frame-fingerprint dedup — the VIDEO member of the dedup family,
# closing the modality square (text ladder / image phash+SURF / audio
# landmarks / video frame constellation). Same candidates+vote
# discipline as the audio tier with frames standing in for landmarks:
#
#   1. per clip: one 64-bit aHash per frame (2x2 block means
#      thresholded at the FRAME's own mean — the per-frame threshold
#      makes the hash invariant to the brightness drift and to global
#      brightness edits), extracted in one Arrow batch;
#   2. candidates: self-join on the frame hash, per-clip-normalized
#      degenerate cap (a static clip repeating one frame forever is
#      the constant-tone analogue);
#   3. verification: the frame-OFFSET vote — a true copy's matching
#      frames agree on ONE time offset (a trimmed copy votes AT its
#      trim length), unrelated clips with coincidentally-equal frames
#      scatter.
#
# Fixture: motion clips (a bright square on a clip-keyed path over a
# drifting background) — the scene-cut fixture's uniform gradient
# frames hash identically within a clip (the degenerate case), so the
# dedup fixture needs per-frame CONTENT, exactly like the audio tier
# needed chirps. Planted clones: a 6-frame TRIM of clip 0 (found at
# offset 6) and a +30 brightness edit of clip 1 (hash-invariant,
# offset 0). Measured margins: clones 42/48 votes, best unrelated pair
# 8 (same-velocity paths collide periodically) — threshold 24 sits at
# 1.75x under the weakest clone and 3.0x over the best impostor,
# test-pinned. Rows-only (pixel hashing is not DuckDB-expressible).
# ---------------------------------------------------------------------------
VIDEO_FP_CLIPS = 16
VIDEO_FP_FRAMES = 48
VIDEO_FP_HW = 16
VIDEO_FP_CLONE_OFFSET = 30_000
VIDEO_FP_MIN_VOTES = 24
# a velocity-(3,3) clip loops its 12-px wrap path in 4 frames, so each
# of its 4 distinct frame hashes legitimately recurs 48/4 = 12 times —
# the cap must sit ABOVE the fastest loop (review finding: at 8 such
# clips lost every hash and their clones became undetectable) while
# still dropping the static-clip degenerate (one hash 48x per clip)
VIDEO_FP_PER_CLIP = 16
VIDEO_FP_TRIM = 6


def _gen_motion_video(cid: int) -> np.ndarray:
    """(FRAMES, H, W) uint8: a 4x4 bright square on a clip-keyed wrap
    path over a +1/frame drifting background."""
    n, hw = VIDEO_FP_FRAMES, VIDEO_FP_HW
    x0, y0 = 1 + (cid * 5) % 11, 1 + (cid * 3) % 11
    dx, dy = 1 + cid % 3, 1 + (cid // 3) % 3
    vid = np.empty((n, hw, hw), dtype=np.uint8)
    for f in range(n):
        img = np.full((hw, hw), 40 + f, dtype=np.int32)
        x, y = (x0 + f * dx) % (hw - 4), (y0 + f * dy) % (hw - 4)
        img[y:y + 4, x:x + 4] += 120
        vid[f] = np.clip(img, 0, 255).astype(np.uint8)
    return vid


def _video_fp_corpus(cid: int) -> np.ndarray:
    if cid < VIDEO_FP_CLONE_OFFSET:
        return _gen_motion_video(cid)
    which = cid - VIDEO_FP_CLONE_OFFSET
    src = _gen_motion_video(which)
    if which == 0:                       # trim: drop the head frames
        return src[VIDEO_FP_TRIM:]
    # which == 1: global brightness edit (the aHash-invariant class)
    return np.clip(src.astype(np.int32) + 30, 0, 255).astype(np.uint8)


def _frame_ahash64(frame: np.ndarray) -> int:
    """Per-frame 64-bit block-mean hash, thresholded at the frame's own
    mean (brightness-invariant); plain int folding (no byte-order
    reinterpretation)."""
    hw = frame.shape[0]
    b = hw // 8
    sm = frame.reshape(8, b, 8, b).mean(axis=(1, 3))
    bits = (sm > sm.mean()).reshape(-1)
    # same vectorized fold as _ahash64: uint64 weights summed, then
    # reinterpreted signed so bit 63 cannot overflow Arrow's long
    weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
    return int(np.int64(weights[bits].sum(dtype=np.uint64)
                        .astype(np.uint64).view(np.int64)))


_VIDEO_FH_SCHEMA = T.StructType([
    T.StructField("clip_id", T.LongType()),
    T.StructField("fhash", T.LongType()),
    T.StructField("t", T.IntegerType()),
])


def _video_fh_extract(gen):
    """mapInPandas per-frame-hash extractor with the frame source
    injected — shared by the self-join tier, the persisted index build,
    and the ingest gate's batch side (same no-drift contract as
    ``_audio_lm_extract``)."""
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid in pdf["clip_id"]:
                vid = gen(int(cid))
                for t in range(len(vid)):
                    rows.append((int(cid), _frame_ahash64(vid[t]), t))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in
                                        _VIDEO_FH_SCHEMA.fields])

    return extract


def multimodal_video_fingerprint_dedup(spark: SparkSession,
                                       sf_dir: str = "") -> DataFrame:
    ids = list(range(VIDEO_FP_CLIPS)) + [VIDEO_FP_CLONE_OFFSET + i
                                         for i in range(2)]
    clips = literal_table(spark, [(i,) for i in ids], "clip_id long") \
        .repartition(8, "clip_id")
    fh = clips.mapInPandas(_video_fh_extract(_video_fp_corpus),
                           _VIDEO_FH_SCHEMA) \
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    return _constellation_votes(fh, ("fhash",),
                                VIDEO_FP_PER_CLIP, VIDEO_FP_MIN_VOTES)


QUERIES["multimodal_video_fingerprint_dedup"] = (
    multimodal_video_fingerprint_dedup, None)


# ---------------------------------------------------------------------------
# Audio + video BATCH-vs-INDEX ingest gates (r10 verdict item 2) — the
# shape a real pipeline runs daily: a fresh batch of clips screened
# against a PERSISTED fingerprint index, composed tiers cheapest first,
# one verdict row per batch clip. This closes the gate square the same
# way the fingerprint tiers closed the dedup square: text
# (ingest_gate_pipeline) / image (multimodal_ingest_dedup) / audio /
# video all run the digest-exact tier first and a content tier second.
#
#   exact        md5 of the raw samples ∈ index digests — byte-level
#                re-uploads; index side is clip-count-sized (broadcast)
#   fingerprint  the modality's constellation tier against the
#                persisted landmark/frame-hash table: the index side
#                was capped AT BUILD time and reads through its
#                BUCKETED layout on the hash columns (the
#                dedup_incremental_persisted discipline), so per batch
#                only the batch's hashes shuffle — batch cost is
#                independent of index growth by construction, which
#                tools/multimodal_scale_probe.py measures.
#
# Extraction, capping, and voting are the SAME functions as the
# within-corpus tiers (_audio_lm_extract / _video_fh_extract /
# _fp_hash_cap / _constellation_votes) — index and batch hashes cannot
# drift. Rows-only (peak tracking / pixel hashing are not
# DuckDB-expressible); planted expectations pinned in
# tests/test_multimodal.py: per modality a byte-copy caught exact, a
# shifted/trimmed copy caught fingerprint AT its offset, a
# re-encoded/brightness-edited copy caught fingerprint, fresh clips
# admitted.
# ---------------------------------------------------------------------------
_FP_DG_SCHEMA = T.StructType([
    T.StructField("clip_id", T.LongType()),
    T.StructField("dg", T.StringType()),
])


def _fp_digest_extract(gen):
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cids = [int(c) for c in pdf["clip_id"]]
            yield pd.DataFrame({
                "clip_id": cids,
                "dg": [hashlib.md5(gen(c).tobytes()).hexdigest()
                       for c in cids],
            })
    return extract


def audio_fp_artifacts(spark: SparkSession, sf_dir: str) -> str:
    """Write-once audio fingerprint index (digests + BUILD-TIME-capped
    landmarks) over the base corpus clips — the persisted state the
    ingest gate screens against (written once per session, like the
    dedup index and LM tables)."""
    from ..session import memo, scratch_dir

    def build() -> str:
        root = scratch_dir(spark, "audiofp_")
        clips = spark.createDataFrame(
            [(i,) for i in range(AUDIO_FP_CLIPS)], "clip_id long") \
            .repartition(8, "clip_id")
        lm = clips.mapInPandas(_audio_lm_extract(_gen_chirp),
                               _AUDIO_LM_SCHEMA) \
            .persist(StorageLevel.MEMORY_AND_DISK_DESER)
        _fp_hash_cap(lm, ("f1", "f2", "dt"), AUDIO_FP_PER_CLIP,
                     "clip_id").write.mode("overwrite") \
            .parquet(f"{root}/landmarks")
        clips.mapInPandas(_fp_digest_extract(_gen_chirp), _FP_DG_SCHEMA) \
            .write.mode("overwrite").parquet(f"{root}/digests")
        lm.unpersist()
        return root

    return memo(spark, ("audio_fp", sf_dir), build)


def video_fp_artifacts(spark: SparkSession, sf_dir: str) -> str:
    """Write-once video fingerprint index (digests + capped frame
    hashes) — the video twin of ``audio_fp_artifacts``."""
    from ..session import memo, scratch_dir

    def build() -> str:
        root = scratch_dir(spark, "videofp_")
        clips = spark.createDataFrame(
            [(i,) for i in range(VIDEO_FP_CLIPS)], "clip_id long") \
            .repartition(8, "clip_id")
        fh = clips.mapInPandas(_video_fh_extract(_gen_motion_video),
                               _VIDEO_FH_SCHEMA) \
            .persist(StorageLevel.MEMORY_AND_DISK_DESER)
        _fp_hash_cap(fh, ("fhash",), VIDEO_FP_PER_CLIP, "clip_id") \
            .write.mode("overwrite").parquet(f"{root}/framehashes")
        clips.mapInPandas(_fp_digest_extract(_gen_motion_video),
                          _FP_DG_SCHEMA) \
            .write.mode("overwrite").parquet(f"{root}/digests")
        fh.unpersist()
        return root

    return memo(spark, ("video_fp", sf_dir), build)


# gate batch plants — id space disjoint from the dedup fixtures' clones
AUDIO_GATE_OFFSET = 40_000
AUDIO_GATE_COPY_SRC = 2        # byte-identical re-upload → exact tier
AUDIO_GATE_SHIFT_SRC = 0       # time-shifted copy → fingerprint tier
AUDIO_GATE_REENC_SRC = 1       # ADPCM re-encode → fingerprint tier

# Fresh gate clips are their OWN generator family, not corpus ids past
# the index end (r12 verdict item 2): ids derived from AUDIO_FP_CLIPS
# became index members once the scale probe grew the index, so the
# x10/x100 rungs stopped demonstrating precision on novel content
# (admitted fell to 0 — every "fresh" clip was an exact twin of an
# index clip). _gen_fresh_chirp sweeps DOWN through 2.2–3.1 kHz while
# _gen_chirp tops out at f1 = 520 + 538 ≈ 1.06 kHz at ANY index size,
# so a fresh clip shares no MDCT peak bin (hence no landmark hash) and
# no byte stream (no digest) with any index clip at any probe rung.
AUDIO_GATE_FRESH_OFFSET = 60_000
AUDIO_GATE_FRESH = tuple(AUDIO_GATE_FRESH_OFFSET + k for k in range(3))


def _gen_fresh_chirp(k: int) -> np.ndarray:
    n = AUDIO_SR * AUDIO_SEC
    t = np.arange(n, dtype=np.float64)
    f0 = 3100.0 - 41.0 * (k % 9)
    f1 = f0 - 600.0 - 31.0 * (k % 4)
    ph = 2.0 * np.pi * (f0 * t + (f1 - f0) / (2.0 * n) * t * t) / AUDIO_SR
    amp = 2800.0 + 170.0 * (k % 3)
    return (amp * np.sin(ph)).astype(np.int16)


def _audio_gate_pcm(cid: int) -> np.ndarray:
    if cid >= AUDIO_GATE_FRESH_OFFSET:
        return _gen_fresh_chirp(cid - AUDIO_GATE_FRESH_OFFSET)
    if cid < AUDIO_GATE_OFFSET:
        return _gen_chirp(cid)
    which = cid - AUDIO_GATE_OFFSET
    src = _gen_chirp(which)
    if which == AUDIO_GATE_COPY_SRC:
        return src
    if which == AUDIO_GATE_SHIFT_SRC:
        return src[AUDIO_FP_SHIFT:]
    return adpcm_decode(adpcm_encode(src, AUDIO_SR))[:, 0]


VIDEO_GATE_OFFSET = 50_000
VIDEO_GATE_COPY_SRC = 3        # byte-identical re-upload → exact tier
VIDEO_GATE_TRIM_SRC = 0        # head-trimmed copy → fingerprint tier
VIDEO_GATE_BRIGHT_SRC = 1      # +30 brightness edit → fingerprint tier

# Video twin of AUDIO_GATE_FRESH_OFFSET: a 6×6 bright patch whose
# per-frame aHash always sets 36 bits, while EVERY corpus clip's 4×4
# patch sets exactly 16 (uniform drifting background, patch pixels the
# only ones above the frame mean, no wrap — _gen_motion_video) — so a
# fresh clip can never share a frame hash or digest with the index,
# however far the probe scales it.
VIDEO_GATE_FRESH_OFFSET = 70_000
VIDEO_GATE_FRESH = tuple(VIDEO_GATE_FRESH_OFFSET + k for k in range(2))


def _gen_fresh_video(k: int) -> np.ndarray:
    n, hw = VIDEO_FP_FRAMES, VIDEO_FP_HW
    x0, y0 = 2 + (k * 7) % 9, 2 + (k * 5) % 9
    dx, dy = 1 + k % 2, 2 - k % 2
    vid = np.empty((n, hw, hw), dtype=np.uint8)
    for f in range(n):
        img = np.full((hw, hw), 40 + f, dtype=np.int32)
        x, y = (x0 + f * dx) % (hw - 6), (y0 + f * dy) % (hw - 6)
        img[y:y + 6, x:x + 6] += 120
        vid[f] = np.clip(img, 0, 255).astype(np.uint8)
    return vid


def _video_gate_frames(cid: int) -> np.ndarray:
    if cid >= VIDEO_GATE_FRESH_OFFSET:
        return _gen_fresh_video(cid - VIDEO_GATE_FRESH_OFFSET)
    if cid < VIDEO_GATE_OFFSET:
        return _gen_motion_video(cid)
    which = cid - VIDEO_GATE_OFFSET
    src = _gen_motion_video(which)
    if which == VIDEO_GATE_COPY_SRC:
        return src
    if which == VIDEO_GATE_TRIM_SRC:
        return src[VIDEO_FP_TRIM:]
    return np.clip(src.astype(np.int32) + 30, 0, 255).astype(np.uint8)


def _fp_gate(spark: SparkSession, root: str, batch_ids: list,
             gen, extract_fn, extract_schema, fp_sub: str,
             hash_cols: tuple, per_entity: int, min_votes: int,
             t: str, clips: DataFrame | None = None) -> DataFrame:
    """Shared gate composition: digest-exact (broadcast, clip-count
    sized) → constellation fingerprint vs the bucketed persisted index
    → one verdict row per batch clip, cheapest tier wins. ``clips``
    (one ``clip_id`` column) overrides ``batch_ids`` — the streaming
    unified gate feeds each micro-batch's media subset straight from
    the stream, no driver-side collect. The returned DataFrame carries
    the batch fingerprint cache as ``_cached_rows`` for that caller to
    unpersist: a micro-batch's plan is new per trigger, so its cache
    entry is never reused (``near_tier_vs_artifacts`` idiom)."""
    from .dedup import bucketed_artifact_table

    if clips is None:
        clips = literal_table(spark, [(i,) for i in batch_ids],
                              "clip_id long")
    clips = clips.select("clip_id").repartition(4, "clip_id")
    bat_dg = clips.mapInPandas(_fp_digest_extract(gen), _FP_DG_SCHEMA)
    idx_dg = (spark.read.parquet(f"{root}/digests")
              .select(F.col("clip_id").alias("index_id"), "dg"))
    exact = (bat_dg.join(F.broadcast(idx_dg), "dg")
             .groupBy("clip_id")
             .agg(F.min("index_id").alias("exact_src")))

    bat_rows = clips.mapInPandas(extract_fn(gen), extract_schema) \
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    idx_rows = spark.table(bucketed_artifact_table(
        spark, root, fp_sub, list(hash_cols))).hint("merge")
    votes = _constellation_votes(bat_rows, hash_cols, per_entity,
                                 min_votes, t=t, index=idx_rows)
    fp = (votes.groupBy(F.col("clip_b").alias("clip_id"))
          .agg(F.max_by("clip_a", F.struct(F.col("n_votes"),
                                           -F.col("clip_a")))
               .alias("fp_src")))

    out = (clips.join(exact, "clip_id", "left")
           .join(fp, "clip_id", "left")
           .select("clip_id",
                   F.when(F.col("exact_src").isNotNull(), F.lit("exact"))
                    .when(F.col("fp_src").isNotNull(),
                          F.lit("fingerprint"))
                    .otherwise(F.lit("admitted")).alias("tier"),
                   F.coalesce("exact_src", "fp_src").alias("evidence_id"))
           .orderBy("clip_id"))
    out._cached_rows = bat_rows
    return out


def multimodal_audio_ingest_gate(spark: SparkSession, sf_dir: str = "",
                                 clips: DataFrame | None = None,
                                 ) -> DataFrame:
    root = audio_fp_artifacts(spark, sf_dir)
    batch_ids = list(AUDIO_GATE_FRESH) + [
        AUDIO_GATE_OFFSET + s for s in
        (AUDIO_GATE_SHIFT_SRC, AUDIO_GATE_REENC_SRC, AUDIO_GATE_COPY_SRC)]
    return _fp_gate(spark, root, batch_ids, _audio_gate_pcm,
                    _audio_lm_extract, _AUDIO_LM_SCHEMA, "landmarks",
                    ("f1", "f2", "dt"), AUDIO_FP_PER_CLIP,
                    AUDIO_FP_MIN_VOTES, t="t_anchor", clips=clips)


def multimodal_video_ingest_gate(spark: SparkSession, sf_dir: str = "",
                                 clips: DataFrame | None = None,
                                 ) -> DataFrame:
    root = video_fp_artifacts(spark, sf_dir)
    batch_ids = list(VIDEO_GATE_FRESH) + [
        VIDEO_GATE_OFFSET + s for s in
        (VIDEO_GATE_TRIM_SRC, VIDEO_GATE_BRIGHT_SRC, VIDEO_GATE_COPY_SRC)]
    return _fp_gate(spark, root, batch_ids, _video_gate_frames,
                    _video_fh_extract, _VIDEO_FH_SCHEMA, "framehashes",
                    ("fhash",), VIDEO_FP_PER_CLIP, VIDEO_FP_MIN_VOTES,
                    t="t", clips=clips)


QUERIES["multimodal_audio_ingest_gate"] = (multimodal_audio_ingest_gate,
                                           None)
QUERIES["multimodal_video_ingest_gate"] = (multimodal_video_ingest_gate,
                                           None)


# ---------------------------------------------------------------------------
# Audio modality — opaque PCM payloads with typed metadata, the audio
# member of the multimodal surface (mandate: "image/audio/video as
# opaque binary columns"). Payloads are deterministic synthetic int16
# PCM (tones + silence gaps keyed by clip_id — no audio libs needed;
# a real decoder slots in exactly where np.frombuffer sits). The kernel
# is the canonical audio-curation primitive: per-window RMS energy →
# voice-activity segmentation → per-clip speech/silence accounting, the
# trim step every speech-training pipeline runs before transcription.
# All integer arithmetic (int16 squares summed in int64, thresholds in
# energy micro-units), so results are partition-invariant and the
# pytest golden replays them bit-for-bit.
# ---------------------------------------------------------------------------
AUDIO_CLIPS = 40
AUDIO_SR = 8_000
AUDIO_WIN = 400          # 50 ms windows
AUDIO_SEC = 2
AUDIO_RMS_GATE = 500     # int16 RMS gate for "speech"


def _gen_pcm(clip_id: int) -> np.ndarray:
    """~2 s of int16 PCM: a tone with clip-keyed frequency/amplitude,
    silenced over a clip-keyed stretch (the 'pause' to detect)."""
    n = AUDIO_SR * AUDIO_SEC
    t = np.arange(n, dtype=np.float64)
    freq = 100.0 + 7.0 * (clip_id % 13)
    amp = 3000.0 + 150.0 * (clip_id % 5)
    x = amp * np.sin(2.0 * np.pi * freq * t / AUDIO_SR)
    gap_start = (clip_id * 997) % (n // 2)
    gap_len = AUDIO_WIN * (2 + clip_id % 4)
    x[gap_start:gap_start + gap_len] = 0.0
    return x.astype(np.int16)


def load_audio(spark: SparkSession) -> DataFrame:
    ids = spark.range(0, AUDIO_CLIPS, 1, 4).select(
        F.col("id").alias("clip_id"))

    @F.pandas_udf(T.BinaryType())
    def synth(cid: pd.Series) -> pd.Series:
        return cid.map(lambda c: _gen_pcm(int(c)).tobytes())

    return ids.select(
        "clip_id", F.lit(AUDIO_SR).alias("sample_rate"),
        F.lit(AUDIO_SR * AUDIO_SEC).alias("n_samples"),
        synth(F.col("clip_id")).alias("pcm"))


def multimodal_audio_vad(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """Per-clip voice-activity accounting: window the PCM, gate on
    integer RMS, report speech windows / silent windows / the longest
    silent run (what a trim step would cut)."""
    audio = load_audio(spark)

    @F.pandas_udf("speech_windows int, silent_windows int, longest_silence int")
    def vad(pcm: pd.Series) -> pd.DataFrame:
        rows = []
        for buf in pcm:
            x = np.frombuffer(buf, dtype=np.int16).astype(np.int64)
            n_win = len(x) // AUDIO_WIN
            w = x[:n_win * AUDIO_WIN].reshape(n_win, AUDIO_WIN)
            # integer mean-square per window; gate compares in int64
            ms = (w * w).sum(axis=1) // AUDIO_WIN
            speech = ms >= AUDIO_RMS_GATE * AUDIO_RMS_GATE
            runs, cur = [], 0
            for s in speech:
                cur = 0 if s else cur + 1
                runs.append(cur)
            rows.append((int(speech.sum()), int(n_win - speech.sum()),
                         int(max(runs) if runs else 0)))
        return pd.DataFrame(rows, columns=[
            "speech_windows", "silent_windows", "longest_silence"])

    return (audio.select("clip_id", vad("pcm").alias("v"))
            .select("clip_id", "v.speech_windows", "v.silent_windows",
                    "v.longest_silence")
            .orderBy("clip_id"))


# DuckDB value oracle over a pyarrow-materialized PCM fixture (same
# pattern as sources/cells.py: the generator is deterministic, the
# oracle input shares no engine code with the query). All-integer
# arithmetic — window mean-square, gate compare, and the longest
# silent run via gaps-and-islands over the cumulative speech count —
# so equality is exact at any partitioning.
def _audio_fixture_path() -> str:
    import os
    import tempfile

    path = os.path.join(tempfile.gettempdir(),
                        f"bdsp_audio_{AUDIO_CLIPS}x{AUDIO_SR * AUDIO_SEC}"
                        ".parquet")
    if not os.path.exists(path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        tb = pa.table({
            "clip_id": pa.array(range(AUDIO_CLIPS), pa.int64()),
            "pcm": pa.array(
                [_gen_pcm(c).astype(np.int32).tolist()
                 for c in range(AUDIO_CLIPS)],
                pa.list_(pa.int32())),
        })
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(tb, tmp)
        os.replace(tmp, path)
    return path


def _vad_oracle_sql() -> str:
    n_win = (AUDIO_SR * AUDIO_SEC) // AUDIO_WIN
    gate2 = AUDIO_RMS_GATE * AUDIO_RMS_GATE
    return f"""
WITH audio AS (SELECT * FROM read_parquet('{_audio_fixture_path()}')),
win AS (
  SELECT clip_id, CAST(s.j AS INT) AS w,
         CAST(list_sum(list_transform(generate_series(1, {AUDIO_WIN}),
             k -> CAST(pcm[s.j*{AUDIO_WIN}+k] AS BIGINT)
                * CAST(pcm[s.j*{AUDIO_WIN}+k] AS BIGINT)))
           AS BIGINT) // {AUDIO_WIN} AS ms
  FROM audio, generate_series(0, {n_win - 1}) s(j)),
flags AS (SELECT clip_id, w, ms >= {gate2} AS speech FROM win),
runs AS (
  SELECT clip_id, w, speech,
         SUM(CASE WHEN speech THEN 1 ELSE 0 END)
           OVER (PARTITION BY clip_id ORDER BY w) AS grp
  FROM flags),
sil AS (SELECT clip_id, grp, COUNT(*) AS run_len
        FROM runs WHERE NOT speech GROUP BY clip_id, grp),
longest AS (SELECT clip_id, MAX(run_len) AS longest_silence FROM sil
            GROUP BY clip_id)
SELECT f.clip_id,
       CAST(SUM(CASE WHEN f.speech THEN 1 ELSE 0 END) AS INT)
         AS speech_windows,
       CAST(SUM(CASE WHEN f.speech THEN 0 ELSE 1 END) AS INT)
         AS silent_windows,
       CAST(COALESCE(MAX(l.longest_silence), 0) AS INT)
         AS longest_silence
FROM flags f LEFT JOIN longest l ON f.clip_id = l.clip_id
GROUP BY f.clip_id
ORDER BY f.clip_id
"""


QUERIES["multimodal_audio_vad"] = (multimodal_audio_vad, _vad_oracle_sql())


# ---------------------------------------------------------------------------
# Video scene-cut detection — the third opaque-payload modality beside
# image decode and audio VAD: shot-boundary detection by inter-frame
# difference, the first pass of every video-training-data pipeline
# (split footage into shots before sampling/captioning). Payload is raw
# uint8 frames (W*H bytes per frame, frame-major — the demo codec; a
# real deployment swaps pyav decode into the same UDF). A cut is a
# frame whose mean absolute difference from its predecessor exceeds the
# gate — integer arithmetic end to end, so the planted cuts are
# recovered exactly. Scale shape: clips are rows, detection is an
# Arrow-batched scalar UDF — parallelism is the clip count, pixels
# never shuffle (the aHash/VAD contract).
# ---------------------------------------------------------------------------
VIDEO_CLIPS = 24
VID_W, VID_H = 32, 24
VID_FRAMES = 48
VID_CUT_GATE = 20  # mean-abs-diff gate (uint8 units)


def _gen_video(clip_id: int) -> np.ndarray:
    """Synthetic clip: smooth per-frame brightness drift with 1-3
    planted hard scene changes at clip-keyed frame indices."""
    base = (37 * clip_id) % 128
    frames = np.empty((VID_FRAMES, VID_H, VID_W), dtype=np.uint8)
    cuts = {8 + (clip_id * 7) % 30}
    if clip_id % 2:
        cuts.add(20 + (clip_id * 11) % 25)
    if clip_id % 3 == 0:
        cuts.add(5 + (clip_id * 13) % 40)
    # wrap-free construction: monotone +1 drift plus a +80 offset that
    # toggles at each cut — max pixel = base//2 (<=63) + f (<=47) +
    # offset (<=80) + pattern (<=7) = 197 < 256, so the ONLY frame
    # pairs whose MAD clears the gate are the planted toggles (a
    # modular wrap would fabricate a 199- or 255-sized "cut"; caught
    # by the planted-set recovery test)
    offset = 0
    for f in range(VID_FRAMES):
        if f in cuts:
            offset = 80 - offset
        level = base // 2 + f + offset
        g = np.fromfunction(
            lambda y, x: level + ((x + y + clip_id) % 8), (VID_H, VID_W))
        frames[f] = g.astype(np.uint8)
    return frames


def scene_cuts_np(frames: np.ndarray) -> list[int]:
    """Frame indices whose mean abs diff from the previous frame
    exceeds the gate — pure integer arithmetic (shared by the UDF and
    the local-mirror test)."""
    d = np.abs(frames[1:].astype(np.int64) - frames[:-1].astype(np.int64))
    n_px = frames.shape[1] * frames.shape[2]
    mad = d.reshape(len(d), -1).sum(axis=1) // n_px
    return [int(i + 1) for i in np.nonzero(mad > VID_CUT_GATE)[0]]


def load_video(spark: SparkSession) -> DataFrame:
    ids = spark.range(0, VIDEO_CLIPS, 1, 4).select(
        F.col("id").alias("clip_id"))

    @F.pandas_udf(T.BinaryType())
    def synth(cid: pd.Series) -> pd.Series:
        return cid.map(lambda c: _gen_video(int(c)).tobytes())

    return ids.select(
        "clip_id", F.lit(VID_W).alias("width"), F.lit(VID_H).alias("height"),
        F.lit(VID_FRAMES).alias("n_frames"),
        synth(F.col("clip_id")).alias("frames"))


def multimodal_scene_cuts(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    video = load_video(spark)

    @F.pandas_udf("n_cuts int, first_cut int, cut_frames string")
    def detect(frames: pd.Series, width: pd.Series, height: pd.Series,
               n_frames: pd.Series) -> pd.DataFrame:
        rows = []
        for buf, w, h, nf in zip(frames, width, height, n_frames):
            # honor each clip's own geometry metadata — payloads are
            # opaque, the schema is the contract
            fr = np.frombuffer(buf, dtype=np.uint8).reshape(
                int(nf), int(h), int(w))
            cuts = scene_cuts_np(fr)
            rows.append((len(cuts), cuts[0] if cuts else -1,
                         ",".join(map(str, cuts))))
        return pd.DataFrame(rows, columns=[
            "n_cuts", "first_cut", "cut_frames"])

    return (video.select(
                "clip_id",
                detect("frames", "width", "height", "n_frames").alias("c"))
            .select("clip_id", "c.n_cuts", "c.first_cut", "c.cut_frames")
            .orderBy("clip_id"))


# DuckDB value oracle over a pyarrow-materialized frames fixture —
# integer mean-abs-diff per adjacent frame pair recomputed with list
# functions, cut list re-joined with string_agg in frame order.
def _video_fixture_path() -> str:
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(),
        f"bdsp_video_{VIDEO_CLIPS}x{VID_FRAMES}x{VID_H}x{VID_W}.parquet")
    if not os.path.exists(path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        tb = pa.table({
            "clip_id": pa.array(range(VIDEO_CLIPS), pa.int64()),
            "px": pa.array(
                [_gen_video(c).astype(np.int32).reshape(-1).tolist()
                 for c in range(VIDEO_CLIPS)],
                pa.list_(pa.int32())),
        })
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(tb, tmp)
        os.replace(tmp, path)
    return path


def _scene_cuts_oracle_sql() -> str:
    n_px = VID_W * VID_H
    return f"""
WITH video AS (SELECT * FROM read_parquet('{_video_fixture_path()}')),
mad AS (
  SELECT clip_id, CAST(s.f AS INT) AS frame,
         CAST(list_sum(list_transform(generate_series(1, {n_px}),
             p -> abs(CAST(px[s.f*{n_px}+p] AS BIGINT)
                    - CAST(px[(s.f-1)*{n_px}+p] AS BIGINT))))
           AS BIGINT) // {n_px} AS mad
  FROM video, generate_series(1, {VID_FRAMES - 1}) s(f)),
cuts AS (SELECT clip_id, frame FROM mad WHERE mad > {VID_CUT_GATE})
SELECT v.clip_id,
       CAST(COUNT(c.frame) AS INT) AS n_cuts,
       CAST(COALESCE(MIN(c.frame), -1) AS INT) AS first_cut,
       COALESCE(string_agg(CAST(c.frame AS VARCHAR), ','
                           ORDER BY c.frame), '') AS cut_frames
FROM video v LEFT JOIN cuts c ON v.clip_id = c.clip_id
GROUP BY v.clip_id
ORDER BY v.clip_id
"""


QUERIES["multimodal_scene_cuts"] = (multimodal_scene_cuts,
                                    _scene_cuts_oracle_sql())
