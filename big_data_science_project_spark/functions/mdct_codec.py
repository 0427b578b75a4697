"""Toy MDCT transform codec — the engine's transform-domain lossy
audio tier.

The published psychoacoustic codecs (mp3/opus) all share one spine:
block the signal with 50% overlap, MDCT each block (Princen-Bradley
1986, the lapped transform MPEG audio standardized), quantize the
coefficients, entropy-code. This module implements that spine with the
simplest honest choices — sine window, per-block max scalefactor,
uniform 8-bit mantissas, no psychoacoustic model and no entropy coder —
so the TRANSFORM-codec tier is a real, spec-grounded numpy codec beside
the time-domain one (adpcm_codec.py), while mp3/opus bitstream
compatibility stays the disclosed out-of-scope stub in
operators/multimodal.py.

Math (N = 256 coefficients per block, 2N-sample windows, hop N):
  MDCT   X[k] = Σ_t  w[t]·x[t]·cos(π/N·(t + ½ + N/2)·(k + ½))
  IMDCT  y[t] = 2/N · Σ_k X[k]·cos(π/N·(t + ½ + N/2)·(k + ½)) · w[t]
with the sine window w[t] = sin(π/(2N)·(t + ½)), which satisfies the
Princen-Bradley condition w²[t] + w²[t+N] = 1 — overlap-added IMDCT
blocks cancel the time-domain aliasing EXACTLY (the TDAC identity; the
tests pin reconstruction to float rounding when quantization is
bypassed). Both transforms are one (B, 2N) @ (2N, N) matmul per
channel — vectorized numpy, no per-sample Python.

Rate: each 2N-sample hop (N new samples = 512 PCM bytes) stores one
float32 scalefactor + N int8 mantissas = 260 bytes → ~2:1 at 8-bit
mantissas, SNR ≈ 40 dB on program material (quantization noise is
spread by the inverse transform). Container: magic ``MDC1`` +
channels/rate/length header, then per-channel block streams;
``mdct_decode`` validates the header-implied size BEFORE allocating
(the byte-flip fuzz lesson from the ADPCM codec). stdlib+numpy only,
deterministic, loud ValueError on malformed input — same contract as
the sibling PNG/JPEG/FLAC/ADPCM codecs.
"""

from __future__ import annotations

import struct

import numpy as np

N_COEFF = 256  # MDCT coefficients per block (2N-sample window, hop N)

_MAGIC = b"MDC1"

# the Princen-Bradley sine window (2N,), built once at import
_WIN = np.sin(np.pi / (2 * N_COEFF) * (np.arange(2 * N_COEFF) + 0.5))


def _cos_kernel() -> np.ndarray:
    """The (2N, N) cosine kernel, built per call: a module table would
    be pickled by value into every worker closure that calls
    :func:`mdct`, and at 1 MB it pushes the closure past PySpark's UDF
    broadcast threshold, which makes each plan over it a new one (no
    cache-manager reuse)."""
    t = np.arange(2 * N_COEFF)
    return np.cos(np.pi / N_COEFF
                  * (t[:, None] + 0.5 + N_COEFF / 2)
                  * (np.arange(N_COEFF)[None, :] + 0.5))


def _frame(x: np.ndarray) -> np.ndarray:
    """1-D float signal → (B, 2N) 50%-overlapped frames, zero-padded
    with one leading and one trailing half-window so every input sample
    is covered by exactly two frames (edge samples by one frame + the
    zero pad, which the TDAC identity still reconstructs exactly)."""
    n = len(x)
    npad = -(-n // N_COEFF) * N_COEFF
    buf = np.zeros(N_COEFF + npad + N_COEFF)
    buf[N_COEFF:N_COEFF + n] = x
    n_blocks = len(buf) // N_COEFF - 1
    idx = (np.arange(n_blocks)[:, None] * N_COEFF
           + np.arange(2 * N_COEFF)[None, :])
    return buf[idx]


def analysis_frames(x: np.ndarray) -> np.ndarray:
    """Public framing entry point: 1-D float signal -> (B, 2N)
    50%-overlapped frames (the _frame padding contract — one leading and
    one trailing half-window — is part of this function's interface;
    operators outside the codec, e.g. the audio fingerprint tier, index
    anchor frames against it)."""
    return _frame(x)


def mdct(frames: np.ndarray) -> np.ndarray:
    """(B, 2N) windowed frames → (B, N) coefficients."""
    return (frames * _WIN) @ _cos_kernel()


def imdct_overlap_add(coeffs: np.ndarray, n: int) -> np.ndarray:
    """(B, N) coefficients → n reconstructed samples (float64)."""
    y = (2.0 / N_COEFF) * (coeffs @ _cos_kernel().T) * _WIN
    out = np.zeros((len(coeffs) + 1) * N_COEFF)
    for b in range(len(coeffs)):  # B is samples/256 — driver-trivial
        out[b * N_COEFF:(b + 2) * N_COEFF] += y[b]
    return out[N_COEFF:N_COEFF + n]


def _blocks_for(n: int) -> int:
    return -(-n // N_COEFF) + 1


def _check_input(samples: np.ndarray, sample_rate: int) -> np.ndarray:
    arr = np.asarray(samples)
    if arr.dtype != np.int16:
        raise ValueError(f"mdct_encode expects int16, got {arr.dtype}")
    if arr.ndim == 1:
        arr = arr[:, None]
    if arr.ndim != 2 or not (1 <= arr.shape[1] <= 8):
        raise ValueError(f"mdct_encode expects (n, 1..8ch), got {arr.shape}")
    if len(arr) == 0:
        raise ValueError("mdct_encode: empty signal")
    if not 0 < sample_rate < 1 << 32:
        raise ValueError(f"mdct_encode: bad sample_rate {sample_rate}")
    return arr


def _quantize_channel(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One channel's float samples → (sf float32 (B,), q int8 (B, N)).
    SHARED by both containers (MDC1 and the entropy-coded MDC2) so
    their quantized values can never drift: per-block scalefactor =
    max |coefficient|; mantissas are the coefficients uniformly
    quantized to ±127 of it. float32 scalefactors: the decoder must
    divide by the SAME value the encoder multiplied with, so sf is
    quantized to its stored width BEFORE computing mantissas."""
    coeffs = mdct(_frame(x))
    sf = np.abs(coeffs).max(axis=1).astype(np.float32)
    sf = np.maximum(sf, np.float32(1e-10))  # silent block guard
    q = np.rint(coeffs / sf[:, None].astype(np.float64) * 127.0)
    return sf, np.clip(q, -127, 127).astype(np.int8)


def _reconstruct(sf: np.ndarray, q: np.ndarray, n: int) -> np.ndarray:
    """(sf, q) → n int16 samples — the shared dequantize+IMDCT path."""
    coeffs = q.astype(np.float64) / 127.0 \
        * sf.astype(np.float64)[:, None]
    y = imdct_overlap_add(coeffs, n)
    return np.clip(np.rint(y), -32768, 32767).astype(np.int16)


def mdct_encode(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """int16 PCM → MDCT-codec bytes. 1-D → mono, (n, ch) → ch channels."""
    arr = _check_input(samples, sample_rate)
    n, ch = arr.shape

    parts = [_MAGIC, struct.pack(">BIQ", ch, sample_rate, n)]
    for c in range(ch):
        sf, q = _quantize_channel(arr[:, c].astype(np.float64))
        for b in range(len(q)):
            parts.append(struct.pack(">f", sf[b]))
            parts.append(q[b].tobytes())
    return b"".join(parts)


def mdct_decode(data: bytes) -> np.ndarray:
    """MDCT-codec bytes → (n, ch) int16 PCM. Raises ValueError on any
    malformed stream (wrong magic, truncation, bad header fields)."""
    if len(data) < 17 or data[:4] != _MAGIC:
        raise ValueError("mdct: bad magic")
    ch, sample_rate, n = struct.unpack(">BIQ", data[4:17])
    if not (1 <= ch <= 8):
        raise ValueError(f"mdct: bad channel count {ch}")
    if n == 0 or sample_rate == 0:
        raise ValueError("mdct: empty stream header")
    blocks = _blocks_for(n)
    blk_bytes = 4 + N_COEFF
    # size check BEFORE any allocation: a corrupted length field must
    # raise, never attempt a bogus np.empty
    want = 17 + ch * blocks * blk_bytes
    if len(data) != want:
        raise ValueError(
            f"mdct: stream is {len(data)} bytes, header implies {want}")

    out = np.empty((n, ch), dtype=np.int16)
    pos = 17
    for c in range(ch):
        raw = data[pos:pos + blocks * blk_bytes]
        pos += blocks * blk_bytes
        rec = np.frombuffer(raw, dtype=np.dtype("B")).reshape(
            blocks, blk_bytes)
        sf = np.frombuffer(rec[:, :4].tobytes(), dtype=">f4")
        if not np.all(np.isfinite(sf)):
            raise ValueError("mdct: non-finite scalefactor")
        q = np.frombuffer(rec[:, 4:].tobytes(), dtype=np.int8).reshape(
            blocks, N_COEFF)
        out[:, c] = _reconstruct(sf, q, n)
    return out


def mdct_sample_rate(data: bytes) -> int:
    """Sample rate recorded in the container header."""
    if len(data) < 17 or data[:4] != _MAGIC:
        raise ValueError("mdct: bad magic")
    return struct.unpack(">BIQ", data[4:17])[1]


# ---------------------------------------------------------------------------
# MDC2 — the ENTROPY-CODED container: same transform, same quantization
# (shared _quantize_channel/_reconstruct, so the two containers decode
# to bit-identical PCM for the same input — pinned by test), but the
# int8 mantissas are canonical-Huffman coded with a table built from
# THEIR OWN histogram (functions/huffman.py). MDCT mantissas
# concentrate sharply around 0, so the adaptive code recovers most of
# the uniform-8-bit slack — this is the entropy stage every published
# transform codec carries (mp3's Huffman tables, Vorbis codebooks),
# completing the spine: window → MDCT → quantize → entropy-code. What
# remains out of scope (operators/multimodal.py's disclosed stub) is
# psychoacoustic bit ALLOCATION and format bitstream compatibility.
#
# Layout: magic MDC2 + >BIQ (ch, rate, n), then per channel:
#   blocks × >f4 scalefactors (grouped — they don't compress well and
#   keeping them raw lets a decoder seek),
#   256-byte code-length table (canonical — the table IS the codebook),
#   >Q bit count, ceil(nbits/8) bytes of MSB-first bitstream.
# Every length is validated against the remaining buffer BEFORE any
# allocation (the byte-flip fuzz lesson, same as MDC1).
# ---------------------------------------------------------------------------
_MAGIC2 = b"MDC2"


# module-level, not function-level: a runtime relative import inside a
# by-value-pickled UDF body re-runs the import machinery on the WORKER,
# which has no package on sys.path under a vanilla driver session —
# module-level symbols ride the cloudpickle by-value capture instead
from .huffman import canonical_codes as _hcodes  # noqa: E402
from .huffman import code_lengths as _hlengths  # noqa: E402
from .huffman import decode as _hdec  # noqa: E402
from .huffman import encode as _henc  # noqa: E402


def mdct_encode_entropy(samples: np.ndarray,
                        sample_rate: int = 8000) -> bytes:
    """int16 PCM → entropy-coded MDCT bytes (MDC2)."""
    arr = _check_input(samples, sample_rate)
    n, ch = arr.shape
    parts = [_MAGIC2, struct.pack(">BIQ", ch, sample_rate, n)]
    for c in range(ch):
        sf, q = _quantize_channel(arr[:, c].astype(np.float64))
        symbols = (q.reshape(-1).astype(np.int16) + 128).astype(np.uint8)
        freqs = np.bincount(symbols, minlength=256)
        lengths = _hlengths(freqs)
        bitstream, nbits = _henc(symbols, lengths, _hcodes(lengths))
        parts.append(sf.astype(">f4").tobytes())
        parts.append(lengths.tobytes())
        parts.append(struct.pack(">Q", nbits))
        parts.append(bitstream)
    return b"".join(parts)


def mdct_decode_entropy(data: bytes) -> np.ndarray:
    """MDC2 bytes → (n, ch) int16 PCM; ValueError on malformed input."""
    if len(data) < 17 or data[:4] != _MAGIC2:
        raise ValueError("mdct2: bad magic")
    ch, sample_rate, n = struct.unpack(">BIQ", data[4:17])
    if not (1 <= ch <= 8):
        raise ValueError(f"mdct2: bad channel count {ch}")
    if n == 0 or sample_rate == 0:
        raise ValueError("mdct2: empty stream header")
    blocks = _blocks_for(n)
    # minimum-size check BEFORE the output allocation: a corrupted n
    # field must raise ValueError, never attempt a PiB-scale np.empty
    # (the bitstreams are variable-length, so this bounds rather than
    # pins the total; each channel still validates its own lengths)
    floor = 17 + ch * (4 * blocks + 256 + 8)
    if len(data) < floor:
        raise ValueError(
            f"mdct2: stream is {len(data)} bytes, header implies "
            f"at least {floor}")
    out = np.empty((n, ch), dtype=np.int16)
    pos = 17
    for c in range(ch):
        if len(data) < pos + 4 * blocks + 256 + 8:
            raise ValueError("mdct2: truncated channel header")
        sf = np.frombuffer(data[pos:pos + 4 * blocks], dtype=">f4")
        pos += 4 * blocks
        if not np.all(np.isfinite(sf)):
            raise ValueError("mdct2: non-finite scalefactor")
        lengths = np.frombuffer(data[pos:pos + 256], dtype=np.uint8)
        pos += 256
        (nbits,) = struct.unpack(">Q", data[pos:pos + 8])
        pos += 8
        nbytes = (nbits + 7) // 8
        if len(data) < pos + nbytes:
            raise ValueError("mdct2: truncated bitstream")
        symbols = _hdec(data[pos:pos + nbytes], blocks * N_COEFF,
                        lengths, nbits=nbits)
        pos += nbytes
        q = (symbols.astype(np.int16) - 128).astype(np.int8).reshape(
            blocks, N_COEFF)
        out[:, c] = _reconstruct(sf, q, n)
    if pos != len(data):
        raise ValueError(
            f"mdct2: {len(data) - pos} trailing bytes after last channel")
    return out


# ---------------------------------------------------------------------------
# MDC3 — the PSYCHOACOUSTIC bit-allocation container. Same transform
# (shared _frame/mdct/imdct_overlap_add), but quantization is driven by
# a simplified MPEG-1 psychoacoustic model 1 (ISO 11172-3 Annex D, the
# published design every transform codec descends from) instead of a
# flat 8 bits everywhere:
#
#   1. the 256 coefficients split into 25 pseudo-critical bands whose
#      widths grow with frequency (the Bark-scale shape; _BAND_WIDTHS),
#   2. per band, signal level L_b = 10·log10(mean coeff²),
#   3. masking threshold T_b = max over masker bands b' of
#      L_b' − 14 dB − slope·|b − b'|, with the textbook asymmetric
#      slopes (25 dB/band toward lower bands, 10 dB/band toward
#      higher — upward masking reaches further), floored at an
#      absolute threshold (~int16 LSB scale in coefficient units),
#   4. bits per band = the smallest mantissa width whose uniform-
#      quantization noise (step²/12, step = sf_b/(2^{B−1}−1)) sits
#      below T_b, capped at 8; a band whose ENERGY is already below
#      its threshold is fully masked and transmitted as 0 bits,
#   5. band scalefactors are log-quantized to one byte
#      (sf = 2^{code/4 − 32}, code = ceil — the decoded value is
#      always ≥ the true max so mantissas never clip), and the encoder
#      quantizes against the DECODED scalefactor, same
#      store-before-use rule as MDC1's float32 scalefactors.
#
# What this buys over MDC2's uniform quantizer is the entire point of a
# psychoacoustic model: the noise-to-mask ratio is <= 0 dB BY
# CONSTRUCTION in every transmitted band, where MDC2's per-block global
# scalefactor starves quiet bands on broadband material (measured:
# ~80% of signal-carrying (block, band) cells violate their masking
# threshold under MDC2 on a two-tone+floor mixture vs <10% residual
# under MDC3 — the residual is rint worst-case (step²/4 vs the
# step²/12 design point) plus overlap-add re-analysis leakage, not an
# allocation error). The honest flip side, stated rather than hidden:
# on SPARSE tonal material the per-band scalefactors cost more
# container bytes than MDC2's single max (a pure tone is the
# pathological best case for a global scalefactor + entropy coder), so
# MDC3 is the quality-targeted tier, not a strictly-smaller one.
# tests/test_mdct_codec.py pins the design contract directly — every
# transmitted band's design noise sits below its threshold, every
# dropped band's energy sits below its threshold — plus the measured
# NMR comparison above and a corpus SNR floor.
# Format bitstream compatibility with mp3/opus remains out of scope
# (operators/multimodal.py's disclosed stub): that gap is container
# syntax, not machinery, and needs codec libraries this container
# lacks.
#
# Layout: magic MDC3 + >BIQ (ch, rate, n), then per channel:
#   >Q nbits + 256-byte length table + bitstream  (bit-allocation
#       symbols, blocks×25 values in 0..8 — mostly 0 on sparse
#       material, so they entropy-code to near nothing),
#   one uint8 scalefactor code per ACTIVE band (count = nonzero
#       allocations, known after decoding the allocation stream),
#   >Q nbits + 256-byte length table + bitstream  (mantissa symbols,
#       q+128; count = Σ widths of active bands).
# Every section length is validated against the remaining buffer
# BEFORE any allocation, same as MDC1/MDC2.
# ---------------------------------------------------------------------------
_MAGIC3 = b"MDC3"

N_BANDS = 25
_BAND_WIDTHS = np.array([3, 3, 3, 3, 3, 3, 4, 4, 4, 5, 5, 6, 7, 8, 9,
                         10, 11, 13, 15, 17, 20, 23, 26, 25, 26],
                        dtype=np.int64)
assert _BAND_WIDTHS.sum() == N_COEFF and len(_BAND_WIDTHS) == N_BANDS
_BAND_EDGES = np.concatenate(([0], np.cumsum(_BAND_WIDTHS)))
#: band index of every coefficient, (N,)
_COEF_BAND = np.repeat(np.arange(N_BANDS), _BAND_WIDTHS)

#: masker level minus the threshold it sets in its own band. The
#: model-1 tonal offset is ~14.5 dB; we run a deliberately conservative
#: 30 dB (a transparent-VBR quality point) — in-band SNR tracks this
#: constant directly, so 14 dB would decode at ~17 dB SNR: "inaudible"
#: by the model but indefensible as a measured floor.
_MASK_OFFSET_DB = 30.0
_SLOPE_DOWN_DB = 25.0    # per band toward LOWER frequencies (steep)
_SLOPE_UP_DB = 10.0      # per band toward HIGHER frequencies (shallow)
#: absolute threshold in coefficient-ENERGY units. int16 PCM carries a
#: rounding floor of ~0.1-0.3 per sample; through the 512-tap windowed
#: MDCT that lands at ~10-80 per bin, so 100 sits just above the noise
#: the source itself cannot represent — bands below it are dropped.
_ABS_FLOOR = 100.0

# (masker band b', masked band b) spread in dB, built once
_D = np.arange(N_BANDS)
_SPREAD_DB = (-_MASK_OFFSET_DB
              - _SLOPE_DOWN_DB * np.maximum(_D[:, None] - _D[None, :], 0)
              - _SLOPE_UP_DB * np.maximum(_D[None, :] - _D[:, None], 0))
del _D


def psycho_analyze(coeffs: np.ndarray
                   ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(B, N) MDCT coefficients → (thresholds (B, 25) energy units,
    sf_codes (B, 25) uint8 log-quantized band scalefactors,
    bits (B, 25) uint8 mantissa widths, 0 = band not transmitted).

    Exposed (not an encoder internal) so tests can assert the design
    contract on the same arrays the encoder uses."""
    nblk = len(coeffs)
    sq = coeffs ** 2
    e_band = np.empty((nblk, N_BANDS))
    sf = np.empty((nblk, N_BANDS))
    a = np.abs(coeffs)
    for b in range(N_BANDS):
        lo, hi = _BAND_EDGES[b], _BAND_EDGES[b + 1]
        e_band[:, b] = sq[:, lo:hi].mean(axis=1)
        sf[:, b] = a[:, lo:hi].max(axis=1)
    level_db = 10.0 * np.log10(np.maximum(e_band, 1e-30))
    # threshold = loudest spread masker, floored at the absolute line
    thr_db = (level_db[:, :, None] + _SPREAD_DB[None, :, :]).max(axis=1)
    thr = np.maximum(10.0 ** (thr_db / 10.0), _ABS_FLOOR)

    # log-quantized scalefactors; ceil so decoded >= true max
    sf_codes = np.zeros((nblk, N_BANDS), dtype=np.uint8)
    active = sf > 0
    sf_codes[active] = np.clip(
        np.ceil(4.0 * (np.log2(sf[active]) + 32.0)), 0, 255
    ).astype(np.uint8)
    sf_dec = sf_decode(sf_codes)

    # smallest B in 2..8 with step²/12 <= T; 0 if the band's own energy
    # is under its threshold (fully masked) or empty
    bits = np.zeros((nblk, N_BANDS), dtype=np.uint8)
    need = e_band > thr
    for width in range(8, 1, -1):
        step = sf_dec / (2 ** (width - 1) - 1)
        ok = (step * step) / 12.0 <= thr
        bits[need & ok] = width
    bits[need & (bits == 0)] = 8  # even 8 bits can't reach: best effort
    return thr, sf_codes, bits


def sf_decode(sf_codes: np.ndarray) -> np.ndarray:
    """uint8 log scalefactor codes → float64 scalefactors."""
    return 2.0 ** (sf_codes.astype(np.float64) / 4.0 - 32.0)


def _psycho_quantize(coeffs: np.ndarray, sf_codes: np.ndarray,
                     bits: np.ndarray) -> np.ndarray:
    """Active-band mantissas as uint8 symbols (q+128), concatenated in
    (block, band, coefficient) order — the stream layout."""
    sf_dec = sf_decode(sf_codes)
    steps = np.where(bits > 0, 2.0 ** (bits.astype(np.int64) - 1) - 1, 1)
    per_coef_scale = (steps / np.maximum(sf_dec, 1e-300))[:, _COEF_BAND]
    q = np.rint(coeffs * per_coef_scale)
    lim = steps[:, _COEF_BAND]
    q = np.clip(q, -lim, lim)
    keep = (bits > 0)[:, _COEF_BAND]
    return (q[keep].astype(np.int16) + 128).astype(np.uint8)


def _entropy_section(symbols: np.ndarray) -> list[bytes]:
    """uint8 symbols → [>Q nbits, 256-byte table, bitstream]; an empty
    stream writes an all-zero table (nothing to decode)."""
    if symbols.size == 0:
        return [struct.pack(">Q", 0), bytes(256)]
    lengths = _hlengths(np.bincount(symbols, minlength=256))
    bitstream, nbits = _henc(symbols, lengths, _hcodes(lengths))
    return [struct.pack(">Q", nbits), lengths.tobytes(), bitstream]


def _read_entropy_section(data: bytes, pos: int, count: int,
                          what: str) -> tuple[np.ndarray, int]:
    """Inverse of _entropy_section; validates lengths before allocating."""
    if len(data) < pos + 8 + 256:
        raise ValueError(f"mdct3: truncated {what} section header")
    (nbits,) = struct.unpack(">Q", data[pos:pos + 8])
    pos += 8
    lengths = np.frombuffer(data[pos:pos + 256], dtype=np.uint8)
    pos += 256
    nbytes = (nbits + 7) // 8
    if len(data) < pos + nbytes:
        raise ValueError(f"mdct3: truncated {what} bitstream")
    if count == 0:
        if nbits != 0:
            raise ValueError(f"mdct3: {what} bits for an empty stream")
        return np.zeros(0, dtype=np.uint8), pos
    symbols = _hdec(data[pos:pos + nbytes], count, lengths, nbits=nbits)
    return symbols, pos + nbytes


def mdct_encode_psycho(samples: np.ndarray,
                       sample_rate: int = 8000) -> bytes:
    """int16 PCM → psychoacoustically bit-allocated MDCT bytes (MDC3)."""
    arr = _check_input(samples, sample_rate)
    n, ch = arr.shape
    parts = [_MAGIC3, struct.pack(">BIQ", ch, sample_rate, n)]
    for c in range(ch):
        coeffs = mdct(_frame(arr[:, c].astype(np.float64)))
        _, sf_codes, bits = psycho_analyze(coeffs)
        parts.extend(_entropy_section(bits.reshape(-1)))
        parts.append(sf_codes[bits > 0].tobytes())
        parts.extend(_entropy_section(
            _psycho_quantize(coeffs, sf_codes, bits)))
    return b"".join(parts)


def mdct_decode_psycho(data: bytes) -> np.ndarray:
    """MDC3 bytes → (n, ch) int16 PCM; ValueError on malformed input."""
    if len(data) < 17 or data[:4] != _MAGIC3:
        raise ValueError("mdct3: bad magic")
    ch, sample_rate, n = struct.unpack(">BIQ", data[4:17])
    if not (1 <= ch <= 8):
        raise ValueError(f"mdct3: bad channel count {ch}")
    if n == 0 or sample_rate == 0:
        raise ValueError("mdct3: empty stream header")
    blocks = _blocks_for(n)
    # two fixed section headers per channel bound the minimum size —
    # checked BEFORE the output allocation (byte-flip fuzz lesson)
    floor = 17 + ch * 2 * (8 + 256)
    if len(data) < floor:
        raise ValueError(
            f"mdct3: stream is {len(data)} bytes, header implies "
            f"at least {floor}")
    # the fixed floor above does NOT scale with n, so a corrupted
    # length field could still imply a PiB-scale output buffer. A valid
    # prefix code spends >= 1 bit per symbol, so the first channel's
    # allocation stream bounds n: blocks*25 symbols need that many
    # bits, and the bit count itself must fit the buffer — both checked
    # BEFORE the output allocation (the byte-flip fuzz found this)
    (nbits0,) = struct.unpack(">Q", data[17:25])
    if (nbits0 + 7) // 8 > len(data) or blocks * N_BANDS > max(nbits0, 0):
        raise ValueError("mdct3: header length exceeds allocation stream")
    out = np.empty((n, ch), dtype=np.int16)
    pos = 17
    for c in range(ch):
        alloc, pos = _read_entropy_section(
            data, pos, blocks * N_BANDS, "allocation")
        bits = alloc.reshape(blocks, N_BANDS)
        # width 1 is as malformed as >8: the encoder's minimum is 2
        # (2^0 - 1 = 0 levels would divide by zero below and cast NaN
        # to int16 silently — the fuzz contract demands a ValueError)
        if int(bits.max(initial=0)) > 8 or bool((bits == 1).any()):
            raise ValueError("mdct3: allocation width out of range")
        n_active = int((bits > 0).sum())
        if len(data) < pos + n_active:
            raise ValueError("mdct3: truncated scalefactor block")
        sf_active = np.frombuffer(data[pos:pos + n_active], dtype=np.uint8)
        pos += n_active
        sf_codes = np.zeros((blocks, N_BANDS), dtype=np.uint8)
        sf_codes[bits > 0] = sf_active
        n_mant = int(_BAND_WIDTHS[None, :].repeat(blocks, axis=0)
                     [bits > 0].sum())
        symbols, pos = _read_entropy_section(data, pos, n_mant, "mantissa")
        q = symbols.astype(np.int16) - 128
        steps = np.where(bits > 0,
                         2.0 ** (bits.astype(np.int64) - 1) - 1, 1)
        coeffs = np.zeros((blocks, N_COEFF))
        keep = (bits > 0)[:, _COEF_BAND]
        scale = (sf_decode(sf_codes) / steps)[:, _COEF_BAND]
        coeffs[keep] = q * scale[keep]
        y = imdct_overlap_add(coeffs, n)
        out[:, c] = np.clip(np.rint(y), -32768, 32767).astype(np.int16)
    if pos != len(data):
        raise ValueError(
            f"mdct3: {len(data) - pos} trailing bytes after last channel")
    return out
