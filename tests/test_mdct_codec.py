"""functions/mdct_codec.py: TDAC exactness, quantization-bounded
round-trip quality, container hardening, and the in-plan round-trip
query — the transform-domain twin of test_adpcm_codec.py."""

from __future__ import annotations

import numpy as np
import pytest

from big_data_science_project_spark.functions.mdct_codec import (
    N_COEFF, _WIN, _frame, imdct_overlap_add, mdct, mdct_decode,
    mdct_encode, mdct_sample_rate)


def test_princen_bradley_window_condition():
    """w²[t] + w²[t+N] = 1 — the condition that makes overlap-added
    IMDCT blocks cancel time-domain aliasing exactly."""
    cond = _WIN[:N_COEFF] ** 2 + _WIN[N_COEFF:] ** 2
    assert np.allclose(cond, 1.0, atol=1e-12)


@pytest.mark.parametrize("n", [1, 255, 256, 257, 1000, 5000])
def test_tdac_perfect_reconstruction(n):
    """With quantization bypassed, MDCT→IMDCT→overlap-add is the
    identity to float rounding — on any length, including non-multiples
    of the block size."""
    rng = np.random.default_rng(n)
    x = rng.integers(-32768, 32767, n).astype(np.float64)
    rec = imdct_overlap_add(mdct(_frame(x)), n)
    assert np.abs(rec - x).max() < 1e-6


def test_mdct_against_direct_dft_definition():
    """The vectorized matmul must equal the textbook double-sum
    definition on a random block (independent transliteration pin)."""
    rng = np.random.default_rng(3)
    frame = rng.normal(0, 1000, 2 * N_COEFF)
    fast = mdct(frame[None, :])[0]
    slow = np.array([
        sum(_WIN[t] * frame[t]
            * np.cos(np.pi / N_COEFF * (t + 0.5 + N_COEFF / 2) * (k + 0.5))
            for t in range(2 * N_COEFF))
        for k in range(0, N_COEFF, 37)])  # sampled k: the loop is slow
    assert np.allclose(fast[::37], slow, rtol=1e-9, atol=1e-6)


def test_quantization_error_is_bounded_per_block():
    """8-bit mantissas bound each coefficient's error by sf/254 (half a
    quantization step of its block's scalefactor); reconstruction error
    follows from the transform's 2/N-scaled near-orthogonality."""
    rng = np.random.default_rng(11)
    x = (5000 * np.sin(2 * np.pi * 440 * np.arange(4096) / 8000)
         + rng.normal(0, 100, 4096)).astype(np.int16)
    enc = mdct_encode(x, 8000)
    dec = mdct_decode(enc)[:, 0]
    err = dec.astype(np.float64) - x.astype(np.float64)
    snr = 10 * np.log10((x.astype(np.float64) ** 2).mean()
                        / (err ** 2).mean())
    assert snr > 25, snr


def test_silence_is_lossless():
    """All-zero blocks quantize to zero mantissas and reconstruct to
    exact zeros (the sf floor guard must not inject noise)."""
    x = np.zeros(1000, dtype=np.int16)
    assert np.array_equal(mdct_decode(mdct_encode(x, 8000))[:, 0], x)


def test_multichannel_independent_and_header():
    rng = np.random.default_rng(5)
    st = rng.integers(-3000, 3000, (777, 2)).astype(np.int16)
    enc = mdct_encode(st, 44100)
    assert mdct_sample_rate(enc) == 44100
    dec = mdct_decode(enc)
    assert dec.shape == (777, 2)
    # per-channel round-trip equals the channel encoded alone
    solo = mdct_decode(mdct_encode(st[:, 0], 44100))[:, 0]
    assert np.array_equal(dec[:, 0], solo)


def test_error_contract():
    with pytest.raises(ValueError, match="int16"):
        mdct_encode(np.zeros(10, dtype=np.float32))
    with pytest.raises(ValueError, match="empty"):
        mdct_encode(np.zeros(0, dtype=np.int16))
    with pytest.raises(ValueError, match="sample_rate"):
        mdct_encode(np.zeros(10, dtype=np.int16), 0)
    with pytest.raises(ValueError, match="magic"):
        mdct_decode(b"JUNK" + bytes(20))
    good = mdct_encode(np.ones(100, dtype=np.int16), 8000)
    with pytest.raises(ValueError, match="implies"):
        mdct_decode(good[:-1])


def test_corrupt_any_byte_never_crashes():
    """Every single-byte corruption either raises ValueError or decodes
    to SOME valid buffer — never a non-ValueError crash or a huge
    allocation (the header-implied size is checked first)."""
    x = (1000 * np.sin(np.arange(600) / 10)).astype(np.int16)
    enc = bytearray(mdct_encode(x, 8000))
    for i in range(len(enc)):
        ba = bytearray(enc)
        ba[i] ^= 0xFF
        try:
            out = mdct_decode(bytes(ba))
            assert out.dtype == np.int16
        except ValueError:
            pass


def test_roundtrip_properties():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=700),
           st.sampled_from([8000, 16000, 44100]))
    def prop(vals, rate):
        x = np.array(vals, dtype=np.int16)
        dec = mdct_decode(mdct_encode(x, rate))[:, 0]
        assert dec.shape == x.shape
        # worst-case bound: per-block error ≤ sf/254 per coefficient;
        # through the 2/N IMDCT that stays well under sf — use the
        # loose-but-sufficient bound max_err ≤ max|x| / 16 + 1
        bound = max(1.0, np.abs(x.astype(np.float64)).max() / 16 + 1)
        assert np.abs(dec.astype(np.float64)
                      - x.astype(np.float64)).max() <= bound

    prop()


def test_mdct_roundtrip_query_quality(spark):
    """The in-plan MDCT round-trip on the tone+silence fixture: ~2:1 by
    construction (260 bytes per 256-sample hop vs 512 PCM bytes) and a
    pinned SNR floor — the transform tier must beat the ADPCM floor on
    tonal material."""
    import __spark_entry__ as e

    row = e.queries()["multimodal_mdct_roundtrip"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_clips > 0
    assert 1.8 < row.bytes_raw / row.bytes_mdct < 2.1
    assert row.n_lossless == 0  # every clip carries a sine segment
    assert row.min_snr_db >= 25
    assert row.avg_snr_db >= row.min_snr_db


# ---------------------------------------------------------------------------
# MDC2 — the entropy-coded container (functions/huffman.py)
# ---------------------------------------------------------------------------
def test_huffman_roundtrip_and_optimality():
    """decode(encode(s)) == s on skewed, uniform, and binary streams,
    and the code is never worse than the fixed 8-bit baseline while
    being within 1 bit/symbol of the entropy (Huffman's bound)."""
    import numpy as np

    from big_data_science_project_spark.functions.huffman import (
        canonical_codes, code_lengths, decode, encode)

    rng = np.random.default_rng(11)
    streams = [
        rng.choice(256, size=5000, p=None).astype(np.uint8),   # uniform
        np.clip(rng.normal(128, 6, 20000), 0, 255).astype(np.uint8),
        (rng.random(4000) < 0.9).astype(np.uint8),             # binary
    ]
    for s in streams:
        freqs = np.bincount(s, minlength=256)
        lengths = code_lengths(freqs)
        bits, nbits = encode(s, lengths, canonical_codes(lengths))
        assert np.array_equal(decode(bits, len(s), lengths, nbits=nbits), s)
        p = freqs[freqs > 0] / len(s)
        entropy_bits = float(-(p * np.log2(p)).sum()) * len(s)
        assert nbits <= 8 * len(s) + 1
        assert nbits <= entropy_bits + len(s)  # within 1 bit/symbol


def test_huffman_single_symbol_and_errors():
    import numpy as np
    import pytest

    from big_data_science_project_spark.functions.huffman import (
        code_lengths, decode, encode)

    s = np.full(100, 7, dtype=np.uint8)
    lengths = code_lengths(np.bincount(s, minlength=256))
    assert lengths[7] == 1 and lengths.sum() == 1
    bits, nbits = encode(s, lengths)
    assert np.array_equal(decode(bits, 100, lengths, nbits=nbits), s)
    with pytest.raises(ValueError):
        code_lengths(np.zeros(256))
    with pytest.raises(ValueError):
        encode(np.array([9], dtype=np.uint8), lengths)  # absent symbol
    with pytest.raises(ValueError):
        decode(bits[:2], 1000, lengths)  # truncated


def test_huffman_rejects_invalid_tables():
    """The decoder must not trust a wire-supplied length table: an
    overfull (Kraft-violating) table decodes to garbage silently
    unless rejected, and lengths past MAX_LEN would overflow the
    encoder's uint64 shifts (r9 ADVICE items 1–2)."""
    import numpy as np
    import pytest

    from big_data_science_project_spark.functions.huffman import (
        MAX_LEN, canonical_codes, code_lengths, decode)

    # overfull: three length-1 codes — previously decoded silently
    over = np.zeros(256, dtype=np.uint8)
    over[:3] = 1
    with pytest.raises(ValueError, match="Kraft"):
        decode(b"\xff" * 4, 5, over)
    with pytest.raises(ValueError, match="Kraft"):
        canonical_codes(over)
    # underfull tables stay accepted (incomplete codes are legal;
    # unassigned prefixes raise only if actually hit)
    under = np.zeros(256, dtype=np.uint8)
    under[:2] = 2
    assert decode(b"\x00", 1, under, nbits=2)[0] == 0
    # depth past MAX_LEN: ValueError everywhere, never OverflowError.
    # Fibonacci counts force a maximally skewed (linear-depth) tree.
    fib = np.zeros(256, dtype=np.int64)
    a, b = 1, 1
    for i in range(90):
        fib[i] = a
        a, b = b, a + b
    with pytest.raises(ValueError, match="MAX_LEN"):
        code_lengths(fib)
    deep = np.zeros(256, dtype=np.uint8)
    deep[0] = MAX_LEN + 1
    with pytest.raises(ValueError, match="MAX_LEN"):
        canonical_codes(deep)
    with pytest.raises(ValueError, match="MAX_LEN"):
        decode(b"\x00", 1, deep)


def test_mdc2_decodes_identically_to_mdc1_and_compresses():
    """The entropy stage must be LOSSLESS relative to MDC1's quantized
    mantissas — identical int16 PCM out of both containers — while
    genuinely compressing (the adaptive code recovers the uniform-8-bit
    slack in the near-zero-concentrated mantissas)."""
    import numpy as np

    from big_data_science_project_spark.functions.mdct_codec import (
        mdct_decode, mdct_decode_entropy, mdct_encode,
        mdct_encode_entropy)

    rng = np.random.default_rng(5)
    t = np.arange(9000)
    x = (7000 * np.sin(2 * np.pi * 523 / 8000 * t)
         + rng.normal(0, 250, len(t))).astype(np.int16)
    stereo = np.stack([x, (x // 3).astype(np.int16)], axis=1)
    for sig in (x, stereo, np.zeros(1000, np.int16)):
        e1, e2 = mdct_encode(sig), mdct_encode_entropy(sig)
        assert np.array_equal(mdct_decode(e1), mdct_decode_entropy(e2))
    assert len(mdct_encode_entropy(x)) < 0.5 * len(mdct_encode(x))


def test_mdc2_corrupt_any_byte_never_crashes():
    """Same fuzz contract as every codec in the family: any single-byte
    flip either decodes (to SOMETHING — the format has no CRC) or
    raises ValueError; never a segfault/MemoryError/arbitrary
    exception. EXHAUSTIVE sweep, like the MDC1/ADPCM/JPEG twins — a
    60-position random sample shipped the header-n allocation bug
    green because the seed never drew bytes 9-16."""
    import numpy as np

    from big_data_science_project_spark.functions.mdct_codec import (
        mdct_decode_entropy, mdct_encode_entropy)

    x = (3000 * np.sin(np.arange(2000) * 0.3)).astype(np.int16)
    enc = bytes(mdct_encode_entropy(x))
    for pos in range(len(enc)):
        mut = bytearray(enc)
        mut[pos] ^= 0x5A
        try:
            mdct_decode_entropy(bytes(mut))
        except ValueError:
            pass


def test_mdct_entropy_query_matches_uncoded_snr(spark):
    """In-plan: the entropy round-trip reports the SAME SNR columns as
    the uncoded MDCT tier (the entropy stage is lossless w.r.t. the
    quantized mantissas) and a strictly better compression ratio."""
    import __spark_entry__ as e

    q = e.queries()
    base = q["multimodal_mdct_roundtrip"](
        spark, "/root/testdata/sf0.001").collect()[0]
    ent = q["multimodal_mdct_entropy_roundtrip"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert ent.n_clips == base.n_clips
    assert ent.bytes_raw == base.bytes_raw
    assert (ent.min_snr_db, ent.avg_snr_db, ent.n_lossless) == \
        (base.min_snr_db, base.avg_snr_db, base.n_lossless)
    assert ent.bytes_mdct_huff < base.bytes_mdct


# ---------------------------------------------------------------------------
# MDC3 — the psychoacoustic bit-allocation container
# ---------------------------------------------------------------------------
def _mix_signal(n=16000, seed=3):
    """Two tones + a drifting noise floor — broadband program material,
    the case a per-block global scalefactor handles worst."""
    rng = np.random.default_rng(seed)
    t = np.arange(n)
    x = (2500 * np.sin(2 * np.pi * 180 * t / 8000)
         + 900 * np.sin(2 * np.pi * 1100 * t / 8000)
         + np.cumsum(rng.normal(0, 30, n)) * 0.05
         + rng.normal(0, 60, n))
    return np.clip(x, -32768, 32767).astype(np.int16)


def test_mdc3_design_contract():
    """The allocation IS the psychoacoustic model: every transmitted
    band's design noise (step²/12 against the DECODED scalefactor) sits
    below its masking threshold, with the minimal width that does so;
    every dropped band's energy sits below its threshold; decoded
    scalefactors never clip the band max (ceil quantization)."""
    from big_data_science_project_spark.functions import mdct_codec as M

    coeffs = M.mdct(M._frame(_mix_signal().astype(np.float64)))
    thr, sf_codes, bits = M.psycho_analyze(coeffs)
    sf_dec = M.sf_decode(sf_codes)
    for b in range(M.N_BANDS):
        lo, hi = M._BAND_EDGES[b], M._BAND_EDGES[b + 1]
        e_band = (coeffs[:, lo:hi] ** 2).mean(axis=1)
        band_max = np.abs(coeffs[:, lo:hi]).max(axis=1)
        for blk in range(len(coeffs)):
            B, T = int(bits[blk, b]), thr[blk, b]
            if B == 0:
                assert e_band[blk] <= T
                continue
            assert sf_dec[blk, b] >= band_max[blk] - 1e-9
            step = sf_dec[blk, b] / (2 ** (B - 1) - 1)
            if B < 8:
                assert step * step / 12.0 <= T
            if B > 2:  # minimality: one bit fewer must miss the target
                prev = sf_dec[blk, b] / (2 ** (B - 2) - 1)
                assert prev * prev / 12.0 > T


def test_mdc3_masks_prune_bits_on_tonal_material():
    """A pure tone must leave most bands fully masked (0 bits) — the
    allocation tracks content, not coefficient count."""
    from big_data_science_project_spark.functions import mdct_codec as M

    t = np.arange(16000)
    x = (3000 * np.sin(2 * np.pi * 107 * t / 8000)).astype(np.int16)
    coeffs = M.mdct(M._frame(x.astype(np.float64)))
    _, _, bits = M.psycho_analyze(coeffs)
    # the window's leakage skirt is real signal, so mid bands keep a
    # few bits — but a third of the cells are fully masked and the
    # average width is well under the uniform tier's flat 8
    assert (bits == 0).mean() > 0.3
    assert bits.mean() < 4.0
    # and full silence allocates nothing at all, decoding losslessly
    z = np.zeros(3000, dtype=np.int16)
    enc = M.mdct_encode_psycho(z)
    assert np.array_equal(M.mdct_decode_psycho(enc)[:, 0], z)


def test_mdc3_roundtrip_quality_and_size():
    from big_data_science_project_spark.functions import mdct_codec as M

    t = np.arange(16000)
    x = (3000 * np.sin(2 * np.pi * 107 * t / 8000)).astype(np.int16)
    x[3000:4500] = 0
    enc = M.mdct_encode_psycho(x)
    dec = M.mdct_decode_psycho(enc)[:, 0]
    err = x.astype(np.float64) - dec.astype(np.float64)
    snr = 10 * np.log10((x.astype(np.float64) ** 2).sum()
                        / (err ** 2).sum())
    assert snr >= 30.0
    assert len(enc) < 0.5 * len(M.mdct_encode(x))  # well under MDC1


def test_mdc3_nmr_beats_uniform_quantizer_on_broadband():
    """The measured psychoacoustic claim: on broadband material the
    uniform 8-bit tier (MDC2, per-block global scalefactor) violates
    the masking threshold in most signal-carrying (block, band) cells;
    the model-driven tier keeps a small residual (rint worst case +
    overlap-add re-analysis), at whatever bytes that requires."""
    from big_data_science_project_spark.functions import mdct_codec as M

    x = _mix_signal()

    def violations(decoded):
        c_in = M.mdct(M._frame(x.astype(np.float64)))
        c_out = M.mdct(M._frame(decoded.astype(np.float64)))
        thr, _, _ = M.psycho_analyze(c_in)
        viol = tot = 0
        for b in range(M.N_BANDS):
            lo, hi = M._BAND_EDGES[b], M._BAND_EDGES[b + 1]
            ne = ((c_in[:, lo:hi] - c_out[:, lo:hi]) ** 2).mean(axis=1)
            sig = (c_in[:, lo:hi] ** 2).mean(axis=1)
            live = sig > M._ABS_FLOOR
            viol += int((ne[live] > thr[live, b]).sum())
            tot += int(live.sum())
        return viol / tot

    uniform = violations(M.mdct_decode_entropy(M.mdct_encode_entropy(x))[:, 0])
    psycho = violations(M.mdct_decode_psycho(M.mdct_encode_psycho(x))[:, 0])
    assert uniform > 0.5
    assert psycho < 0.15


def test_mdc3_multichannel_and_error_contract():
    from big_data_science_project_spark.functions import mdct_codec as M

    t = np.arange(4000)
    x = (2000 * np.sin(2 * np.pi * 200 * t / 8000)).astype(np.int16)
    stereo = np.stack([x, (x // 2).astype(np.int16)], axis=1)
    dec = M.mdct_decode_psycho(M.mdct_encode_psycho(stereo, 16000))
    assert dec.shape == stereo.shape
    # each channel decodes independently of its neighbor
    mono0 = M.mdct_decode_psycho(M.mdct_encode_psycho(x, 16000))[:, 0]
    assert np.array_equal(dec[:, 0], mono0)

    with pytest.raises(ValueError):
        M.mdct_decode_psycho(b"MDC3")
    with pytest.raises(ValueError):
        M.mdct_decode_psycho(b"XXXX" + bytes(20))
    enc = M.mdct_encode_psycho(x)
    with pytest.raises(ValueError):
        M.mdct_decode_psycho(enc + b"\x00")
    with pytest.raises(ValueError):
        M.mdct_decode_psycho(enc[:-1])

    # a CRAFTED stream with allocation width 1 (the encoder's minimum
    # is 2; 2^0 - 1 = 0 levels would divide by zero) must raise loudly,
    # not cast NaN to int16 — found by review, pinned here
    import struct
    n = 300
    blocks = M._blocks_for(n)
    bits = np.zeros((blocks, M.N_BANDS), dtype=np.uint8)
    bits[0, 0] = 1
    parts = [M._MAGIC3, struct.pack(">BIQ", 1, 8000, n)]
    parts.extend(M._entropy_section(bits.reshape(-1)))
    parts.append(bytes(1))  # one scalefactor code for the active band
    width0 = int(M._BAND_WIDTHS[0])
    parts.extend(M._entropy_section(
        np.full(width0, 128, dtype=np.uint8)))
    with pytest.raises(ValueError, match="width out of range"):
        M.mdct_decode_psycho(b"".join(parts))


def test_mdc3_corrupt_any_byte_never_crashes():
    """Exhaustive single-byte fuzz, same contract as MDC1/MDC2/ADPCM:
    ValueError or a valid int16 buffer, never another exception."""
    from big_data_science_project_spark.functions import mdct_codec as M

    x = (3000 * np.sin(np.arange(2000) * 0.3)).astype(np.int16)
    enc = bytes(M.mdct_encode_psycho(x))
    for pos in range(len(enc)):
        mut = bytearray(enc)
        mut[pos] ^= 0x5A
        try:
            out = M.mdct_decode_psycho(bytes(mut))
            assert out.dtype == np.int16
        except ValueError:
            pass


def test_mdct_psycho_query_reports(spark):
    """In-plan: the psycho tier's report is comparable with the other
    audio tiers — every clip compresses well under MDC1's 2:1 and the
    SNR floor holds the quality point the 30 dB offset buys."""
    import __spark_entry__ as e

    q = e.queries()
    base = q["multimodal_mdct_roundtrip"](
        spark, "/root/testdata/sf0.001").collect()[0]
    psy = q["multimodal_mdct_psycho_roundtrip"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert psy.n_clips == base.n_clips
    assert psy.bytes_raw == base.bytes_raw
    assert psy.bytes_mdct_psycho < 0.5 * base.bytes_mdct
    assert psy.min_snr_db >= 28
