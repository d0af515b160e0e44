"""Baseline JPEG codec: component tests pin each piece to the T.81
spec INDEPENDENTLY (so a self-consistent but non-conformant
encoder/decoder pair cannot pass), then end-to-end lossy bounds."""

from __future__ import annotations

import numpy as np
import pytest

from pangenomesasgraphdatabases_spark.operators.jpeg_codec import (
    AC_CHROMA_BITS,
    AC_CHROMA_VALS,
    AC_LUMA_BITS,
    AC_LUMA_VALS,
    DC_LUMA_BITS,
    DC_LUMA_VALS,
    QT_LUMA,
    ZIGZAG,
    build_huffman_codes,
    dct_matrix,
    decode_jpeg,
    encode_jpeg,
    encode_jpeg12,
    quality_scale,
)


# --- Component conformance ---------------------------------------------------


def test_zigzag_is_the_spec_sequence():
    """Spot-pin the T.81 Figure A.6 sequence (first two anti-diagonals
    and the tail) and require it to be a permutation of 0..63."""
    assert list(ZIGZAG[:8]) == [0, 1, 8, 16, 9, 2, 3, 10]
    assert list(ZIGZAG[-4:]) == [47, 55, 62, 63]
    assert sorted(ZIGZAG) == list(range(64))
    # The zigzag walk only ever steps to a grid neighbour (diagonal
    # runs + edge turns) — a transposed or shuffled table fails this.
    for a, b in zip(ZIGZAG, ZIGZAG[1:]):
        dy = abs(a // 8 - b // 8)
        dx = abs(a % 8 - b % 8)
        assert max(dy, dx) == 1, f"non-adjacent zigzag step {a}->{b}"


def test_dct_matrix_is_orthonormal_dct2():
    """M must be the orthonormal DCT-II basis: M M^T = I, first row
    constant 1/(2*sqrt(2)), and f = M^T (M f M^T) M recovers any
    block to float precision."""
    m = dct_matrix()
    assert np.allclose(m @ m.T, np.eye(8), atol=1e-12)
    assert np.allclose(m[0], 1 / (2 * np.sqrt(2)))
    rng = np.random.default_rng(3)
    f = rng.normal(0, 50, (8, 8))
    assert np.allclose(m.T @ (m @ f @ m.T) @ m, f, atol=1e-9)


def test_huffman_canonical_codes_match_spec_examples():
    """Canonical construction against the known Annex K.3.1 DC-luma
    assignments: category 0 -> 00 (2 bits), 1 -> 010, 5 -> 110,
    6 -> 1110, 11 -> 111111110 (9 bits)."""
    codes = build_huffman_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    assert codes[0] == (0b00, 2)
    assert codes[1] == (0b010, 3)
    assert codes[5] == (0b110, 3)
    assert codes[6] == (0b1110, 4)
    assert codes[11] == (0b111111110, 9)
    # AC tables: EOB/ZRL per K.3.3.2; prefix-freeness for all tables.
    ac = build_huffman_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    assert ac[0x00] == (0b1010, 4)  # EOB
    assert ac[0xF0] == (0b11111111001, 11)  # ZRL
    for bits, vals in (
        (AC_LUMA_BITS, AC_LUMA_VALS),
        (AC_CHROMA_BITS, AC_CHROMA_VALS),
    ):
        table = build_huffman_codes(bits, vals)
        assert len(table) == 162  # full run/size alphabet
        seen = [(format(c, f"0{ln}b")) for c, ln in table.values()]
        assert len(set(seen)) == len(seen)
        for a in seen:
            assert not any(b != a and b.startswith(a) for b in seen), "prefix clash"


def test_quality_scaling_ijg():
    assert (quality_scale(QT_LUMA, 50) == QT_LUMA).all()
    assert (quality_scale(QT_LUMA, 100) == 1).all()
    assert (quality_scale(QT_LUMA, 10) >= QT_LUMA).all()  # coarser
    assert quality_scale(QT_LUMA, 1).max() <= 255  # clamp


# --- End-to-end lossy bounds -------------------------------------------------


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = ((a.astype(np.float64) - b.astype(np.float64)) ** 2).mean()
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


def test_constant_image_roundtrips_exactly():
    """A constant block is pure DC; at q=90 the DC quantizer step
    divides it exactly enough that decode == input bit-for-bit."""
    for v in (0, 17, 120, 255):
        img = np.full((16, 24, 3), v, dtype=np.uint8)
        assert (decode_jpeg(encode_jpeg(img, quality=90)) == img).all()


def test_smooth_images_meet_psnr_floor_all_modes():
    """Smooth random-walk images through every mode combination:
    odd/even sizes, 4:4:4 vs 4:2:0, restart intervals.  4:2:0 halves
    chroma resolution, hence its lower floor."""
    rng = np.random.default_rng(5)
    for h, w in ((17, 23), (8, 8), (33, 9), (64, 48)):
        img = np.clip(
            np.cumsum(rng.normal(0, 2, (h, w, 3)), axis=1) + 128, 0, 255
        ).astype(np.uint8)
        for ss in ("444", "420"):
            for ri in (0, 2, 5):
                out = decode_jpeg(
                    encode_jpeg(img, quality=90, subsampling=ss, restart_interval=ri)
                )
                assert out.shape == (h, w, 3)
                floor = 33 if ss == "444" else 28
                assert _psnr(out, img) > floor, (h, w, ss, ri)


def test_restart_markers_do_not_change_pixels():
    """RSTn is pure framing: the restart-interval stream must decode
    BIT-IDENTICALLY to the plain stream of the same image."""
    rng = np.random.default_rng(7)
    img = np.clip(
        np.cumsum(rng.normal(0, 3, (24, 40, 3)), axis=0) + 128, 0, 255
    ).astype(np.uint8)
    plain = decode_jpeg(encode_jpeg(img, 85, "444", 0))
    with_rst = decode_jpeg(encode_jpeg(img, 85, "444", 3))
    assert (plain == with_rst).all()


def test_byte_stuffing_exercised_on_noise():
    """High-entropy input makes 0xFF bytes in the entropy stream all
    but certain — the encoded stream must contain stuffed FF00 pairs
    and still decode to the right shape."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    blob = encode_jpeg(img, quality=95)
    scan = blob[blob.find(b"\xff\xda") :]
    assert b"\xff\x00" in scan
    out = decode_jpeg(blob)
    assert out.shape == img.shape
    assert _psnr(out, img) > 20  # noise at q95: loose sanity floor


def test_grayscale_single_component_stream():
    """Hand-build a 1-component SOF0 stream (the encoder always
    writes 3) so the decoder's grayscale branch is tested: output
    broadcasts luma to RGB."""
    import struct

    from pangenomesasgraphdatabases_spark.operators import jpeg_codec as jc

    img = np.full((8, 8), 99, dtype=np.float64)
    bw = jc._BitWriter()
    dc = jc.build_huffman_codes(jc.DC_LUMA_BITS, jc.DC_LUMA_VALS)
    ac = jc.build_huffman_codes(jc.AC_LUMA_BITS, jc.AC_LUMA_VALS)
    qy = jc.quality_scale(jc.QT_LUMA, 90)
    jc._encode_block(bw, img, qy, 0, dc, ac)
    scan = bw.flush()

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    blob = (
        b"\xff\xd8"
        + seg(0xDB, bytes([0]) + bytes(int(x) for x in qy.flatten()[jc.ZIGZAG]))
        + seg(
            0xC4,
            bytes([0x00]) + bytes(jc.DC_LUMA_BITS) + bytes(jc.DC_LUMA_VALS),
        )
        + seg(
            0xC4,
            bytes([0x10]) + bytes(jc.AC_LUMA_BITS) + bytes(jc.AC_LUMA_VALS),
        )
        + seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + scan
        + b"\xff\xd9"
    )
    out = decode_jpeg(blob)
    assert out.shape == (8, 8, 3)
    assert np.abs(out.astype(int) - 99).max() <= 1
    assert (out[..., 0] == out[..., 1]).all() and (out[..., 1] == out[..., 2]).all()


# --- Boundary ---------------------------------------------------------------


def test_non_huffman_dct_variants_raise_documented():
    """Lossless (SOF3) and arithmetic-coded (SOF9) frames and
    out-of-family precisions stay documented NotImplementedError seams
    (progressive SOF2 and 12-bit/Pq=1 decode for real now —
    test_jpeg_progressive.py and the 12-bit section below); garbage
    raises ValueError."""
    import struct

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    arith = (
        b"\xff\xd8"
        + seg(0xC9, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
        + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg(arith)

    # A complete single-component lossless stream (one 1-bit code for
    # difference category 0, so every sample predicts to 128) must
    # raise, not return samples.
    lossless = (
        b"\xff\xd8"
        + seg(0xC4, bytes([0x00, 1] + [0] * 15 + [0]))
        + seg(0xC3, bytes([8]) + struct.pack(">HH", 4, 4) + bytes([1, 1, 0x11, 0]))
        + seg(0xDA, bytes([1, 1, 0x00, 1, 0, 0]))
        + b"\x00\x00"
        + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError, match=r"lossless JPEG \(SOF3\)"):
        decode_jpeg(lossless)

    # precision 10 is outside T.81's huffman-DCT family (8 / 12)
    p10 = (
        b"\xff\xd8"
        + seg(0xC1, bytes([10]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
        + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError, match="10-bit"):
        decode_jpeg(p10)

    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x00" * 32)


def test_jpeg_roundtrip_property():
    """Property over random smooth images: decode(encode(x)) stays
    within the q-dependent PSNR floor for every mode combination."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(6, 40),
        st.integers(6, 40),
        st.sampled_from(["444", "420"]),
        st.integers(0, 4),
        st.integers(0, 2**31 - 1),
    )
    def prop(h, w, ss, ri, seed):
        rng = np.random.default_rng(seed)
        img = np.clip(
            np.cumsum(rng.normal(0, 2, (h, w, 3)), axis=1) + 128, 0, 255
        ).astype(np.uint8)
        out = decode_jpeg(
            encode_jpeg(img, quality=92, subsampling=ss, restart_interval=ri)
        )
        assert out.shape == (h, w, 3)
        assert _psnr(out, img) > (32 if ss == "444" else 27)

    prop()


# --- 12-bit precision (VERDICT r13 #6) ---------------------------------------


def test_jpeg12_flat_blocks_bit_exact():
    """The 12-bit fixture contract: flat 8x8 blocks with a Pq=1 table
    whose DC step (8) divides the DC coefficient exactly round-trip
    BIT-EXACTLY through SOF1 encode + decode, landing on
    round(v * 255/4095) in the uint8 output (no .5 ties exist on
    that lattice, so the scaling is rounding-mode-proof).  AC table
    entries are 4096 — the Pq=1 16-bit wire format is
    value-exercised: a uint8 misparse would desync the whole table."""
    qt = np.full((8, 8), 4096, dtype=np.int64)
    qt[0, 0] = 8
    for mid in range(0, 120, 7):
        bw, bh = 1 + mid % 3, 1 + mid % 2
        b = np.arange(bw * bh, dtype=np.int64)
        g12 = ((mid * 17 + 23 * b) % 4096).astype(np.uint16).reshape(bh, bw)
        arr = np.repeat(np.repeat(g12, 8, axis=0), 8, axis=1)
        out = decode_jpeg(encode_jpeg12(arr, qtab=qt))
        want = np.round(arr.astype(np.float64) * 255.0 / 4095.0).astype(
            np.uint8
        )
        assert out.shape == (8 * bh, 8 * bw, 3)
        for c in range(3):
            assert (out[..., c] == want).all(), mid


def _qt12(quality: int) -> np.ndarray:
    """The quality-scaled Annex K luma table x16: quantization step
    per sample bit as on the 8-bit path, with entries above 255 so the
    Pq=1 wire format is value-exercised, not just parsed."""
    from pangenomesasgraphdatabases_spark.operators.jpeg_codec import (
        QT_LUMA,
        quality_scale,
    )

    return np.clip(quality_scale(QT_LUMA, quality).astype(np.int64) * 16, 1, 65535)


def test_jpeg12_gradient_psnr_with_16bit_table():
    """x16 quality table: entries genuinely exceed 255 (the Pq=1
    byte-width matters) and a smooth 12-bit gradient survives
    encode/decode within a PSNR floor on the scaled 8-bit surface."""
    assert _qt12(90).max() > 255
    h, w = 40, 56
    y, x = np.mgrid[0:h, 0:w]
    g = (y / (h - 1) * 2047 + x / (w - 1) * 2048).astype(np.uint16)
    out = decode_jpeg(encode_jpeg12(g, qtab=_qt12(90)))
    want = np.round(g.astype(np.float64) * 255.0 / 4095.0)
    err = out[..., 0].astype(np.float64) - want
    psnr = 10 * np.log10(255.0**2 / max(float((err**2).mean()), 1e-9))
    assert psnr > 35.0, psnr
    assert (out[..., 0] == out[..., 1]).all()


def test_jpeg12_roundtrip_property():
    """Property over random 12-bit images and qualities: decode never
    crashes, output geometry/channels are right, and a COARSE check
    that reconstruction tracks the input (mean absolute error under
    the quant step's worst case for smooth content)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=15, deadline=None)
    @given(
        seed=st.integers(0, 10_000),
        q=st.sampled_from([70, 85, 95]),
        h=st.integers(8, 24),
        w=st.integers(8, 24),
    )
    def run(seed, q, h, w):
        rng = np.random.RandomState(seed)
        base = rng.randint(0, 4096)
        # smooth field: random plane + small noise
        y, x = np.mgrid[0:h, 0:w]
        g = np.clip(
            base + y * rng.randint(-20, 21) + x * rng.randint(-20, 21)
            + rng.randint(-8, 9, (h, w)),
            0,
            4095,
        ).astype(np.uint16)
        out = decode_jpeg(encode_jpeg12(g, qtab=_qt12(q)))
        assert out.shape == (h, w, 3) and out.dtype == np.uint8
        want = np.round(g.astype(np.float64) * 255.0 / 4095.0)
        assert np.abs(out[..., 0] - want).mean() < 12.0

    run()


def test_jpeg12_input_validation():
    with pytest.raises(ValueError, match="uint16"):
        encode_jpeg12(np.zeros((8, 8), dtype=np.uint8), qtab=_qt12(85))
    with pytest.raises(ValueError, match="4095"):
        encode_jpeg12(np.full((8, 8), 5000, dtype=np.uint16), qtab=_qt12(85))
    with pytest.raises(ValueError, match="qtab"):
        encode_jpeg12(
            np.zeros((8, 8), dtype=np.uint16),
            qtab=np.zeros((8, 8), dtype=np.int64),
        )


def test_invalid_dqt_precision_raises():
    """Review r14: a DQT byte with Pq outside {0, 1} is a malformed
    stream — raise instead of silently desyncing the table walk."""
    import struct

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    bad = b"\xff\xd8" + seg(0xDB, bytes([0x20]) + bytes(64)) + b"\xff\xd9"
    with pytest.raises(ValueError, match="Pq=2"):
        decode_jpeg(bad)
