"""Intra-only H.264 baseline codec (multimodal/h264.py): VLC table
hygiene, CAVLC block roundtrip, full-frame bit-exact roundtrip, honest
NotImplementedError guards, and cross-implementation agreement with the
independent SPS parser in mediameta.py."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkstreaming_spark.multimodal.h264 import (
    CBP_INTRA,
    COEFF_TOKEN,
    RUN_BEFORE,
    TOTAL_ZEROS,
    BitReader,
    BitWriter,
    decode_iframe,
    decode_residual_block,
    encode_iframe,
    encode_residual_block,
    encoder_reconstruction,
    strip_emulation,
)


def _prefix_free(codes):
    codes = list(codes)
    assert len(set(codes)) == len(codes)
    for a in codes:
        for b in codes:
            if a is not b and a != b:
                assert not b.startswith(a)


def test_vlc_tables_prefix_free():
    for t in COEFF_TOKEN:
        _prefix_free(t.values())
    for t in TOTAL_ZEROS.values():
        _prefix_free(t)
    for t in RUN_BEFORE.values():
        _prefix_free(t)


def test_cbp_table_is_permutation():
    assert sorted(CBP_INTRA) == list(range(48))


def test_coeff_token_shape():
    for t in COEFF_TOKEN:
        keys = set(t)
        assert (0, 0) in keys
        for tc in range(1, 17):
            for t1 in range(0, min(tc, 3) + 1):
                assert (t1, tc) in keys, (t1, tc)


@settings(max_examples=300, deadline=None)
@given(
    nc=st.integers(0, 16),
    data=st.data(),
)
def test_cavlc_block_roundtrip(nc, data):
    k = data.draw(st.integers(0, 16))
    pos = data.draw(
        st.lists(st.integers(0, 15), min_size=k, max_size=k, unique=True)
    )
    block = np.zeros(16, np.int64)
    for p in pos:
        v = data.draw(st.integers(1, 2000)) * data.draw(
            st.sampled_from([-1, 1])
        )
        block[p] = v
    block = block.reshape(4, 4)
    w = BitWriter()
    tc = encode_residual_block(w, block, nc)
    got, tc2 = decode_residual_block(
        BitReader(strip_emulation(w.rbsp())), nc
    )
    assert np.array_equal(got, block)
    assert tc == tc2


def test_frame_roundtrip_is_bit_exact_across_qp():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (32, 48)).astype(np.uint8)
    for qp in (0, 5, 12, 20, 30, 40, 51):
        out = decode_iframe(encode_iframe(img, qp=qp))
        assert np.array_equal(out["luma"], encoder_reconstruction(img, qp=qp))
        assert out["qp"] == qp


def test_low_qp_is_near_lossless_high_qp_is_coarse():
    i = np.arange(32).reshape(-1, 1)
    j = np.arange(48).reshape(1, -1)
    img = ((3 * i + 2 * j) % 256).astype(np.uint8)
    err_lo = np.abs(
        decode_iframe(encode_iframe(img, qp=4))["luma"].astype(int)
        - img.astype(int)
    )
    err_hi = np.abs(
        decode_iframe(encode_iframe(img, qp=44))["luma"].astype(int)
        - img.astype(int)
    )
    assert err_lo.max() <= 2
    assert err_hi.mean() > err_lo.mean()


def test_rgb_input_uses_luma_plane():
    rng = np.random.default_rng(4)
    rgb = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    out = decode_iframe(encode_iframe(rgb, qp=10))
    assert out["luma"].shape == (16, 16)
    assert np.array_equal(out["luma"], encoder_reconstruction(rgb, qp=10))


def test_metadata_fields():
    img = np.full((48, 64), 77, np.uint8)
    out = decode_iframe(encode_iframe(img, qp=28))
    assert (out["width"], out["height"], out["n_mbs"]) == (64, 48, 12)


def test_flat_128_is_reconstructed_exactly():
    # 128 is the provably-exact flat value: DC prediction starts at 128
    # so every residual is zero at any QP
    for qp in (0, 20, 40, 51):
        img = np.full((32, 32), 128, np.uint8)
        out = decode_iframe(encode_iframe(img, qp=qp))
        assert np.array_equal(out["luma"], img), qp


def test_flat_images_are_near_exact():
    # other flat values take one quantized first-block residual; the
    # reconstruction must still be flat-ish and close at moderate QP
    for v in (7, 100, 153, 250):
        img = np.full((32, 32), v, np.uint8)
        out = decode_iframe(encode_iframe(img, qp=20))
        assert np.abs(out["luma"].astype(int) - v).max() <= 3, v


def test_sps_agrees_with_independent_mediameta_parser():
    from sparkstreaming_spark.multimodal.mediameta import h264_probe

    img = np.zeros((48, 80), np.uint8)
    blob = encode_iframe(img, qp=20)
    p = h264_probe(blob)
    assert (p["width"], p["height"]) == (80, 48)
    assert p["n_sps"] == 1 and p["n_idr"] == 1
    assert p["profile_idc"] == 66


def test_dimension_and_qp_guards():
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_iframe(np.zeros((20, 32), np.uint8))
    with pytest.raises(ValueError, match="QP"):
        encode_iframe(np.zeros((16, 16), np.uint8), qp=60)


def test_unsupported_features_raise_not_implemented():
    img = np.zeros((16, 16), np.uint8)
    blob = bytearray(encode_iframe(img, qp=20))
    # flip the slice NAL type 5 -> 1 (non-IDR) — find the 0x65 NAL byte
    i = blob.index(b"\x00\x00\x00\x01\x65") + 4
    blob[i] = 0x61
    with pytest.raises(NotImplementedError, match="non-IDR"):
        decode_iframe(bytes(blob))


def test_truncated_stream_raises_value_error():
    img = np.zeros((16, 16), np.uint8)
    blob = encode_iframe(img, qp=20)
    with pytest.raises(ValueError):
        decode_iframe(blob[: len(blob) - 8])


def test_intra4_directional_prediction_properties():
    # V copies the top row, H the left column; every mode over flat
    # neighbors predicts flat; DDL/VL substitute p[3,-1] when the
    # above-right block is undecoded (§8.3.1.2 sample derivation)
    from sparkstreaming_spark.multimodal.h264 import (
        I4_DC,
        I4_H,
        I4_V,
        _intra4_allowed,
        _intra4_predict,
    )

    rng = np.random.default_rng(11)
    plane = rng.integers(0, 256, (16, 16)).astype(np.int64)
    done4 = np.ones((4, 4), dtype=bool)
    done4[1:, :] = False
    done4[1, 1] = False  # target block at (4,4); above-right decoded?
    done4[0, 2] = True
    v = _intra4_predict(plane, done4, 4, 4, I4_V)
    assert np.array_equal(v, np.tile(plane[3, 4:8], (4, 1)))
    h = _intra4_predict(plane, done4, 4, 4, I4_H)
    # only column 3 of the left neighbor is visible at x-1
    assert np.array_equal(h, np.tile(plane[4:8, 3][:, None], (1, 4)))
    # flat neighborhood -> flat prediction for every allowed mode
    flat = np.full((16, 16), 55, dtype=np.int64)
    for m in _intra4_allowed(done4, 1, 1):
        p = _intra4_predict(flat, done4, 4, 4, m)
        assert np.all(p == 55), m
    # first block of the picture: only DC is allowed
    assert _intra4_allowed(np.zeros((4, 4), bool), 0, 0) == [I4_DC]


def test_directional_modes_nail_striped_content():
    # vertically/horizontally-constant content is the directional
    # modes' home turf: with V/H prediction the residual is (almost)
    # pure first-row/col quantization noise, so max error stays within
    # one quantization step at moderate QP. Roundtrips stay bit-exact.
    from sparkstreaming_spark.multimodal.h264 import (
        decode_iframe,
        encode_iframe,
        encoder_reconstruction,
    )

    stripes = np.tile((np.arange(48, dtype=np.int64) * 37 % 256)
                      .astype(np.uint8), (32, 1))
    out = decode_iframe(encode_iframe(stripes, qp=12))
    assert np.array_equal(out["luma"],
                          encoder_reconstruction(stripes, qp=12))
    err = np.abs(out["luma"].astype(int) - stripes.astype(int))
    assert err.max() <= 1
    bars = np.tile((np.arange(32, dtype=np.int64) * 53 % 256)
                   .astype(np.uint8)[:, None], (1, 48))
    out = decode_iframe(encode_iframe(bars, qp=12))
    err = np.abs(out["luma"].astype(int) - bars.astype(int))
    assert err.max() <= 1


def _intra4_predict_ref(plane, done4, y, x, mode):
    """Independent per-pixel reference of the §8.3.1.2 formulas (the
    pre-vectorization loop forms) — pins the module's vectorized
    implementation mode by mode."""
    y4, x4 = y // 4, x // 4
    h4, w4 = done4.shape
    top, left = y4 > 0, x4 > 0
    from sparkstreaming_spark.multimodal.h264 import _dc_predict

    if mode == 2:
        return np.full((4, 4), _dc_predict(plane, y, x, 4), dtype=np.int64)
    T = plane[y - 1, x : x + 4].astype(np.int64) if top else None
    L = plane[y : y + 4, x - 1].astype(np.int64) if left else None
    X = int(plane[y - 1, x - 1]) if (top and left) else 0
    if mode in (3, 7):
        tr_ok = (x4 + 1 < w4 and y4 > 0 and done4[y4 - 1, x4 + 1])
        TR = (plane[y - 1, x + 4 : x + 8].astype(np.int64) if tr_ok
              else np.full(4, int(T[3]), dtype=np.int64))
        t = np.concatenate([T, TR])
    out = np.empty((4, 4), dtype=np.int64)
    px = lambda i: X if i < 0 else int(T[i])
    pl = lambda i: X if i < 0 else int(L[i])
    for r in range(4):
        for c in range(4):
            if mode == 0:
                out[r, c] = T[c]
            elif mode == 1:
                out[r, c] = L[r]
            elif mode == 3:
                if r == 3 and c == 3:
                    out[r, c] = (t[6] + 3 * t[7] + 2) >> 2
                else:
                    i = r + c
                    out[r, c] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
            elif mode == 4:
                if c > r:
                    k = c - r
                    out[r, c] = (px(k - 2) + 2 * px(k - 1) + px(k) + 2) >> 2
                elif c < r:
                    k = r - c
                    out[r, c] = (pl(k - 2) + 2 * pl(k - 1) + pl(k) + 2) >> 2
                else:
                    out[r, c] = (int(T[0]) + 2 * X + int(L[0]) + 2) >> 2
            elif mode == 5:
                z = 2 * c - r
                i = c - (r >> 1)
                if z >= 0 and z % 2 == 0:
                    out[r, c] = (px(i - 1) + px(i) + 1) >> 1
                elif z >= 0:
                    out[r, c] = (px(i - 2) + 2 * px(i - 1) + px(i) + 2) >> 2
                elif z == -1:
                    out[r, c] = (int(L[0]) + 2 * X + int(T[0]) + 2) >> 2
                else:
                    out[r, c] = (pl(r - 1) + 2 * pl(r - 2) + pl(r - 3) + 2) >> 2
            elif mode == 6:
                z = 2 * r - c
                i = r - (c >> 1)
                if z >= 0 and z % 2 == 0:
                    out[r, c] = (pl(i - 1) + pl(i) + 1) >> 1
                elif z >= 0:
                    out[r, c] = (pl(i - 2) + 2 * pl(i - 1) + pl(i) + 2) >> 2
                elif z == -1:
                    out[r, c] = (int(L[0]) + 2 * X + int(T[0]) + 2) >> 2
                else:
                    out[r, c] = (px(c - 1) + 2 * px(c - 2) + px(c - 3) + 2) >> 2
            elif mode == 7:
                i = c + (r >> 1)
                if r % 2 == 0:
                    out[r, c] = (t[i] + t[i + 1] + 1) >> 1
                else:
                    out[r, c] = (t[i] + 2 * t[i + 1] + t[i + 2] + 2) >> 2
            elif mode == 8:
                z = c + 2 * r
                i = r + (c >> 1)
                if z > 5:
                    out[r, c] = int(L[3])
                elif z == 5:
                    out[r, c] = (int(L[2]) + 3 * int(L[3]) + 2) >> 2
                elif z % 2 == 0:
                    out[r, c] = (int(L[i]) + int(L[i + 1]) + 1) >> 1
                else:
                    out[r, c] = (int(L[i]) + 2 * int(L[i + 1])
                                 + int(L[i + 2]) + 2) >> 2
    return out


def test_intra4_predict_matches_per_pixel_reference():
    from sparkstreaming_spark.multimodal.h264 import (
        _intra4_allowed,
        _intra4_predict,
    )

    rng = np.random.default_rng(17)
    for trial in range(30):
        plane = rng.integers(0, 256, (16, 16)).astype(np.int64)
        done4 = rng.random((4, 4)) < 0.7
        y4, x4 = int(rng.integers(0, 4)), int(rng.integers(0, 4))
        for m in _intra4_allowed(done4, y4, x4):
            got = _intra4_predict(plane, done4, y4 * 4, x4 * 4, m)
            ref = _intra4_predict_ref(plane, done4, y4 * 4, x4 * 4, m)
            assert np.array_equal(got, ref), (trial, m)


def test_intra4_all_preds_agrees_with_intra4_predict():
    from sparkstreaming_spark.multimodal.h264 import (
        _intra4_all_preds,
        _intra4_allowed,
        _intra4_predict,
    )

    rng = np.random.default_rng(23)
    for trial in range(30):
        plane = rng.integers(0, 256, (16, 16)).astype(np.int64)
        done4 = rng.random((4, 4)) < 0.7
        y4, x4 = int(rng.integers(0, 4)), int(rng.integers(0, 4))
        allowed = _intra4_allowed(done4, y4, x4)
        fast = _intra4_all_preds(plane, done4, y4 * 4, x4 * 4, allowed)
        assert sorted(fast) == allowed
        for m in allowed:
            ref = _intra4_predict(plane, done4, y4 * 4, x4 * 4, m)
            assert fast[m] == [int(v) for v in ref.ravel()], (trial, m)


# ---------------------------------------------------------------------------
# chroma residual (round 8): tables, CAVLC kinds, full-plane roundtrip

from sparkstreaming_spark.multimodal.h264 import (  # noqa: E402
    COEFF_TOKEN_CHROMA_DC,
    TOTAL_ZEROS_CHROMA_DC,
    chroma_qp,
    encoder_reconstruction_yuv,
)


def test_chroma_vlc_tables_prefix_free():
    _prefix_free(COEFF_TOKEN_CHROMA_DC.values())
    for t in TOTAL_ZEROS_CHROMA_DC.values():
        _prefix_free(t)


def test_chroma_dc_coeff_token_shape():
    keys = set(COEFF_TOKEN_CHROMA_DC)
    assert (0, 0) in keys
    for tc in range(1, 5):
        for t1 in range(0, min(tc, 3) + 1):
            assert (t1, tc) in keys, (t1, tc)


def test_qpc_table_matches_table_8_15():
    # identity below 30, compressive above, endpoints per the spec
    for qp in range(30):
        assert chroma_qp(qp) == qp
    assert chroma_qp(30) == 29
    assert chroma_qp(39) == 35
    assert chroma_qp(51) == 39
    for qp in range(51):
        assert chroma_qp(qp) <= chroma_qp(qp + 1)  # monotone
        assert chroma_qp(qp) <= qp or qp < 30


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_cavlc_chroma_dc_roundtrip(data):
    k = data.draw(st.integers(0, 4))
    pos = data.draw(
        st.lists(st.integers(0, 3), min_size=k, max_size=k, unique=True)
    )
    block = np.zeros(4, np.int64)
    for p in pos:
        block[p] = data.draw(st.integers(1, 500)) * data.draw(
            st.sampled_from([-1, 1])
        )
    block = block.reshape(2, 2)
    w = BitWriter()
    tc = encode_residual_block(w, block, -1, kind="cdc")
    got, tc2 = decode_residual_block(
        BitReader(strip_emulation(w.rbsp())), -1, kind="cdc"
    )
    assert np.array_equal(got, block)
    assert tc == tc2


@settings(max_examples=200, deadline=None)
@given(nc=st.integers(0, 16), data=st.data())
def test_cavlc_chroma_ac_roundtrip(nc, data):
    # AC blocks carry 15 coefficients — position (0,0) always zero
    k = data.draw(st.integers(0, 15))
    pos = data.draw(
        st.lists(st.integers(1, 15), min_size=k, max_size=k, unique=True)
    )
    block = np.zeros(16, np.int64)
    for p in pos:
        block[p] = data.draw(st.integers(1, 2000)) * data.draw(
            st.sampled_from([-1, 1])
        )
    block = block.reshape(4, 4)
    w = BitWriter()
    tc = encode_residual_block(w, block, nc, kind="ac")
    got, tc2 = decode_residual_block(
        BitReader(strip_emulation(w.rbsp())), nc, kind="ac"
    )
    assert np.array_equal(got, block)
    assert tc == tc2


def _color_test_frame(h, w, t=0):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([
        (xx * 3 + yy + 5 * t) % 256,
        (128 + 60 * np.sin((xx + 3 * t) / 7)
         + 40 * np.cos(yy / 5)).astype(int) % 256,
        (xx + 2 * yy + 7 * t) % 256,
    ], axis=-1).astype(np.uint8)


def test_iframe_chroma_roundtrip_bit_exact_across_qp():
    img = _color_test_frame(32, 48)
    for qp in (0, 8, 20, 32, 44, 51):
        out = decode_iframe(encode_iframe(img, qp=qp))
        ry, rcb, rcr = encoder_reconstruction_yuv(img, qp=qp)
        assert np.array_equal(out["luma"], ry), qp
        assert np.array_equal(out["cb"], rcb), qp
        assert np.array_equal(out["cr"], rcr), qp
        assert out["cb"].shape == (16, 24)


def test_chroma_fidelity_tracks_qp():
    from sparkstreaming_spark.multimodal.h264 import _to_yuv

    img = _color_test_frame(32, 48)
    _, scb, scr = _to_yuv(img)
    maes = []
    for qp in (8, 26, 44):
        out = decode_iframe(encode_iframe(img, qp=qp))
        maes.append(np.abs(out["cb"].astype(int) - scb.astype(int)).mean()
                    + np.abs(out["cr"].astype(int) - scr.astype(int)).mean())
    assert maes[0] < 2.0          # near-lossless chroma at low QP
    assert maes[0] < maes[1] < maes[2]


def test_gray_input_has_exact_neutral_chroma():
    # gray input -> cb = cr = 128 everywhere; DC prediction starts at
    # 128 so every chroma residual is zero at any QP (CBP chroma 0)
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (32, 32)).astype(np.uint8)
    for qp in (0, 24, 48):
        out = decode_iframe(encode_iframe(img, qp=qp))
        assert (out["cb"] == 128).all() and (out["cr"] == 128).all(), qp


def test_i16_plane_prediction_exact_on_ramp():
    # a pure linear ramp (no clipping anywhere) is reproduced exactly
    # by the §8.3.3.4 plane predictor, so interior macroblocks collapse
    # to I_16x16 with a near-zero residual
    from sparkstreaming_spark.multimodal.h264 import (
        decode_iframe,
        encode_iframe,
        encoder_reconstruction,
    )

    i = np.arange(48).reshape(-1, 1)
    j = np.arange(64).reshape(1, -1)
    img = (40 + 2 * i + j).astype(np.uint8)  # max 40+94+63 = 197
    data = encode_iframe(img, qp=16)
    out = decode_iframe(data)
    assert out["n_i16_mbs"] > 0
    assert np.array_equal(out["luma"], encoder_reconstruction(img, qp=16))
    err = np.abs(out["luma"].astype(float) - img.astype(float))
    assert err.max() <= 4.0


def test_i16_dc_hadamard_roundtrip_property():
    # the §8.5.10 luma DC path: forward Hadamard + quant + normative
    # dequant reconstructs each block DC within the quantization step
    from sparkstreaming_spark.multimodal.h264 import (
        dequantize_luma_dc,
        luma_dc_forward,
        quantize_luma_dc,
    )

    # the reconstructed dcY sits at the DEQUANTIZED-coefficient scale:
    # MF(0,0)*V(0,0) ~= 2^17 for every qp%6 class, so dequant(quant(x))
    # ~= 4x, exact at qp 0 and within ~one quantization step above —
    # the unity-gain pairing that makes the DC path 4x finer than AC
    rng = np.random.default_rng(7)
    for qp in (0, 11, 23, 35, 36, 47, 51):
        dc4 = rng.integers(-2000, 2000, (4, 4)).astype(np.int64)
        lv = quantize_luma_dc(luma_dc_forward(dc4), qp)
        rec = dequantize_luma_dc(lv, qp)
        step = 2.0 ** (qp / 6.0) * 2.5 + 2
        assert np.abs(rec - 4 * dc4).max() <= step, qp
        if qp == 0:
            assert np.array_equal(rec, 4 * dc4)


def test_i16_fires_per_mode_and_roundtrips():
    # flat image -> DC mode; vertical-stripe image continued from the
    # row above -> V mode; all still bit-exact vs the encoder loop
    from sparkstreaming_spark.multimodal.h264 import (
        decode_iframe,
        encode_iframe,
        encoder_reconstruction,
    )

    flat = np.full((32, 32), 77, dtype=np.uint8)
    out = decode_iframe(encode_iframe(flat, qp=20))
    # MBs with decoded neighbors collapse to I_16x16 DC (the first
    # MB's 128-fallback DC misses the flat value, so I_4x4's
    # neighbor-fed blocks win there)
    assert out["n_i16_mbs"] >= 2
    assert np.array_equal(out["luma"],
                          encoder_reconstruction(flat, qp=20))

    stripes = np.tile(
        np.arange(48, dtype=np.uint8).reshape(1, -1) * 5, (32, 1))
    out2 = decode_iframe(encode_iframe(stripes, qp=18))
    assert out2["n_i16_mbs"] > 0
    assert np.array_equal(out2["luma"],
                          encoder_reconstruction(stripes, qp=18))


def test_i16_random_texture_still_prefers_i4():
    from sparkstreaming_spark.multimodal.h264 import (
        decode_iframe,
        encode_iframe,
        encoder_reconstruction,
    )

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (48, 48)).astype(np.uint8)
    out = decode_iframe(encode_iframe(img, qp=20))
    # near-tie MBs may take the cheaper I_16x16 coding, but texture
    # must stay predominantly I_4x4
    assert out["n_i16_mbs"] <= out["n_mbs"] // 3
    assert np.array_equal(out["luma"], encoder_reconstruction(img, qp=20))


def test_i16_color_roundtrip_iframe():
    # a smooth color I frame takes I_16x16 macroblocks, and all three
    # decoded planes equal the encoder's own reconstruction
    from sparkstreaming_spark.multimodal.h264 import (
        encoder_reconstruction_yuv,
    )

    i = np.arange(32).reshape(-1, 1, 1)
    j = np.arange(48).reshape(1, -1, 1)
    k = np.arange(3).reshape(1, 1, -1)
    img = (50 + 2 * i + j + 20 * k).astype(np.uint8)
    out = decode_iframe(encode_iframe(img, qp=18))
    luma, cb, cr = encoder_reconstruction_yuv(img, qp=18)
    assert out["n_i16_mbs"] > 0
    assert np.array_equal(out["luma"], luma)
    assert np.array_equal(out["cb"], cb)
    assert np.array_equal(out["cr"], cr)


def test_invalid_mb_type_raises():
    # mb_type past I_PCM (>25) is malformed
    from sparkstreaming_spark.multimodal.h264 import (
        BitWriter,
        _build_pps_rbsp,
        _build_sps_rbsp,
        _nal,
    )

    w = BitWriter()
    w.ue(0)    # first_mb_in_slice
    w.ue(7)    # slice_type I
    w.ue(0)    # pps id
    w.u(0, 4)  # frame_num
    w.ue(0)    # idr_pic_id
    w.u(0, 2)  # dec_ref_pic_marking flags
    w.se(20 - 26)
    w.ue(1)    # deblocking off
    w.ue(26)   # invalid mb_type past I_PCM
    stream = (_nal(7, _build_sps_rbsp(32, 32)) + _nal(8, _build_pps_rbsp())
              + _nal(5, w.rbsp()))
    from sparkstreaming_spark.multimodal.h264 import decode_iframe
    with pytest.raises(ValueError, match="invalid I mb_type"):
        decode_iframe(stream)


def test_directional_mode_without_samples_raises_not_silently_dc():
    # craft an I slice whose FIRST 4x4 block (no top/left neighbors)
    # codes an explicit rem=2: with DC predicted, rem 2 decodes to
    # diagonal-down-left (§8.3.1.1), which needs the unavailable top
    # row — the decoder must raise on the malformed stream, never
    # quietly substitute DC
    from sparkstreaming_spark.multimodal.h264 import (
        _build_pps_rbsp,
        _build_sps_rbsp,
        _nal,
    )

    w = BitWriter()
    w.ue(0)   # first_mb_in_slice
    w.ue(7)   # slice_type I
    w.ue(0)   # pps id
    w.u(0, 4)  # frame_num
    w.ue(0)   # idr_pic_id
    w.u(0, 2)  # dec_ref_pic_marking
    w.se(20 - 26)
    w.ue(1)   # deblocking off
    w.ue(0)   # mb_type I_4x4
    w.u(0, 1)  # prev_intra4x4_pred_mode_flag = 0 -> explicit
    w.u(2, 3)  # rem_intra4x4_pred_mode = 2 -> mode 3 (DDL, needs top)
    for _ in range(15):
        w.u(1, 1)  # remaining blocks: predicted mode
    w.ue(0)   # intra_chroma_pred_mode DC
    w.ue(3)   # CBP codeNum 3 -> cbp 0 (no residuals follow)
    w.se(0)   # mb_qp_delta
    stream = (_nal(7, _build_sps_rbsp(16, 16)) + _nal(8, _build_pps_rbsp())
              + _nal(5, w.rbsp()))
    with pytest.raises(ValueError, match="unavailable"):
        decode_iframe(stream)


def test_decode_iframe_reads_first_frame_of_multi_frame_stream():
    rng = np.random.default_rng(5)
    base = rng.integers(0, 256, (32, 32)).astype(np.uint8)
    stream = (encode_iframe(base, qp=20)
              + encode_iframe(np.roll(base, 1, axis=0), qp=20))
    out = decode_iframe(stream)
    assert np.array_equal(out["luma"], encoder_reconstruction(base, qp=20))


def test_i16_dc_rich_content_reconstructs_exactly_at_low_qp():
    # a two-level image where I_16x16 DC mode carries a LARGE flat
    # residual: the 4x-precision DC path must reconstruct it exactly
    # at low qp (a DC gain slip here shows up as a brightness error
    # that good prediction would otherwise mask)
    from sparkstreaming_spark.multimodal.h264 import (
        decode_iframe,
        encode_iframe,
        encoder_reconstruction,
    )

    img = np.full((32, 32), 77, dtype=np.uint8)
    img[16:, 16:] = 200
    out = decode_iframe(encode_iframe(img, qp=8))
    assert out["n_i16_mbs"] >= 1
    assert np.array_equal(out["luma"], encoder_reconstruction(img, qp=8))
    err = np.abs(out["luma"].astype(int) - img.astype(int))
    assert err.max() == 0


def test_i_pcm_fires_on_qp0_noise_and_is_lossless():
    # at qp 0, entropy-defeating noise costs more coded luma bits than
    # the raw macroblock, so every MB takes I_PCM and the whole frame
    # becomes LOSSLESS; the stream stays near the raw size
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (48, 64)).astype(np.uint8)
    data = encode_iframe(img, qp=0)
    out = decode_iframe(data)
    assert out["n_pcm_mbs"] == out["n_mbs"]
    assert np.array_equal(out["luma"], img)          # lossless
    assert np.array_equal(out["luma"],
                          encoder_reconstruction(img, qp=0))
    assert len(data) <= out["n_mbs"] * 384 + 120      # raw + headers


def test_i_pcm_mixed_with_coded_mbs_roundtrips():
    # noise rows force PCM, a flat region codes normally: PCM byte
    # alignment mid-slice, the nN=16 CAVLC context for coded neighbors
    # of PCM MBs, and the bit-exact contract all hold together
    rng = np.random.default_rng(13)
    img = np.full((48, 48), 90, dtype=np.uint8)
    img[16:32] = rng.integers(0, 256, (16, 48)).astype(np.uint8)
    data = encode_iframe(img, qp=0)
    out = decode_iframe(data)
    assert 0 < out["n_pcm_mbs"] < out["n_mbs"]
    assert np.array_equal(out["luma"],
                          encoder_reconstruction(img, qp=0))
    # the PCM band is sample-exact
    assert np.array_equal(out["luma"][16:32], img[16:32])


def test_i_pcm_color_samples_roundtrip():
    # PCM carries the chroma planes verbatim too
    rng = np.random.default_rng(17)
    rgb = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    from sparkstreaming_spark.multimodal.h264 import _to_yuv
    y, cb, cr = _to_yuv(rgb)
    out = decode_iframe(encode_iframe(rgb, qp=0))
    if out["n_pcm_mbs"] == out["n_mbs"]:
        assert np.array_equal(out["luma"], y)
        assert np.array_equal(out["cb"], cb)
        assert np.array_equal(out["cr"], cr)
    else:  # content-dependent; the contract is the encoder loop
        assert np.array_equal(out["luma"],
                              encoder_reconstruction(rgb, qp=0))
