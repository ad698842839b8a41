"""Property-based codec tests (hypothesis): the roundtrip invariants
hold on adversarial random inputs, not just the crafted cases."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkstreaming_spark.multimodal.audio import (
    alaw_decode,
    alaw_encode,
    ulaw_decode,
    ulaw_encode,
)
from sparkstreaming_spark.multimodal.flac import decode_flac, encode_flac
from sparkstreaming_spark.multimodal.gif import decode_gif, encode_gif

_SETTINGS = dict(max_examples=25, deadline=None)


@settings(**_SETTINGS)
@given(
    data=st.lists(st.integers(-32768, 32767), min_size=0, max_size=3000),
    blocksize=st.sampled_from([16, 192, 256, 1000, 4096]),
    rate=st.sampled_from([8000, 16000, 44100, 48000]),
)
def test_flac_roundtrip_property(data, blocksize, rate):
    x = np.asarray(data, dtype=np.int16)
    dec, got_rate = decode_flac(encode_flac(x, rate, blocksize=blocksize))
    assert got_rate == rate
    assert np.array_equal(dec, x)


@settings(**_SETTINGS)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    n_colors=st.integers(1, 256),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_roundtrip_property(h, w, n_colors, seed):
    rng = np.random.default_rng(seed)
    idx = rng.integers(0, n_colors, (h, w)).astype(np.uint8)
    pal = rng.integers(0, 256, (n_colors, 3)).astype(np.uint8)
    didx, dpal = decode_gif(encode_gif(idx, pal))
    assert np.array_equal(didx, idx)
    assert np.array_equal(dpal[:n_colors], pal)


@settings(**_SETTINGS)
@given(data=st.lists(st.integers(-32768, 32767), min_size=1, max_size=2000))
def test_g711_idempotence_property(data):
    x = np.asarray(data, dtype=np.int16)
    for enc, dec in ((ulaw_encode, ulaw_decode), (alaw_encode, alaw_decode)):
        once = dec(enc(x))
        assert np.array_equal(dec(enc(once)), once)
        # companding error bounded by the coarsest segment step
        assert np.abs(once.astype(int) - x.astype(int)).max() <= 1024


@settings(**_SETTINGS)
@given(
    codes=st.lists(st.integers(1, 14), min_size=1, max_size=40),
    sr_code=st.sampled_from([0, 1, 2]),
)
def test_mp3_walk_property(codes, sr_code):
    from sparkstreaming_spark.multimodal.mediameta import (
        _SR_TABLE,
        build_mp3_stream,
        mp3_probe,
    )

    p = mp3_probe(build_mp3_stream(codes, sr_code=sr_code))
    assert p["n_frames"] == len(codes)
    sr = _SR_TABLE[3][sr_code]
    assert p["samplerate"] == sr
    assert p["duration_s"] == round(len(codes) * 1152 / sr, 6)
    assert p["cbr"] == (len(set(codes)) == 1)


@settings(max_examples=60, deadline=None)
@given(blob=st.binary(min_size=0, max_size=400))
def test_media_probes_never_crash_on_garbage(blob):
    """Fuzz hardening: on arbitrary bytes every probe either returns a
    dict or raises the documented (ValueError, IndexError, struct.error,
    NotImplementedError) family that the Spark dispatch catches — never
    anything else. NotImplementedError is in the family because
    parse_sps raises it for scaling-matrix SPS, which must degrade to
    ok=false rather than failing the whole Arrow batch."""
    import struct

    from sparkstreaming_spark.multimodal.mediameta import (
        h264_probe,
        mp3_probe,
        mp4_probe,
        ogg_probe,
        webp_probe,
    )

    for probe in (mp3_probe, ogg_probe, h264_probe, mp4_probe, webp_probe):
        try:
            out = probe(blob)
            assert isinstance(out, dict)
        except (ValueError, IndexError, struct.error, NotImplementedError):
            pass


@settings(max_examples=60, deadline=None)
@given(blob=st.binary(min_size=0, max_size=400))
def test_decoders_never_crash_on_garbage(blob):
    import struct

    from sparkstreaming_spark.multimodal.audio import decode_audio
    from sparkstreaming_spark.multimodal.flac import decode_flac
    from sparkstreaming_spark.multimodal.gif import decode_gif

    import wave as _wave

    for dec in (decode_flac, decode_gif, decode_audio):
        try:
            dec(blob)
        except (ValueError, IndexError, struct.error, KeyError,
                NotImplementedError, EOFError, _wave.Error):
            pass


@settings(max_examples=120, deadline=None)
@given(data=st.data())
def test_h264_decode_iframe_never_crashes_on_garbage(data):
    # decode_iframe runs over untrusted blob columns: arbitrary bytes
    # and bit-flipped valid streams may only raise the documented
    # exception family — never crash, hang, or allocation-bomb (a
    # forged SPS claiming huge dimensions is rejected at parse)
    import numpy as np

    from sparkstreaming_spark.multimodal.h264 import (
        decode_iframe,
        encode_iframe,
    )

    mode = data.draw(st.sampled_from(["raw", "prefixed", "mutated"]))
    if mode == "mutated":
        i = np.arange(32).reshape(-1, 1, 1)
        j = np.arange(32).reshape(1, -1, 1)
        k = np.arange(3).reshape(1, 1, -1)
        img = ((40 + 3 * i + 2 * j + 50 * k + (i * j) % 17) % 256)
        base = bytearray(encode_iframe(img.astype(np.uint8), qp=20))
        pos = data.draw(st.integers(0, len(base) - 1))
        base[pos] ^= data.draw(st.integers(1, 255))
        blob = bytes(base)
    else:
        blob = data.draw(st.binary(min_size=0, max_size=160))
        if mode == "prefixed":
            blob = b"\x00\x00\x01\x67" + blob
    try:
        out = decode_iframe(blob)
        assert out["width"] <= 8192 and out["height"] <= 8192
    except (ValueError, NotImplementedError):
        pass


def test_h264_sps_dimension_bomb_rejected():
    from sparkstreaming_spark.multimodal.h264 import (
        BitReader,
        BitWriter,
        _parse_sps,
    )

    w = BitWriter()
    w.u(66, 8)
    w.u(0, 8)
    w.u(30, 8)
    w.ue(0)
    w.ue(0)
    w.ue(2)
    w.ue(1)
    w.u(0, 1)
    w.ue(100000)  # 1.6M-pixel-wide claim
    w.ue(100000)
    w.u(1, 1)
    w.u(1, 1)
    w.u(0, 1)
    w.u(0, 1)
    with pytest.raises(ValueError, match="envelope bound"):
        _parse_sps(BitReader(w.rbsp()))
