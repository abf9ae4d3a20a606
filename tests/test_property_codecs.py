"""Property-based round-trips for the stdlib codec tier: for ANY
random image/audio payload the independent in-test encoders (defined
in test_datapipe.py — container writers + separate compressors) must
round-trip bit-exactly through the repo decoders. No Spark involved —
these are pure per-payload decode properties, so example counts can
be generous."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from test_datapipe import (
    _encode_aiff,
    _encode_au,
    _encode_bmp24,
    _encode_ppm,
)

from cdc_historical_warehouse_platform_spark.operators.multimodal import (
    aiff_decoder,
    au_decoder,
    bmp_decoder,
    ppm_decoder,
)
dims = st.tuples(st.integers(1, 33), st.integers(1, 33))


def _arr(rng_seed, h, w, c, maxval=256):
    rng = np.random.RandomState(rng_seed)
    return rng.randint(0, maxval, (h, w, c)).astype(np.uint8)


@settings(max_examples=25, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), hw=dims)
def test_bmp_ppm_roundtrip_any_size(seed, hw):
    h, w = hw
    rgb = _arr(seed, h, w, 3)
    assert np.array_equal(bmp_decoder(_encode_bmp24(rgb)), rgb)
    assert np.array_equal(ppm_decoder(_encode_ppm(rgb)), rgb)
    assert np.array_equal(ppm_decoder(_encode_ppm(rgb[:, :, :1])), rgb[:, :, :1])


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(1, 400),
    bits=st.sampled_from([8, 16, 24, 32]),
    nch=st.integers(1, 3),
    rate=st.sampled_from([8000, 11025, 16000, 22050, 44100, 48000]),
)
def test_aiff_au_roundtrip_any_width(seed, n, bits, nch, rate):
    rng = np.random.RandomState(seed)
    lim = 1 << (bits - 1)
    vals = rng.randint(-lim, lim, n * nch, dtype=np.int64)
    if bits == 8:
        raw = vals.astype(np.int8).tobytes()
    elif bits == 16:
        raw = vals.astype(np.int16).astype(">i2").tobytes()
    elif bits == 24:
        raw = b"".join(int(v).to_bytes(3, "big", signed=True) for v in vals)
    else:
        raw = vals.astype(np.int32).astype(">i4").tobytes()
    want = (vals / lim).reshape(-1, nch).mean(axis=1)

    w, sr = aiff_decoder(_encode_aiff(raw, nch, bits, rate))
    assert sr == rate
    assert np.allclose(w, want, atol=0, rtol=0)

    au_enc = {8: 2, 16: 3, 24: 4, 32: 5}[bits]
    w2, sr2 = au_decoder(_encode_au(raw, au_enc, rate, nch))
    assert sr2 == rate
    assert np.array_equal(w, w2)


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    kind=st.sampled_from(["bmp", "ppm", "aiff", "au"]),
    n_flips=st.integers(1, 12),
)
def test_decoders_survive_random_corruption(seed, kind, n_flips):
    """Bit-flip fuzz: corrupting a valid payload must either still
    decode (the flip hit pixel data) or raise a clean parse-class
    error — never hang, loop, or escape with an unexpected crash."""
    rng = np.random.RandomState(seed)
    h, w = 9, 7
    if kind == "bmp":
        payload, dec = _encode_bmp24(_arr(seed, h, w, 3)), bmp_decoder
    elif kind == "ppm":
        payload, dec = _encode_ppm(_arr(seed, h, w, 3)), ppm_decoder
    elif kind == "aiff":
        raw = rng.randint(-32768, 32768, 40).astype(">i2").tobytes()
        payload, dec = _encode_aiff(raw, 1, 16, 8000), aiff_decoder
    elif kind == "au":
        raw = rng.randint(-32768, 32768, 40).astype(">i2").tobytes()
        payload, dec = _encode_au(raw, 3, 8000, 1), au_decoder

    corrupted = bytearray(payload)
    for _ in range(n_flips):
        corrupted[rng.randint(0, len(corrupted))] ^= 1 << rng.randint(0, 8)
    try:
        dec(bytes(corrupted))
    except (ValueError, IndexError, OverflowError, MemoryError) as e:
        if isinstance(e, MemoryError):
            raise AssertionError("corruption triggered unbounded allocation")
    except Exception as e:  # struct.error subclasses Exception, not ValueError
        import struct as s
        import zlib

        assert isinstance(e, (s.error, zlib.error)), (
            f"unexpected {type(e).__name__}: {e}"
        )


@settings(max_examples=20, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    hw=st.tuples(st.integers(1, 24), st.integers(1, 24)),
    channels=st.sampled_from([1, 3, 4]),
    rle=st.booleans(),
    top_down=st.booleans(),
)
def test_tga_roundtrip_any_shape(seed, hw, channels, rle, top_down):
    from test_datapipe import _encode_tga

    from cdc_historical_warehouse_platform_spark.operators.multimodal import tga_decoder

    h, w = hw
    arr = _arr(seed, h, w, channels)
    got = tga_decoder(_encode_tga(arr, rle=rle, top_down=top_down))
    assert np.array_equal(got, arr)


@settings(max_examples=20, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    hw=st.tuples(st.integers(1, 20), st.integers(1, 20)),
    bpp=st.sampled_from([32, 24, 8, 4, 1]),
)
def test_ico_roundtrip_any_depth(seed, hw, bpp):
    from test_datapipe import _encode_ico

    from cdc_historical_warehouse_platform_spark.operators.multimodal import ico_decoder

    h, w = hw
    rng = np.random.RandomState(seed)
    alpha = rng.rand(h, w) > 0.4
    if bpp >= 24:
        rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        pay = _encode_ico([{"rgb": rgb, "alpha": alpha, "bpp": bpp}])
        want = rgb
    else:
        n = 1 << min(bpp, 4)
        pal = rng.randint(0, 256, (n, 3)).astype(np.uint8)
        idx = rng.randint(0, n, (h, w)).astype(np.uint8)
        pay = _encode_ico([{"idx": idx, "pal": pal, "alpha": alpha, "bpp": bpp}])
        want = pal[idx]
    out = ico_decoder(pay)
    assert np.array_equal(out[:, :, :3], want)
    assert np.array_equal(out[:, :, 3] == 255, alpha)


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), n_flips=st.integers(1, 10))
def test_warc_and_xlsx_parsers_survive_corruption(seed, n_flips):
    """The ingestion parsers get the same bit-flip fuzz contract as
    the codecs: decode or raise a clean parse-class error, never hang
    or escape with an unexpected crash."""
    import zipfile as zfmod
    from xml.etree.ElementTree import ParseError

    from test_raw_docs import _write_warc
    from test_xlsx import _write_xlsx

    from cdc_historical_warehouse_platform_spark.sources.raw_docs import (
        iter_warc_records,
    )
    from cdc_historical_warehouse_platform_spark.sources.xlsx import parse_xlsx

    rng = np.random.RandomState(seed)
    warc = _write_warc(
        [("response", "http://x.example/p", b"<p>body text</p>", "text/html")],
        gz=bool(seed % 2),
    )
    import os
    import tempfile
    fd, tmp = tempfile.mkstemp(suffix=".xlsx")
    os.close(fd)
    try:
        _write_xlsx(tmp, {"s": '<row r="1"><c r="A1"><v>1</v></c></row>'})
        xlsx = open(tmp, "rb").read()
    finally:
        os.unlink(tmp)

    for payload, parser in ((warc, lambda b: list(iter_warc_records(b))),
                            (xlsx, parse_xlsx)):
        corrupted = bytearray(payload)
        for _ in range(n_flips):
            corrupted[rng.randint(0, len(corrupted))] ^= 1 << rng.randint(0, 8)
        try:
            parser(bytes(corrupted))
        except (ValueError, IndexError, KeyError, EOFError, OverflowError,
                UnicodeDecodeError, ParseError, zfmod.BadZipFile) as _e:
            pass
        except Exception as e:
            import struct as s
            import zlib

            assert isinstance(e, (s.error, zlib.error)), (
                f"unexpected {type(e).__name__}: {e}"
            )
