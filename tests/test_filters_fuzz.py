"""Differential fuzz for the filter kernels versus the reference decoders
(random parameters + payloads; identical outputs or identical failure).

LZW, RunLength and the PNG/TIFF predictors are differentially checked
here only, against the reference: the standard library has no twin for
them. Flate, Ascii85 and ASCIIHex also have in-box legs against zlib,
base64 and binascii in tests/test_filters.py."""

import os
import sys
import zlib

import pytest

try:
    from hypothesis import given, settings, strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

REFERENCE_ROOT = os.environ.get("PDF4PY_REFERENCE_ROOT", "/root/reference")
if not os.path.isdir(os.path.join(REFERENCE_ROOT, "pdf4py")):
    pytest.skip("reference not available", allow_module_level=True)
sys.path.insert(0, REFERENCE_ROOT)

from pdf4py import _decoders as ref_dec  # noqa: E402

from pdf4py_spark.kernel import filters as eng  # noqa: E402


def _both(ref_fn, eng_fn, *args):
    try:
        ref = ("ok", bytes(ref_fn(*args)))
    except Exception as exc:
        ref = ("err", type(exc).__name__)
    try:
        mine = ("ok", bytes(eng_fn(*args)))
    except Exception as exc:
        mine = ("err", type(exc).__name__)
    assert ref[0] == mine[0], (ref, mine)
    if ref[0] == "ok":
        assert ref[1] == mine[1]


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_ascii85_parity(data):
    _both(lambda d: ref_dec.ascii85decode(d, None),
          lambda d: eng.ascii85_decode(d, {}), data)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_runlength_parity(data):
    _both(lambda d: ref_dec.runlengthdecode(d, None),
          lambda d: eng.runlength_decode(d, {}), data)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=120))
def test_asciihex_parity(data):
    _both(lambda d: ref_dec.asciihexdecode(d, None),
          lambda d: eng.asciihex_decode(d, {}), data)


@settings(max_examples=100, deadline=None)
@given(st.integers(1, 6), st.integers(1, 3), st.integers(1, 12),
       st.data())
def test_png_predictor_parity(columns, colors, rows, payload):
    bpp = colors  # 8 bits per component
    width = columns * bpp
    data = bytearray()
    for _ in range(rows):
        data.append(payload.draw(st.integers(0, 4)))  # filter type
        data.extend(payload.draw(st.binary(min_size=width, max_size=width)))
    _both(lambda d: ref_dec.png_filter(d, columns, 8, colors),
          lambda d: eng.undo_png_predictor(d, columns, 8, colors),
          bytes(data))


@settings(max_examples=100, deadline=None)
@given(st.integers(1, 6), st.integers(1, 3), st.integers(0, 8),
       st.data())
def test_tiff_predictor_parity(columns, colors, rows, payload):
    width = columns * colors
    data = payload.draw(st.binary(min_size=rows * width,
                                  max_size=rows * width))
    _both(lambda d: bytes(ref_dec.tiff_predictor(d, columns, 8, colors)),
          lambda d: eng.undo_tiff_predictor(d, columns, 8, colors), data)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=300),
       st.integers(1, 4), st.integers(1, 2))
def test_flate_with_predictor_parity(raw, columns, colors):
    # make the payload a whole number of predictor rows of type-2 (Up)
    width = columns * colors
    usable = (len(raw) // (width + 1)) * (width + 1)
    rows = bytearray()
    for i in range(0, usable, width + 1):
        rows.append(2)
        rows.extend(raw[i + 1:i + 1 + width])
    compressed = zlib.compress(bytes(rows))
    params = {"Predictor": 12, "Columns": columns, "Colors": colors}
    _both(lambda d: ref_dec.flate_decode(d, params),
          lambda d: eng.flate_decode(d, params), compressed)
