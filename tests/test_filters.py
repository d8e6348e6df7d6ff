"""Filter golden vectors, ported from the reference suite
(/root/reference/tests/decoders_unit_tests.py, unit_tests.py:328-338)
plus new LZW vectors (the reference has no LZW — TODO.md:10), plus
in-box differential legs against the standard library (zlib, base64's
Ascii85 and binascii's hex codec) that run without the reference tree.
LZW, RunLength and the predictors have no standard-library twin: their
differential legs stay reference-only (tests/test_filters_fuzz.py)."""

import base64
import binascii
import zlib

import pytest
from hypothesis import given, settings, strategies as st

from pdf4py_spark.kernel.filters import (
    ascii85_decode, asciihex_decode, flate_decode, lzw_decode,
    run_filter_chain, runlength_decode, undo_png_predictor,
    undo_tiff_predictor,
)
from pdf4py_spark.kernel.model import UnsupportedFeatureError


def test_ascii85():
    # reference vector, decoders_unit_tests.py:10-13 (note: the quirky
    # positional loop handles the '~>' terminator by stopping at len-2)
    assert ascii85_decode(b"6Z6LH+Co%nDe*F#+@/pn8P(m!~>", {}) == \
        b"Code decodes ASCII85"


def test_runlength():
    # reference vector, decoders_unit_tests.py:16-19
    assert runlength_decode(b"\x0bHello world.\x82c", {}) == \
        b"Hello world." + 127 * b"c"


def test_asciihex():
    # reference vector, decoders_unit_tests.py:22-25
    assert asciihex_decode(b"3837635552445d692c2245626f38307e3e>", {}) == \
        b'87cURD]i,"Ebo80~>'


def test_asciihex_odd_padding():
    assert asciihex_decode(b"48656c6c6f2>", {}) == b"Hello "


def test_tiff_predictor():
    filtered = bytes([1] * 24)
    expected = bytes([1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3] * 2)
    assert undo_tiff_predictor(filtered, 3, 8, 4) == expected


def test_png_up_filter():
    # two scanlines of width 4, filter type 2 (Up)
    data = bytes([2, 1, 1, 1, 1, 2, 1, 2, 3, 4])
    out = undo_png_predictor(data, 4, 8, 1)
    assert out == bytes([1, 1, 1, 1, 2, 3, 4, 5])


def test_png_sub_filter_reference_quirk():
    # type 1 adds the FILTERED left neighbor (reference parity)
    data = bytes([1, 5, 3, 3, 3])
    out = undo_png_predictor(data, 4, 8, 1)
    assert out == bytes([5, 8, 6, 6])  # 5, 3+5, 3+3, 3+3


def test_flate_roundtrip():
    raw = b"spark shuffles arrow batches " * 10
    assert flate_decode(zlib.compress(raw), {}) == raw


def test_filter_chain_reversed_and_crypt_skipped():
    raw = b"payload"
    data = zlib.compress(raw).hex().encode() + b">"
    meta = {"Filter": ["FlateDecode", "Crypt", "ASCIIHexDecode"]}
    assert run_filter_chain(meta, data) == raw


def test_unknown_filter():
    with pytest.raises(UnsupportedFeatureError):
        run_filter_chain({"Filter": "NoSuchCodec"}, b"")


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Minimal spec-faithful LZW encoder used only to pin the decoder.

    Width management mirrors the decoder exactly: the decoder grows its
    table on every data code after the first (including the encoder's
    final flush code) and bumps the width when table_len + EarlyChange
    reaches 2^width — the standard 511/1023/2047 convention at
    EarlyChange=1.
    """
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    out_bits = []
    dec_len = 258      # decoder's table length, tracked in lockstep
    n_data_codes = 0

    def emit(code):
        out_bits.extend((code >> (width - 1 - k)) & 1 for k in range(width))

    def emit_data(code):
        nonlocal dec_len, width, n_data_codes
        emit(code)
        n_data_codes += 1
        if n_data_codes > 1:
            dec_len += 1
        if dec_len + early >= (1 << width) and width < 12:
            width += 1

    emit(256)
    cur = b""
    for b in data:
        probe = cur + bytes([b])
        if probe in table:
            cur = probe
        else:
            emit_data(table[cur])
            if next_code < 4096:   # 12-bit ceiling: freeze table when full
                table[probe] = next_code
                next_code += 1
            cur = bytes([b])
    if cur:
        emit_data(table[cur])
    emit(257)
    while len(out_bits) % 8:
        out_bits.append(0)
    return bytes(
        sum(bit << (7 - j) for j, bit in enumerate(out_bits[i:i + 8]))
        for i in range(0, len(out_bits), 8))


def test_lzw_roundtrip():
    for raw in (b"", b"A", b"TOBEORNOTTOBEORTOBEORNOT",
                b"aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
                bytes(range(256)) * 3):
        assert lzw_decode(_lzw_encode(raw), {}) == raw


def _pack9(codes):
    bits = "".join(format(c, "09b") for c in codes)
    bits += "0" * (-len(bits) % 8)
    return bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))


def test_lzw_hand_vector():
    # '---AAABBB' hand-encoded: clear, '-', 258('--'), 'A', 260('AA'),
    # 'B', 262('BB'), EOD
    encoded = _pack9([256, 45, 258, 65, 260, 66, 262, 257])
    assert lzw_decode(encoded, {}) == b"---AAABBB"


def test_lzw_code_equals_next_entry():
    # the KwKwK case: code referencing the entry being defined
    encoded = _pack9([256, 45, 258, 257])
    assert lzw_decode(encoded, {}) == b"---"


def _pack_varwidth(codes_widths):
    bits = "".join(format(c, f"0{w}b") for c, w in codes_widths)
    bits += "0" * (-len(bits) % 8)
    return bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 2 * 4))


def _literal_stream(n_codes: int, early: int):
    """Build an LZW stream of n_codes literal byte codes straight from the
    PDF-spec convention, independently of _lzw_encode: the decoder's table
    has 258 entries after CLEAR and grows by one on every literal after the
    first, so code k (1-based) is read at width w where the table length
    before it is 258 + max(k - 2, 0) and widths bump when
    table_len + EarlyChange reaches 2^w (511/1023/2047 at EarlyChange=1)."""
    out = [(256, 9)]
    width = 9
    dec_len = 258
    for k in range(1, n_codes + 1):
        out.append((k % 251, width))   # literal codes < 256
        if k > 1:
            dec_len += 1
        if dec_len + early >= (1 << width) and width < 12:
            width += 1
    out.append((257, width))
    return _pack_varwidth(out), bytes((k % 251) for k in range(1, n_codes + 1))


def test_lzw_width_bump_boundary_earlychange1():
    # 300 literals crosses the 511-entry boundary: with EarlyChange=1 the
    # decoder must switch to 10-bit reads starting at literal #255
    # (table length 511 after literal #254). pdf.js/pdfminer convention.
    encoded, expect = _literal_stream(300, early=1)
    assert lzw_decode(encoded, {"EarlyChange": 1}) == expect
    assert lzw_decode(encoded, {}) == expect  # default EarlyChange is 1


def test_lzw_width_bump_boundary_earlychange0():
    # with EarlyChange=0 the bump happens one code later (table length 512)
    encoded, expect = _literal_stream(300, early=0)
    assert lzw_decode(encoded, {"EarlyChange": 0}) == expect


def test_lzw_roundtrip_across_all_width_bumps():
    # incompressible-ish stream long enough to push the table past 2047
    import random
    rng = random.Random(7)
    raw = bytes(rng.randrange(256) for _ in range(6000))
    for early in (0, 1):
        assert lzw_decode(_lzw_encode(raw, early),
                          {"EarlyChange": early}) == raw


def test_lzw_iso32000_worked_example():
    """EXTERNAL known-answer vector (r2 verdict: every prior LZW vector
    was produced by this repo's own encoder or packed from our reading of
    the spec): ISO 32000-1 §7.4.4.2's worked example encodes the input
    45 45 45 45 45 65 45 45 45 66 as the published code sequence
    256, 45, 258, 258, 65, 259, 66, 257. Packing those codes with the
    spec's 9-bit big-endian rule gives the byte stream below — an
    artifact authored by the spec, not by our encoder — which our
    decoder must invert exactly."""
    spec_codes = [256, 45, 258, 258, 65, 259, 66, 257]
    bits = "".join(format(c, "09b") for c in spec_codes)
    bits += "0" * (-len(bits) % 8)
    encoded = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    assert encoded == bytes.fromhex("800B6050220C0C8501")  # pin the bytes
    assert lzw_decode(encoded, {}) == bytes(
        [0x2D] * 5 + [0x41] + [0x2D] * 3 + [0x42])


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=2000), st.integers(0, 9))
def test_flate_matches_zlib(raw, level):
    assert flate_decode(zlib.compress(raw, level), {}) == raw


# the kernel keeps the reference's Ascii85 quirks (no 'z' group, short
# final groups decoded positionally, leading zero bytes of a group
# dropped), so the leg draws whole 4-byte groups with a nonzero first
# byte: the domain on which the quirky loop is the standard codec
_A85_GROUPS = st.lists(
    st.tuples(st.integers(1, 255), st.binary(min_size=3, max_size=3)),
    max_size=60).map(lambda gs: b"".join(bytes([a]) + b for a, b in gs))


@settings(max_examples=100, deadline=None)
@given(_A85_GROUPS)
def test_ascii85_matches_base64(raw):
    # a PDF stream carries the body and the '~>' EOD marker, not '<~'
    encoded = base64.a85encode(raw, adobe=True)
    assert encoded.startswith(b"<~")
    assert ascii85_decode(encoded[2:], {}) == raw


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=500), st.booleans())
def test_asciihex_matches_binascii(raw, upper):
    digits = binascii.hexlify(raw)
    assert asciihex_decode((digits.upper() if upper else digits) + b">",
                           {}) == raw
