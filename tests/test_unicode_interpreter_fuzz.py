"""Differential fuzz of the unicode content-stream interpretation: OUR
two interpreter tiers (the fast tier with the parse-based exact fallback,
kernel.textextract._content_pieces) under the unicode sink
(unicode_from_content_bytes) versus the REFERENCE's SequentialParser
driving the identical interpreter logic
(tools.make_oracle.unicode_from_content), with the same font decoders.

Pins the parts byte-identity depends on across two independent tokenizer
stacks: operand stacking, reversed-operand string selection for Tj/'/\",
TJ array flattening, Tf font selection, q/Q save/restore."""

import os
import sys

import pytest
from hypothesis import given, settings, strategies as st

from pdf4py_spark.sources.corpus import REFERENCE_ROOT

if not os.path.isdir(os.path.join(REFERENCE_ROOT, "pdf4py")):
    pytest.skip("reference not available", allow_module_level=True)
sys.path.insert(0, REFERENCE_ROOT)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf4py_spark.kernel.fonts import build_font_decoder  # noqa: E402
from pdf4py_spark.kernel.textextract import (  # noqa: E402
    unicode_from_content_bytes,
)

DECODERS = {
    "F1": build_font_decoder({"encoding": "WinAnsiEncoding",
                              "differences": None, "tounicode": None,
                              "type0": False}),
    "F2": build_font_decoder({
        "encoding": None, "differences": [65, "eacute"], "type0": False,
        "tounicode": (b"begincodespacerange <00> <FF> endcodespacerange "
                      b"2 beginbfchar <61> <0041> <62> <00660066> "
                      b"endbfchar")}),
}

_lit = st.binary(max_size=12).map(
    lambda b: b"(" + b.replace(b"\\", b"\\\\")
    .replace(b"(", b"\\(").replace(b")", b"\\)") + b")")
_hex = st.binary(max_size=8).map(lambda b: b"<" + b.hex().encode() + b">")
_num = st.integers(-999, 999).map(lambda n: str(n).encode())
_name = st.sampled_from([b"/F1", b"/F2", b"/F9", b"/Nope"])
_op = st.sampled_from([b"Tj", b"'", b'"', b"q", b"Q", b"BT", b"ET",
                       b"Td", b"Tm", b"cm", b"re", b"W", b"n"])
_tf = st.tuples(st.sampled_from([b"/F1", b"/F2", b"/F9"]), _num).map(
    lambda t: t[0] + b" " + t[1] + b" Tf")
_tj_arr = st.lists(st.one_of(_lit, _hex, _num), max_size=5).map(
    lambda xs: b"[" + b" ".join(xs) + b"] TJ")

_token = st.one_of(_lit, _hex, _num, _name, _op, _tf, _tj_arr)


@settings(max_examples=300, deadline=None)
@given(st.lists(_token, max_size=25))
def test_interpreters_agree(tokens):
    content = b" ".join(tokens)
    from tools.make_oracle import unicode_from_content as ref_interp
    ours = unicode_from_content_bytes(content, DECODERS)
    ref = ref_interp(content, DECODERS)
    assert ours == ref, content
