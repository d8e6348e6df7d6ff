"""Font/encoding decode layer (kernel.fonts) + the unicode byte-identity
differential: our kernel vs the reference-parsed oracle (both run the SAME
decode algorithm; parsing stacks are independent)."""

import hashlib
import json
import os

from pdf4py_spark.kernel.fonts import (
    base_encoding_table, build_font_decoder, glyph_to_unicode,
    parse_tounicode,
)

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


def test_glyph_names():
    assert glyph_to_unicode("a") == "a"
    assert glyph_to_unicode("space") == " "
    assert glyph_to_unicode("eacute") == "é"
    assert glyph_to_unicode("Adieresis") == "Ä"
    assert glyph_to_unicode("quoteright") == "’"
    assert glyph_to_unicode("uni20AC") == "€"
    assert glyph_to_unicode("fi") == "ﬁ"
    assert glyph_to_unicode("nosuchglyphname") is None


def test_base_encodings():
    win = base_encoding_table("WinAnsiEncoding")
    assert win[0xE9] == "é" and win[0x93] == "“"  # cp1252
    mac = base_encoding_table("MacRomanEncoding")
    assert mac[0x8E] == "é"
    std = base_encoding_table("StandardEncoding")
    assert std[0x27] == "’" and std[0x60] == "‘"
    assert std[0xAE] == "ﬁ"  # fi ligature


def test_tounicode_cmap_bfchar_and_bfrange():
    cmap_src = b"""
    /CIDInit /ProcSet findresource begin
    begincodespacerange <00> <FF> endcodespacerange
    2 beginbfchar
    <01> <0041>
    <02> <00660066>
    endbfchar
    1 beginbfrange
    <10> <12> <0061>
    endbfrange
    endcmap
    """
    cmap = parse_tounicode(cmap_src)
    assert cmap.decode(b"\x01") == "A"
    assert cmap.decode(b"\x02") == "ff"
    assert cmap.decode(b"\x10\x11\x12") == "abc"
    assert cmap.decode(b"\x99") == "�"


def test_tounicode_two_byte_codespace():
    cmap_src = b"""
    begincodespacerange <0000> <FFFF> endcodespacerange
    1 beginbfchar <0041> <0058> endbfchar
    """
    cmap = parse_tounicode(cmap_src)
    assert cmap.decode(b"\x00\x41") == "X"
    assert cmap.decode(b"\x00\x42") == "�"


def test_bfrange_array_destination():
    cmap_src = b"""
    begincodespacerange <00> <FF> endcodespacerange
    1 beginbfrange <05> <07> [<0078> <0079> <007A>] endbfrange
    """
    cmap = parse_tounicode(cmap_src)
    assert cmap.decode(b"\x05\x06\x07") == "xyz"


def test_differences_override_base():
    dec = build_font_decoder({"encoding": "WinAnsiEncoding",
                              "differences": [65, "eacute", "space"],
                              "tounicode": None, "type0": False})
    assert dec(b"A") == "é"     # 65 remapped
    assert dec(b"B") == " "     # 66 remapped (consecutive)
    assert dec(b"C") == "C"     # untouched -> base encoding


def test_type0_without_tounicode_is_replacement_per_2byte_code():
    dec = build_font_decoder({"type0": True, "encoding": None,
                              "differences": None, "tounicode": None})
    assert dec(b"\x00\x41\x00\x42") == "��"


def test_unicode_byte_identity_vs_reference_oracle():
    """THE unicode invariant: kernel unicode extraction is byte-identical
    to the oracle built over the reference parser for every parse_ok doc."""
    from pdf4py_spark.kernel.extract import extract_document
    from pdf4py_spark.sources.corpus import corpus_rows, password_for

    manifest = json.load(open(os.path.join(GOLDEN_DIR, "manifest.json")))
    payloads = {u: p for u, _t, p, _x, _l in corpus_rows()}
    checked = 0
    for url, entry in manifest.items():
        if not entry.get("parse_ok"):
            continue
        r = extract_document(payloads[url], password_for(url),
                             text_mode="unicode")
        assert r.status == "ok", (url, r.error)
        got = hashlib.sha256(r.extracted).hexdigest()
        assert got == entry["unicode_sha256"], url
        checked += 1
    assert checked >= 20


def test_zero_length_codespace_does_not_loop():
    cmap = parse_tounicode(b"begincodespacerange <> <> endcodespacerange"
                           b" 1 beginbfchar <41> <0042> endbfchar")
    assert cmap.decode(b"A\x00") == "B�"


def test_bfrange_span_is_capped():
    """Hostile-input bound (ADVICE r2): a tiny CMap declaring
    <00000000>..<3fffff> (4.2M entries) or ..<ffffffff> (~4B) must clamp to
    MAX_BFRANGE_SPAN entries and return promptly instead of grinding/OOMing
    an executor."""
    import time
    from pdf4py_spark.kernel.fonts import MAX_BFRANGE_SPAN

    cmap_src = (b"begincodespacerange <00000000> <ffffffff>"
                b" endcodespacerange 1 beginbfrange"
                b" <00000000> <ffffffff> <00410041> endbfrange")
    t0 = time.monotonic()
    cmap = parse_tounicode(cmap_src)
    assert time.monotonic() - t0 < 5.0
    assert len(cmap.maps) == MAX_BFRANGE_SPAN + 1
    # mapped region decodes, clamped region falls back to replacement
    assert cmap.decode(b"\x00\x00\x00\x00") == "AA"
    assert cmap.decode(b"\x7f\x00\x00\x00") == "�"


def test_total_cmap_entries_capped():
    from pdf4py_spark.kernel.fonts import MAX_CMAP_ENTRIES

    n_ranges = MAX_CMAP_ENTRIES // 0x10000 + 2
    body = b" ".join(
        b"<%08x> <%08x> <0041>" % (k << 20, (k << 20) + 0xFFFFF)
        for k in range(n_ranges))
    cmap = parse_tounicode(b"begincodespacerange <00000000> <ffffffff>"
                           b" endcodespacerange " + str(n_ranges).encode()
                           + b" beginbfrange " + body + b" endbfrange")
    assert len(cmap.maps) <= MAX_CMAP_ENTRIES


def test_truncated_bfrange_keeps_earlier_mappings():
    """ADVICE r2 low: a CMap cut off mid-bfrange used to raise IndexError,
    and build_font_decoder then discarded ALL earlier mappings."""
    cmap = parse_tounicode(b"2 beginbfchar <01> <0041> <02> <0042> endbfchar"
                           b" 1 beginbfrange <10> <12>")  # truncated here
    assert cmap.decode(b"\x01\x02") == "AB"
    dec = build_font_decoder({
        "tounicode": b"1 beginbfchar <41> <00E9> endbfchar"
                     b" 9 beginbfrange <50>",
        "encoding": None, "differences": None, "type0": False})
    assert dec(b"A") == "é"  # partial CMap survives, not base-encoding A


def test_build_font_decoder_total_on_garbage():
    """Totality: arbitrary ToUnicode bytes and any encoding name must
    yield a working decoder (the quarantine contract reaches down here)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=300),
           st.sampled_from([None, "WinAnsiEncoding", "MacRomanEncoding",
                            "StandardEncoding", "NoSuchEncoding"]),
           st.booleans())
    def check(tounicode, enc, type0):
        dec = build_font_decoder({"tounicode": tounicode, "encoding": enc,
                                  "differences": [0, "eacute", 300, "x"],
                                  "type0": type0})
        out = dec(b"\x00\x01 abc\xff\xfe")
        assert isinstance(out, str)

    check()


def test_font_census_line_canonicalization():
    """The shared formatter must be total over messy font dicts (missing
    or non-name Subtype/BaseFont, absent/name/dict Encoding) — both
    parser stacks feed it raw resolved objects."""
    from pdf4py_spark.kernel.fonts import font_census_line

    assert font_census_line(
        "F1", {"Subtype": "Type1", "BaseFont": "Helvetica"},
        "WinAnsiEncoding", False) == \
        "F1|Type1|Helvetica|WinAnsiEncoding|"
    assert font_census_line(
        "F2", {"Subtype": "Type0", "BaseFont": "ABCDEF+NotoSans"},
        "Identity-H", True) == \
        "F2|Type0|ABCDEF+NotoSans|Identity-H|tounicode"
    # dict encoding collapses to a marker; junk fields drop to empty
    assert font_census_line(
        "F3", {"Subtype": 42, "BaseFont": [1, 2]},
        {"BaseEncoding": "MacRomanEncoding"}, False) == "F3|||<dict>|"
    assert font_census_line("F4", {}, None, False) == "F4||||"


def test_doc_metadata_decodes_info_and_counts_annots():
    """K49 rules pinned independently of the reference corpus: UTF-16BE
    BOM titles decode, PDFDoc/latin-1 fallback applies, pipes in values
    are escaped, missing keys are empty, and /Annots arrays are counted
    across pages."""
    from pdf4py_spark.kernel.docmeta import metadata_line
    from pdf4py_spark.kernel.parser import DocumentParser
    from pdf4py_spark.kernel.textextract import doc_metadata

    title_utf16 = b"\xfe\xff" + "Schrödinger".encode("utf-16-be")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (b"<< /Type /Page /Parent 2 0 R "
         b"/Annots [<< /Subtype /Link >> << /Subtype /Text >>] >>"),
        b"<< /Title (" + title_utf16.replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(").replace(b")", b"\\)")
        + b") /Author (a|b) /Producer <414243> >>",
    ]
    out = bytearray(b"%PDF-1.6\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += ("%d 0 obj\n" % i).encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += ("xref\n0 %d\n" % (len(objs) + 1)).encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += ("%010d 00000 n \n" % off).encode()
    out += ("trailer\n<< /Size %d /Root 1 0 R /Info 4 0 R >>\n"
            "startxref\n%d\n%%%%EOF" % (len(objs) + 1, xref_at)).encode()

    line = doc_metadata(DocumentParser(bytes(out)))
    assert line == ("Schrödinger|a\\x7cb|||ABC|||2")
    # formatter round-trip sanity: same inputs, same line
    assert line == metadata_line(
        {"Title": title_utf16, "Author": b"a|b", "Producer": b"ABC"}, 2)


def test_doc_links_census():
    """K50 outlinks: the synthesized fixture carries two Link/URI
    annotations; both collected, sorted distinct census line."""
    from pdf4py_spark.kernel.parser import DocumentParser
    from pdf4py_spark.kernel.textextract import doc_links
    from pdf4py_spark.sources.synthpdf import identity_h_pdf

    n, line = doc_links(DocumentParser(identity_h_pdf()))
    assert n == 2
    assert line == "https://example.org/a\nhttps://example.org/b"


def test_doc_xmp_absent_and_present():
    """K51: absent /Metadata -> (0, ''); the reference corpus leg (12
    docs with packets, byte-identical across stacks) is covered by the
    gated query + tools/make_oracle differential."""
    from pdf4py_spark.kernel.parser import DocumentParser
    from pdf4py_spark.kernel.textextract import doc_xmp
    from pdf4py_spark.sources.synthpdf import identity_h_pdf

    assert doc_xmp(DocumentParser(identity_h_pdf())) == (0, "")
    from pdf4py_spark.sources.corpus import corpus_rows

    sample = {u: p for u, _t, p, _x, _l in corpus_rows()}[
        "crawl://pdfs/0003.pdf"]
    n, digest = doc_xmp(DocumentParser(sample))
    assert n > 0 and len(digest) == 32


def _outline_pdf(outline_objs, n_outline_start=4):
    """Hand-built PDF: catalog -> /Outlines 4 0 R, plus the caller's
    outline node objects starting at object 4."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R /Outlines 4 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R >>",
    ] + outline_objs
    out = bytearray(b"%PDF-1.6\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += ("%d 0 obj\n" % i).encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += ("xref\n0 %d\n" % (len(objs) + 1)).encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += ("%010d 00000 n \n" % off).encode()
    out += ("trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
            % (len(objs) + 1, xref_at)).encode()
    return bytes(out)


def test_doc_outline_document_order_and_depth():
    """K52 walk order: child subtree before next sibling, depth
    recorded; UTF-16BE titles decoded."""
    from pdf4py_spark.kernel.parser import DocumentParser
    from pdf4py_spark.kernel.textextract import doc_outline

    uni_title = b"\xfe\xff" + "Résumé".encode("utf-16-be")
    pdf = _outline_pdf([
        b"<< /Type /Outlines /First 5 0 R /Last 7 0 R >>",      # 4
        b"<< /Title (Ch 1) /Next 7 0 R /First 6 0 R >>",        # 5
        b"<< /Title (" + uni_title.replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(").replace(b")", b"\\)") + b") >>",  # 6
        b"<< /Title (Ch 2) >>",                                  # 7
    ])
    n, line = doc_outline(DocumentParser(pdf))
    assert n == 3
    assert line == "0|Ch 1\n1|Résumé\n0|Ch 2"


def test_doc_outline_cycle_terminates():
    """Hostile outline: Next pointing back to the first node must
    terminate via the visited set with partial output, not hang."""
    from pdf4py_spark.kernel.parser import DocumentParser
    from pdf4py_spark.kernel.textextract import doc_outline

    pdf = _outline_pdf([
        b"<< /Type /Outlines /First 5 0 R >>",                   # 4
        b"<< /Title (A) /Next 6 0 R >>",                          # 5
        b"<< /Title (B) /Next 5 0 R >>",  # cycle back to 5       # 6
    ])
    n, line = doc_outline(DocumentParser(pdf))
    assert n == 2 and line == "0|A\n0|B"


# --- round 5: predefined CMaps, symbolic TrueType, PDFDocEncoding, XMP fields ------

def test_predefined_cmap_decoders_unit():
    """Registry decode semantics pinned directly: UCS2 = BMP code units
    (lone surrogates/odd tails -> U+FFFD), UTF16 = surrogate pairs,
    legacy registries = exact stdlib codec bytes."""
    from pdf4py_spark.kernel.fonts import predefined_cmap_decoder

    ucs2 = predefined_cmap_decoder("UniGB-UCS2-H")
    assert ucs2("中文".encode("utf-16-be")) == "中文"
    assert ucs2(b"\xd8\x00\x00A") == "�A"     # lone surrogate half
    assert ucs2(b"\x00A\x42") == "A�"          # odd trailing byte
    utf16 = predefined_cmap_decoder("UniJIS-UTF16-V")
    assert utf16("a\U00020BB7".encode("utf-16-be")) == "a\U00020BB7"
    assert predefined_cmap_decoder("GBK-EUC-H")(
        "汉字ok".encode("gbk")) == "汉字ok"
    assert predefined_cmap_decoder("90ms-RKSJ-H")(
        "日本語".encode("cp932")) == "日本語"
    assert predefined_cmap_decoder("KSCms-UHC-HW-V")(
        "한국".encode("cp949")) == "한국"
    assert predefined_cmap_decoder("ETen-B5-H")(
        "繁體".encode("cp950")) == "繁體"
    # unknown registries and non-names stay on the U+FFFD policy
    assert predefined_cmap_decoder("90pv-RKSJ-H") is None
    assert predefined_cmap_decoder(None) is None


def test_type0_predefined_cmap_beats_fffd_but_not_tounicode():
    """Dispatch order: ToUnicode (when present) still wins; without it
    a known registry name decodes, an unknown one keeps U+FFFD/code."""
    dec = build_font_decoder(
        {"type0": True, "cmap_name": "UniKS-UCS2-H"})
    assert dec("한국".encode("utf-16-be")) == "한국"
    unknown = build_font_decoder(
        {"type0": True, "cmap_name": "Ext-RKSJ-H"})
    assert unknown(b"\x00A\x00B") == "��"
    tu = (b"begincodespacerange <0000> <FFFF> endcodespacerange\n"
          b"1 beginbfchar <D6D0> <0058> endbfchar")
    both = build_font_decoder(
        {"type0": True, "cmap_name": "UniGB-UCS2-H", "tounicode": tu})
    assert both(b"\xd6\xd0") == "X"


def test_predefined_cmap_fixture_end_to_end():
    """The synthesized per-registry fixture through OUR full stack: all
    seven cases (2 Uni*, 4 legacy codecs, 1 unknown-registry fallback)
    in one page."""
    from pdf4py_spark.kernel.parser import DocumentParser
    from pdf4py_spark.kernel.textextract import extract_pdf_text_unicode
    from pdf4py_spark.sources.synthpdf import (
        EXPECTED_CMAP_TEXT, predefined_cmap_pdf,
    )

    doc = DocumentParser(predefined_cmap_pdf())
    assert extract_pdf_text_unicode(doc).decode("utf-8") \
        == EXPECTED_CMAP_TEXT


def test_symbolic_truetype_fixture_end_to_end():
    """r4 verdict #5: the SYMBOLIC font's bytes resolve through the
    embedded (3,0)+(3,1) cmap chain to symbols; the NONSYMBOLIC font
    over the same program and bytes keeps StandardEncoding."""
    from pdf4py_spark.kernel.parser import DocumentParser
    from pdf4py_spark.kernel.textextract import extract_pdf_text_unicode
    from pdf4py_spark.sources.synthpdf import (
        EXPECTED_SYMBOLIC_TEXT, symbolic_tt_pdf,
    )

    doc = DocumentParser(symbolic_tt_pdf())
    assert extract_pdf_text_unicode(doc).decode("utf-8") \
        == EXPECTED_SYMBOLIC_TEXT


def test_symbolic_font_without_unicode_subtable_is_fffd():
    """A font exposing ONLY a (3,0) symbol subtable has no Unicode
    semantics — every code must be U+FFFD, not guessed."""
    import struct as _struct

    from pdf4py_spark.sources.synthpdf import _cmap_format4, _sfnt

    sym_only = _cmap_format4({0xF041: 1})
    cmap = _struct.pack(">HH", 0, 1) + \
        _struct.pack(">HHI", 3, 0, 12) + sym_only
    font = _sfnt({"cmap": cmap})
    dec = build_font_decoder({"symbolic": True, "fontfile": font})
    assert dec(b"AB") == "��"


def test_pdfdoc_encoding_exact():
    """r4 verdict #2, pinned OUTSIDE the shared-formatter gate (a shared
    decode bug is invisible to the two-stack compare): the Annex D
    punctuation/accent code points decode to their exact Unicode."""
    from pdf4py_spark.kernel.docmeta import decode_text_string

    assert decode_text_string(b"\x80 and \x81\x82") == "• and †‡"
    assert decode_text_string(b"A\x84B\x85C") == "A—B–C"   # dashes
    assert decode_text_string(b"\x8d\x90quote\x8e") == "“’quote”"
    assert decode_text_string(b"\x93n \x94y") == "ﬁn ﬂy"  # fi fl
    assert decode_text_string(b"\x18\x19\x1a\x1b\x1c\x1d\x1e\x1f") == \
        "˘ˇˆ˙˝˛˚˜"
    assert decode_text_string(b"\xa0 1") == "€ 1"               # euro
    assert decode_text_string(b"\x95\x96\x97\x98\x99\x9a\x9b\x9c\x9d\x9e") \
        == "ŁŒŠŸŽıłœšž"
    # ASCII and upper latin-1 stay identity; undefined slots stay total
    assert decode_text_string(b"plain ASCII-1.7") == "plain ASCII-1.7"
    assert decode_text_string(bytes([0xE9, 0xFC])) == "éü"
    assert len(decode_text_string(bytes(range(256)))) == 256


def test_links_line_is_injective_on_newline_uris():
    """r4 advice #2: a URI containing a raw newline must not collide
    with two separate URIs in the canonical census."""
    from pdf4py_spark.kernel.docmeta import links_line

    joined = links_line(["http://a/\nhttp://b/"])
    split = links_line(["http://a/", "http://b/"])
    assert joined != split
    assert "\\n" in joined and "\n" not in joined.split("\n", 1)[0]


def test_xmp_fields_scan_bounded_and_entity_safe():
    """K53 scan rules: rdf:li items in document order, bare element
    text accepted, only character-level entity decode (named table of
    5 + capped numerics — no expansion), item count capped, garbage
    tolerated."""
    from pdf4py_spark.kernel.docmeta import (
        MAX_XMP_ITEMS, xmp_fields, xmp_fields_line,
    )

    pkt = ("<dc:title><rdf:Alt><rdf:li>T &amp; x &#65; &#x42;</rdf:li>"
           "</rdf:Alt></dc:title>"
           "<dc:creator>Solo Author</dc:creator>").encode()
    got = xmp_fields(pkt)
    assert got == [("dc:title", 0, "T & x A B"),
                   ("dc:creator", 0, "Solo Author")]
    # undefined named entity left verbatim; huge/surrogate numerics FFFD
    pkt2 = b"<dc:title>&bogus; &#x110000; &#xD800;</dc:title>"
    assert xmp_fields(pkt2) == [
        ("dc:title", 0, "&bogus; � �")]
    many = b"<dc:creator><rdf:Seq>" + \
        b"".join(b"<rdf:li>a%d</rdf:li>" % i for i in range(200)) + \
        b"</rdf:Seq></dc:creator>"
    assert len(xmp_fields(many)) == MAX_XMP_ITEMS
    assert xmp_fields(b"\xff\xfe garbage < dc:title") == []
    # canonical line escapes pipes/newlines inside values
    line = xmp_fields_line([("dc:title", 0, "a|b\nc")])
    assert line == "dc:title|0|a\\x7cb\\nc"


def test_xmp_fields_fixture_both_stacks():
    """The synthesized packet (entities + Alt/Seq containers + CJK)
    through OUR parser matches the pinned expectation; the reference-
    parser twin is tools/make_oracle.oracle_doc_xmp_fields via the
    gated query."""
    from pdf4py_spark.kernel.docmeta import xmp_fields_line
    from pdf4py_spark.kernel.parser import DocumentParser
    from pdf4py_spark.kernel.textextract import doc_xmp_fields
    from pdf4py_spark.sources.synthpdf import (
        EXPECTED_XMP_FIELDS, predefined_cmap_pdf,
    )

    n, line = doc_xmp_fields(DocumentParser(predefined_cmap_pdf()))
    assert n == len(EXPECTED_XMP_FIELDS)
    assert line == xmp_fields_line(EXPECTED_XMP_FIELDS)


def test_symbol_builtin_encoding():
    """A Symbol-BaseFont simple font with no /Encoding, /Differences, or
    /ToUnicode decodes through the built-in Symbol vector (Greek at the
    letter positions — NOT StandardEncoding), subset prefixes stripped;
    unmapped extender glyphs stay U+FFFD."""
    dec = build_font_decoder({"basefont": "FEGJIP+Symbol"})
    assert dec(b"abgd") == "αβγδ"
    assert dec(b"S=pr\xd7h") == "Σ=πρ⋅η"
    assert dec(b"\x22x \xce A") == "∀ξ ∈ Α"   # 0x78 IS xi in Symbol
    assert dec(b"\xbd") == "�"          # extender piece: unmapped
    # a NON-Symbol basefont keeps StandardEncoding
    assert build_font_decoder({"basefont": "Helvetica"})(b"abg") == "abg"
    # symbolic flag with no program and no builtin: honest U+FFFD
    assert build_font_decoder({"symbolic": True})(b"ab") == "��"


def test_zapf_dingbats_builtin_encoding():
    """ZapfDingbats without /Encoding or /ToUnicode: the U+2700-block
    sequential rule with its Unicode-1.0 exceptions, ornamental
    brackets, card suits, and the circled-digit series."""
    dec = build_font_decoder({"basefont": "LKECKL+ZapfDingbats"})
    assert dec(b"\x21\x22") == "✁✂"            # scissors
    assert dec(b"\x33\x34") == "✓✔"            # check marks
    assert dec(b"\x25") == "☎"                 # telephone exception
    assert dec(b"\x2a\x2b") == "☛☞"            # pointing hands
    assert dec(b"\x48") == "★"                 # black star exception
    assert dec(b"\x6c\x6e") == "●■"            # geometric exceptions
    assert dec(b"\x80\x8d") == "❨❵"            # ornamental brackets
    assert dec(b"\xa8\xa9\xaa\xab") == "♣♦♥♠"  # suits
    assert dec(b"\xac\xb5") == "①⑩"            # circled digits
    assert dec(b"\xb6\xbf") == "❶❿"
    assert dec(b"\xd5\xd6\xd7") == "→↔↕"
    assert dec(b"\x8e") == "�"                 # unmapped slot stays FFFD


def test_new_decode_surfaces_total_on_garbage():
    """Totality fuzz over the round-5 surfaces: predefined CMap
    decoders, the symbolic-table builder, the builtin dispatch, and the
    XMP field scan must never raise on arbitrary bytes (the quarantine
    contract reaches down here)."""
    from hypothesis import given, settings, strategies as st

    from pdf4py_spark.kernel.docmeta import xmp_fields
    from pdf4py_spark.kernel.fonts import (
        PREDEFINED_CMAP_DECODERS, _symbolic_table,
    )

    decoders = sorted(PREDEFINED_CMAP_DECODERS)

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=400), st.sampled_from(decoders),
           st.sampled_from([None, "Symbol", "ZapfDingbats",
                            "ABCDEF+Symbol", "NoSuch"]))
    def check(data, cmap_base, basefont):
        out = PREDEFINED_CMAP_DECODERS[cmap_base](data)
        assert isinstance(out, str)
        dec = build_font_decoder({"basefont": basefont,
                                  "symbolic": len(data) % 2 == 0,
                                  "fontfile": data or None})
        assert isinstance(dec(data), str)
        assert isinstance(_symbolic_table(data), dict)
        fields = xmp_fields(data)
        assert isinstance(fields, list) and len(fields) <= 3 * 64

    check()


def test_type1c_cff_builtin_encoding():
    """K57: a simple Type1 font with ONLY a bare-CFF program decodes
    through the CFF built-in encoding chain (code -> gid -> SID ->
    name -> AGL); unknown glyph names stay U+FFFD; CID-keyed and
    predefined-encoding programs raise the typed error."""
    import pytest as _pytest

    from pdf4py_spark.kernel.cff import (
        CffError, code_to_unicode_type1c, parse_dict, parse_index,
    )
    from pdf4py_spark.kernel.parser import DocumentParser
    from pdf4py_spark.kernel.textextract import extract_pdf_text_unicode
    from pdf4py_spark.sources.synthpdf import (
        EXPECTED_TYPE1C, make_type1c, type1c_pdf,
    )

    assert code_to_unicode_type1c(make_type1c()) == {
        0x41: "Δ", 0x42: "é", 0x43: "a"}
    doc = DocumentParser(type1c_pdf())
    assert extract_pdf_text_unicode(doc).decode("utf-8") \
        == EXPECTED_TYPE1C
    # hostile/unsupported inputs raise typed errors, never crash
    with _pytest.raises(CffError):
        code_to_unicode_type1c(b"")
    with _pytest.raises(CffError):
        code_to_unicode_type1c(b"\x01\x00\x04\x04" + b"\x00" * 4)
    # DICT parser golden: int encodings across all 5 forms
    d = parse_dict(b"\x8b\x0f")                  # 139-139=0 -> op 15
    assert d == {15: [0]}
    d = parse_dict(b"\x1d\x00\x00\x30\x39\x11")  # int32 12345 -> op 17
    assert d == {17: [12345]}
    items, _ = parse_index(b"\x00\x00", 0)
    assert items == []


def test_cff_total_on_garbage():
    from hypothesis import given, settings, strategies as st

    from pdf4py_spark.kernel.cff import CffError, code_to_unicode_type1c

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=300))
    def check(data):
        try:
            out = code_to_unicode_type1c(data)
            assert isinstance(out, dict)
        except CffError:
            pass

    check()
