"""Pin the fast content-stream interpreter (textextract._text_fast)
against the parse-based exact interpreter (_text_exact).

_content_pieces runs the fast tier and, on ``_FallBack``, re-runs
_text_exact; both return ``(pieces, fonts)`` — the shown strings and the
Tf/q/Q font events — which the raw and the unicode sink consume. The fast
tier is an operator matcher (one regex match per operator) that hands the
rest of a stream over to the token loop (_text_tokens) where its match
fails. So a bail is correct by construction and the only correctness
surface is the non-bail path. These tests check that:

* on every stream the fast tier accepts it returns exactly what
  _text_exact returns (or raises the same exception) — four hand-picked
  edge-case lists, two deterministic fuzz generators and mutated windows
  of the committed corpus's content streams;
* the constructs it does not replicate bail instead of diverging, and a
  bail that ends in a lexical error raises _text_exact's exception (type
  and message) from the public entry point, since that exception is what
  quarantines the document;
* it accepts every content stream of the committed corpus in both text
  modes, and the operator matcher consumes each one without handing over
  to the token loop, so an edit that starts bailing or narrows the
  matcher on real content fails here instead of only running slower;
* the unicode sink applies the font events (a hand-checked case).

Longer soaks of the generators run off-CI by changing the seed and the
trial count."""

import random

import pyarrow.parquet as pq
import pytest

import pdf4py_spark.kernel.textextract as TE
from pdf4py_spark.kernel.extract import extract_document
from pdf4py_spark.sources.corpus import FIXTURE_PAGES, PASSWORDS


def _outcome(fn, data: bytes):
    """('ok', result) or (exception type name, message)."""
    try:
        return ("ok", fn(data))
    except Exception as exc:  # noqa: BLE001 - comparing outcomes
        return (type(exc).__name__, str(exc))


def _fast_outcome(data: bytes):
    """_outcome of the fast tier, or None when it bails (production
    re-runs _text_exact then)."""
    try:
        return ("ok", TE._text_fast(data))
    except TE._FallBack:
        return None
    except Exception as exc:  # noqa: BLE001 - comparing outcomes
        return (type(exc).__name__, str(exc))


def _mismatches(inputs):
    """(data, fast, exact) for every accepted input whose outcome differs
    from _text_exact's, and the number of accepted inputs."""
    out = []
    accepted = 0
    for data in inputs:
        got = _fast_outcome(data)
        if got is None:
            continue
        accepted += 1
        want = _outcome(TE._text_exact, data)
        if got != want:
            out.append((data, got, want))
    return out, accepted


@pytest.fixture
def handovers(monkeypatch):
    """Records the position of every handover from the operator matcher
    to the token loop."""
    seen = []
    real = TE._text_tokens

    def spy(data, pos, *state):
        seen.append(pos)
        return real(data, pos, *state)

    monkeypatch.setattr(TE, "_text_tokens", spy)
    return seen


@pytest.fixture(scope="module")
def corpus_streams():
    """mode -> every content stream (inline images excised) that the
    extraction of the committed corpus interprets in that text mode."""
    table = pq.read_table(FIXTURE_PAGES, columns=["url", "html"])
    rows = list(zip(*(col.to_pylist() for col in table.columns)))
    real = TE._content_pieces
    out = {}
    for mode in ("raw", "unicode"):
        streams = out[mode] = []

        def spy(content):
            streams.append(TE.excise_inline_images(content))
            return real(content)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(TE, "_content_pieces", spy)
            for url, payload in rows:
                extract_document(payload, PASSWORDS.get(url), text_mode=mode)
    return out


EDGE_CASES = [
    # show op whose effect must survive a trailing EOF (StopIteration
    # delivers the operator; a TokenError does not)
    b"BT (a) Tj",
    b"BT (a) Tj \xff (b) Tj",
    # ref lookahead: Ref is an opaque operand, bare R clears
    b"(keep) 1 0 R Tj",
    b"(gone) R Tj",
    # int lookahead consuming the array terminator
    b"[ (a) -250 (b) 42 7 ] TJ",
    b"[5] TJ",
    b"[1 0 R (x)] TJ",
    # bool participates in the int lookahead as a generation number
    b"5 true R (s) Tj",
    b"5 true Tj",
    # strings: escapes, octal, nesting, hex with whitespace
    b"(\\101\\102 \\(x\\)) Tj",
    b"<48 6\n5 6c6C 6f> Tj",
    # structure errors end extraction with pieces so far
    b"(a) Tj ] (b) Tj",
    b"(a) Tj endobj (b) Tj",
    b"(a) Tj >> (b) Tj",
    b"(a) Tj stream\n (b) Tj",
    # incomplete array contributes nothing
    b"[ (lost) 5",
    # operators inside arrays are elements, not clears
    b"(s) [ Tj (t) ] TJ",
]

LEXICAL_EDGE_CASES = [
    # sign/dot lead bytes must route to the number-error bail, never lex
    # as an operator word (the <nb> group)
    b"(a) Tj + (b) Tj",
    b"(a) Tj . (b) Tj",
    b"(a) Tj -. (b) Tj",
    b"(a) Tj 5.. (b) Tj",
    # prefix keyword matching with no word boundary
    b"(a) truex Tj",
    # comment filler mid-stream and (bail) at EOF
    b"(a) %c\n Tj",
    b"(a) Tj %trailing",
    # deep-nesting breach lands on the same element
    b"[" * 199 + b"(deep)" + b"]" * 199 + b" TJ",
    b"[" * 201 + b"(deep)" + b"]" * 201 + b" TJ",
    # hex with odd nibble + embedded whitespace; escape-free vs escaped
    b"<48 6\n5 6c6C 6> Tj",
    b"(no escapes) Tj (with \\(escapes\\)) Tj",
    # held-token paths through the int lookahead
    b"1 null (x) Tj",
    b"1 2 3 4 (x) Tj",
    b"(a) 5 true 7 Tj",
    # native dict consumption: dicts are transparent operands, their
    # string values never show, and parse()'s dict error shapes end
    # extraction at the same point
    b"(x) << /K (inner) >> Tj",
    b"<< /A 1 /B 2.5 /C /N /D true /F (s) /G <4142> /H [1 (e)] >> (a) Tj",
    b"<< /A << /B << /C 1 >> >> >> (a) Tj",
    b"[ (a) << /X (hidden) >> (b) ] TJ",
    b"<< /A 1 2 >> (a) Tj",          # int-pair value -> int key -> end
    b"<< /A 1 0 R /B 2 >> (a) Tj",   # Ref value
    b"<< (key) (val) >> (a) Tj",     # non-name key -> end
    b"<< /A >> (a) Tj",              # '>>' in value position -> end
    b"<< /A",                         # EOF after a key
    b"<< /A 5 true R >> (a) Tj",     # bool generation number
    b"1 2 << /K 3 >> (x) Tj",        # dict via the int-run hold
    b"[" * 199 + b"<< /K (v) >>" + b"]" * 199 + b" TJ",
    b"[" * 200 + b"<< /K (v) >>" + b"]" * 200 + b" TJ",
]

FONT_EDGE_CASES = [
    # Q restores what q saved; Q on an empty stack resets to no font
    b"/F1 1 Tf q /F2 1 Tf (a) Tj Q (b) Tj",
    b"Q (a) Tj",
    # Tf without a top-level name operand changes nothing; the first
    # name wins; names inside arrays and dicts do not count
    b"12 Tf (a) Tj",
    b"/F1 /F2 12 Tf (a) Tj",
    b"[/F1] 12 Tf (a) Tj",
    b"<< /F /F1 >> 12 Tf (a) Tj",
    # the font event survives a trailing EOF
    b"/F1 12 Tf",
]

MATCHER_EDGE_CASES = [
    # operator boundaries: no space, a longer word, a '#' word
    b"(a)Tj",
    b"(a) Tjx",
    b"(a) Tj#",
    # a direct shape that does not fit falls to the generic run
    b"(a) (b) Tj",
    b"(a) [(b)] Tj",
    b"[(a)] (b) TJ",
    b"1 2 (a) 3 Tj",
    b"0 0 (a) \"",
    b"(a) 'x (b) '",
    # dicts are transparent: their strings and names never count
    b"(a) << /X (b) >> Tj",
    b"<< /F /F1 >> /F2 1 Tf",
    b"<< /A [/B (c) 1] /C true >> (a) Tj",
    b"<< /A [1 0 R] >> (a) Tj",
    # names with '#', a Ref operand: the matcher hands over
    b"/F1#20 1 Tf",
    b"/F1 1 0 R Tf",
    b"(a) Tj (b) R Tj",
    # keyword prefixes never lex as operator words
    b"objx",
    b"xrefs",
    b"(a) Tj nullx (b) Tj",
    # octal escapes up to and past \377, digits 8/9, backslash-newline
    b"(\\0) Tj",
    b"(\\07) Tj",
    b"(\\377) Tj",
    b"(\\400) Tj",
    b"(\\777) Tj",
    b"(\\128) Tj",
    b"(\\8) Tj",
    b"(a\\\nb) Tj",
    b"(\\(a\\)) '",
    # an escape above \377 in a string nobody shows ends extraction
    b"(a) Tj (\\400) (b) Tj",
    b"(a) Tj << /A (\\389) >> (b) Tj",
    # hex with inner whitespace; empty array, dict
    b"<4 1>Tj",
    b"[] TJ",
    b"[<41> (b\\)) 3 /N 1.5] TJ",
    b"[(a) %(x)\n (b)] TJ",
    b"[(a) %(x)\n] TJ",
    b"[(a) %(x)\n] (b) TJ",
    b"<<>> (a) Tj",
    b"<< /A 1 2 >> (a) Tj",
    b"<< /A truex >> (a) Tj",
    # numbers split like the lexer splits them
    b"1.5.5 12Tj",
    b"(a) 5.. Tj",
    # a name swallows the word and digits after it: no operator or
    # number operand here
    b"(a) /abTj",
    b"/abTj (a) Tj",
    b"/F12 Tf",
    # trailing filler
    b"(a) Tj %c\n",
    b"(a) Tj   ",
]


def test_fast_interpreter_edge_cases_match_exact():
    mismatches, _ = _mismatches(EDGE_CASES)
    assert not mismatches, mismatches


def test_fast_interpreter_lexical_edge_cases_match_exact():
    mismatches, _ = _mismatches(LEXICAL_EDGE_CASES)
    assert not mismatches, mismatches


def test_fast_interpreter_font_state_edge_cases_match_exact():
    mismatches, accepted = _mismatches(FONT_EDGE_CASES)
    assert not mismatches, mismatches
    assert accepted == len(FONT_EDGE_CASES)


def test_fast_interpreter_matcher_edge_cases_match_exact():
    mismatches, _ = _mismatches(MATCHER_EDGE_CASES)
    assert not mismatches, mismatches


def test_fast_interpreter_fuzz_matches_exact():
    rng = random.Random(987123)
    ops = [b"Tj", b"TJ", b"'", b'"', b"BT", b"ET", b"Td", b"R", b"re",
           b"gs", b"Do", b"q", b"Q", b"Tf"]
    kws = [b"obj", b"endobj", b"stream", b"trailer", b"xref", b"true",
           b"false", b"null", b"startxref", b"endstream"]

    def tok(depth=0):
        r = rng.random()
        if r < 0.28:
            return str(rng.choice([0, 1, -5, 42])).encode()
        if r < 0.34:
            return b"%.2f" % rng.uniform(-9, 9)
        if r < 0.47:
            return b"(" + bytes(rng.choice(b"ab\\()n01")
                                for _ in range(rng.randint(0, 6))) + b")"
        if r < 0.54:
            return b"<" + bytes(rng.choice(b"0123456789abcdef \n")
                                for _ in range(rng.randint(0, 6))) + b">"
        if r < 0.61:
            return b"/" + bytes(rng.choice(b"AbC#4d")
                                for _ in range(rng.randint(1, 5)))
        if r < 0.79:
            return rng.choice(ops)
        if r < 0.84:
            return rng.choice(kws)
        if r < 0.93 and depth < 3:
            return (b"[ " + b" ".join(tok(depth + 1)
                                      for _ in range(rng.randint(0, 5)))
                    + b" ]")
        if r < 0.96:
            return b"<< /K " + tok(depth + 1) + b" >>"
        return rng.choice([b"{", b"}", b"]", b">>", b"\xff", b"%c\n"])

    mismatches, accepted = _mismatches(
        b" ".join(tok() for _ in range(rng.randint(1, 20)))
        for _ in range(3000))
    assert not mismatches, mismatches[:3]
    assert accepted >= 1000, accepted  # the non-bail path is exercised


def test_fast_interpreter_lexical_fuzz_matches_exact():
    rng = random.Random(31337)
    ops = [b"Tj", b"TJ", b"'", b'"', b"BT", b"ET", b"Td", b"R", b"re",
           b"gs", b"Do", b"q", b"Q", b"T#6a", b"truex", b"Tf"]
    kws = [b"obj", b"endobj", b"stream", b"trailer", b"xref", b"true",
           b"false", b"null", b"startxref", b"endstream", b"<<", b">>"]

    def tok(depth=0):
        r = rng.random()
        if r < 0.20:
            return str(rng.choice([0, 1, -5, 42])).encode()
        if r < 0.30:
            return rng.choice([b"3.14", b"5.", b".5", b"+", b"-", b".",
                               b"+.", b"..", b"5..", b"+5"])
        if r < 0.44:
            return b"(" + bytes(rng.choice(b"ab\\()n01 \t")
                                for _ in range(rng.randint(0, 8))) + b")"
        if r < 0.52:
            return (b"<" + bytes(rng.choice(b"0123456789abcdefXYZ \n")
                                 for _ in range(rng.randint(0, 6)))
                    + rng.choice([b">", b""]))
        if r < 0.60:
            return b"/" + bytes(rng.choice(b"AbC#4dz")
                                for _ in range(rng.randint(0, 6)))
        if r < 0.75:
            return rng.choice(ops)
        if r < 0.81:
            return rng.choice(kws)
        if r < 0.90 and depth < 4:
            return (b"[ " + b" ".join(tok(depth + 1)
                                      for _ in range(rng.randint(0, 5)))
                    + rng.choice([b" ]", b""]))
        if r < 0.94:
            return b"<< /K " + tok(depth + 1) + b" >>"
        return rng.choice([b"{", b"}", b"]", b">>", b"\xff", b"%c\n",
                           b"%c", b")", b"\x7f", b"stream\r\nX"])

    def stream():
        data = rng.choice([b" ", b"", b"\n"]).join(
            tok() for _ in range(rng.randint(1, 22)))
        return data + rng.choice([b"", b" ", b"\n\n", b"\t"])

    mismatches, accepted = _mismatches(stream() for _ in range(3000))
    assert not mismatches, mismatches[:3]
    assert accepted >= 500, accepted  # the non-bail path is exercised


BAIL_CASES = [
    # constructs the fast tier does not replicate
    b"1 0 obj (x) Tj endobj",
    b"(a) /T#6a Tj",
    b"(a) Tj stream\n (b) Tj",
]

QUARANTINE_CASES = [
    # a lexical error on the first token propagates out of _text_exact
    # (TokenError x3, ValueError) and quarantines the document, so the
    # public entry point must raise the same type and message
    b"\xff (a) Tj",
    b") (a) Tj",
    b"+ (a) Tj",
    b"(\\777) Tj",
]


def test_fallback_constructs_bail_not_diverge():
    for data in BAIL_CASES + QUARANTINE_CASES:
        with pytest.raises(TE._FallBack):
            TE._text_fast(data)
        # and the shared entry point yields the exact outcome
        assert (_outcome(TE._content_pieces, data)
                == _outcome(TE._text_exact, TE.excise_inline_images(data))
                ), data
    for data in QUARANTINE_CASES:
        assert _outcome(TE._text_exact, data)[0] != "ok", data


def test_fast_tier_accepts_every_corpus_stream(corpus_streams, handovers):
    # every content stream the extraction of the committed corpus
    # interprets, in each text mode, must take the fast tier (no
    # _FallBack), be consumed by the operator matcher alone (no handover
    # to the token loop) and match exact on (pieces, fonts)
    for mode in ("raw", "unicode"):
        streams = corpus_streams[mode]
        assert len(streams) == 911, mode
        for data in streams:
            assert TE._text_fast(data) == TE._text_exact(data), mode
        assert not handovers, (mode, len(handovers))


def _mutated_window(rng, streams):
    """A seeded window of a corpus content stream, mutated one way."""
    data = rng.choice(streams)
    a = rng.randrange(len(data))
    w = bytearray(data[a:a + rng.randint(8, 2000)])
    kind = rng.randrange(4)
    if kind == 0:  # byte substitution
        for _ in range(rng.randint(1, 3)):
            w[rng.randrange(len(w))] = rng.choice(
                b"()[]<>/\\%#R0123456789 .+-TjJ'\"\xff")
    elif kind == 1:  # truncation
        del w[rng.randrange(len(w)):]
    elif kind == 2:  # splice from another stream
        other = rng.choice(streams)
        b = rng.randrange(len(other))
        at = rng.randrange(len(w) + 1)
        w[at:at] = other[b:b + rng.randint(1, 80)]
    else:  # short deletion
        at = rng.randrange(len(w))
        del w[at:at + rng.randint(1, 4)]
    return bytes(w)


def test_fast_interpreter_corpus_window_fuzz_matches_exact(corpus_streams,
                                                           handovers):
    # realistic content: windows of the corpus streams, mutated
    rng = random.Random(20261017)
    streams = corpus_streams["raw"]
    mismatches = []
    accepted = matched = 0
    for _ in range(3000):
        data = _mutated_window(rng, streams)
        before = len(handovers)
        got = _fast_outcome(data)
        if got is None:
            continue
        accepted += 1
        if len(handovers) == before:
            matched += 1
        want = _outcome(TE._text_exact, data)
        if got != want:
            mismatches.append((data, got, want))
    assert not mismatches, mismatches[:3]
    assert accepted >= 1000, accepted  # the non-bail path is exercised
    assert matched >= 600, matched     # ... and the matcher alone


def test_unicode_sink_applies_font_events():
    decoders = {"F1": lambda b: b.decode("latin-1").upper(),
                "F2": lambda b: "<%s>" % b.decode("latin-1")}
    content = (b"/F1 1 Tf (a) Tj q /F2 1 Tf [(b) (c)] TJ Q (d) Tj "
               b"/F9 1 Tf (e) Tj Q (f) Tj")
    # F1; F2 inside q..Q; Q restores F1; unknown F9 and Q on an empty
    # stack both decode as latin-1
    assert TE.unicode_from_content_bytes(content, decoders) == "A<b><c>Def"
    # Q on an empty stack drops a known font too
    assert TE.unicode_from_content_bytes(
        b"/F1 1 Tf (a) Tj Q (b) Tj", decoders) == "Ab"
