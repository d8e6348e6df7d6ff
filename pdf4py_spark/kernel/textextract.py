"""Content-stream text extraction (the capability the reference scopes out:
/root/reference/README.md:55-65, standard_coverage.rst:93-98 — rebuilt here
on top of the object scanner's content mode).

Extraction contract (also the oracle's definition — tools/make_oracle.py
runs this exact algorithm over the reference parser, so both sides pin the
same bytes per url):

* pages are visited in document order (catalog -> page tree, parity
  _document.py:26-46)
* each page's ``Contents`` (direct stream, ref, or array of refs) is
  decoded and the decoded byte streams are joined with a single b"\\n"
  (PDF 1.7 §7.8.2 treats the array as one stream with whitespace between)
* the joined stream is scanned in content mode; the string operands of the
  text-showing operators ``Tj``, ``'``, ``\"`` and the string elements of
  ``TJ`` arrays are concatenated in content order
* literal strings contribute their raw bytes; hex strings contribute their
  unhexlified bytes (odd final nibble padded with 0)
* pages are joined with a single b"\\n"

One interpreter (``_content_pieces``) feeds two sinks. The raw sink does no
font/CMap decoding: its output is the raw string-operand byte stream, which
is what makes byte-identity with the reference-driven oracle well defined.
"""

from __future__ import annotations

import re

from .lexer import ESCAPE_MAP, _STR_SPECIAL_RE, _WS_BYTES
from .model import HexString, LiteralString, Operator, Ref, Stream
from .parser import DocumentParser, ObjectScanner

_SHOW_OPS = ("Tj", "'", '"')

_WS = frozenset((0x00, 0x09, 0x0A, 0x0C, 0x0D, 0x20))
_WS_OR_DELIM = _WS | frozenset(b"()<>[]{}/%")


def excise_inline_images(content: bytes) -> bytes:
    """Drop inline-image payloads (``ID <binary> EI``, PDF 1.7 §8.9.7)
    from a decoded content stream so token scanning can continue past
    them.

    Heuristic boundaries (an ``ID`` token delimited by whitespace, then
    the next ``EI`` preceded by whitespace and followed by whitespace/
    delimiter/EOF). The oracle generator uses THIS function too, so the
    byte-identity contract is preserved by construction even on heuristic
    misfires. Without this pass, scanning stops at the first image's
    binary bytes (the reference's content scanner has the same limit).
    """
    n = len(content)
    if content.find(b"ID") < 0:
        return content
    out = []
    i = 0
    while i < n:
        j = content.find(b"ID", i)
        if j < 0:
            out.append(content[i:])
            break
        pre_ok = j == 0 or content[j - 1] in _WS_OR_DELIM
        post_ok = j + 2 < n and content[j + 2] in _WS
        if not (pre_ok and post_ok):
            out.append(content[i:j + 2])
            i = j + 2
            continue
        end = -1
        k = j + 3
        while True:
            e = content.find(b"EI", k)
            if e < 0:
                break
            if (content[e - 1] in _WS
                    and (e + 2 >= n or content[e + 2] in _WS_OR_DELIM)):
                end = e + 2
                break
            k = e + 2
        if end < 0:
            out.append(content[i:j + 2])
            i = j + 2
            continue
        out.append(content[i:j])  # drop 'ID ... EI' entirely
        i = end
    return b"".join(out)


def _unhex(digits: bytes) -> bytes:
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii"))


def _raw_string(obj):
    """PDF string object -> raw bytes (literal as-is, hex unhexlified),
    else None."""
    if isinstance(obj, LiteralString):
        return obj.value
    if isinstance(obj, HexString):
        return _unhex(obj.value)
    return None


def _content_pieces(content: bytes):
    """One decoded content stream -> ``(pieces, fonts)``: the shown
    string operands in content order, and ``(len(pieces), font name)`` at
    each ``Tf`` with a name operand (the first wins) and at each ``Q``
    (the name ``q`` saved, None on an empty stack).

    Two tiers, and three stages. The fast tier (``_text_fast``) is an
    operator matcher: one C-level regex match per operator that has an
    effect (show ops, TJ, Tf, q, Q), consuming its operand run and the
    effect-free operators before it, with no token objects and no
    int()/float()/utf8-decode for operands whose CLASS is all the
    interpreter needs. Where that match fails it hands the rest of the
    stream to the token loop (``_text_tokens``: one master regex match per
    token), which consumes dictionaries natively and replicates parse()'s
    int lookahead and error shapes. Either raises ``_FallBack`` on ANY
    construct or lexical irregularity they do not replicate bit-for-bit,
    and the parse-based ``_text_exact`` re-runs the stream. Every bail
    therefore yields the exact result by construction, including the
    exception a lexical error on the first token raises (it quarantines
    the document); the only correctness surface is the non-bail path,
    pinned against ``_text_exact`` by tests/test_text_interpreter_fast.py
    (edge cases, differential fuzz, mutated corpus windows, every content
    stream of the committed corpus in both text modes, with no handover
    to the token loop) and by the golden hashes and bench checksum."""
    data = excise_inline_images(content)
    try:
        return _text_fast(data)
    except _FallBack:
        return _text_exact(data)


def text_from_content_bytes(content: bytes) -> bytes:
    """Raw sink: concatenate string operands of text-showing operators in
    content order from one decoded content stream."""
    return b"".join(_content_pieces(content)[0])


def _text_exact(data: bytes):
    """The parse-based interpreter (ObjectScanner.parse() in content
    mode); returns ``(pieces, fonts)`` like _content_pieces."""
    scanner = ObjectScanner(data, content_mode=True)
    pieces, fonts, saved = [], [], []  # saved: the q/Q stack of font names
    pending = []  # operand stack since the previous operator
    while True:
        try:
            obj = scanner.parse()
        except StopIteration:
            break
        except Exception:
            # Unscannable region (e.g. raw inline-image bytes after an ID
            # operator): keep the text gathered so far. The oracle applies
            # the identical rule, so partial text stays byte-identical.
            break
        if not isinstance(obj, Operator):
            pending.append(obj)
            continue
        name = obj.value
        if name in _SHOW_OPS:
            for operand in reversed(pending):
                raw = _raw_string(operand)
                if raw is not None:
                    pieces.append(raw)
                    break
        elif name == "TJ":
            for operand in reversed(pending):
                if isinstance(operand, list):
                    for element in operand:
                        raw = _raw_string(element)
                        if raw is not None:
                            pieces.append(raw)
                    break
        elif name == "Tf":
            for operand in pending:
                if isinstance(operand, str):  # a name
                    fonts.append((len(pieces), operand))
                    break
        elif name == "q":  # the font in effect is the last event's
            saved.append(fonts[-1][1] if fonts else None)
        elif name == "Q":
            fonts.append((len(pieces), saved.pop() if saved else None))
        pending.clear()
    return pieces, fonts


class _FallBack(Exception):
    """Raised by the fast tier on any construct or lexical irregularity it
    does not replicate bit-for-bit; the caller re-runs _text_exact."""


#: content nesting bound — must track ObjectScanner.MAX_NESTING so the
#: fast path ends extraction at the same construction point
_MAX_NESTING = ObjectScanner.MAX_NESTING


class _EndScan(Exception):
    """_text_fast-internal: end extraction, keep pieces (the exact
    path's StopIteration-equivalent)."""


# One C-loop match per token. The atomic whitespace prefix (?>...) is
# load-bearing: without it a failed alternation at trailing whitespace
# backtracks into the catch-all and misreads EOF as an unknown byte.
# Group order encodes the lexer's dispatch: floats before ints (greedy
# number scan), the number-error group <nb> before <op> so a sign/dot
# lead byte can never lex as an operator word (the byte-level lexer
# routes [+-.] to the number scanner, which errors on a dangling sign —
# _scan_number), and value literals before struct keywords in exactly
# _WORD_CANDIDATES' per-first-byte probe order (prefix match, no word
# boundary — 'truex' lexes as 'true' + 'x' in both).
_TOK = re.compile(
    rb"(?>[\x00\t\n\x0c\r ]*)"
    rb"(?:"
    rb"(?P<s>\((?P<sv>[^()\\]*)\))"                     # escape-free string
    rb"|(?P<f>[+-]?(?:[0-9]+\.[0-9]*|\.[0-9]+))"        # float (>=1 digit)
    rb"|(?P<i>[+-]?[0-9]+)"                              # int
    rb"|(?P<n>/[^\x00-\x20\x7f-\xff()<>\[\]{}/%]*)"     # name
    rb"|(?P<nb>[+-]|\.)"                                 # number-scan error
    rb"|(?P<lit>true|false|null|stream|<<|>>|endobj|obj|trailer|xref"
    rb"|startxref|endstream)"
    rb"|(?P<op>[^\x00-\x20\x7f-\xff()<>\[\]{}/%]+)"     # operator word
    rb"|(?P<h><(?P<hv>[0-9a-fA-F\x00\t\n\x0c\r ]*)>)"   # hex string
    rb"|(?P<ao>\[)|(?P<ac>\])"
    rb"|(?P<hard>\()"                                    # string w/ specials
    rb"|(?P<cmt>%[^\n]*\n)"
    rb"|(?P<bad>[\s\S])"                                 # anything else
    rb")"
)

#: token kinds; operands that only matter by CLASS (numbers, names,
#: booleans, null) never materialize a value
(_K_INT, _K_FLOAT, _K_BOOL, _K_NULL, _K_NAME, _K_STR, _K_OP, _K_AO,
 _K_AC, _K_KW, _K_DC, _K_DO) = range(12)

_T_INT = (_K_INT, None)
_T_FLOAT = (_K_FLOAT, None)
_T_AO = (_K_AO, None)
_T_AC = (_K_AC, None)
_T_DO = (_K_DO, None)

_LIT_KIND = {
    b"true": (_K_BOOL, True), b"false": (_K_BOOL, False),
    b"null": (_K_NULL, None), b">>": (_K_DC, None),
    b"endobj": (_K_KW, b"endobj"), b"obj": (_K_KW, b"obj"),
    b"trailer": (_K_KW, b"trailer"), b"xref": (_K_KW, b"xref"),
    b"startxref": (_K_KW, b"startxref"),
    b"endstream": (_K_KW, b"endstream"),
    # b"stream" / b"<<" are bail constructs, handled inline
}

_SHOW_OPS_B = tuple(op.encode() for op in _SHOW_OPS)
_DIGIT_BYTES = frozenset(b"0123456789")


def _scan_hard_string(buf: bytes, i: int, n: int):
    """Literal string containing ( ) or backslash: the unescape loop of
    lexer._scan_literal_string, from just after the opening '('.
    Returns (value, pos_after); EOF inside the string and octal escapes
    above 255 bail (the byte-level lexer raises StopIteration /
    ValueError there and the exact re-run reproduces those outcomes)."""
    depth = 1
    out = bytearray()
    while True:
        m = _STR_SPECIAL_RE.search(buf, i)
        if m is None:
            raise _FallBack
        j = m.start()
        out += buf[i:j]
        c = buf[j]
        if c == 0x28:
            depth += 1
            out.append(c)
            i = j + 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), j + 1
            out.append(c)
            i = j + 1
        else:  # backslash
            i = j + 1
            if i >= n:
                raise _FallBack
            d = buf[i]
            if d in _DIGIT_BYTES:
                val = 0
                k = 0
                while k < 3 and i < n and buf[i] in _DIGIT_BYTES:
                    val = (val << 3) + (buf[i] - 0x30)
                    i += 1
                    k += 1
                if val > 255:
                    raise _FallBack  # ValueError in the byte-level lexer
                out.append(val)
                continue
            out.append(ESCAPE_MAP.get(d, d))
            i += 1


def _text_tokens(data: bytes, pos: int, pieces, fonts, saved):
    """The token loop: _text_fast's handover for the rest of the stream
    from operator boundary ``pos``, appending to the state it has built.

    Replicates ObjectScanner.parse() (content_mode=True) as _text_exact
    drives it, token for token:
    * the operand stack only matters through 'the most recent
      Literal/HexString' (show ops), 'the most recent array' (TJ) and
      'the first name' (Tf), all cleared at every operator — tracked as
      three slots;
    * the int reference-lookahead (``N N R`` -> Ref; bool counts as a
      generation number via isinstance, so ``N true R`` is a Ref too)
      with a one-slot hold for the token parse() pushes back; ``N G obj``
      (IndirectObject) bails;
    * dictionaries are consumed natively as transparent operands, with
      parse()'s dict error shapes;
    * parse()'s PRE-FETCH contract: an operator's effect lands only when
      the following token scans cleanly (EOF counts; a lexical error does
      not — errors bail and the exact re-run reproduces their semantics);
    * a structure error (keyword, stray ``]`` / ``>>``, nesting breach
      per element at MAX_NESTING) ends extraction with the pieces so far,
      like _text_exact's except/break; an incomplete array contributes
      nothing."""
    buf = data
    n = len(buf)
    last_str = None   # most recent string operand's decoded bytes
    last_arr = None   # most recent array operand's string pieces
    first_name = None  # first name operand's bytes ('/' included)
    held = None       # one-slot pushback for the int lookahead
    match = _TOK.match

    def scan():
        nonlocal pos
        while True:
            m = match(buf, pos)
            if m is None:
                pos = n
                raise _EndScan   # trailing whitespace, then EOF
            g = m.lastgroup
            pos = m.end()
            if g == "i":
                return _T_INT
            if g == "op":
                v = m.group("op")
                if 0x23 in v:    # '#xx' escapes decode in the byte lexer
                    raise _FallBack
                return (_K_OP, v)
            if g == "s":
                return (_K_STR, m.group("sv"))
            if g == "n":
                v = m.group("n")
                if 0x23 in v:
                    raise _FallBack
                return (_K_NAME, v)
            if g == "f":
                return _T_FLOAT
            if g == "h":
                return (_K_STR,
                        _unhex(m.group("hv").translate(None, _WS_BYTES)))
            if g == "ao":
                return _T_AO
            if g == "ac":
                return _T_AC
            if g == "hard":
                v, p2 = _scan_hard_string(buf, m.end(), n)
                pos = p2
                return (_K_STR, v)
            if g == "lit":
                v = m.group("lit")
                k = _LIT_KIND.get(v)
                if k is None:
                    if v == b"<<":
                        return _T_DO  # consumed natively (consume_dict)
                    raise _FallBack  # 'stream' (stream-mark EOL rules)
                return k
            if g == "cmt":
                continue
            raise _FallBack  # <nb>, <bad>: lexical error in the byte lexer

    def nxt():
        nonlocal held
        if held is not None:
            v = held
            held = None
            return v
        return scan()

    def consume_int_run(curk):
        nonlocal held
        while curk == _K_INT:
            sk, sv = nxt()
            if sk == _K_INT or sk == _K_BOOL:
                tk, tv = scan()
                if tk == _K_OP and tv == b"R":
                    return      # Ref consumed: held stays empty
                if tk == _K_KW:
                    if tv == b"obj":
                        raise _FallBack  # N G obj: IndirectObject
                    raise _EndScan  # StructureError in the exact path
                held = (tk, tv)
                curk = sk
            else:
                held = (sk, sv)
                return

    def consume_array(depth):
        out = []
        while True:
            k, v = nxt()
            if depth >= _MAX_NESTING and k != _K_AC:
                raise _EndScan  # exact path: StructureError -> end
            if k == _K_INT:
                consume_int_run(_K_INT)
                continue
            if k == _K_STR:
                out.append(v)
                continue
            if k in (_K_FLOAT, _K_NAME, _K_BOOL, _K_NULL, _K_OP):
                continue        # non-string element (incl. bare operators)
            if k == _K_AC:
                return out
            if k == _K_AO:
                consume_array(depth + 1)
                continue
            if k == _K_DO:
                consume_dict(depth + 1)
                continue        # dict element contributes nothing
            raise _EndScan      # keyword / '>>' -> StructureError -> end

    def consume_value(depth):
        """One dict value: parse()'s single-object semantics at frame
        depth ``depth`` (the caller has already breach-tested). May leave
        the value's pre-fetched follow-on token in ``held`` (the next
        key), exactly like parse's int lookahead."""
        nonlocal held
        k, v = nxt()
        if k == _K_INT:
            sk, sv = nxt()
            if sk != _K_INT and sk != _K_BOOL:
                held = (sk, sv)     # plain int value; follow-on is the key
                return
            tk, tv = scan()
            if tk == _K_OP and tv == b"R":
                return              # Ref value
            if tk == _K_KW and tv == b"obj":
                raise _FallBack     # IndirectObject: exact path handles
            # parse: push_back(second), return first -> the next key is
            # the int/bool second -> "key must be a name" -> end
            raise _EndScan
        if k in (_K_FLOAT, _K_NAME, _K_BOOL, _K_NULL, _K_STR, _K_OP):
            return                  # single-token value
        if k == _K_AO:
            consume_array(depth + 1)
            return
        if k == _K_DO:
            consume_dict(depth + 1)
            return
        raise _EndScan              # ']' / '>>' / keyword -> StructureError

    def consume_dict(depth):
        """Consume one dictionary (opening '<<' already scanned);
        ``depth`` is its parse frame depth. Dicts are transparent
        operands: their values never reach pending, so nothing here
        touches the two slots. A ``stream`` keyword after the closing
        '>>' surfaces at the caller's next scan() and bails (the exact
        path raises StructureError there: no stream resolver in content
        mode)."""
        while True:
            k, v = nxt()
            if k == _K_DC:
                return
            if k != _K_NAME:
                raise _EndScan      # "dictionary key must be a name"
            if depth >= _MAX_NESTING:
                raise _EndScan      # value parse would breach
            consume_value(depth)

    # first token: EOF -> nothing to add; a lexical error must PROPAGATE
    # with the byte-level lexer's exact type/message (the document
    # quarantines on it) -> scan() bails and the re-run raises it
    try:
        cur = scan()
    except _EndScan:
        return pieces, fonts

    try:
        while True:
            k, v = cur
            if k == _K_INT:
                consume_int_run(_K_INT)
                cur = nxt()
                continue
            if k == _K_OP:
                # pre-fetch before applying the operator's effect
                ended = False
                if held is not None:
                    nxt_tok = held
                    held = None
                else:
                    try:
                        nxt_tok = scan()
                    except _EndScan:
                        ended = True
                        nxt_tok = None
                if v in _SHOW_OPS_B:
                    if last_str is not None:
                        pieces.append(last_str)
                elif v == b"TJ":
                    if last_arr is not None:
                        pieces.extend(last_arr)
                elif v == b"Tf":
                    if first_name is not None:  # '#'-free printable ASCII
                        fonts.append((len(pieces),
                                      first_name[1:].decode("ascii")))
                elif v == b"q":
                    saved.append(fonts[-1][1] if fonts else None)
                elif v == b"Q":
                    fonts.append((len(pieces), saved.pop() if saved else None))
                last_str = None
                last_arr = None
                first_name = None
                if ended:
                    break
                cur = nxt_tok
                continue
            if k == _K_STR:
                last_str = v
                cur = scan()
                continue
            if k in (_K_FLOAT, _K_NAME, _K_BOOL, _K_NULL):
                if k == _K_NAME and first_name is None:
                    first_name = v
                cur = nxt()
                continue
            if k == _K_AO:
                last_arr = consume_array(1)
                cur = nxt()
                continue
            if k == _K_DO:
                consume_dict(1)  # transparent operand: slots untouched
                cur = nxt()
                continue
            break  # ']' / keyword / '>>' at top level -> end
    except _EndScan:
        pass
    return pieces, fonts


# The operator matcher. Its token sub-patterns copy _TOK's byte classes
# and alternative order, and each is possessive or atomic, so it splits
# bytes into tokens exactly like _TOK (a backtracking version would read
# ``/abTj`` as ``/ab`` + ``Tj``). It accepts a subset of _TOK's tokens:
# literal strings without nested parens or an octal escape above \377 (or
# a 3-digit one with an 8 or 9), hex strings, numbers, names without '#',
# flat arrays of those, and flat dicts with name keys whose values are
# those, flat arrays or true/false/null. Operator words start with none
# of [0-9+-.] or a keyword prefix (_TOK's <nb>/<lit> win there), contain
# no '#', and are not R (the int lookahead's Ref).
_FILL = rb"[\x00\t\n\x0c\r ]*+(?:%[^\n]*+\n[\x00\t\n\x0c\r ]*+)*+"
_BOUNDARY = rb"(?![^\x00-\x20\x7f-\xff()<>\[\]{}/%])"  # no regular byte
_STR = (rb"\((?:[^()\\]++"
        rb"|\\(?:[0-3][0-7][0-7]|[0-9]{1,2}+(?![0-9])|[^0-9]))*+\)")
_HEX = rb"<[0-9a-fA-F\x00\t\n\x0c\r ]*+>"
_NUM = rb"[+-]?+(?>[0-9]++(?:\.[0-9]*+)?+|\.[0-9]++)"
_NAME = rb"/[^\x00-\x20\x7f-\xff()<>\[\]{}/%#]*+"
_SCALAR = rb"(?>" + _STR + rb"|" + _NUM + rb"|" + _NAME + rb"|" + _HEX + rb")"
_ELEMENTS = rb"(?:" + _FILL + _SCALAR + rb")*+"
_ARRAY = rb"\[" + _ELEMENTS + _FILL + rb"\]"
_DICT = (rb"<<(?:" + _FILL + _NAME + _FILL + rb"(?>" + _SCALAR + rb"|"
         + _ARRAY + rb"|true|false|null))*+" + _FILL + rb">>")
_OPERANDS = (rb"(?:" + _FILL + rb"(?>" + _SCALAR + rb"|" + _ARRAY + rb"|"
             + _DICT + rb"))*+")
_EFFECT_OP = rb"(?:Tj|TJ|Tf|'|\"|q|Q)" + _BOUNDARY
_QUIET_OP = (rb"(?!" + _EFFECT_OP + rb"|true|false|null|stream|endobj|obj"
             rb"|trailer|xref|startxref|endstream|R" + _BOUNDARY + rb")"
             rb"[^\x00-\x20\x7f-\xff()<>\[\]{}/%#0-9+.\-]"
             rb"[^\x00-\x20\x7f-\xff()<>\[\]{}/%#]*+" + _BOUNDARY)

# One match runs from an operator boundary through the next operator with
# an effect; the quiet operators before it (BT, Td, cm, ...) ride along.
# The alternative that matched is m.lastgroup: each ends with its own
# capture. No capture sits inside a repeated group: Python 3.11.7's re
# raises "SystemError: The span of capturing group is wrong" for a named
# group inside a possessive repeat, e.g. on (a1b) /CA TJ [  ] <556 > 1.
_OPERATOR = re.compile(
    rb"(?:" + _OPERANDS + _FILL + _QUIET_OP + rb")*+" + _FILL + rb"(?:"
    rb"(?P<tj>" + _STR + rb"|" + _HEX + rb")" + _FILL + rb"(?:Tj|')"
    + _BOUNDARY
    + rb"|(?P<tf>" + _NAME + rb")" + _FILL + _NUM + _FILL + rb"Tf" + _BOUNDARY
    + rb"|\[(?P<tja>" + _ELEMENTS + rb")" + _FILL + rb"\]" + _FILL + rb"TJ"
    + _BOUNDARY
    + rb"|(?P<run>" + _OPERANDS + rb")" + _FILL + rb"(?P<op>" + _EFFECT_OP
    + rb")|" + _OPERANDS + _FILL + rb"(?P<eof>)\Z)")
#: one operand of a matched run (lastgroup None: a number or a dict)
_RUN_OPERAND = re.compile(
    _FILL + rb"(?:(?P<s>" + _STR + rb"|" + _HEX + rb")|\[(?P<a>" + _ELEMENTS
    + rb")" + _FILL + rb"\]|(?P<n>" + _NAME + rb")|" + _NUM + rb"|" + _DICT
    + rb")")
#: one element of a matched array; the group holds its string, if any
_ELEMENT = re.compile(
    _FILL + rb"(?:(" + _STR + rb"|" + _HEX + rb")|" + _NUM + rb"|" + _NAME
    + rb")")


def _string_value(token: bytes) -> bytes:
    """A matched string token, delimiters included -> its bytes, decoded
    as _text_tokens decodes it."""
    if token[0] == 0x3C:  # '<'
        return _unhex(token[1:-1].translate(None, _WS_BYTES))
    if 0x5C in token:  # backslash escapes
        return _scan_hard_string(token, 1, len(token))[0]
    return token[1:-1]


def _array_pieces(elements: bytes):
    return [_string_value(t) for t in _ELEMENT.findall(elements) if t]


def _text_fast(data: bytes):
    """The fast tier (see _content_pieces): the operator matcher. One
    _OPERATOR match runs from an operator boundary through the next
    operator with an effect, with direct shapes for the common ``(s) Tj``,
    ``<h> Tj``, ``/F n Tf`` and ``[...] TJ``; otherwise the run's operands
    are re-scanned for the last string, the last array and the first
    name. Where the match fails, the token loop (_text_tokens) takes the
    rest of the stream from that boundary, where the three slots are empty
    and nothing is held. The matcher applies an operator's effect before
    its follow-on token scans; that token is the token loop's first, and a
    lexical error there bails the whole stream, so an effect that stands
    is one parse()'s pre-fetch would also have applied."""
    pieces, fonts, saved = [], [], []  # as in _text_exact
    match = _OPERATOR.match
    pos = 0
    while True:
        m = match(data, pos)
        if m is None:
            return _text_tokens(data, pos, pieces, fonts, saved)
        pos = m.end()
        g = m.lastgroup
        if g == "tj":
            pieces.append(_string_value(m["tj"]))
        elif g == "tf":
            fonts.append((len(pieces), m["tf"][1:].decode("ascii")))
        elif g == "tja":
            pieces.extend(_array_pieces(m["tja"]))
        elif g == "eof":  # after operands without an operator, or none
            return pieces, fonts
        elif m["op"] == b"q":
            saved.append(fonts[-1][1] if fonts else None)
        elif m["op"] == b"Q":
            fonts.append((len(pieces), saved.pop() if saved else None))
        else:  # the generic shape of a show op, TJ or Tf
            last = {}  # the last string and array, the first name
            for o in _RUN_OPERAND.finditer(data, *m.span("run")):
                og = o.lastgroup
                if og == "n":
                    last.setdefault("n", o["n"])
                elif og is not None:
                    last[og] = o[og]
            op = m["op"]
            if op == b"TJ":
                if "a" in last:
                    pieces.extend(_array_pieces(last["a"]))
            elif op == b"Tf":
                if "n" in last:
                    fonts.append((len(pieces), last["n"][1:].decode("ascii")))
            elif "s" in last:
                pieces.append(_string_value(last["s"]))


def _content_streams(doc: DocumentParser, contents):
    """Normalize a page's Contents into a list of decoded byte strings."""
    if isinstance(contents, Ref):
        contents = doc.resolve(contents)
    if isinstance(contents, Stream):
        return [contents.payload()]
    if isinstance(contents, list):
        out = []
        for piece in contents:
            if isinstance(piece, Ref):
                piece = doc.resolve(piece)
            if isinstance(piece, Stream):
                out.append(piece.payload())
        return out
    return []


def extract_pdf_text(doc: DocumentParser, pages=None) -> bytes:
    """Whole-document extraction: page-ordered, stream-joined text bytes."""
    page_texts = []
    for page in (doc.page_dicts() if pages is None else pages):
        contents = page.get("Contents") if isinstance(page, dict) else None
        if contents is None:
            page_texts.append(b"")
            continue
        decoded = _content_streams(doc, contents)
        page_texts.append(text_from_content_bytes(b"\n".join(decoded)))
    return b"\n".join(page_texts)


# --- font/encoding-aware (unicode) mode --------------------------------------------
#
# New capability beyond the reference (which stops at raw string operands):
# show-op strings are decoded through the page's font resources — ToUnicode
# CMaps, base encodings, Differences (kernel.fonts), with the pieces and
# font events of the raw mode's two tiers (_content_pieces). The oracle
# generator mirrors this over the reference parser, so the byte-identity
# gate covers two independent parsing stacks feeding one decode algorithm.

def pages_with_resources(doc: DocumentParser):
    """(page_dict, resources) in document order; Resources is inheritable
    down the page tree (PDF 1.7 §7.7.3.4). Iterative + depth-bounded via
    the shared walk (hostile trees quarantine instead of RecursionError)."""
    from .parser import walk_page_tree

    catalog = doc.resolve(doc.trailer["Root"])
    out = []

    def inherit(node, inherited):
        if isinstance(node, dict) and node.get("Resources") is not None:
            return node.get("Resources")
        return inherited

    walk_page_tree(doc.resolve, catalog["Pages"],
                   lambda node, res: out.append((node, res)),
                   extra=None, inherit=inherit)
    return out


def _composite_spec(doc: DocumentParser, font: dict, spec: dict) -> None:
    """Fill the composite-font spec fields the embedded-cmap decode path
    needs (fonts.build_font_decoder): Identity encoding flag, the
    descendant's FontFile2 program, and a CIDToGIDMap stream if any."""
    enc = font.get("Encoding")
    if isinstance(enc, Ref):
        enc = doc.resolve(enc)
    spec["identity"] = enc in ("Identity-H", "Identity-V")
    spec["cmap_name"] = enc if isinstance(enc, str) else None
    desc = font.get("DescendantFonts")
    if isinstance(desc, Ref):
        desc = doc.resolve(desc)
    if not (isinstance(desc, list) and desc):
        return
    d0 = desc[0]
    if isinstance(d0, Ref):
        d0 = doc.resolve(d0)
    if not isinstance(d0, dict):
        return
    c2g = d0.get("CIDToGIDMap")
    if isinstance(c2g, Ref):
        c2g = doc.resolve(c2g)
    if isinstance(c2g, Stream):
        try:
            spec["cid_to_gid"] = c2g.payload()
        except Exception:  # noqa: BLE001 - undecodable map stream
            pass
    fd = d0.get("FontDescriptor")
    if isinstance(fd, Ref):
        fd = doc.resolve(fd)
    if isinstance(fd, dict):
        # FontFile2 = TrueType; FontFile3 /OpenType = OTTO-tagged sfnt,
        # same cmap route (bare-CFF FontFile3 payloads raise SfntError
        # downstream and fall back to the U+FFFD policy)
        for key in ("FontFile2", "FontFile3"):
            ff = fd.get(key)
            if isinstance(ff, Ref):
                ff = doc.resolve(ff)
            if isinstance(ff, Stream):
                try:
                    spec["fontfile"] = ff.payload()
                    break
                except Exception:  # noqa: BLE001 - undecodable stream
                    pass


def _simple_spec(doc: DocumentParser, font: dict, spec: dict) -> None:
    """Fill the SIMPLE-font spec fields the font-program decode routes
    need (fonts.build_font_decoder): the FontDescriptor's symbolic flag
    (Flags bit 3, PDF 1.7 §9.8.2) + FontFile2 for the TrueType symbol
    route (K54), and a /Type1C FontFile3 payload for the bare-CFF
    built-in-encoding route (K57)."""
    subtype = font.get("Subtype")
    if subtype not in ("TrueType", "Type1", "MMType1"):
        return
    fd = font.get("FontDescriptor")
    if isinstance(fd, Ref):
        fd = doc.resolve(fd)
    if not isinstance(fd, dict):
        return
    if subtype == "TrueType":
        flags = fd.get("Flags")
        spec["symbolic"] = bool(isinstance(flags, int) and flags & 4)
        if not spec["symbolic"]:
            return
        ff = fd.get("FontFile2")
        if isinstance(ff, Ref):
            ff = doc.resolve(ff)
        if isinstance(ff, Stream):
            try:
                spec["fontfile"] = ff.payload()
            except Exception:  # noqa: BLE001 - undecodable font stream
                pass
        return
    ff = fd.get("FontFile3")
    if isinstance(ff, Ref):
        ff = doc.resolve(ff)
    if isinstance(ff, Stream) and ff.meta.get("Subtype") == "Type1C":
        try:
            spec["cff"] = ff.payload()
        except Exception:  # noqa: BLE001 - undecodable font stream
            pass


def _fonts_of(doc: DocumentParser, resources):
    """(name, font dict) for each entry of a Resources' Font dict."""
    if isinstance(resources, Ref):
        resources = doc.resolve(resources)
    if not isinstance(resources, dict):
        return
    fonts = resources.get("Font")
    if isinstance(fonts, Ref):
        fonts = doc.resolve(fonts)
    if not isinstance(fonts, dict):
        return
    for name, fref in fonts.items():
        font = doc.resolve(fref) if isinstance(fref, Ref) else fref
        if isinstance(font, dict):
            yield name, font


def font_decoders(doc: DocumentParser, resources) -> dict:
    """Font resource name -> decoder fn(bytes) -> str."""
    from .fonts import build_font_decoder

    out = {}
    for name, font in _fonts_of(doc, resources):
        bf = font.get("BaseFont")
        if isinstance(bf, Ref):  # indirect names are legal (review r5)
            bf = doc.resolve(bf)
        spec = {"type0": font.get("Subtype") == "Type0",
                "encoding": None, "differences": None, "tounicode": None,
                "basefont": bf}
        tu = font.get("ToUnicode")
        if isinstance(tu, Ref):
            tu = doc.resolve(tu)
        if isinstance(tu, Stream):
            try:
                spec["tounicode"] = tu.payload()
            except Exception:  # noqa: BLE001 - undecodable CMap stream
                pass
        if spec["type0"]:
            _composite_spec(doc, font, spec)
        else:
            _simple_spec(doc, font, spec)
        enc = font.get("Encoding")
        if isinstance(enc, Ref):
            enc = doc.resolve(enc)
        if isinstance(enc, str):
            spec["encoding"] = enc
        elif isinstance(enc, dict):
            base = enc.get("BaseEncoding")
            if isinstance(base, str):
                spec["encoding"] = base
            diffs = enc.get("Differences")
            if isinstance(diffs, Ref):
                diffs = doc.resolve(diffs)
            if isinstance(diffs, list):
                spec["differences"] = diffs
        out[name] = build_font_decoder(spec)
    return out


def fonts_census(doc: DocumentParser):
    """(n_fonts, census_text): distinct canonical font-resource lines
    across all pages (sorted, newline-joined). Line formatting is the
    SHARED kernel.fonts.font_census_line, so the gated query compares
    this parser's resource traversal against the reference parser's."""
    from .fonts import font_census_line

    lines = set()
    for _page, resources in pages_with_resources(doc):
        for name, font in _fonts_of(doc, resources):
            enc = font.get("Encoding")
            if isinstance(enc, Ref):
                enc = doc.resolve(enc)
            tu = font.get("ToUnicode")
            if isinstance(tu, Ref):
                tu = doc.resolve(tu)
            lines.add(font_census_line(
                name, font, enc, isinstance(tu, Stream)))
    return len(lines), "\n".join(sorted(lines))


def unicode_from_content_bytes(content: bytes, decoders: dict) -> str:
    """Unicode sink: decode every shown string of one decoded content
    stream with the decoder of the font in effect at it (Tf selects, q/Q
    save/restore; no font or an unknown name decodes as latin-1)."""
    from .fonts import latin1_decoder

    pieces, fonts = _content_pieces(content)
    out = []
    decode, at = latin1_decoder, 0
    for end, font in fonts:
        out.extend(map(decode, pieces[at:end]))
        decode, at = decoders.get(font) or latin1_decoder, end
    out.extend(map(decode, pieces[at:]))
    return "".join(out)


def extract_pdf_text_unicode(doc: DocumentParser) -> bytes:
    """Whole-document unicode extraction: per page, fonts are built from
    the (inheritable) Resources and the joined content stream is decoded;
    pages joined with '\\n'; returned as UTF-8 bytes."""
    page_texts = []
    for page, resources in pages_with_resources(doc):
        contents = page.get("Contents") if isinstance(page, dict) else None
        if contents is None:
            page_texts.append("")
            continue
        decoders = font_decoders(doc, resources)
        decoded = _content_streams(doc, contents)
        page_texts.append(
            unicode_from_content_bytes(b"\n".join(decoded), decoders))
    return "\n".join(page_texts).encode("utf-8")


def _rc(doc: DocumentParser, obj, depth: int = 16):
    """Resolve through CHAINED indirect references for the metadata/
    census walks (K49-K52): up to ``depth`` hops, None on any failure.
    Mirrors tools/make_oracle's reference-side `_rr` + its failure
    tolerance exactly, so the two stacks cannot diverge on chained or
    dangling refs (review finding: the kernel resolved one level and
    skipped, the oracle chained 16 and raised)."""
    n = 0
    while isinstance(obj, Ref) and n < depth:
        try:
            obj = doc.resolve(obj)
        except Exception:  # noqa: BLE001 - dangling/broken ref
            return None
        n += 1
    return obj


def doc_metadata(doc: DocumentParser) -> str:
    """Canonical Info-dictionary + annotation-census line (K49); the
    formatter is the SHARED kernel.docmeta.metadata_line — the oracle
    resolves the same objects through the reference parser."""
    from .docmeta import METADATA_KEYS, metadata_line

    info = _rc(doc, doc.trailer.get("Info"))
    raw = {}
    if isinstance(info, dict):
        for key in METADATA_KEYS:
            b = _raw_string(_rc(doc, info.get(key)))
            if b is not None:
                raw[key] = b
    n_annots = 0
    for page, _resources in pages_with_resources(doc):
        annots = _rc(doc, page.get("Annots")
                     if isinstance(page, dict) else None)
        if isinstance(annots, list):
            n_annots += len(annots)
    return metadata_line(raw, n_annots)


def doc_links(doc: DocumentParser):
    """Outlink census (K50): URI targets of Link annotations (PDF 1.7
    §12.5.6.5 + §12.6.4.7) across all pages — the outlink source a
    crawl pipeline feeds its frontier/link graph from. Returns
    (n_links, canonical census line); the formatter is the SHARED
    kernel.docmeta.links_line, mirrored over the reference parser by
    tools/make_oracle.py."""
    from .docmeta import decode_text_string, links_line

    uris = []
    for page, _resources in pages_with_resources(doc):
        annots = _rc(doc, page.get("Annots")
                     if isinstance(page, dict) else None)
        if not isinstance(annots, list):
            continue
        for aref in annots:
            annot = _rc(doc, aref)
            if not isinstance(annot, dict) \
                    or annot.get("Subtype") != "Link":
                continue
            action = _rc(doc, annot.get("A"))
            if not isinstance(action, dict) or action.get("S") != "URI":
                continue
            raw = _raw_string(_rc(doc, action.get("URI")))
            if raw is not None:
                uris.append(decode_text_string(raw))
    return len(uris), links_line(uris)


def _xmp_packet(doc: DocumentParser):
    """The catalog's /Metadata stream payload through the full filter/
    decrypt chain, or None when absent/unresolvable."""
    try:
        catalog = doc.resolve(doc.trailer["Root"])
    except Exception:  # noqa: BLE001
        return None
    meta = _rc(doc, catalog.get("Metadata")
               if isinstance(catalog, dict) else None)
    if not isinstance(meta, Stream):
        return None
    try:
        return meta.payload()
    except Exception:  # noqa: BLE001
        return None


def doc_xmp(doc: DocumentParser):
    """XMP metadata packet (K51): (byte length, md5 hex) of the
    catalog's /Metadata payload, or (0, "") when absent. The packet is
    pinned as RAW BYTES deliberately: parsing the RDF/XML with stdlib
    xml.etree would expose executors to entity-expansion attacks, and
    byte identity across both parser stacks is the stronger gate
    anyway (it covers catalog traversal + stream decode end to end)."""
    import hashlib

    payload = _xmp_packet(doc)
    if payload is None:
        return 0, ""
    return len(payload), hashlib.md5(payload).hexdigest()


def doc_xmp_fields(doc: DocumentParser):
    """Dublin Core field census (K55): (count, canonical lines) of the
    dc:title/dc:creator/dc:description values scanned — regex-level,
    never an XML parser (see kernel.docmeta.xmp_fields for the bounded
    scan rationale) — from the K51 packet. Shared formatter across both
    parser stacks, same as the other census gates."""
    from .docmeta import xmp_fields, xmp_fields_line

    payload = _xmp_packet(doc)
    if payload is None:
        return 0, ""
    fields = xmp_fields(payload)
    return len(fields), xmp_fields_line(fields)


#: outline-walk bounds: node budget and child depth (hostile trees can
#: cycle through First/Next; the walk is iterative + visited-checked)
MAX_OUTLINE_NODES = 4096
MAX_OUTLINE_DEPTH = 64


def doc_outline(doc: DocumentParser):
    """Bookmark/outline census (K52): the catalog /Outlines tree walked
    First/Next (PDF 1.7 §12.3.3) into (count, canonical census) — one
    'depth|title' line per item in document order, titles decoded per
    §7.9.2.2 via the shared kernel.docmeta text-string rule. Iterative
    walk with a node budget, a depth cap, and an identity-visited set,
    so cyclic or hostile trees terminate with partial output instead of
    hanging an executor."""
    from .docmeta import decode_text_string

    try:
        catalog = doc.resolve(doc.trailer["Root"])
    except Exception:  # noqa: BLE001
        return 0, ""
    root = _rc(doc, catalog.get("Outlines")
               if isinstance(catalog, dict) else None)
    if not isinstance(root, dict):
        return 0, ""
    lines = []
    seen = set()
    stack = [(root.get("First"), 0)]
    while stack and len(lines) < MAX_OUTLINE_NODES:
        node_ref, depth = stack.pop()
        if node_ref is None or depth > MAX_OUTLINE_DEPTH:
            continue
        key = (node_ref.num, node_ref.gen) if isinstance(node_ref, Ref) \
            else id(node_ref)
        if key in seen:
            continue
        seen.add(key)
        node = _rc(doc, node_ref)
        if not isinstance(node, dict):
            continue
        raw = _raw_string(_rc(doc, node.get("Title")))
        title = decode_text_string(raw) if raw is not None else ""
        lines.append("%d|%s" % (
            depth, title.replace("\\", "\\\\").replace("\n", "\\n")
            .replace("\r", "\\r")))
        # push Next FIRST so the child subtree (First) is emitted before
        # the sibling — document order under a LIFO stack
        stack.append((node.get("Next"), depth))
        stack.append((node.get("First"), depth + 1))
    return len(lines), "\n".join(lines)
