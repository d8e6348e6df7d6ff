"""PDF object grammar, cross-reference index, and whole-document parser.

Three layers, mirroring the reference's capabilities with a different
architecture (index-based tokenizer, explicit memo dict, quirk-for-quirk
where output bytes depend on it):

* ``ObjectScanner`` — sequential recursive-descent object parser
  (parity: /root/reference/pdf4py/parser.py:142-349, SequentialParser)
* ``XrefChain`` — chained cross-reference sections, newest first
  (parity: parser.py:11-138, XRefTable — including the no-op free-entry
  filter during iteration and the classic-table gen-1 free-key quirk)
* ``DocumentParser`` — header + xref bootstrap + random-access object
  retrieval with per-document memoization
  (parity: parser.py:353-697, Parser)
"""

from __future__ import annotations

from .crypto import SecurityContext
from .filters import run_filter_chain
from .lexer import Tokenizer
from .model import (
    DictMark, HexString, IndirectObject, Keyword, KernelError,
    LiteralString, Operator, PackedEntry, Ref, Singleton, StreamMark,
    Stream, StructureError, UnsupportedFeatureError, UsedEntry,
)

_TRAILER_KEYS = frozenset(("Root", "ID", "Size", "Encrypt", "Info", "Prev"))


class ObjectScanner:
    """Parses PDF objects in stream order from a payload.

    ``content_mode=True`` additionally accepts bare operators (content
    streams); ``content_mode=False`` treats them as structure errors
    (parity: parser.py:173,340-346).
    """

    #: max container nesting before a quarantinable StructureError: deep
    #: enough for any real PDF, shallow enough that adversarial nesting can
    #: never approach the CPython C-stack (no global recursionlimit
    #: mutation). Each level costs ONE Python frame (the parse body is a
    #: single function — the former parse/_parse_inner split paid a second
    #: call per parsed object, ~6% of kernel wall), so 200 levels = ~200
    #: frames — comfortable under the default 1000 even inside a pyspark
    #: worker with harness frames below (ADVICE r2). The raw-text fast
    #: path in textextract.py shares this limit but pays TWO frames per
    #: dict nesting level (consume_dict -> consume_value -> consume_dict),
    #: so a 200-deep dict chain there uses ~400 frames: still under the
    #: default limit, with half the headroom
    MAX_NESTING = 200

    def __init__(self, payload, stream_resolver=None, content_mode=True):
        self.tok = Tokenizer(payload)
        self.stream_resolver = stream_resolver
        self.security = None
        self.content_mode = content_mode
        self.done = False
        self._depth = 0
        try:
            self.tok.next_token()
        except StopIteration:
            self.done = True

    def __iter__(self):
        return self

    def __next__(self):
        return self.parse()

    def parse(self, obj_id=None):
        """Parse one object starting at the current token.

        Invariant: on entry ``tok.cur`` is the first unconsumed token; on
        return it is the token after the parsed object. One function on
        purpose: splitting the guarded wrapper from the body costs a
        second Python call per parsed object (~5M calls per corpus pass).
        """
        if self.done:
            raise StopIteration
        if self._depth >= self.MAX_NESTING:
            raise StructureError(
                "object nesting deeper than %d" % self.MAX_NESTING,
                pos=self.tok.pos)
        self._depth += 1
        try:
            tok = self.tok
            cur = tok.cur
            # exact-type dispatch ordered by content-stream frequency
            # (numbers >> names/operators >> strings >> containers); the
            # branch SET and each branch's behavior are identical to the
            # former isinstance ladder — exact types are disjoint (bool
            # is not int here, unlike isinstance), so order is free
            t = cur.__class__

            if t is int:
                first = cur
                try:
                    second = tok.next_token()
                except StopIteration:
                    self.done = True
                    return first
                # isinstance, not exact type: bool passes here (and can
                # become a Ref generation) exactly like the original
                # ladder and the reference's lookahead
                if not isinstance(second, int):
                    return first
                try:
                    third = tok.next_token()
                except StopIteration:
                    self.done = True
                    return first
                if isinstance(third, Operator) and third.value == "R":
                    try:
                        tok.next_token()
                    except StopIteration:
                        self.done = True
                    return Ref(first, second)
                if isinstance(third, Keyword) and third.value == b"obj":
                    tok.next_token()  # unprotected (parser.py:325)
                    inner = self.parse(obj_id)
                    if not (isinstance(tok.cur, Keyword) and tok.cur.value == b"endobj"):
                        raise StructureError("'obj' without matching 'endobj'")
                    try:
                        tok.next_token()
                    except StopIteration:
                        self.done = True
                    return IndirectObject(first, second, inner)
                # plain integer: return the third token to the stream
                tok.push_back(second)
                return first

            if t is float or t is str or t is bool:
                try:
                    tok.next_token()
                except StopIteration:
                    self.done = True
                return cur

            if t is Operator:
                if self.content_mode:
                    try:
                        tok.next_token()
                    except StopIteration:
                        self.done = True
                    return cur
                raise StructureError("unexpected token %r" % (cur,))

            if t is LiteralString or t is HexString:
                try:
                    tok.next_token()
                except StopIteration:
                    self.done = True
                if obj_id is not None and self.security is not None:
                    cur = t(self.security.decrypt_string(cur.value, obj_id))
                return cur

            if t is Singleton and cur.value == 0x5B:  # [
                tok.next_token()
                items = []
                while not (isinstance(tok.cur, Singleton) and tok.cur.value == 0x5D):
                    items.append(self.parse(obj_id))
                try:
                    tok.next_token()
                except StopIteration:
                    self.done = True
                return items

            if t is DictMark and cur.value == b"<<":
                tok.next_token()
                d = {}
                while True:
                    key = tok.cur
                    if isinstance(key, DictMark) and key.value == b">>":
                        break
                    if not isinstance(key, str):
                        raise StructureError(
                            "dictionary key must be a name, got %r" % (key,))
                    tok.next_token()
                    d[key] = self.parse(obj_id)
                try:
                    tok.next_token()
                except StopIteration:
                    self.done = True
                    return d
                if not isinstance(tok.cur, StreamMark):
                    return d
                if self.stream_resolver is None:
                    raise StructureError(
                        "stream encountered but no stream resolver configured")
                raw_reader = tok.cur.value
                length, payload_fn = self.stream_resolver(d, raw_reader, obj_id)
                closing = tok.jump(tok.pos + length)
                if not (isinstance(closing, Keyword) and closing.value == b"endstream"):
                    raise StructureError("'stream' without matching 'endstream'")
                tok.next_token()  # unprotected, like the reference (parser.py:276)
                return Stream(d, payload_fn)

            if cur is None:
                try:
                    tok.next_token()
                except StopIteration:
                    self.done = True
                return None

            raise StructureError("unexpected token %r" % (cur,))

        except KernelError as exc:
            if exc.pos is None:  # stamp the failure offset once
                exc.pos = self.tok.pos
            raise
        finally:
            self._depth -= 1


#: page-tree depth bound: real trees are balanced wide-fanout (depth ~
#: log_k(pages)); 256 admits any legal document while making cyclic or
#: adversarially-deep trees a clean quarantinable StructureError instead
#: of an unbounded-recursion RecursionError (ADVICE r2)
MAX_PAGE_TREE_DEPTH = 256


def walk_page_tree(resolve, root, visit, extra=None, inherit=None):
    """Iterative pre-order page-tree walk (document order), shared by
    object census and both text-extraction modes.

    Explicit stack — no Python recursion, so hostile depth can't touch
    the C stack; the depth cap also terminates reference cycles (a DAG
    re-visit of a shared node is still walked twice, matching the
    reference's recursive semantics for legal-but-weird documents).
    ``inherit(node, extra)`` computes the value threaded to children
    (e.g. inheritable /Resources); ``visit(leaf, extra)`` is called per
    page leaf."""
    stack = [(root, 0, extra)]
    while stack:
        node_ref, depth, ex = stack.pop()
        node = resolve(node_ref) if isinstance(node_ref, Ref) else node_ref
        if isinstance(node, dict) and node.get("Type") == "Pages":
            if depth >= MAX_PAGE_TREE_DEPTH:
                raise StructureError(
                    "page tree deeper than %d (cyclic or adversarial)"
                    % MAX_PAGE_TREE_DEPTH)
            child_ex = inherit(node, ex) if inherit is not None else ex
            for kid in reversed(node["Kids"]):
                stack.append((kid, depth + 1, child_ex))
        else:
            visit(node, inherit(node, ex) if inherit is not None else ex)


class XrefChain:
    """One cross-reference section plus a link to the older section."""

    __slots__ = ("older", "used", "free", "packed")

    def __init__(self, older, used: dict, free: set, packed: dict = None):
        self.older = older
        self.used = used
        self.free = free
        self.packed = packed if packed is not None else {}

    def lookup(self, key: tuple):
        """Newest-wins entry lookup; None for freed objects; KeyError when
        absent from the whole chain (parity: parser.py:54-90)."""
        hit = self.used.get(key)
        if hit is not None:
            return hit
        hit = self.packed.get(key)
        if hit is not None:
            return hit
        if key in self.free:
            return None
        if self.older is None:
            raise KeyError(key)
        return self.older.lookup(key)

    def entries(self):
        """All in-use + packed entries, oldest section first. Parity with
        the reference's iterator, which yields superseded entries too
        (its free filter is a no-op — parser.py:100-108)."""
        if self.older is not None:
            yield from self.older.entries()
        yield from self.used.values()
        yield from self.packed.values()


class DocumentParser:
    """Random-access PDF reader: header, xref chain, object retrieval,
    decryption. One instance per document; never shared across rows."""

    def __init__(self, payload, password=None):
        if isinstance(payload, memoryview):
            payload = bytes(payload)
        self._payload = payload
        self.scanner = ObjectScanner(
            payload, stream_resolver=self._resolve_stream, content_mode=False)
        self._memo = {}
        self._cur_obj_id = None
        self.n_xref_sections = 0
        self.filters_seen: set = set()
        self.version = self._read_version()
        self._load_xref_chain()
        enc = self.trailer.get("Encrypt")
        if enc is not None:
            if isinstance(enc, Ref):
                enc = self.resolve(enc)
            self.security = SecurityContext(password, enc, self.trailer.get("ID"))
        else:
            self.security = None
        self.scanner.security = self.security

    # -- bootstrap -------------------------------------------------------------

    def _read_version(self) -> str:
        buf = self._payload
        end = len(buf)
        for i, c in enumerate(buf):
            if c in (0x0A, 0x0D):
                end = i
                break
        if end == len(buf):
            raise StructureError("no header line found")
        return buf[:end].decode("utf8")[1:]

    def _load_xref_chain(self):
        tok = self.scanner.tok
        anchor = tok.find_last_line(b"startxref")
        if anchor < 0:
            raise StructureError("'startxref' anchor not found",
                                 pos=len(tok.buf))
        section_pos = tok.next_token()
        sections = []  # collected newest -> oldest, prepended
        self.trailer = {}
        while isinstance(section_pos, int) and section_pos >= 0:
            lead = tok.jump(section_pos)
            if isinstance(lead, Keyword) and lead.value == b"xref":
                trailer, data = self._read_classic_section()
                sections.insert(0, data)
                hybrid_pos = trailer.get("XRefStm")
                if hybrid_pos is not None:
                    tok.jump(hybrid_pos)
                    _, hybrid_data = self._read_xref_stream()
                    sections.insert(0, hybrid_data)
            else:
                trailer, data = self._read_xref_stream()
                sections.insert(0, data)
            self.n_xref_sections += 1
            if "Prev" in trailer:
                section_pos = trailer.pop("Prev")
            else:
                section_pos = -1
            # parity quirk: older trailers overwrite newer keys
            # (parser.py:523 update order)
            self.trailer.update(trailer)
        self.xref = None
        for data in sections:
            self.xref = XrefChain(self.xref, *data)

    def _read_classic_section(self):
        """Classic ``xref`` table (parity: parser.py:614-652, including the
        gen-1 key stored for free entries)."""
        tok = self.scanner.tok
        tok.next_token()
        used, free = {}, set()
        while isinstance(tok.cur, int):
            start = tok.cur
            count = tok.next_token()
            if not isinstance(count, int):
                raise StructureError("xref subsection needs an entry count")
            for i in range(count):
                offset = tok.next_token()
                if not isinstance(offset, int):
                    raise StructureError("xref entry offset must be int")
                gen = tok.next_token()
                if not isinstance(gen, int):
                    raise StructureError("xref entry generation must be int")
                flag = tok.next_token()
                if not isinstance(flag, Operator) or flag.value not in ("n", "f"):
                    raise StructureError("xref entry flag must be 'n' or 'f'")
                if start == 0 and i == 0:
                    continue  # linked-list head, unused
                if flag.value == "n":
                    used[(start + i, gen)] = UsedEntry(offset, start + i, gen)
                else:
                    free.add((start + i, gen - 1))
            tok.next_token()
        if not (isinstance(tok.cur, Keyword) and tok.cur.value == b"trailer"):
            raise StructureError("classic xref section lacks a 'trailer'")
        tok.next_token()
        trailer = self.scanner.parse()
        return trailer, (used, free)

    def _read_xref_stream(self):
        """Cross-reference stream (parity: parser.py:531-611)."""
        wrapper = self.scanner.parse()
        if not isinstance(wrapper, IndirectObject) or not isinstance(
                wrapper.value, Stream):
            raise StructureError("expected an indirect xref stream object")
        meta, payload_fn = wrapper.value
        if meta.get("Type") != "XRef":
            raise StructureError("xref stream lacks /Type /XRef")
        trailer = {k: meta[k] for k in meta if k in _TRAILER_KEYS}
        raw = payload_fn()
        size = meta["Size"]
        index = meta.get("Index", [0, size])
        widths = list(meta["W"])
        used, free, packed = {}, set(), {}
        pos = 0
        for i in range(0, len(index) - 1, 2):
            start, count = index[i], index[i + 1]
            for j in range(count):
                if start == 0 and j == 0:
                    pos += sum(widths)
                    continue
                fields = [None, None, None]
                for k in range(3):
                    if widths[k] > 0:
                        fields[k] = int.from_bytes(raw[pos:pos + widths[k]], "big")
                        pos += widths[k]
                if fields[0] is None:
                    fields[0] = 1
                if fields[0] == 1 and fields[2] is None:
                    fields[2] = 0
                num = start + j
                if fields[0] == 0:
                    free.add((num, fields[2]))
                elif fields[0] == 1:
                    used[(num, fields[2])] = UsedEntry(fields[1], num, fields[2])
                else:
                    packed[(num, 0)] = PackedEntry(num, fields[1], fields[2])
        return trailer, (used, free, packed)

    # -- object retrieval --------------------------------------------------------

    def resolve(self, target):
        """Parse the object behind a Ref / UsedEntry / PackedEntry, memoized
        per document (parity: parser.py:415-483 with its @lru_cache)."""
        memo_key = target
        hit = self._memo.get(memo_key) if not isinstance(memo_key, list) else None
        if hit is not None:
            return hit
        obj = self._resolve_uncached(target)
        try:
            self._memo[memo_key] = obj
        except TypeError:
            pass
        return obj

    def _resolve_uncached(self, target):
        if isinstance(target, Ref):
            target = self.xref.lookup((target.num, target.gen))
        if isinstance(target, UsedEntry):
            self._cur_obj_id = (target.num, target.gen)
            self.scanner.tok.jump(target.offset)
            obj = self.scanner.parse(self._cur_obj_id).value
            self.scanner.tok.rewind()
            return obj
        if isinstance(target, PackedEntry):
            container = self.resolve(Ref(target.container, 0))
            meta, payload_fn = container
            data = payload_fn()
            outer = self.scanner
            self.scanner = ObjectScanner(
                data, stream_resolver=self._resolve_stream, content_mode=False)
            self.scanner.security = self.security
            try:
                found = None
                for _ in range(meta["N"]):
                    num = self.scanner.parse()
                    off = self.scanner.parse()
                    if not (isinstance(num, int) and isinstance(off, int)):
                        raise StructureError("object stream header must be int pairs")
                    if num == target.num:
                        self.scanner.tok.jump(meta["First"] + off)
                        found = self.scanner.parse(self._cur_obj_id)
                        break
                if found is None:
                    raise StructureError(
                        "object %d not present in its object stream" % target.num)
                return found
            finally:
                self.scanner = outer
        raise ValueError("cannot resolve %r" % (target,))

    # -- stream plumbing -----------------------------------------------------------

    def _resolve_stream(self, meta: dict, raw_reader, obj_id=None):
        """Resolve Length (possibly indirect), then build the lazy
        decrypt-then-decode payload callable (parity: parser.py:655-697;
        xref streams skip decryption — parser.py:687)."""
        if meta.get("F") is not None:
            raise UnsupportedFeatureError("external-file streams not supported")
        length = meta.get("Length")
        if length is None:
            raise StructureError("stream dictionary lacks Length")
        if isinstance(length, Ref):
            try:
                entry = self.xref.lookup((length.num, length.gen))
            except KeyError:
                raise StructureError("Length reference points nowhere")
            length = self.resolve(entry)
        if not isinstance(length, int):
            raise StructureError("stream Length is not an integer")
        # document offset of the stream data, for quarantine context
        stream_pos = self.scanner.tok.pos

        def payload():
            data = raw_reader(length)
            if isinstance(data, memoryview):
                data = bytes(data)
            chain = meta.get("Filter")
            if chain is not None:
                self.filters_seen.update(
                    chain if isinstance(chain, list) else (chain,))
            if meta.get("Type") != "XRef" and self.security is not None:
                try:
                    data = self.security.decrypt_stream(data, meta, obj_id)
                except Exception as exc:
                    raise StructureError("stream decryption failed: %s" % exc,
                                         pos=stream_pos)
            try:
                return run_filter_chain(meta, data)
            except Exception as exc:
                raise StructureError("stream decoding failed: %s" % exc,
                                     pos=stream_pos)

        return length, payload

    # -- document structure -----------------------------------------------------------

    def page_dicts(self):
        """Catalog -> page tree walk, in document order
        (parity: _document.py:26-46)."""
        catalog = self.resolve(self.trailer["Root"])
        pages = []
        walk_page_tree(self.resolve, catalog["Pages"],
                       lambda node, _extra: pages.append(node))
        return pages
