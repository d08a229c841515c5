"""COS (Carousel Object System) tokenizer and object parser.

Implements the PDF object syntax of ISO 32000-1 §7.3: booleans,
integers, reals, literal strings, hex strings, names, arrays,
dictionaries, streams, null, and indirect references.

This is the from-scratch replacement for the tokenizer the reference
gets for free inside vendored pdf.js (see SURVEY.md §2.3 T5; the
reference consumes it via ``getDocument`` at
``src/services/pdfParser/index.ts:23``).
"""

from __future__ import annotations

import re
from typing import Any, Tuple

WHITESPACE = b"\x00\t\n\x0c\r "
DELIMITERS = b"()<>[]{}/%"


class Name(str):
    """A PDF name object (``/Foo``). Subclasses str for easy dict keys."""

    __slots__ = ()


class Ref:
    """An indirect object reference ``num gen R``."""

    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Ref) and (self.num, self.gen) == (other.num, other.gen)

    def __hash__(self) -> int:
        return hash((self.num, self.gen))

    def __repr__(self) -> str:
        return f"Ref({self.num},{self.gen})"


class StreamObj:
    """A stream object: its dictionary plus raw (still-encoded) bytes."""

    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw

    def __repr__(self) -> str:
        return f"StreamObj(dict={self.dict!r}, raw={len(self.raw)} bytes)"


class LexError(ValueError):
    pass


def is_ws(b: int) -> bool:
    return b in WHITESPACE


def is_delim(b: int) -> bool:
    return b in DELIMITERS


def is_regular(b: int) -> bool:
    return not is_ws(b) and not is_delim(b)


class Lexer:
    """Byte-level scanner over a PDF buffer.

    ``pos`` is a plain integer cursor; all ``read_*`` methods advance it.
    """

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.n = len(data)

    # ------------------------------------------------------------------
    # low-level scanning
    # ------------------------------------------------------------------
    def skip_ws(self) -> None:
        """Skip whitespace and comments (``%`` to end of line)."""
        d, n = self.data, self.n
        while self.pos < n:
            b = d[self.pos]
            if is_ws(b):
                self.pos += 1
            elif b == 0x25:  # '%' comment
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def peek(self) -> int:
        if self.pos >= self.n:
            raise LexError("unexpected EOF")
        return self.data[self.pos]

    def _read_regular_run(self) -> bytes:
        start = self.pos
        d, n = self.data, self.n
        while self.pos < n and is_regular(d[self.pos]):
            self.pos += 1
        return d[start : self.pos]

    # ------------------------------------------------------------------
    # object readers
    # ------------------------------------------------------------------
    def read_object(self) -> Any:
        """Read one COS object at the cursor (after skipping whitespace)."""
        self.skip_ws()
        if self.pos >= self.n:
            raise LexError("unexpected EOF while reading object")
        b = self.data[self.pos]

        if b == 0x2F:  # '/'
            return self.read_name()
        if b == 0x28:  # '('
            return self.read_literal_string()
        if b == 0x3C:  # '<'
            if self.pos + 1 < self.n and self.data[self.pos + 1] == 0x3C:
                return self.read_dict_or_stream()
            return self.read_hex_string()
        if b == 0x5B:  # '['
            return self.read_array()
        if b == 0x5D:  # ']'
            raise LexError("unexpected ']'")
        if b in b"+-.0123456789":
            return self.read_number_or_ref()
        # keyword
        kw = self._read_regular_run()
        if kw == b"true":
            return True
        if kw == b"false":
            return False
        if kw == b"null":
            return None
        if not kw:
            raise LexError(f"cannot lex byte {b!r} at {self.pos}")
        return Keyword(kw)

    def read_name(self) -> Name:
        assert self.data[self.pos] == 0x2F
        self.pos += 1
        out = bytearray()
        d, n = self.data, self.n
        while self.pos < n:
            b = d[self.pos]
            if not is_regular(b):
                break
            if b == 0x23 and self.pos + 2 < n:  # '#xx' escape
                try:
                    out.append(int(d[self.pos + 1 : self.pos + 3], 16))
                    self.pos += 3
                    continue
                except ValueError:
                    pass
            out.append(b)
            self.pos += 1
        return Name(out.decode("latin-1"))

    def read_literal_string(self) -> bytes:
        assert self.data[self.pos] == 0x28
        self.pos += 1
        out = bytearray()
        depth = 1
        d, n = self.data, self.n
        while self.pos < n:
            b = d[self.pos]
            if b == 0x5C:  # backslash escape
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e == 0x6E:
                    out.append(0x0A)
                elif e == 0x72:
                    out.append(0x0D)
                elif e == 0x74:
                    out.append(0x09)
                elif e == 0x62:
                    out.append(0x08)
                elif e == 0x66:
                    out.append(0x0C)
                elif e in b"()\\":
                    out.append(e)
                elif e in b"01234567":  # octal, up to 3 digits
                    oct_digits = bytearray([e])
                    for _ in range(2):
                        if self.pos + 1 < n and d[self.pos + 1] in b"01234567":
                            self.pos += 1
                            oct_digits.append(d[self.pos])
                        else:
                            break
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    if e == 0x0D and self.pos + 1 < n and d[self.pos + 1] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                self.pos += 1
            elif b == 0x28:
                depth += 1
                out.append(b)
                self.pos += 1
            elif b == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(b)
            else:
                out.append(b)
                self.pos += 1
        raise LexError("unterminated literal string")

    def read_hex_string(self) -> bytes:
        assert self.data[self.pos] == 0x3C
        self.pos += 1
        digits = bytearray()
        d, n = self.data, self.n
        while self.pos < n:
            b = d[self.pos]
            self.pos += 1
            if b == 0x3E:  # '>'
                if len(digits) % 2 == 1:
                    digits.append(0x30)  # odd count: pad with '0'
                return bytes.fromhex(digits.decode("ascii"))
            if b in b"0123456789abcdefABCDEF":
                digits.append(b)
            elif is_ws(b):
                continue
            else:
                raise LexError(f"bad hex digit {b!r}")
        raise LexError("unterminated hex string")

    def read_array(self) -> list:
        assert self.data[self.pos] == 0x5B
        self.pos += 1
        out = []
        while True:
            self.skip_ws()
            if self.pos >= self.n:
                raise LexError("unterminated array")
            if self.data[self.pos] == 0x5D:
                self.pos += 1
                return out
            out.append(self.read_object())

    def read_dict_or_stream(self) -> Any:
        d = self.read_dict()
        save = self.pos
        self.skip_ws()
        kw_start = self.pos
        if self.data[kw_start : kw_start + 6] == b"stream":
            self.pos = kw_start + 6
            # EOL after 'stream': CRLF or LF (spec 7.3.8.1)
            if self.data[self.pos : self.pos + 2] == b"\r\n":
                self.pos += 2
            elif self.pos < self.n and self.data[self.pos] in b"\n\r":
                self.pos += 1
            length = d.get("Length")
            if isinstance(length, int):
                raw = self.data[self.pos : self.pos + length]
                end = self.pos + length
                # verify 'endstream' follows (allow ws)
                probe = Lexer(self.data, end)
                probe.skip_ws()
                if self.data[probe.pos : probe.pos + 9] == b"endstream":
                    self.pos = probe.pos + 9
                    return StreamObj(d, raw)
            # Length missing, indirect, or wrong: scan for 'endstream'
            idx = self.data.find(b"endstream", self.pos)
            if idx < 0:
                raise LexError("stream without endstream")
            raw = self.data[self.pos : idx]
            # trim trailing EOL that belongs to the keyword, not the data
            if raw.endswith(b"\r\n"):
                raw = raw[:-2]
            elif raw.endswith(b"\n") or raw.endswith(b"\r"):
                raw = raw[:-1]
            self.pos = idx + 9
            return StreamObj(d, raw)
        self.pos = save
        return d

    def read_dict(self) -> dict:
        assert self.data[self.pos : self.pos + 2] == b"<<"
        self.pos += 2
        out: dict = {}
        while True:
            self.skip_ws()
            if self.pos >= self.n:
                raise LexError("unterminated dict")
            if self.data[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self.read_object()
            if not isinstance(key, Name):
                raise LexError(f"dict key is not a name: {key!r}")
            val = self.read_object()
            out[str(key)] = val

    def read_number_or_ref(self) -> Any:
        """Read a number; if it is ``int int R`` collapse to a Ref."""
        num = self.read_number()
        if isinstance(num, int) and num >= 0:
            save = self.pos
            try:
                self.skip_ws()
                b = self.peek()
                if b in b"0123456789":
                    gen = self.read_number()
                    if isinstance(gen, int):
                        self.skip_ws()
                        if (
                            self.pos < self.n
                            and self.data[self.pos : self.pos + 1] == b"R"
                            and (
                                self.pos + 1 >= self.n
                                or not is_regular(self.data[self.pos + 1])
                            )
                        ):
                            self.pos += 1
                            return Ref(num, gen)
            except LexError:
                pass
            self.pos = save
        return num

    def read_number(self) -> Any:
        raw = self._read_regular_run()
        if not raw:
            raise LexError(f"expected number at {self.pos}")
        return _number(raw)

    def expect_keyword(self, kw: bytes) -> None:
        self.skip_ws()
        got = self._read_regular_run()
        if got != kw:
            raise LexError(f"expected {kw!r}, got {got!r} at {self.pos}")


class Keyword(bytes):
    """A bare keyword token (content-stream operator or ``obj`` etc.)."""

    __slots__ = ()


def _number(raw: bytes) -> Any:
    """A number token's value: int, else float."""
    try:
        if b"." in raw or b"e" in raw or b"E" in raw:
            return float(raw)
        return int(raw)
    except ValueError:
        # PDF tolerates things like '--5' or '.'; salvage leading number
        try:
            return float(raw.replace(b"--", b"-"))
        except ValueError:
            raise LexError(f"bad number token {raw!r}") from None


_WS_CLASS = rb"\x00\t\n\x0c\r "
_REGULAR = rb"[^" + _WS_CLASS + rb"()<>\[\]{}/%]"
# One step of the content tokenizer: skip whitespace and comments, then
# match one token. Every byte starts some alternative, so the match
# never fails, and possessive quantifiers never backtrack. The
# alternatives cover the plain forms; ``slow`` hands the rest (a name
# with a #xx escape, a literal string with an escape or nested
# parentheses, a dict, an array, a malformed hex string) to Lexer.
_TOKEN = re.compile(
    rb"(?:[" + _WS_CLASS + rb"]++|%[^\r\n]*+)*+"
    rb"(?:(?P<num>[+\-.0-9]" + _REGULAR + rb"*+)"
    rb"|/(?P<name>[^" + _WS_CLASS + rb"()<>\[\]{}/%#]*+)(?!" + _REGULAR + rb")"
    rb"|\((?P<str>[^()\\]*+)\)"
    rb"|<(?P<hex>[0-9A-Fa-f" + _WS_CLASS + rb"]*+)>"
    rb"|(?P<kw>" + _REGULAR + rb"++)"
    rb"|(?P<slow>[/(<\[])"
    rb"|(?P<stray>[)>\]{}])"
    rb"|(?P<end>\Z))"
)


def _skip_inline_image(data: bytes, pos: int) -> int:
    """The position after the ``EI`` that ends the inline image whose
    ``BI`` ends at ``pos``: the first ``EI`` with whitespace before it
    and whitespace or the end of data after it."""
    n = len(data)
    idx = data.find(b"EI", pos)
    while idx > 0 and not (
        is_ws(data[idx - 1]) and (idx + 2 >= n or is_ws(data[idx + 2]))
    ):
        idx = data.find(b"EI", idx + 2)
    return n if idx < 0 else idx + 2


def tokenize_content(data: bytes):
    """Yield tokens from a content stream: operands then Keyword operators.

    Content streams use plain COS syntax without indirect references
    (ISO 32000-1 §7.8.2). Inline images (BI..EI) are skipped wholesale.
    One compiled-pattern match per token; the forms it does not cover
    are read by Lexer from the same position.
    """
    match = _TOKEN.match
    lx = Lexer(data)
    pos = 0
    while True:
        m = match(data, pos)
        kind = m.lastgroup
        pos = m.end()
        if kind == "kw":
            kw = m[kind]
            if kw == b"BI":
                pos = _skip_inline_image(data, pos)
            elif kw == b"true":
                yield True
            elif kw == b"false":
                yield False
            elif kw == b"null":
                yield None
            else:
                yield Keyword(kw)
        elif kind == "num":
            yield _number(m[kind])
        elif kind == "name":
            yield Name(m[kind].decode("latin-1"))
        elif kind == "str":
            yield m[kind]
        elif kind == "hex":
            digits = m[kind].translate(None, WHITESPACE)
            if len(digits) % 2 == 1:
                digits += b"0"  # odd count: pad with '0'
            yield bytes.fromhex(digits.decode("ascii"))
        elif kind == "slow":
            lx.pos = start = m.start(kind)
            b = data[start]
            if b == 0x2F:
                tok = lx.read_name()
            elif b == 0x28:
                tok = lx.read_literal_string()
            elif b == 0x5B:
                tok = lx.read_array()
            elif data[start : start + 2] == b"<<":
                tok = lx.read_dict()
            else:
                tok = lx.read_hex_string()
            pos = lx.pos
            yield tok
        elif kind == "end":
            return
        # 'stray': a lone closing delimiter, skipped


def parse_object_at(data: bytes, offset: int) -> Tuple[int, int, Any]:
    """Parse an indirect object ``num gen obj ... endobj`` at ``offset``.

    Returns ``(num, gen, value)``. The ``endobj`` keyword is tolerated
    missing (some real-world producers omit it).
    """
    lx = Lexer(data, offset)
    lx.skip_ws()
    num = lx.read_number()
    lx.skip_ws()
    gen = lx.read_number()
    lx.expect_keyword(b"obj")
    val = lx.read_object()
    return int(num), int(gen), val
