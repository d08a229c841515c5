"""Glyph-code → Unicode mapping: ToUnicode CMaps and base encodings.

Implements the ToUnicode CMap subset of Adobe CMap syntax used for
text extraction (ISO 32000-1 §9.10.3): ``begincodespacerange``,
``beginbfchar``, ``beginbfrange`` (both the increment and the array
form), with 1- and 2-byte code spaces. Fallbacks: WinAnsiEncoding,
MacRomanEncoding, StandardEncoding (§D.2) and /Differences arrays.

Replaces the glyph-to-Unicode path the reference gets from pdf.js
(``getTextContent`` at ``src/services/pdfParser/index.ts:37``).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from .lexer import Keyword, Name, tokenize_content

# ----------------------------------------------------------------------
# base single-byte encodings
# ----------------------------------------------------------------------
# WinAnsiEncoding == Windows-1252 for the printable range; Python's
# cp1252 codec is the public normative source.
_WINANSI: Dict[int, str] = {}
for _b in range(32, 256):
    try:
        _WINANSI[_b] = bytes([_b]).decode("cp1252")
    except UnicodeDecodeError:
        pass

# StandardEncoding differences from ASCII (ISO 32000-1 Annex D.2).
_STANDARD: Dict[int, str] = {b: chr(b) for b in range(32, 127)}
_STANDARD.update(
    {
        0x27: "’",  # quoteright
        0x60: "‘",  # quoteleft
        0xA1: "¡", 0xA2: "¢", 0xA3: "£", 0xA4: "⁄",
        0xA5: "¥", 0xA6: "ƒ", 0xA7: "§", 0xA8: "¤",
        0xA9: "'", 0xAA: "“", 0xAB: "«", 0xAC: "‹",
        0xAD: "›", 0xAE: "ﬁ", 0xAF: "ﬂ", 0xB1: "–",
        0xB2: "†", 0xB3: "‡", 0xB4: "·", 0xB6: "¶",
        0xB7: "•", 0xB8: "‚", 0xB9: "„", 0xBA: "”",
        0xBB: "»", 0xBC: "…", 0xBD: "‰", 0xBF: "¿",
        0xC1: "`", 0xC2: "´", 0xC3: "ˆ", 0xC4: "˜",
        0xC5: "¯", 0xC6: "˘", 0xC7: "˙", 0xC8: "¨",
        0xCA: "˚", 0xCB: "¸", 0xCD: "˝", 0xCE: "˛",
        0xCF: "ˇ", 0xD0: "—", 0xE1: "Æ", 0xE3: "ª",
        0xE8: "Ł", 0xE9: "Ø", 0xEA: "Œ", 0xEB: "º",
        0xF1: "æ", 0xF5: "ı", 0xF8: "ł", 0xF9: "ø",
        0xFA: "œ", 0xFB: "ß",
    }
)

_MACROMAN: Dict[int, str] = {}
for _b in range(32, 256):
    try:
        _MACROMAN[_b] = bytes([_b]).decode("mac_roman")
    except UnicodeDecodeError:
        pass

BASE_ENCODINGS: Dict[str, Dict[int, str]] = {
    "WinAnsiEncoding": _WINANSI,
    "StandardEncoding": _STANDARD,
    "MacRomanEncoding": _MACROMAN,
}

# Minimal glyph-name → unicode map for /Differences arrays. Covers
# ASCII names plus the common Latin/ligature/punctuation names; the
# full Adobe Glyph List is public but only this subset is exercised.
GLYPH_NAMES: Dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "bullet": "•",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "ellipsis": "…",
    "fi": "ﬁ", "fl": "ﬂ", "degree": "°",
    "cent": "¢", "sterling": "£", "yen": "¥",
    "section": "§", "copyright": "©", "registered": "®",
    "trademark": "™", "eacute": "é", "egrave": "è",
    "agrave": "à", "ccedilla": "ç", "adieresis": "ä",
    "odieresis": "ö", "udieresis": "ü", "ntilde": "ñ",
    "Euro": "€",
}
for _c in range(ord("A"), ord("Z") + 1):
    GLYPH_NAMES[chr(_c)] = chr(_c)
for _c in range(ord("a"), ord("z") + 1):
    GLYPH_NAMES[chr(_c)] = chr(_c)


def _utf16be_to_str(b: bytes) -> str:
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return b.decode("utf-16-be", errors="replace")


class ToUnicodeCMap:
    """A parsed ToUnicode CMap: code → unicode string, 1- or 2-byte codes."""

    def __init__(self):
        self.single: Dict[int, str] = {}
        self.code_lengths: List[int] = []  # distinct code byte-lengths seen

    @classmethod
    def parse(cls, data: bytes) -> "ToUnicodeCMap":
        cm = cls()
        toks = list(tokenize_content(data))
        lengths = set()
        i = 0
        n = len(toks)
        while i < n:
            t = toks[i]
            if isinstance(t, Keyword):
                if t == b"begincodespacerange":
                    i += 1
                    while i < n and not (
                        isinstance(toks[i], Keyword) and toks[i] == b"endcodespacerange"
                    ):
                        lo = toks[i]
                        if isinstance(lo, bytes) and not isinstance(lo, Keyword):
                            lengths.add(len(lo))
                        i += 1
                elif t == b"beginbfchar":
                    i += 1
                    while i + 1 < n and not (
                        isinstance(toks[i], Keyword) and toks[i] == b"endbfchar"
                    ):
                        src, dst = toks[i], toks[i + 1]
                        if isinstance(src, bytes) and isinstance(dst, bytes):
                            lengths.add(len(src))
                            cm.single[int.from_bytes(src, "big")] = _utf16be_to_str(dst)
                        i += 2
                elif t == b"beginbfrange":
                    i += 1
                    while i + 2 < n and not (
                        isinstance(toks[i], Keyword) and toks[i] == b"endbfrange"
                    ):
                        lo, hi, dst = toks[i], toks[i + 1], toks[i + 2]
                        if isinstance(lo, bytes) and isinstance(hi, bytes):
                            lengths.add(len(lo))
                            lo_i = int.from_bytes(lo, "big")
                            hi_i = int.from_bytes(hi, "big")
                            if isinstance(dst, list):
                                for k, d in enumerate(dst):
                                    if isinstance(d, bytes) and lo_i + k <= hi_i:
                                        cm.single[lo_i + k] = _utf16be_to_str(d)
                            elif isinstance(dst, bytes):
                                base = int.from_bytes(dst, "big")
                                width = max(1, len(dst))
                                # a destination that would overflow its
                                # byte width ends the range there
                                span = min(hi_i - lo_i + 1, (1 << (8 * width)) - base)
                                for k in range(span):
                                    cm.single[lo_i + k] = _utf16be_to_str(
                                        (base + k).to_bytes(width, "big")
                                    )
                        i += 3
            i += 1
        cm.code_lengths = sorted(lengths) or [1]
        return cm

    def decode(self, raw: bytes) -> str:
        """Decode a show-string using the CMap's code lengths (greedy)."""
        out: List[str] = []
        i = 0
        n = len(raw)
        lens = self.code_lengths
        while i < n:
            matched = False
            for L in lens:
                if i + L <= n:
                    code = int.from_bytes(raw[i : i + L], "big")
                    got = self.single.get(code)
                    if got is not None:
                        out.append(got)
                        i += L
                        matched = True
                        break
            if not matched:
                # undefined code: emit U+FFFD for the shortest code unit
                out.append("�")
                i += lens[0]
        return "".join(out)


class FontDecoder:
    """Decodes show-string bytes for one font resource.

    Priority (matching pdf.js text-extraction behavior): ToUnicode CMap
    if present; else — for a font with no /Encoding whose embedded font
    program yields a usable charcode→unicode map (symbolic TrueType
    cmap+post, Type1 built-in /Encoding; see ``fontprog``) — that
    embedded map; else /Encoding /Differences over a base encoding,
    else the base/Standard encoding byte table.
    """

    def __init__(
        self,
        tounicode: Optional[ToUnicodeCMap] = None,
        base_encoding: Optional[str] = None,
        differences: Optional[Dict[int, str]] = None,
        embedded: Optional[Dict[int, str]] = None,
    ):
        self.tounicode = tounicode
        if embedded is not None:
            # symbolic fonts must not fall back to StandardEncoding —
            # an unmapped code is unknown, not "probably ASCII"
            codes = embedded
        else:
            codes = dict(BASE_ENCODINGS.get(base_encoding or "StandardEncoding", _STANDARD))
            if differences:
                codes.update(differences)
        # the str.translate table of all 256 codes, U+FFFD where unmapped
        self.table = [codes.get(b, "\ufffd") for b in range(256)]

    def decode(self, raw: bytes) -> str:
        if self.tounicode is not None:
            return self.tounicode.decode(raw)
        # one C call: each byte is the latin-1 char of the same ordinal
        return raw.decode("latin-1").translate(self.table)


def parse_differences(diff_array: list) -> Dict[int, str]:
    """Parse an /Encoding /Differences array: int code then glyph names."""
    out: Dict[int, str] = {}
    code = 0
    for item in diff_array:
        if isinstance(item, (int, float)):
            code = int(item)
        elif isinstance(item, Name):
            glyph = GLYPH_NAMES.get(str(item))
            if glyph is None and str(item).startswith("uni"):
                try:
                    glyph = chr(int(str(item)[3:7], 16))
                except ValueError:
                    glyph = None
            out[code] = glyph if glyph is not None else "�"
            code += 1
    return out
