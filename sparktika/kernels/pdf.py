"""PDF text extraction: object model + content-stream interpreter + PDFBox-
equivalent layout/paragraph reassembly.

From-scratch equivalent of the reference's PDF path (Tika 1.20 -> PDFBox;
ref parser dispatch at main/TikaForkMain.java:299-332; golden pinned at
1,069 content chars for fixtures/pdf-sample.pdf,
test/TikaProcessTest.java:129-133). Components:

object model
- top-level object scan (robust to any xref state) PLUS
- xref-stream parsing (/Type/XRef, /W columns, PNG Up predictor) from
  startxref with /Prev chaining — the primary lookup a large PDF needs
- object-stream (/Type/ObjStm) expansion (compressed objects)
- a small PDF value parser: dicts, arrays, names, numbers, refs, strings
- FlateDecode behind a decompression-ratio bomb guard
  (ref: zipBombCompressionRatio=200, ConfigurableAutoDetectParser.java:41-52)

fonts
- page /Resources -> /Font map; per font: /ToUnicode CMap (bfchar +
  bfrange), /Encoding /Differences glyph names (AGL subset + uniXXXX),
  WinAnsiEncoding byte table fallback — lookup order matches PDFBox
  (ToUnicode wins, then Differences, then base encoding)

geometry
- full text-matrix tracking (Tm, Td/TD/T*/TL compose the line matrix) and
  graphics state (cm with q/Q stack); spans carry device-space (x, y) and
  effective font size
- text operators: BT ET Tf Td TD Tm TL T* Tj TJ ' "
- TJ kerning offsets <= -180/1000 em render as a space

layout (the byte-parity core — mirrors the reference's handler stack)
- lines: emission order (PDFTextStripper default sortByPosition=false);
  a y change starts a new line; a same-line x gap > ~0.3em inserts one
  space unless a space already borders the gap
- paragraphs: new paragraph when the line-to-line y gap exceeds
  2.5 x (line height) — PDFBox's dropThreshold rule with height ~ 0.6em
- framing: per paragraph, text lines joined by "\\n" + a final line
  separator + one "\\n" for the XHTML-layer newline after </p>; per page,
  one trailing "\\n" for the empty <p/> Tika emits at endPage, then
  "\\n\\n" for </div> (writer rule + XHTML newline); a second page's
  leading <div> emits "\\n" (suppressed at offset 0) — byte-for-byte the
  output of Tika's PDF2XHTML through TikaBodyContentHandler
  (ref: main/TikaBodyContentHandler.java:143-175 SPAN/DIV rules)

metadata: /Info resolved through the trailer (including xref-stream
trailers and Info living inside an ObjStm), UTF-16BE BOM aware; raw-scan
fallback for trailerless fragments.
"""

from __future__ import annotations

import re
import time
import zlib
from dataclasses import dataclass, field

from .errors import DeadlineError, InflateRatioError, KernelError, check_deadline

# Object and stream bodies: a regex matches only the opening marker and
# bytes.find the closing one. That is the leftmost match the lazy-dot
# patterns `(\d+)\s+(\d+)\s+obj\b(.*?)endobj` and
# `stream\r?\n(.*?)endstream` (DOTALL) give, and the same stop when no
# closing marker follows, without stepping the dot byte by byte (a 3.2 KB
# body: 72 us against 3 us).
_OBJ_HEAD_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STREAM_HEAD_RE = re.compile(rb"stream\r?\n")


def _objects(data: bytes):
    """(number, generation, body) bytes of every `N G obj ... endobj`, in
    order."""
    pos = 0
    while (m := _OBJ_HEAD_RE.search(data, pos)) is not None:
        end = data.find(b"endobj", m.end())
        if end == -1:
            return
        yield m.group(1), m.group(2), data[m.end():end]
        pos = end + 6


def _stream(body: bytes) -> tuple[int, bytes] | None:
    """(offset of `stream`, payload up to `endstream`) of an object body,
    or None when it holds no complete stream."""
    m = _STREAM_HEAD_RE.search(body)
    if m is None:
        return None
    end = body.find(b"endstream", m.end())
    if end == -1:
        return None
    return m.start(), body[m.end():end]
_INFO_KEY_RE = re.compile(rb"/(Title|Author|Creator|Producer|Subject)\s*\(")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_TRAILER_RE = re.compile(rb"trailer\s*<<")

# WinAnsi (cp1252) high-byte table; identical to charset._CP1252_HIGH but kept
# local so the kernel stays standalone.
_WINANSI_HIGH = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„", 0x85: "…", 0x86: "†",
    0x87: "‡", 0x88: "ˆ", 0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“", 0x94: "”", 0x95: "•",
    0x96: "–", 0x97: "—", 0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}

_ESCAPES = {
    b"n"[0]: b"\n", b"r"[0]: b"\r", b"t"[0]: b"\t", b"b"[0]: b"\b",
    b"f"[0]: b"\f", b"("[0]: b"(", b")"[0]: b")", b"\\"[0]: b"\\",
}

# Adobe Glyph List subset: the names that appear in /Differences arrays of
# common office-generated PDFs. uniXXXX / uXXXX names are handled by pattern.
_AGL = {
    "bullet": "•", "space": " ", "hyphen": "-", "period": ".",
    "comma": ",", "quotesingle": "'", "quotedbl": '"', "quoteright": "’",
    "quoteleft": "‘", "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "ellipsis": "…",
    "fi": "ﬁ", "fl": "ﬂ", "copyright": "©",
    "registered": "®", "trademark": "™", "degree": "°",
    "minus": "−", "multiply": "×", "divide": "÷",
    "colon": ":", "semicolon": ";", "exclam": "!", "question": "?",
    "parenleft": "(", "parenright": ")", "slash": "/", "backslash": "\\",
    "ampersand": "&", "percent": "%", "dollar": "$", "numbersign": "#",
    "at": "@", "asterisk": "*", "plus": "+", "equal": "=",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
}


def _glyph_to_unicode(name: str) -> str | None:
    if name in _AGL:
        return _AGL[name]
    if len(name) == 1:
        return name
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})", name)
    if m:
        return chr(int(m.group(1), 16))
    m = re.fullmatch(r"u([0-9A-Fa-f]{4,6})", name)
    if m:
        try:
            return chr(int(m.group(1), 16))
        except ValueError:
            return None
    return None


# C-speed WinAnsi: latin-1 decode (chr(b) for every byte) then translate the
# 27 cp1252-divergent high bytes — identical output to the per-byte dict get,
# measured ~20x faster on string-heavy PDFs
_WINANSI_TRANS = str.maketrans({chr(b): s for b, s in _WINANSI_HIGH.items()})


def _winansi(data: bytes) -> str:
    return data.decode("latin-1").translate(_WINANSI_TRANS)


@dataclass
class PdfResult:
    text: str
    metadata: dict[str, str] = field(default_factory=dict)
    n_streams: int = 0
    xmp: str | None = None
    n_pages: int = 0
    # per-page extracted char counts (Tika's pdf:charsPerPage) and counts of
    # glyphs that had no unicode mapping (landed in the C0 control range via
    # the byte fallback — Tika's pdf:unmappedUnicodeCharsPerPage)
    page_nchars: list[int] = field(default_factory=list)
    page_unmapped: list[int] = field(default_factory=list)
    # (filename, payload) attachments from the catalog's /Names
    # /EmbeddedFiles name tree; payloads already went through the
    # guarded inflate. The dispatcher recurses them (embed budget).
    embedded_files: list = field(default_factory=list)
    # (obj_num, DecodedImage) pairs for image XObjects the repo's own
    # decoders could handle (include_images only) — Tika includeImages
    # parity (ref: main/TikaForkMain.java:98,307-311 emits extracted
    # images as embedded documents); undecodable images are counted in
    # pdf:image-count but not emitted
    images: list = field(default_factory=list)


def _inflate(data: bytes, max_ratio: float, max_bytes: int) -> bytes:
    cap = min(int(max(len(data), 64) * max_ratio), max_bytes)
    d = zlib.decompressobj()
    try:
        out = d.decompress(data, cap)
    except zlib.error as e:
        raise KernelError(f"flate error: {e}") from e
    if d.unconsumed_tail:
        raise InflateRatioError(
            f"inflate exceeded ratio cap {max_ratio} (cap {cap} bytes)")
    return out


# --------------------------------------------------------------------------
# PDF value parser (dicts / arrays / names / numbers / refs / strings)
# --------------------------------------------------------------------------

class Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):
        return f"Ref({self.num})"


_WS = b" \t\r\n\x0c\x00"
_NUM_TOKEN_RE = re.compile(rb"[-+]?(?:\d+\.?\d*|\.\d+)")
_REF_TOKEN_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")
_NAME_TOKEN_RE = re.compile(rb"/((?:[^\s()<>\[\]{}/%]|#[0-9A-Fa-f]{2})*)")


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        b = data[i]
        if b in _WS:
            i += 1
        elif b == 0x25:  # % comment
            j = data.find(b"\n", i)
            i = len(data) if j == -1 else j + 1
        else:
            break
    return i


_LIT_SPECIAL_RE = re.compile(rb"[\\()]")
# glyphs with no unicode mapping land in the C0 control range via the byte
# fallback (Tika's pdf:unmappedUnicodeCharsPerPage); \t\n\r are real text
_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")


def _parse_literal_string_bytes(data: bytes, i: int) -> tuple[bytes, int]:
    """Parse a ( ) literal string starting at '('; returns (raw bytes, next_i)."""
    i += 1
    depth = 1
    out = bytearray()
    n = len(data)
    while i < n:
        # bulk-copy the run up to the next special byte (C-speed regex scan;
        # the common case is long plain text between escapes)
        m = _LIT_SPECIAL_RE.search(data, i)
        j = m.start() if m else n
        if j > i:
            out += data[i:j]
            i = j
            if i >= n:
                break
        b = data[i]
        if b == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in _ESCAPES:
                out += _ESCAPES[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # octal \ooo (1-3 digits)
                j = i
                while j < n and j - i < 3 and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(int(data[i:j], 8) & 0xFF)
                i = j
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:
                out.append(e)
                i += 1
        elif b == 0x28:  # (
            depth += 1
            out.append(b)
            i += 1
        elif b == 0x29:  # )
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(b)
            i += 1
        else:
            out.append(b)
            i += 1
    return bytes(out), i


def _parse_hex_string_bytes(data: bytes, i: int) -> tuple[bytes, int]:
    end = data.find(b">", i + 1)
    if end == -1:
        end = len(data)
    hx = re.sub(rb"\s", b"", data[i + 1 : end])
    if len(hx) % 2:
        hx += b"0"
    try:
        raw = bytes.fromhex(hx.decode("ascii"))
    except ValueError:
        raw = b""
    return raw, end + 1


def _parse_value(data: bytes, i: int, depth: int = 0):
    """Parse one PDF value at i; returns (value, next_i). Values map to:
    dict -> dict[str, v], array -> list, name -> str, string -> bytes,
    number -> float, ref -> Ref, bool -> bool, null -> None."""
    if depth > 64:
        raise KernelError("PDF value nesting exceeded cap")
    i = _skip_ws(data, i)
    n = len(data)
    if i >= n:
        return None, i
    b = data[i]
    if data.startswith(b"<<", i):
        d: dict[str, object] = {}
        i += 2
        while True:
            i = _skip_ws(data, i)
            if data.startswith(b">>", i):
                return d, i + 2
            if i >= n:
                return d, i
            if data[i] != 0x2F:  # malformed key: bail out of the dict
                return d, i
            m = _NAME_TOKEN_RE.match(data, i)
            key = m.group(1).decode("latin-1")
            key = re.sub(r"#([0-9A-Fa-f]{2})",
                         lambda mm: chr(int(mm.group(1), 16)), key)
            v, i = _parse_value(data, m.end(), depth + 1)
            d[key] = v
    if b == 0x5B:  # [
        arr: list = []
        i += 1
        while True:
            i = _skip_ws(data, i)
            if i >= n:
                return arr, i
            if data[i] == 0x5D:
                return arr, i + 1
            v, i = _parse_value(data, i, depth + 1)
            arr.append(v)
    if b == 0x2F:  # name
        m = _NAME_TOKEN_RE.match(data, i)
        name = m.group(1).decode("latin-1")
        name = re.sub(r"#([0-9A-Fa-f]{2})",
                      lambda mm: chr(int(mm.group(1), 16)), name)
        return name, m.end()
    if b == 0x28:  # string
        return _parse_literal_string_bytes(data, i)
    if b == 0x3C:  # hex string (<<dict handled above)
        return _parse_hex_string_bytes(data, i)
    if data.startswith(b"true", i):
        return True, i + 4
    if data.startswith(b"false", i):
        return False, i + 5
    if data.startswith(b"null", i):
        return None, i + 4
    m = _REF_TOKEN_RE.match(data, i)
    if m:
        return Ref(int(m.group(1))), m.end()
    m = _NUM_TOKEN_RE.match(data, i)
    if m:
        return float(m.group(0)), m.end()
    return None, i + 1  # unknown token: skip a byte


# --------------------------------------------------------------------------
# Document object store: scan + xref streams + ObjStm expansion
# --------------------------------------------------------------------------

def _png_unpredict(data: bytes, columns: int, predictor: int) -> bytes:
    """Undo PNG row predictors (Predictor >= 10; xref streams use Up=12)."""
    if predictor < 10:
        return data
    row = columns
    out = bytearray()
    prev = bytearray(row)
    i = 0
    while i + 1 + row <= len(data) + row:  # tolerate short final row
        ft = data[i]
        cur = bytearray(data[i + 1 : i + 1 + row])
        if len(cur) < row:
            break
        if ft == 2:  # Up
            for k in range(row):
                cur[k] = (cur[k] + prev[k]) & 0xFF
        elif ft == 1:  # Sub
            for k in range(1, row):
                cur[k] = (cur[k] + cur[k - 1]) & 0xFF
        elif ft == 3:  # Average
            for k in range(row):
                left = cur[k - 1] if k else 0
                cur[k] = (cur[k] + (left + prev[k]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for k in range(row):
                a = cur[k - 1] if k else 0
                bb = prev[k]
                c = prev[k - 1] if k else 0
                p = a + bb - c
                pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else c)
                cur[k] = (cur[k] + pred) & 0xFF
        out += cur
        prev = cur
        i += 1 + row
    return bytes(out)


class _PdfDoc:
    """Object store for one PDF: bodies by object number, lazily parsed
    dicts, inflated streams, trailer dict(s)."""

    def __init__(self, data: bytes, max_ratio: float, max_bytes: int):
        self.data = data
        self.max_ratio = max_ratio
        self.max_bytes = max_bytes
        self.bodies: dict[int, bytes] = {}   # object body incl. dict + stream
        self.gens: dict[int, int] = {}       # generation per top-level object
        self.embedded: dict[int, bytes] = {}  # ObjStm-contained object values
        self.trailers: list[dict] = []
        self.n_streams = 0
        self.crypt = None                    # pdfcrypt.StdCrypt when /Encrypt
        self._encrypt_obj = None             # the /Encrypt dict's object num
        self._dict_cache: dict[int, object] = {}
        self._stream_cache: dict[int, bytes | None] = {}
        self._load()

    # -- loading -----------------------------------------------------------

    def _load(self) -> None:
        # 1) xref-stream chain (primary at scale: direct offsets, no scan)
        try:
            self._load_xref_chain()
        except Exception:
            pass
        # 2) full scan (robust fallback + catches objects xref missed)
        for num, gen, body in _objects(self.data):
            num = int(num)
            if num not in self.bodies:
                self.bodies[num] = body
                self.gens[num] = int(gen)
        # 3) classic trailers
        for m in _TRAILER_RE.finditer(self.data):
            t, _ = _parse_value(self.data, m.end() - 2)
            if isinstance(t, dict):
                self.trailers.append(t)
        # 3b) standard security handler — BEFORE ObjStm expansion (ObjStm
        # payloads are themselves encrypted streams, §7.6.2); raises
        # EncryptedError for password-protected/unsupported crypt
        self._setup_crypt()
        # 4) expand object streams (compressed objects)
        for num in list(self.bodies):
            head = self.obj_dict(num)
            if isinstance(head, dict) and head.get("Type") == "ObjStm":
                self._expand_objstm(num, head)

    def _load_xref_chain(self) -> None:
        m = None
        for m in _STARTXREF_RE.finditer(self.data):
            pass  # last startxref wins
        if m is None:
            return
        offset = int(m.group(1))
        seen: set[int] = set()
        while offset and offset not in seen and 0 <= offset < len(self.data):
            seen.add(offset)
            om = _OBJ_HEAD_RE.match(
                self.data, _skip_ws(self.data, offset))
            if not om:
                return  # classic xref table: scan fallback covers it
            end = self.data.find(b"endobj", om.end())
            body = self.data[om.end() : end if end != -1 else len(self.data)]
            head, _ = _parse_value(body, 0)
            if not (isinstance(head, dict) and head.get("Type") == "XRef"):
                return
            self.trailers.append(head)
            sm = _stream(body)
            if not sm:
                return
            raw = sm[1]
            if head.get("Filter") == "FlateDecode":
                raw = _inflate(raw, self.max_ratio, self.max_bytes)
            dp = head.get("DecodeParms") or {}
            if isinstance(dp, dict) and dp.get("Predictor"):
                w = head.get("W") or []
                columns = int(dp.get("Columns") or sum(int(x) for x in w))
                raw = _png_unpredict(raw, columns, int(dp["Predictor"]))
            self._apply_xref_stream(head, raw)
            prev = head.get("Prev")
            offset = int(prev) if isinstance(prev, (int, float)) else 0

    def _setup_crypt(self) -> None:
        """Resolve /Encrypt from the trailer(s) and authenticate with the
        empty user password (the owner-password-only common case). PDF
        32000-1 §7.6; kernels/pdfcrypt.py implements the handler."""
        enc_ref = id_arr = None
        for t in self.trailers:
            if enc_ref is None and "Encrypt" in t:
                enc_ref = t["Encrypt"]
            if id_arr is None and isinstance(t.get("ID"), list):
                id_arr = t["ID"]
        if enc_ref is None:
            return
        from .pdfcrypt import StdCrypt

        if isinstance(enc_ref, Ref):
            self._encrypt_obj = enc_ref.num
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            raise KernelError("/Encrypt entry is not a dictionary")
        id0 = id_arr[0] if id_arr and isinstance(id_arr[0], bytes) else b""
        self.crypt = StdCrypt(enc, id0)

    def _decrypt_allowed(self, num: int) -> bool:
        """Per-object decryption applies to top-level objects only: the
        /Encrypt dict itself is plaintext, and ObjStm-contained objects
        are covered by their container stream's decryption (§7.6.2)."""
        return (self.crypt is not None and num in self.bodies
                and num != self._encrypt_obj)

    def _apply_xref_stream(self, head: dict, table: bytes) -> None:
        w = [int(x) for x in (head.get("W") or [])]
        if len(w) < 3:
            return
        size = int(head.get("Size") or 0)
        index = [int(x) for x in (head.get("Index") or [0, size])]
        rw = sum(w)
        pos = 0

        def field_at(row: bytes, k: int) -> int:
            s = sum(w[:k])
            chunk = row[s : s + w[k]]
            return int.from_bytes(chunk, "big") if chunk else (1 if k == 0 else 0)

        for si in range(0, len(index) - 1, 2):
            start, count = index[si], index[si + 1]
            for j in range(count):
                if pos + rw > len(table):
                    return
                row = table[pos : pos + rw]
                pos += rw
                num = start + j
                typ = field_at(row, 0)
                if typ == 1 and num not in self.bodies:
                    off = field_at(row, 1)
                    om = _OBJ_HEAD_RE.match(
                        self.data, _skip_ws(self.data, off))
                    if om and int(om.group(1)) == num:
                        end = self.data.find(b"endobj", om.end())
                        self.bodies[num] = self.data[
                            om.end() : end if end != -1 else len(self.data)]
                        self.gens[num] = int(om.group(2))
                # typ == 2 (in ObjStm): resolved by ObjStm expansion pass

    def _expand_objstm(self, num: int, head: dict) -> None:
        raw = self.obj_stream(num)
        if raw is None:
            return
        try:
            first = int(head.get("First") or 0)
            count = int(head.get("N") or 0)
            header = raw[:first].split()
            for k in range(count):
                onum = int(header[2 * k])
                ooff = int(header[2 * k + 1])
                nxt = int(header[2 * k + 3]) if k + 1 < count else len(raw) - first
                if onum not in self.bodies:
                    self.embedded[onum] = raw[first + ooff : first + nxt]
        except (ValueError, IndexError):
            return

    # -- access ------------------------------------------------------------

    def obj_dict(self, num: int):
        """Parsed value of the object's dict/body (stream excluded)."""
        if num in self._dict_cache:
            return self._dict_cache[num]
        v = None
        if num in self.bodies:
            body = self.bodies[num]
            sm = _stream(body)
            v, _ = _parse_value(body[: sm[0]] if sm else body, 0)
            if self._decrypt_allowed(num):
                # string values of top-level objects are individually
                # encrypted (§7.6.2) — e.g. /Info metadata strings
                v = self.crypt.decrypt_value(v, num, self.gens.get(num, 0))
        elif num in self.embedded:
            v, _ = _parse_value(self.embedded[num], 0)
        self._dict_cache[num] = v
        return v

    def obj_stream(self, num: int) -> bytes | None:
        """Inflated stream payload of an object, or None."""
        if num in self._stream_cache:
            return self._stream_cache[num]
        out: bytes | None = None
        body = self.bodies.get(num)
        if body is not None:
            sm = _stream(body)
            if sm is not None:
                head = self.obj_dict(num)
                raw = sm[1]
                raw = self._decrypt_stream_bytes(num, head, raw)
                filt = head.get("Filter") if isinstance(head, dict) else None
                if filt == "FlateDecode" or (isinstance(filt, list) and "FlateDecode" in filt):
                    raw = _inflate(raw, self.max_ratio, self.max_bytes)
                    out = raw
                elif filt is None:
                    out = raw
                else:
                    out = None  # unsupported filter
                if out is not None:
                    self.n_streams += 1
        self._stream_cache[num] = out
        return out

    def _decrypt_stream_bytes(self, num: int, head, raw: bytes) -> bytes:
        """Stream decryption hook — applies BEFORE /Filter decoding. XRef
        streams are never encrypted (§7.5.8.2); /Metadata streams are
        plaintext when /EncryptMetadata false."""
        if not self._decrypt_allowed(num):
            return raw
        typ = head.get("Type") if isinstance(head, dict) else None
        if typ == "XRef":
            return raw
        if typ == "Metadata" and not self.crypt.encrypt_metadata:
            return raw
        # the stream payload runs to "endstream" and so includes the
        # writer's EOL; ciphertext needs exact bounds (AES block
        # alignment) — trust /Length, falling back to an EOL trim
        ln = self.resolve(head.get("Length")) if isinstance(head, dict) else None
        if isinstance(ln, (int, float)) and 0 <= int(ln) <= len(raw):
            raw = raw[: int(ln)]
        else:
            raw = raw.rstrip(b"\r\n")
        return self.crypt.decrypt_stream(raw, num, self.gens.get(num, 0))

    def raw_stream(self, num: int) -> bytes | None:
        """UNfiltered stream bytes (for codec payloads like DCTDecode
        that must reach their real decoder intact). Decrypted, so the
        codec sees real payload bytes."""
        body = self.bodies.get(num)
        if body is None:
            return None
        sm = _stream(body)
        if sm is None:
            return None
        return self._decrypt_stream_bytes(num, self.obj_dict(num), sm[1])

    def resolve(self, v, depth: int = 0):
        while isinstance(v, Ref) and depth < 32:
            v = self.obj_dict(v.num)
            depth += 1
        return v


# --------------------------------------------------------------------------
# Fonts: ToUnicode CMaps + encoding Differences + WinAnsi fallback
# --------------------------------------------------------------------------

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_HEX_OR_ARR_RE = re.compile(rb"<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>\s*)+)\]")


def _utf16be_hex(hx: bytes) -> str:
    raw = bytes.fromhex(hx.decode("ascii"))
    if len(raw) % 2:
        raw += b"\x00"
    return raw.decode("utf-16-be", "replace")


def parse_tounicode(cmap: bytes) -> tuple[dict[int, str], bool]:
    """Parse a ToUnicode CMap's bfchar/bfrange sections into
    (code -> str, two_byte): codes are big-endian ints; two_byte is
    True when any source code is wider than one byte (Identity-H /
    Type0 subset fonts — the layout modern generators emit), so the
    decoder consumes 2-byte units (r5 review: per-byte lookup turned
    those PDFs into NUL-interleaved garbage marked ok)."""
    out: dict[int, str] = {}
    two_byte = False
    for m in _BFCHAR_RE.finditer(cmap):
        toks = _HEX_RE.findall(m.group(1))
        for k in range(0, len(toks) - 1, 2):
            code = int(toks[k], 16)
            two_byte = two_byte or len(toks[k]) > 2
            out[code] = _utf16be_hex(toks[k + 1])
    for m in _BFRANGE_RE.finditer(cmap):
        body = m.group(1)
        i = 0
        while True:
            lo_m = _HEX_RE.search(body, i)
            if not lo_m:
                break
            hi_m = _HEX_RE.search(body, lo_m.end())
            if not hi_m:
                break
            dst_m = _HEX_OR_ARR_RE.search(body, hi_m.end())
            if not dst_m:
                break
            lo, hi = int(lo_m.group(1), 16), int(hi_m.group(1), 16)
            two_byte = two_byte or len(lo_m.group(1)) > 2
            if dst_m.group(2) is not None:  # [<d1> <d2> ...] per code
                dsts = _HEX_RE.findall(dst_m.group(2))
                for k, code in enumerate(range(lo, min(hi, lo + len(dsts) - 1) + 1)):
                    out[code] = _utf16be_hex(dsts[k])
            else:
                base_hex = dst_m.group(1)
                base_raw = bytes.fromhex(base_hex.decode("ascii"))
                base = int.from_bytes(base_raw, "big")
                width = len(base_raw)
                for code in range(lo, min(hi, lo + 65535) + 1):
                    v = base + (code - lo)
                    # a malformed range can overflow the declared
                    # destination width — widen rather than raising an
                    # uncaught OverflowError out of the doc (r5 review)
                    nbytes = max((v.bit_length() + 7) // 8, width, 2)
                    if nbytes % 2:
                        nbytes += 1
                    out[code] = v.to_bytes(nbytes, "big").decode(
                        "utf-16-be", "replace")
            i = dst_m.end()
    return out, two_byte


class _Font:
    __slots__ = ("tounicode", "differences", "two_byte")

    def __init__(self, tounicode: dict[int, str] | None,
                 differences: dict[int, str] | None,
                 two_byte: bool = False):
        self.tounicode = tounicode or {}
        self.differences = differences or {}
        self.two_byte = two_byte and bool(self.tounicode)

    def decode(self, raw: bytes) -> str:
        if not self.tounicode and not self.differences:
            return _winansi(raw)
        out: list[str] = []
        if self.two_byte:
            # 2-byte codespace (Identity-H): consume big-endian pairs;
            # unmapped codes emit SUB so pdf:unmapped counting still
            # sees them (same contract as the 1-byte control fallback)
            n = len(raw)
            i = 0
            while i < n:
                if i + 1 < n:
                    s = self.tounicode.get((raw[i] << 8) | raw[i + 1])
                    if s is None:
                        s = "\x1a"
                    i += 2
                else:
                    s = self.tounicode.get(raw[i], "\x1a")
                    i += 1
                out.append(s)
            return "".join(out)
        for b in raw:
            s = self.tounicode.get(b)
            if s is None:
                s = self.differences.get(b)
            if s is None:
                s = _WINANSI_HIGH.get(b, chr(b))
            out.append(s)
        return "".join(out)


_DEFAULT_FONT = _Font(None, None)


def _build_fonts(doc: _PdfDoc, resources) -> dict[str, _Font]:
    fonts: dict[str, _Font] = {}
    resources = doc.resolve(resources)
    if not isinstance(resources, dict):
        return fonts
    fdict = doc.resolve(resources.get("Font"))
    if not isinstance(fdict, dict):
        return fonts
    for name, fref in fdict.items():
        fobj = doc.resolve(fref)
        if not isinstance(fobj, dict):
            continue
        tounicode = None
        two_byte = False
        tu = fobj.get("ToUnicode")
        if isinstance(tu, Ref):
            cmap = doc.obj_stream(tu.num)
            if cmap:
                tounicode, two_byte = parse_tounicode(cmap)
        differences = None
        enc = doc.resolve(fobj.get("Encoding"))
        if isinstance(enc, dict):
            diffs = doc.resolve(enc.get("Differences"))
            if isinstance(diffs, list):
                differences = {}
                code = 0
                for item in diffs:
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, str):
                        u = _glyph_to_unicode(item)
                        if u is not None:
                            differences[code] = u
                        code += 1
        fonts[name] = _Font(tounicode, differences, two_byte)
    return fonts


# --------------------------------------------------------------------------
# Content-stream interpreter
# --------------------------------------------------------------------------

_NUM_RE = re.compile(rb"[-+]?\d*\.?\d+")
_NAME_RE = re.compile(rb"/[^\s()<>\[\]{}/%]*")
_OP_RE = re.compile(rb"[A-Za-z'\"*]{1,3}")

_IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mat_mul(m, n):
    """Affine 'multiply': result = m x n with rows [a b 0; c d 0; e f 1]."""
    return (
        m[0] * n[0] + m[1] * n[2],
        m[0] * n[1] + m[1] * n[3],
        m[2] * n[0] + m[3] * n[2],
        m[2] * n[1] + m[3] * n[3],
        m[4] * n[0] + m[5] * n[2] + n[4],
        m[4] * n[1] + m[5] * n[3] + n[5],
    )


def _tokenize_content(data: bytes, deadline: float | None):
    """Yield ('num', float) | ('str', bytes) | ('name', bytes) | ('op', bytes)
    | ('arr_open',) | ('arr_close',)."""
    i, n = 0, len(data)
    tick = 0
    while i < n:
        tick += 1
        if deadline is not None and (tick & 0x3FF) == 0 and time.monotonic() > deadline:
            raise DeadlineError("pdf parse deadline exceeded")
        b = data[i]
        if b in b" \t\r\n\x0c\x00":
            i += 1
        elif b == 0x25:  # % comment
            j = data.find(b"\n", i)
            i = n if j == -1 else j + 1
        elif b == 0x28:  # (
            s, i = _parse_literal_string_bytes(data, i)
            yield ("str", s)
        elif b == 0x3C:  # < — hex string or dict
            if data[i + 1 : i + 2] == b"<":
                i += 2  # ignore inline dicts in content streams
            else:
                s, i = _parse_hex_string_bytes(data, i)
                yield ("str", s)
        elif b == 0x3E:  # > (dict close)
            i += 1
        elif b == 0x5B:
            yield ("arr_open",)
            i += 1
        elif b == 0x5D:
            yield ("arr_close",)
            i += 1
        elif b == 0x2F:
            m = _NAME_RE.match(data, i)
            yield ("name", m.group(0))
            i = m.end()
        else:
            m = _NUM_RE.match(data, i)
            if m:
                yield ("num", float(m.group(0)))
                i = m.end()
                continue
            m = _OP_RE.match(data, i)
            if m:
                op = m.group(0)
                if op == b"BI":
                    # inline image (BI <params> ID <binary> EI): the raw
                    # sample bytes would shred the tokenizer, so skip the
                    # whole block to the whitespace-delimited EI terminator
                    # (PDFBox's heuristic; ref behavior behind the
                    # extractInlineImagesFromPDFs flag,
                    # main/TikaForkMain.java:98,307-311)
                    i = _skip_inline_image(data, m.end())
                    continue
                yield ("op", op)
                i = m.end()
            else:
                i += 1


_INLINE_EI_RE = re.compile(rb"[\s\x00]EI(?=[\s\x00]|$)")


def _skip_inline_image(data: bytes, pos: int) -> int:
    """Return the offset just past an inline image's EI terminator; `pos`
    points after the BI operator. Unterminated blocks consume the rest of
    the stream (fail-safe: junk never reaches the text interpreter)."""
    j = data.find(b"ID", pos)
    if j != -1:
        m = _INLINE_EI_RE.search(data, j + 2)
        if m:
            return m.end()
    return len(data)


_INLINE_BI_RE = re.compile(rb"(?:^|[\s\x00])BI(?=[\s\x00/])")


def _count_inline_images(data: bytes) -> int:
    """Count complete BI..ID..EI inline-image blocks in a content stream."""
    count = 0
    i = 0
    while True:
        m = _INLINE_BI_RE.search(data, i)
        if not m:
            return count
        j = data.find(b"ID", m.end())
        if j == -1:
            return count
        mm = _INLINE_EI_RE.search(data, j + 2)
        if not mm:
            return count
        count += 1
        i = mm.end()


def _num(item) -> float:
    return item[1] if isinstance(item, tuple) and item[0] == "num" else 0.0


def _extract_text_spans(
    content: bytes,
    deadline: float | None,
    fonts: dict[str, _Font] | None = None,
) -> list[tuple[float, float, float, str]]:
    """Interpret the text operators; return (y_dev, x_dev, em_size, text)
    spans in emission order. Positions are device-space via Tm x CTM."""
    fonts = fonts or {}
    spans: list[tuple[float, float, float, str]] = []
    ctm = _IDENTITY
    gstack: list[tuple] = []
    tm = tlm = _IDENTITY
    leading = 0.0
    size = 12.0
    font = _DEFAULT_FONT
    stack: list = []
    arrays: list[list] = []
    in_text = False

    def device_xy() -> tuple[float, float, float]:
        trm = _mat_mul(tm, ctm)
        em = size * abs(trm[3]) or size
        return trm[4], trm[5], em

    def emit(raw: bytes):
        nonlocal tm
        if not raw:
            return
        s = font.decode(raw)
        if s:
            x, y, em = device_xy()
            spans.append((y, x, em, s))
            # average glyph width ~0.5em advance estimate in text space, so
            # consecutive same-line spans get gap-based space insertion
            tm = _mat_mul((1.0, 0.0, 0.0, 1.0, 0.5 * size * len(s), 0.0), tm)

    def translate_line(tx: float, ty: float):
        nonlocal tm, tlm
        tlm = _mat_mul((1.0, 0.0, 0.0, 1.0, tx, ty), tlm)
        tm = tlm

    for tok in _tokenize_content(content, deadline):
        kind = tok[0]
        if kind == "arr_open":
            arrays.append([])
        elif kind == "arr_close":
            if arrays:
                stack.append(arrays.pop())
        elif kind in ("num", "str", "name"):
            val = tok[1]
            if arrays:
                arrays[-1].append((kind, val))
            else:
                stack.append((kind, val))
        elif kind == "op":
            op = tok[1]
            if op == b"q":
                gstack.append(ctm)
                if len(gstack) > 256:
                    raise KernelError("graphics state stack exceeded cap")
            elif op == b"Q":
                if gstack:
                    ctm = gstack.pop()
            elif op == b"cm" and len(stack) >= 6:
                m = tuple(_num(s) for s in stack[-6:])
                ctm = _mat_mul(m, ctm)
            elif op == b"BT":
                in_text = True
                tm = tlm = _IDENTITY
            elif op == b"ET":
                in_text = False
            elif op == b"Tf" and len(stack) >= 2:
                if stack[-2][0] == "name" if isinstance(stack[-2], tuple) else False:
                    fname = stack[-2][1][1:].decode("latin-1")
                    font = fonts.get(fname, _DEFAULT_FONT)
                size = _num(stack[-1]) or size
            elif op == b"TL" and stack:
                leading = _num(stack[-1])
            elif op == b"Td" and len(stack) >= 2:
                translate_line(_num(stack[-2]), _num(stack[-1]))
            elif op == b"TD" and len(stack) >= 2:
                ty = _num(stack[-1])
                leading = -ty
                translate_line(_num(stack[-2]), ty)
            elif op == b"Tm" and len(stack) >= 6:
                tm = tlm = tuple(_num(s) for s in stack[-6:])
            elif op == b"T*":
                translate_line(0.0, -leading)
            elif op == b"Tj" and in_text:
                if stack and isinstance(stack[-1], tuple) and stack[-1][0] == "str":
                    emit(stack[-1][1])
            elif op == b"'" and in_text:
                translate_line(0.0, -leading)
                if stack and isinstance(stack[-1], tuple) and stack[-1][0] == "str":
                    emit(stack[-1][1])
            elif op == b'"' and in_text:
                translate_line(0.0, -leading)
                if stack and isinstance(stack[-1], tuple) and stack[-1][0] == "str":
                    emit(stack[-1][1])
            elif op == b"TJ" and in_text:
                if stack and isinstance(stack[-1], list):
                    parts: list[bytes] = []
                    for k, v in stack[-1]:
                        if k == "str":
                            parts.append(v)
                        elif k == "num" and v <= -180:
                            parts.append(b" ")
                    emit(b"".join(parts))
            stack.clear()
    return spans


# --------------------------------------------------------------------------
# Layout: lines -> paragraphs -> Tika-handler-stack framing
# --------------------------------------------------------------------------

# PDFBox PDFTextStripper paragraph rule: new paragraph when the line-to-line
# y gap exceeds dropThreshold (2.5) x maxHeightForLine of the previous line.
# Glyph height is approximated at 0.6em (PDFBox legacy mode uses half the
# font bounding-box height; common text fonts land at 0.55-0.72em).
_DROP_THRESHOLD = 2.5
_HEIGHT_PER_EM = 0.6
_LINE_Y_TOL = 1.0


def _spans_to_lines(
    spans: list[tuple[float, float, float, str]],
) -> list[tuple[float, float, str]]:
    """Group emission-ordered spans into lines: (y, max_em, text). A y change
    beyond the tolerance starts a new line; a same-line x gap wider than
    ~0.3em inserts a single space unless a space already borders the gap."""
    lines: list[tuple[float, float, str]] = []
    parts: list[str] = []
    cur_y = 0.0
    max_em = 0.0
    last_end = 0.0
    for yv, xv, em, txt in spans:
        if not parts:
            cur_y, max_em = yv, em
        elif abs(yv - cur_y) > _LINE_Y_TOL:
            lines.append((cur_y, max_em, "".join(parts)))
            parts = []
            cur_y, max_em = yv, em
        else:
            max_em = max(max_em, em)
            if xv - last_end > 0.3 * em and not parts[-1].endswith(" ") \
                    and not txt.startswith(" "):
                parts.append(" ")
        parts.append(txt)
        last_end = xv + 0.5 * em * len(txt)
    if parts:
        lines.append((cur_y, max_em, "".join(parts)))
    return lines


def _lines_to_paragraphs(lines: list[tuple[float, float, str]]) -> list[list[str]]:
    paras: list[list[str]] = []
    cur: list[str] = []
    prev_y: float | None = None
    prev_em = 12.0
    for y, em, text in lines:
        if prev_y is not None and abs(prev_y - y) > _DROP_THRESHOLD * _HEIGHT_PER_EM * prev_em:
            paras.append(cur)
            cur = []
        cur.append(text)
        prev_y, prev_em = y, em
    if cur:
        paras.append(cur)
    return paras


def render_pages(page_spans: list[list[tuple[float, float, float, str]]]) -> str:
    """Byte-parity rendering of the reference handler stack over per-page
    span lists (see module docstring for the derivation):

    per page:  <div class="page">  -> "\\n" via the writer's DIV rule,
                                      suppressed before any output
               each paragraph      -> lines joined "\\n", final line
                                      separator "\\n", + "\\n" after </p>
               endPage's empty <p/> -> "\\n"
               </div>              -> "\\n" (writer) + "\\n" (XHTML layer)
    """
    out: list[str] = []
    for spans in page_spans:
        if out:
            out.append("\n")  # <div> of pages 2..n (writer DIV start rule)
        for para in _lines_to_paragraphs(_spans_to_lines(spans)):
            out.append("\n".join(para))
            out.append("\n")  # final line separator of the paragraph
            out.append("\n")  # XHTML-layer newline after </p>
        out.append("\n")      # endPage writeParagraphEnd -> empty <p/>
        out.append("\n")      # </div> writer rule
        out.append("\n")      # XHTML-layer newline after </div>
    return "".join(out)


# --------------------------------------------------------------------------
# Page tree + metadata + top-level entry
# --------------------------------------------------------------------------

def _collect_pages(doc: _PdfDoc, node, acc: list, depth: int = 0,
                   deadline: float | None = None,
                   seen: set | None = None) -> None:
    """Page-tree walk with a visited set + deadline polls: an aliased
    /Kids graph (e.g. [2 0 R 2 0 R] self-reference) otherwise explores
    exponentially many paths under the depth cap alone — the same
    alias-bomb class fixed in _collect_embedded_files in r3 (r5 whole-
    repo review)."""
    if seen is None:
        seen = set()
    if depth > 64 or len(acc) > 100_000 or len(seen) > 200_000:
        return
    check_deadline(deadline, "pdf page tree")
    if isinstance(node, Ref):
        if node.num in seen:
            return
        seen.add(node.num)
    node = doc.resolve(node)
    if not isinstance(node, dict):
        return
    if id(node) in seen:
        return
    seen.add(id(node))
    if node.get("Type") == "Page":
        acc.append(node)
        return
    kids = doc.resolve(node.get("Kids"))
    if isinstance(kids, list):
        for kid in kids:
            _collect_pages(doc, kid, acc, depth + 1, deadline, seen)


def _page_content(doc: _PdfDoc, page: dict) -> bytes:
    contents = page.get("Contents")
    parts: list[bytes] = []
    if isinstance(contents, Ref):
        s = doc.obj_stream(contents.num)
        if s:
            parts.append(s)
        else:
            # legal alternative (PDF 32000 §7.7.3.3): an indirect
            # reference to an ARRAY of content streams (r5 review)
            resolved = doc.resolve(contents)
            if isinstance(resolved, list):
                contents = resolved
    if not parts and isinstance(contents, list):
        for c in contents:
            if isinstance(c, Ref):
                s = doc.obj_stream(c.num)
                if s:
                    parts.append(s)
    return b"\n".join(parts)


def _decode_text_string(raw: bytes) -> str:
    if raw.startswith(b"\xfe\xff"):
        return raw[2:].decode("utf-16-be", "replace")
    return _winansi(raw)


_INFO_KEYS = ("Title", "Author", "Subject", "Creator", "Producer",
              "CreationDate", "ModDate", "Keywords")


def _doc_metadata(doc: _PdfDoc, data: bytes) -> dict[str, str]:
    meta: dict[str, str] = {}
    info = None
    for t in doc.trailers:
        ref = t.get("Info")
        if isinstance(ref, Ref):
            info = doc.resolve(ref)
            if isinstance(info, dict):
                break
    if isinstance(info, dict):
        for k in _INFO_KEYS:
            v = info.get(k)
            if isinstance(v, bytes):
                meta[k] = _decode_text_string(v)
    if not meta:
        # trailerless fragments: raw scan for /Key (value) pairs
        for m in _INFO_KEY_RE.finditer(data):
            key = m.group(1).decode("ascii")
            val, _ = _parse_literal_string_bytes(data, m.end() - 1)
            if key not in meta:
                meta[key] = _decode_text_string(val)
    return meta


def _doc_xmp(doc: _PdfDoc) -> str | None:
    for t in doc.trailers:
        root = doc.resolve(t.get("Root"))
        if isinstance(root, dict) and isinstance(root.get("Metadata"), Ref):
            raw = doc.obj_stream(root["Metadata"].num)
            if raw:
                return raw.decode("utf-8", "replace")
    return None


_MAX_EMBEDDED_FILES = 64


def _filespec_name(v) -> str:
    if isinstance(v, bytes):
        if v[:2] in (b"\xfe\xff", b"\xff\xfe"):
            return v[2:].decode("utf-16-be" if v[:2] == b"\xfe\xff"
                                else "utf-16-le", "replace")
        return v.decode("latin-1", "replace")
    return str(v)


def _collect_embedded_files(doc: "_PdfDoc", root: dict,
                            deadline: float | None = None) -> list:
    """Walk the catalog's /Names -> /EmbeddedFiles name tree (PDF 32000
    §7.7.4, §7.11.4 — Tika's PDFParser extracts these as embedded
    documents): leaf /Names arrays alternate [name, filespec]; a
    filespec's /EF /F references the payload stream.

    Bomb posture (invariant 7): iterative BFS with a VISITED set keyed
    by object number — an aliased/self-referential /Kids tree would
    otherwise traverse 64^depth nodes from a sub-KB document — plus a
    total node-visit cap, output cap, and deadline polls."""
    out: list = []
    names_dict = doc.resolve(root.get("Names"))
    if not isinstance(names_dict, dict):
        return out
    queue: list = [names_dict.get("EmbeddedFiles")]
    visited: set[int] = set()
    visits = 0
    while queue and len(out) < _MAX_EMBEDDED_FILES:
        visits += 1
        if visits > 512:
            break  # crafted mega-trees: keep what we have, never hang
        check_deadline(deadline, "pdf embedded-files tree walk")
        node = queue.pop(0)
        if isinstance(node, Ref):
            if node.num in visited:
                continue
            visited.add(node.num)
            node = doc.resolve(node)
        if not isinstance(node, dict):
            continue
        kids = doc.resolve(node.get("Kids"))
        if isinstance(kids, list):
            queue.extend(kids[:64])
        pairs = doc.resolve(node.get("Names"))
        if not isinstance(pairs, list):
            continue
        for i in range(0, len(pairs) - 1, 2):
            if len(out) >= _MAX_EMBEDDED_FILES:
                break
            spec = doc.resolve(pairs[i + 1])
            if not isinstance(spec, dict):
                continue
            ef = doc.resolve(spec.get("EF"))
            if not isinstance(ef, dict):
                continue
            fref = ef.get("F") or ef.get("UF")
            if not isinstance(fref, Ref):
                continue
            payload = doc.obj_stream(fref.num)
            if not payload:
                continue
            # the display name may itself be an indirect string object
            name = _filespec_name(
                doc.resolve(spec.get("UF"))
                or doc.resolve(spec.get("F"))
                or pairs[i])
            out.append((name, payload))
    return out


def _decode_image_xobject(doc: "_PdfDoc", num: int, head: dict):
    """Decode one image XObject with the repo's own decoders; None when
    the codec/colorspace is out of scope (counted, not emitted). Scope:
    DCTDecode payloads via the JPEG decoder (baseline + progressive),
    Flate/unfiltered 8-bpc DeviceRGB/DeviceGray sample arrays. JBIG2/
    JPX/CCITT and predictor-coded samples are skipped."""
    from .image import _MAX_PIXELS, DecodedImage, decode_jpeg

    try:
        w = int(doc.resolve(head.get("Width")) or 0)
        h = int(doc.resolve(head.get("Height")) or 0)
        if not (0 < w and 0 < h and w * h <= _MAX_PIXELS):
            return None
        filt = head.get("Filter")
        if isinstance(filt, list) and len(filt) == 1:
            filt = filt[0]
        if filt == "DCTDecode":
            raw = doc.raw_stream(num)
            if not raw:
                return None
            return decode_jpeg(raw)
        if filt in (None, "FlateDecode"):
            parms = doc.resolve(head.get("DecodeParms"))
            if isinstance(parms, dict) and int(
                    doc.resolve(parms.get("Predictor")) or 1) > 1:
                return None  # PNG predictors: out of scope
            bpc = int(doc.resolve(head.get("BitsPerComponent")) or 8)
            cs = doc.resolve(head.get("ColorSpace"))
            if bpc != 8 or cs not in ("DeviceRGB", "DeviceGray"):
                return None
            samples = doc.obj_stream(num)  # guarded inflate
            if samples is None:
                return None
            import numpy as np

            if cs == "DeviceRGB":
                if len(samples) < w * h * 3:
                    return None
                px = np.frombuffer(samples[: w * h * 3],
                                   dtype=np.uint8).reshape(h, w, 3)
            else:
                if len(samples) < w * h:
                    return None
                g = np.frombuffer(samples[: w * h],
                                  dtype=np.uint8).reshape(h, w, 1)
                px = np.repeat(g, 3, axis=2)
            return DecodedImage(width=w, height=h, pixels=px.copy())
        return None
    except Exception:
        return None  # a corrupt image never fails the document


def extract_pdf(
    data: bytes,
    max_inflate_ratio: float = 200.0,
    max_inflate_bytes: int = 256_000_000,
    deadline: float | None = None,
    include_images: bool = False,
    collect_embedded: bool = True,
) -> PdfResult:
    if not data.startswith(b"%PDF-"):
        raise KernelError("not a PDF (missing %PDF- header)")
    version = data[5:8].decode("ascii", "replace")
    doc = _PdfDoc(data, max_inflate_ratio, max_inflate_bytes)

    # resolve pages via the catalog; fall back to every BT-carrying stream
    pages: list[dict] = []
    embedded_files: list = []
    for t in doc.trailers:
        root = doc.resolve(t.get("Root"))
        if isinstance(root, dict):
            if collect_embedded and not embedded_files:
                embedded_files = _collect_embedded_files(doc, root, deadline)
            _collect_pages(doc, root.get("Pages"), pages,
                           deadline=deadline)
            if pages:
                break
    if not pages:
        for num in sorted(doc.bodies):
            head = doc.obj_dict(num)
            if isinstance(head, dict) and head.get("Type") in ("Catalog",):
                if collect_embedded and not embedded_files:
                    embedded_files = _collect_embedded_files(doc, head,
                                                             deadline)
                _collect_pages(doc, head.get("Pages"), pages,
                               deadline=deadline)
                if pages:
                    break

    page_spans: list[list[tuple[float, float, float, str]]] = []
    if pages:
        for page in pages:
            fonts = _build_fonts(doc, page.get("Resources"))
            content = _page_content(doc, page)
            page_spans.append(
                _extract_text_spans(content, deadline, fonts) if content else [])
    else:
        # no resolvable page tree: every stream containing a text block is
        # treated as one page's content (robustness for fragments)
        spans: list[tuple[float, float, float, str]] = []
        for num in sorted(doc.bodies):
            s = doc.obj_stream(num)
            if s and b"BT" in s:
                spans.extend(_extract_text_spans(s, deadline))
        if spans:
            page_spans.append(spans)

    # inflate remaining streams so the bomb guard applies to unreferenced
    # payloads too (the reference parses every stream it encounters)
    for num in sorted(doc.bodies):
        doc.obj_stream(num)

    text = render_pages(page_spans)
    meta = _doc_metadata(doc, data)
    meta["pdf:version"] = version
    images: list = []
    if include_images:
        # O24 (ref default off, TikaForkMain.java:98,307-311): count image
        # XObjects + inline BI/ID/EI blocks into metadata, AND emit the
        # payloads the repo's own decoders can handle (r3 verdict item 6 —
        # Tika with includeImages emits them as embedded documents)
        n_images = 0
        for num in sorted(doc.bodies):
            head = doc.obj_dict(num)
            if isinstance(head, dict) and head.get("Subtype") == "Image":
                n_images += 1
                check_deadline(deadline, "pdf image decode")
                img = _decode_image_xobject(doc, num, head)
                if img is not None:
                    images.append((num, img))
        n_inline = sum(
            _count_inline_images(_page_content(doc, page) or b"")
            for page in pages)
        meta["pdf:image-count"] = str(n_images + n_inline)
        meta["pdf:inline-image-count"] = str(n_inline)
        meta["pdf:decoded-image-count"] = str(len(images))
    page_nchars = [sum(len(s[3]) for s in spans) for spans in page_spans]
    page_unmapped = [
        sum(len(_CTRL_RE.findall(s[3])) for s in spans)
        for spans in page_spans
    ]
    return PdfResult(text=text, metadata=meta, n_streams=doc.n_streams,
                     xmp=_doc_xmp(doc), n_pages=max(len(page_spans), len(pages)),
                     page_nchars=page_nchars, page_unmapped=page_unmapped,
                     embedded_files=embedded_files, images=images)
