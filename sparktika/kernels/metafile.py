"""Windows metafile (WMF / EMF) text-record kernel — from scratch.

Tika 1.20 parity: ``org.apache.tika.parser.microsoft.WMFParser`` and
``EMFParser`` (added TIKA-2632/2714, shipped in tika-parsers:1.20 —
reached by the reference via tika-fork-main/build.gradle:24) walk the
metafile record stream with POI's hwmf/hemf and emit every text-output
record's string. Vector drawings pasted out of Office and print-to-file
captures carry real document text in these records.

Built from the PUBLIC [MS-WMF] and [MS-EMF] specifications only:

WMF ([MS-WMF] §2.3):
- optional 22-byte placeable header (magic 0x9AC6CDD7, bounding box in
  twips, checksum) — [MS-WMF] §2.3.2.3;
- 18-byte METAHEADER: type (1 memory / 2 disk), header size 9 words,
  version 0x0100/0x0300, file size in words, object count;
- records: u32 size in WORDs + u16 function code. Text records:
  META_TEXTOUT 0x0521 (u16 length + bytes + y,x) and META_EXTTEXTOUT
  0x0A32 (y, x, u16 length, u16 fwOpts, optional clip/opaque rect when
  fwOpts has ETO_CLIPPED/ETO_OPAQUE, then bytes). Strings decode
  cp1252 (the default ANSI_CHARSET; per-font charsets are out of
  metadata-only scope).

EMF ([MS-EMF] §2.3):
- EMR_HEADER (type 1) with the ``\\x20EMF`` signature u32 at offset 40,
  frame rectangle in .01 mm units, declared record count;
- records: u32 type + u32 size (bytes, 4-aligned). Text records:
  EMR_EXTTEXTOUTA 83 / EMR_EXTTEXTOUTW 84 (EmrText object at a
  record-relative string offset; 8-bit vs UTF-16LE) and
  EMR_SMALLTEXTOUT 108 (inline glyphs; 16-bit unless ETO_SMALL_CHARS,
  optional bounds rect suppressed by ETO_NO_RECT).

Text contract: one line per text record, in record order, each
``strip()``ped of trailing NULs; lines joined with ``\\n`` plus a
trailing newline when any text exists (the extract_metafile_text
oracle pins this). The walk is strictly forward (record sizes must
advance), bounded by the byte budget + per-doc deadline, and never
renders pixels.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from .errors import KernelError, check_deadline


_PLACEABLE_MAGIC = 0x9AC6CDD7
_EMF_SIGNATURE = 0x464D4520  # " EMF"

_META_EOF = 0x0000
_META_TEXTOUT = 0x0521
_META_EXTTEXTOUT = 0x0A32
_ETO_OPAQUE = 0x0002
_ETO_CLIPPED = 0x0004

_EMR_HEADER = 1
_EMR_EOF = 14
_EMR_EXTTEXTOUTA = 83
_EMR_EXTTEXTOUTW = 84
_EMR_SMALLTEXTOUT = 108
_ETO_NO_RECT = 0x0100
_ETO_SMALL_CHARS = 0x0200

_MAX_RECORDS = 100_000
_MAX_TEXT_CHARS = 1_000_000


@dataclass
class MetafileResult:
    kind: str                        # "wmf" | "emf"
    texts: list[str] = field(default_factory=list)
    n_records: int = 0
    width_units: int = 0             # WMF: twips; EMF: .01 mm
    height_units: int = 0

    @property
    def text(self) -> str:
        if not self.texts:
            return ""
        return "\n".join(self.texts) + "\n"


def is_wmf(data: bytes) -> bool:
    """Placeable magic, or a consistency-gated bare METAHEADER (the
    DBF lesson: magic-less detection needs several independent facts)."""
    if len(data) < 18:
        return False
    if struct.unpack_from("<I", data, 0)[0] == _PLACEABLE_MAGIC:
        return len(data) >= 40
    ftype, hsize, version = struct.unpack_from("<HHH", data, 0)
    size_words, n_objects = struct.unpack_from("<IH", data, 6)
    members, = struct.unpack_from("<H", data, 16)
    return (ftype in (1, 2) and hsize == 9
            and version in (0x0100, 0x0300)
            and members == 0 and n_objects < 4096
            and 9 <= size_words <= max(len(data) // 2, 9))


def is_emf(data: bytes) -> bool:
    return (len(data) >= 88
            and struct.unpack_from("<I", data, 0)[0] == _EMR_HEADER
            and struct.unpack_from("<I", data, 40)[0] == _EMF_SIGNATURE)


def _decode_w(raw: bytes) -> str:
    return raw.decode("utf-16-le", "replace").rstrip("\x00")


def _decode_a(raw: bytes) -> str:
    return raw.decode("cp1252", "replace").rstrip("\x00")


def parse_wmf(data: bytes, deadline: float | None = None) -> MetafileResult:
    if not is_wmf(data):
        raise KernelError("wmf: not a metafile")
    pos = 0
    res = MetafileResult(kind="wmf")
    if struct.unpack_from("<I", data, 0)[0] == _PLACEABLE_MAGIC:
        left, top, right, bottom = struct.unpack_from("<4h", data, 6)
        res.width_units = abs(right - left)
        res.height_units = abs(bottom - top)
        pos = 22
    if pos + 18 > len(data):
        raise KernelError("wmf: truncated METAHEADER")
    ftype, hsize, _version = struct.unpack_from("<HHH", data, pos)
    if ftype not in (1, 2) or hsize != 9:
        raise KernelError("wmf: bad METAHEADER")
    pos += 18
    total_chars = 0
    while pos + 6 <= len(data):
        check_deadline(deadline, "wmf record walk")
        res.n_records += 1
        if res.n_records > _MAX_RECORDS:
            raise KernelError("wmf: record cap exceeded")
        size_words, func = struct.unpack_from("<IH", data, pos)
        if func == _META_EOF:
            break
        if size_words < 3:
            raise KernelError("wmf: record size below header size")
        body = data[pos + 6: pos + 2 * size_words]
        if len(body) < 2 * size_words - 6:
            break                       # truncated tail: keep prior text
        if func == _META_TEXTOUT and len(body) >= 2:
            n, = struct.unpack_from("<H", body, 0)
            raw = body[2: 2 + n]
            if len(raw) == n:
                res.texts.append(_decode_a(raw))
                total_chars += n
        elif func == _META_EXTTEXTOUT and len(body) >= 8:
            _y, _x, n, fw_opts = struct.unpack_from("<hhHH", body, 0)
            off = 8 + (8 if fw_opts & (_ETO_OPAQUE | _ETO_CLIPPED) else 0)
            raw = body[off: off + n]
            if len(raw) == n:
                res.texts.append(_decode_a(raw))
                total_chars += n
        if total_chars > _MAX_TEXT_CHARS:
            raise KernelError("wmf: text cap exceeded")
        pos += 2 * size_words
    return res


def parse_emf(data: bytes, deadline: float | None = None) -> MetafileResult:
    if not is_emf(data):
        raise KernelError("emf: not an enhanced metafile")
    res = MetafileResult(kind="emf")
    fl, ft, fr, fb = struct.unpack_from("<4i", data, 24)  # rclFrame
    res.width_units = abs(fr - fl)
    res.height_units = abs(fb - ft)
    hdr_size, = struct.unpack_from("<I", data, 4)
    if not 88 <= hdr_size <= len(data) or hdr_size % 4:
        raise KernelError("emf: bad header size")
    pos = hdr_size
    total_chars = 0
    while pos + 8 <= len(data):
        check_deadline(deadline, "emf record walk")
        res.n_records += 1
        if res.n_records > _MAX_RECORDS:
            raise KernelError("emf: record cap exceeded")
        itype, nsize = struct.unpack_from("<II", data, pos)
        if itype == _EMR_EOF:
            break
        if nsize < 8 or nsize % 4 or pos + nsize > len(data):
            break                       # corrupt/truncated: keep prior text
        rec = data[pos: pos + nsize]
        if itype in (_EMR_EXTTEXTOUTA, _EMR_EXTTEXTOUTW) and nsize >= 76:
            # EmrText at offset 36: ptlReference(8) nChars offString
            n_chars, off_string = struct.unpack_from("<II", rec, 44)
            wide = itype == _EMR_EXTTEXTOUTW
            nbytes = n_chars * (2 if wide else 1)
            raw = rec[off_string: off_string + nbytes]
            if len(raw) == nbytes and n_chars <= _MAX_TEXT_CHARS:
                res.texts.append(_decode_w(raw) if wide else _decode_a(raw))
                total_chars += n_chars
        elif itype == _EMR_SMALLTEXTOUT and nsize >= 36:
            n_chars, fu_options = struct.unpack_from("<II", rec, 16)
            off = 36 if fu_options & _ETO_NO_RECT else 52
            wide = not (fu_options & _ETO_SMALL_CHARS)
            nbytes = n_chars * (2 if wide else 1)
            raw = rec[off: off + nbytes]
            if len(raw) == nbytes and n_chars <= _MAX_TEXT_CHARS:
                res.texts.append(_decode_w(raw) if wide else _decode_a(raw))
                total_chars += n_chars
        if total_chars > _MAX_TEXT_CHARS:
            raise KernelError("emf: text cap exceeded")
        pos += nsize
    return res


# -- builders (synth corpus + tests; the on-disk-layout twin) -----------


def _wmf_rec(func: int, params: bytes) -> bytes:
    if len(params) % 2:
        params += b"\x00"
    return struct.pack("<IH", 3 + len(params) // 2, func) + params


def build_wmf(texts: list[str], placeable: bool = True,
              extended: bool = True) -> bytes:
    """Valid WMF with one TEXTOUT/EXTTEXTOUT per string (cp1252)."""
    recs = b""
    for i, t in enumerate(texts):
        raw = t.encode("cp1252")
        if extended:
            body = struct.pack("<hhHH", 10 + 20 * i, 10, len(raw), 0) + raw
            recs += _wmf_rec(_META_EXTTEXTOUT, body)
        else:
            body = struct.pack("<H", len(raw)) + raw
            if len(body) % 2:
                body += b"\x00"
            body += struct.pack("<hh", 10 + 20 * i, 10)
            recs += _wmf_rec(_META_TEXTOUT, body)
    recs += struct.pack("<IH", 3, _META_EOF)
    size_words = (18 + len(recs)) // 2
    header = struct.pack("<HHHIHIH", 2, 9, 0x0300, size_words, 0,
                         max((len(r) for r in (recs,)), default=0) // 2, 0)
    out = header + recs
    if placeable:
        pl = struct.pack("<IH4hH", _PLACEABLE_MAGIC, 0,
                         0, 0, 2880, 1440, 1440)
        pl += struct.pack("<IH", 0, 0)
        # checksum: XOR of the first 10 u16 words ([MS-WMF] §2.3.2.3)
        csum = 0
        for (w,) in struct.iter_unpack("<H", pl[:20]):
            csum ^= w
        pl = pl[:20] + struct.pack("<H", csum)
        out = pl + out
    return out


def _emr(itype: int, body: bytes) -> bytes:
    pad = (-len(body)) % 4
    return struct.pack("<II", itype, 8 + len(body) + pad) + body + b"\x00" * pad


def build_emf(texts: list[str], wide: bool = True,
              small: bool = False) -> bytes:
    """Valid EMF: header + one EXTTEXTOUTW/A or SMALLTEXTOUT per
    string + EOF, with a 200x100 (.01 mm) frame."""
    recs = b""
    for i, t in enumerate(texts):
        if small:
            raw = t.encode("utf-16-le")
            body = struct.pack("<iiIIIff", 10, 10 + 20 * i, len(t),
                               _ETO_NO_RECT, 1, 1.0, 1.0) + raw
            recs += _emr(_EMR_SMALLTEXTOUT, body)
        else:
            raw = t.encode("utf-16-le" if wide else "cp1252")
            # record: bounds(16) gmode(4) scales(8) at 8; EmrText at 36
            emrtext_at = 36
            off_string = emrtext_at + 40  # ptl(8)+n(4)+off(4)+opts(4)+rcl(16)+offDx(4)
            body = struct.pack("<4i", 0, 0, 200, 100)
            body += struct.pack("<Iff", 1, 1.0, 1.0)
            body += struct.pack("<iiII", 10, 10 + 20 * i, len(t), off_string)
            body += struct.pack("<I", 0) + struct.pack("<4i", 0, 0, 0, 0)
            body += struct.pack("<I", 0)
            body += raw
            recs += _emr(_EMR_EXTTEXTOUTW if wide else _EMR_EXTTEXTOUTA,
                         body)
    recs += _emr(_EMR_EOF, struct.pack("<III", 0, 0x10, 0x14))
    n_records = len(texts) + 2
    header = struct.pack(
        "<II4i4iIIIIHHIII2i2i",
        _EMR_HEADER, 88,
        0, 0, 100, 50,                  # rclBounds (device units)
        0, 0, 200, 100,                 # rclFrame (.01 mm)
        _EMF_SIGNATURE, 0x00010000,
        88 + len(recs), n_records, 1, 0,
        0, 0, 0,
        1024, 768, 320, 240)
    assert len(header) == 88, len(header)
    return header + recs
