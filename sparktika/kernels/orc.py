"""ORC footer kernel — metadata-first, from scratch.

Completes the data-lake family (Avro, Parquet, SQLite, ORC): crawled
``.orc`` files are inventoried from the tail metadata alone — schema
tree, exact row count, stripe count, compression — without touching
stripe data. Tika 1.20 has no ORC parser (beyond-parity, the CAB/XPS
posture). Built from the PUBLIC specs only:

- ORC file layout (orc.apache.org specification): ``ORC`` magic at
  offset 0; the file ends with a 1-byte PostScript length, preceded by
  the PostScript (NEVER compressed), preceded by the Footer (compressed
  per the PostScript's codec in 3-byte-chunk-header frames:
  ``(len << 1) | isOriginal`` little-endian);
- protobuf wire format (public encoding spec): varint / 64-bit /
  length-delimited / 32-bit field types, ``(field << 3) | wire`` keys;
- PostScript fields: 1 footerLength, 2 compression enum (0 NONE,
  1 ZLIB, 2 SNAPPY, 3 LZO, 4 LZ4, 5 ZSTD), 3 compressionBlockSize,
  4 version, 5 metadataLength, 6 writerVersion, 8000 magic "ORC";
- Footer fields: 3 stripes (repeated), 4 types (repeated Type:
  1 kind enum, 2 subtypes, 3 fieldNames), 6 numberOfRows.

ZLIB footers inflate via stdlib; SNAPPY raw blocks via the repo's
from-scratch snappy decoder; other codecs refuse (footers in the wild
are overwhelmingly NONE/ZLIB/SNAPPY).

Text contract (extract_orc_meta oracle): the root struct's children as
``column {name} : {kind}`` lines in schema order (nested kinds render
as their kind name).
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

from .errors import KernelError, check_deadline

_MAGIC = b"ORC"

_KINDS = {0: "boolean", 1: "byte", 2: "short", 3: "int", 4: "long",
          5: "float", 6: "double", 7: "string", 8: "binary",
          9: "timestamp", 10: "list", 11: "map", 12: "struct",
          13: "union", 14: "decimal", 15: "date", 16: "varchar",
          17: "char"}
_CODECS = {0: "none", 1: "zlib", 2: "snappy", 3: "lzo", 4: "lz4",
           5: "zstd"}

_MAX_TYPES = 10_000
_MAX_FOOTER = 1 << 24
_MAX_ITEMS = 1_000_000


def _postscript(data: bytes) -> tuple[int, int] | None:
    """(footer_len, codec) when the tail parses as a valid PostScript
    carrying the ORC magic field; None otherwise."""
    if len(data) < 16 or data[:3] != _MAGIC:
        return None
    ps_len = data[-1]
    if not 1 <= ps_len <= len(data) - 4:
        return None
    ps = _Proto(data[len(data) - 1 - ps_len: len(data) - 1])
    footer_len = codec = 0
    magic_ok = False
    try:
        while not ps.at_end():
            fid, wire = ps.key()
            if fid == 1 and wire == 0:
                footer_len = ps.varint()
            elif fid == 2 and wire == 0:
                codec = ps.varint()
            elif fid == 8000 and wire == 2:
                magic_ok = ps.bytes_field() == _MAGIC
            else:
                ps.skip(wire)
    except KernelError:
        return None
    if not magic_ok or not 0 < footer_len <= _MAX_FOOTER:
        return None
    return footer_len, codec


def is_orc(data: bytes) -> bool:
    """The 3-byte ASCII magic is weak ('ORCHESTRA...' opens text files
    too) — detection additionally demands a parsing PostScript whose
    magic field reads 'ORC' (the DBF consistency-gating lesson)."""
    return _postscript(data) is not None


@dataclass
class OrcType:
    kind: str
    field_names: list[str] = field(default_factory=list)
    subtypes: list[int] = field(default_factory=list)


@dataclass
class OrcResult:
    n_rows: int = 0
    n_stripes: int = 0
    compression: str = "none"
    types: list[OrcType] = field(default_factory=list)

    def render_text(self) -> str:
        if not self.types:
            return ""
        root = self.types[0]
        lines = []
        for i, sub in enumerate(root.subtypes[:512]):
            name = (root.field_names[i]
                    if i < len(root.field_names) else f"_col{i}")
            kind = (self.types[sub].kind if sub < len(self.types)
                    else "?")
            lines.append(f"column {name} : {kind}")
        return "".join(ln + "\n" for ln in lines)


class _Proto:
    """Minimal protobuf wire reader with skip."""

    def __init__(self, data: bytes):
        self.d = data
        self.p = 0
        self.items = 0

    def at_end(self) -> bool:
        return self.p >= len(self.d)

    def varint(self) -> int:
        shift = acc = 0
        while True:
            self.items += 1
            if self.items > _MAX_ITEMS:
                raise KernelError("orc: protobuf item cap")
            if self.p >= len(self.d):
                raise KernelError("orc: truncated varint")
            b = self.d[self.p]
            self.p += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return acc
            shift += 7
            if shift > 70:
                raise KernelError("orc: varint too long")

    def key(self) -> tuple[int, int]:
        k = self.varint()
        return k >> 3, k & 7

    def bytes_field(self) -> bytes:
        n = self.varint()
        if self.p + n > len(self.d):
            raise KernelError("orc: length-delimited past EOF")
        b = self.d[self.p:self.p + n]
        self.p += n
        return b

    def skip(self, wire: int) -> None:
        if wire == 0:
            self.varint()
        elif wire == 1:
            self.p += 8
        elif wire == 2:
            self.bytes_field()
        elif wire == 5:
            self.p += 4
        else:
            raise KernelError(f"orc: unsupported wire type {wire}")
        if self.p > len(self.d):
            raise KernelError("orc: skip past EOF")


def _parse_type(raw: bytes) -> OrcType:
    p = _Proto(raw)
    t = OrcType(kind="?")
    while not p.at_end():
        fid, wire = p.key()
        if fid == 1 and wire == 0:
            t.kind = _KINDS.get(p.varint(), "?")
        elif fid == 2 and wire == 0:
            t.subtypes.append(p.varint())
        elif fid == 2 and wire == 2:          # packed repeated
            pp = _Proto(p.bytes_field())
            while not pp.at_end():
                t.subtypes.append(pp.varint())
                if len(t.subtypes) > _MAX_TYPES:
                    raise KernelError("orc: subtype cap")
        elif fid == 3 and wire == 2:
            t.field_names.append(
                p.bytes_field().decode("utf-8", "replace")[:512])
        else:
            p.skip(wire)
        if len(t.subtypes) > _MAX_TYPES or len(t.field_names) > _MAX_TYPES:
            raise KernelError("orc: type fan-out cap")
    return t


def _decompress_footer(raw: bytes, codec: int, out_cap: int,
                       deadline: float | None) -> bytes:
    if codec == 0:
        return raw
    out = bytearray()
    p = 0
    while p < len(raw):
        check_deadline(deadline, "orc footer chunks")
        if p + 3 > len(raw):
            raise KernelError("orc: truncated chunk header")
        h = int.from_bytes(raw[p:p + 3], "little")
        p += 3
        n = h >> 1
        if p + n > len(raw):
            raise KernelError("orc: chunk past EOF")
        chunk = raw[p:p + n]
        p += n
        if h & 1:                              # original (stored)
            out += chunk
        elif codec == 1:                       # zlib = raw deflate
            try:
                out += zlib.decompress(chunk, -15, out_cap - len(out) + 1)
            except zlib.error as exc:
                raise KernelError(f"orc: footer inflate failed ({exc})")
        elif codec == 2:                       # snappy raw block
            from .snappy import decompress_raw

            out += decompress_raw(chunk, out_cap - len(out) + 1)
        else:
            raise KernelError(
                f"orc: footer codec {_CODECS.get(codec, codec)} "
                "unsupported (refused)")
        if len(out) > out_cap:
            raise KernelError("orc: footer inflates past cap")
    return bytes(out)


def parse_orc(data: bytes, deadline: float | None = None) -> OrcResult:
    ps = _postscript(data)
    if ps is None:
        raise KernelError("orc: bad magic or postscript")
    footer_len, codec = ps
    f_end = len(data) - 1 - data[-1]
    f_start = f_end - footer_len
    if f_start < 3:
        raise KernelError("orc: footer overlaps header")
    footer = _decompress_footer(data[f_start:f_end], codec,
                                _MAX_FOOTER, deadline)
    res = OrcResult(compression=_CODECS.get(codec, str(codec)))
    p = _Proto(footer)
    while not p.at_end():
        check_deadline(deadline, "orc footer walk")
        fid, wire = p.key()
        if fid == 3 and wire == 2:            # StripeInformation
            p.bytes_field()
            res.n_stripes += 1
        elif fid == 4 and wire == 2:          # Type
            if len(res.types) > _MAX_TYPES:
                raise KernelError("orc: type cap")
            res.types.append(_parse_type(p.bytes_field()))
        elif fid == 6 and wire == 0:
            res.n_rows = p.varint()
        else:
            p.skip(wire)
    if not res.types:
        raise KernelError("orc: footer carries no schema")
    return res


# -- builder (synth corpus + tests) --------------------------------------


def _pb_key(fid: int, wire: int) -> bytes:
    return _pb_varint((fid << 3) | wire)


def _pb_varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_bytes(fid: int, b: bytes) -> bytes:
    return _pb_key(fid, 2) + _pb_varint(len(b)) + b


def build_orc(columns: list[tuple[str, int]], n_rows: int,
              n_stripes: int = 1, compression: int = 0) -> bytes:
    """Stripe-less valid ORC tail: header magic, footer (struct root +
    one Type per column), postscript. compression: 0 NONE / 1 ZLIB
    (footer framed in 3-byte chunk headers)."""
    root = _pb_key(1, 0) + _pb_varint(12)
    for i, (name, _kind) in enumerate(columns):
        root += _pb_key(2, 0) + _pb_varint(i + 1)
        root += _pb_bytes(3, name.encode())
    footer = _pb_bytes(4, root)
    for _name, kind in columns:
        footer += _pb_bytes(4, _pb_key(1, 0) + _pb_varint(kind))
    for _ in range(n_stripes):
        stripe = (_pb_key(1, 0) + _pb_varint(3)
                  + _pb_key(6, 0) + _pb_varint(max(n_rows, 1)))
        footer = _pb_bytes(3, stripe) + footer
    footer += _pb_key(6, 0) + _pb_varint(n_rows)
    if compression == 1:
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
        comp = c.compress(footer) + c.flush()
    elif compression == 2:
        from .snappy import _compress_raw

        comp = _compress_raw(footer)
    else:
        comp = None
    if comp is None:
        footer_area = footer
    elif len(comp) < len(footer):
        footer_area = ((len(comp) << 1) | 0).to_bytes(3, "little") + comp
    else:
        footer_area = ((len(footer) << 1) | 1).to_bytes(
            3, "little") + footer
    ps = (_pb_key(1, 0) + _pb_varint(len(footer_area))
          + _pb_key(2, 0) + _pb_varint(compression)
          + _pb_bytes(8000, _MAGIC))
    if len(ps) > 255:
        raise ValueError("postscript too long")
    return _MAGIC + footer_area + ps + bytes([len(ps)])
