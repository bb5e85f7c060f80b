"""Parquet footer kernel — metadata-first, from scratch.

Completes the data-lake triple (Avro, SQLite, Parquet): crawled
``.parquet`` files are inventoried from the footer alone — schema,
exact row count, row-group count, writer string — without ever
touching page data or native decoders (the SQLite kernel's "no C
engine at parse time" posture; Tika 1.20 has no parquet parser, so
this goes beyond reference parity).

Built from the PUBLIC specs only:

- parquet-format file layout: ``PAR1`` magic at both ends; the last 8
  bytes are u32le footer length + trailing magic; the footer is a
  Thrift ``FileMetaData`` struct directly before them;
- Apache Thrift COMPACT protocol (public spec): field header byte
  ``(id-delta << 4) | type`` (delta 0 = long form with a zigzag field
  id), types 1/2 bool-true/false, 3 byte, 4/5/6 zigzag varints,
  7 double, 8 binary, 9/10 list/set (``(size << 4) | elem``, size 15
  = varint), 11 map, 12 struct; unknown fields skip recursively;
- parquet.thrift FileMetaData: 1 version, 2 schema
  (list<SchemaElement>: 1 physical type enum, 3 repetition, 4 name,
  5 num_children, 6 converted type), 3 num_rows, 4 row_groups,
  6 created_by.

Text contract (extract_parquet_meta oracle): one line per schema
element below the root — leaves ``column {name} : {type}``, groups
``group {name} ({n} children)`` — in schema (depth-first) order.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from .errors import KernelError, check_deadline

_MAGIC = b"PAR1"

_PHYSICAL = {0: "boolean", 1: "int32", 2: "int64", 3: "int96",
             4: "float", 5: "double", 6: "binary", 7: "fixed"}
_CONVERTED = {0: "utf8", 1: "map", 2: "map_kv", 3: "list", 4: "enum",
              5: "decimal", 6: "date", 7: "time_millis", 8: "time_micros",
              9: "timestamp_millis", 10: "timestamp_micros"}

_MAX_ELEMENTS = 10_000
_MAX_DEPTH = 32
_MAX_SKIP_ITEMS = 1_000_000


def is_parquet(data: bytes) -> bool:
    return (len(data) >= 12 and data[:4] == _MAGIC
            and data[-4:] == _MAGIC)


@dataclass
class SchemaNode:
    name: str
    physical: str | None        # None for group nodes
    converted: str | None
    n_children: int


@dataclass
class ParquetResult:
    n_rows: int = 0
    n_row_groups: int = 0
    version: int = 0
    created_by: str | None = None
    elements: list[SchemaNode] = field(default_factory=list)

    def render_text(self) -> str:
        lines: list[str] = []
        for el in self.elements[1:]:          # skip the root element
            if el.n_children > 0:
                lines.append(f"group {el.name} ({el.n_children} children)")
            else:
                t = el.physical or "?"
                if el.converted:
                    t += f" ({el.converted})"
                lines.append(f"column {el.name} : {t}")
        return "".join(ln + "\n" for ln in lines)


class _Compact:
    """Minimal Thrift compact-protocol reader with recursive skip."""

    def __init__(self, data: bytes, deadline: float | None):
        self.d = data
        self.p = 0
        self.deadline = deadline
        self.items = 0

    def _tick(self):
        self.items += 1
        if self.items > _MAX_SKIP_ITEMS:
            raise KernelError("parquet: thrift item cap exceeded")
        if (self.items & 0x3FF) == 0:
            check_deadline(self.deadline, "parquet footer walk")

    def byte(self) -> int:
        if self.p >= len(self.d):
            raise KernelError("parquet: truncated thrift data")
        b = self.d[self.p]
        self.p += 1
        return b

    def uvarint(self) -> int:
        shift = acc = 0
        while True:
            b = self.byte()
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return acc
            shift += 7
            if shift > 70:
                raise KernelError("parquet: varint too long")

    def zigzag(self) -> int:
        u = self.uvarint()
        return (u >> 1) ^ -(u & 1)

    def binary(self) -> bytes:
        n = self.uvarint()
        if self.p + n > len(self.d):
            raise KernelError("parquet: binary past EOF")
        b = self.d[self.p:self.p + n]
        self.p += n
        return b

    def skip(self, ttype: int, depth: int = 0) -> None:
        self._tick()
        if depth > _MAX_DEPTH:
            raise KernelError("parquet: thrift nesting cap")
        if ttype in (1, 2):
            return
        if ttype == 3:
            self.byte()
        elif ttype in (4, 5, 6):
            self.uvarint()
        elif ttype == 7:
            self.p += 8
            if self.p > len(self.d):
                raise KernelError("parquet: double past EOF")
        elif ttype == 8:
            self.binary()
        elif ttype in (9, 10):
            size, elem = self.list_header()
            for _ in range(size):
                self._skip_elem(elem, depth)
        elif ttype == 11:
            size = self.uvarint()
            if size:
                kv = self.byte()
                for _ in range(size):
                    self._skip_elem(kv >> 4, depth)
                    self._skip_elem(kv & 0xF, depth)
        elif ttype == 12:
            self.skip_struct(depth + 1)
        else:
            raise KernelError(f"parquet: unknown thrift type {ttype}")

    def _skip_elem(self, ttype: int, depth: int) -> None:
        """Skip a LIST/SET/MAP element: unlike struct fields, a bool
        element is one byte on the wire (the value can't ride the
        field-header nibble there)."""
        if ttype in (1, 2):
            self.byte()
        else:
            self.skip(ttype, depth + 1)

    def list_header(self) -> tuple[int, int]:
        h = self.byte()
        size = h >> 4
        if size == 15:
            size = self.uvarint()
        if size > _MAX_SKIP_ITEMS:
            raise KernelError("parquet: list size cap")
        return size, h & 0xF

    def fields(self, depth: int = 0):
        """Yield (field_id, type) for one struct; consumes STOP."""
        if depth > _MAX_DEPTH:
            raise KernelError("parquet: struct nesting cap")
        fid = 0
        while True:
            self._tick()
            h = self.byte()
            if h == 0:
                return
            delta, ttype = h >> 4, h & 0xF
            if delta == 0:
                fid = self.zigzag()
            else:
                fid += delta
            yield fid, ttype

    def skip_struct(self, depth: int = 0) -> None:
        for _fid, ttype in self.fields(depth):
            self.skip(ttype, depth + 1)


def _read_schema_element(c: _Compact) -> SchemaNode:
    name = "?"
    physical = converted = None
    n_children = 0
    for fid, ttype in c.fields():
        if fid == 1 and ttype in (4, 5, 6):
            physical = _PHYSICAL.get(c.zigzag(), "?")
        elif fid == 4 and ttype == 8:
            name = c.binary().decode("utf-8", "replace")[:512]
        elif fid == 5 and ttype in (4, 5, 6):
            n_children = c.zigzag()
        elif fid == 6 and ttype in (4, 5, 6):
            converted = _CONVERTED.get(c.zigzag())
        else:
            c.skip(ttype)
    return SchemaNode(name=name, physical=physical,
                      converted=converted, n_children=n_children)


def parse_parquet(data: bytes,
                  deadline: float | None = None) -> ParquetResult:
    if not is_parquet(data):
        raise KernelError("parquet: missing PAR1 magic")
    flen, = struct.unpack_from("<I", data, len(data) - 8)
    start = len(data) - 8 - flen
    if flen == 0 or start < 4:
        raise KernelError("parquet: implausible footer length")
    c = _Compact(data[start:len(data) - 8], deadline)
    res = ParquetResult()
    for fid, ttype in c.fields():
        if fid == 1 and ttype in (4, 5, 6):
            res.version = c.zigzag()
        elif fid == 2 and ttype == 9:                 # schema
            size, elem = c.list_header()
            if elem != 12:
                raise KernelError("parquet: schema list not structs")
            if size > _MAX_ELEMENTS:
                raise KernelError("parquet: schema element cap")
            for _ in range(size):
                res.elements.append(_read_schema_element(c))
        elif fid == 3 and ttype in (4, 5, 6):
            res.n_rows = c.zigzag()
        elif fid == 4 and ttype == 9:                 # row groups
            size, elem = c.list_header()
            res.n_row_groups = size
            for _ in range(size):
                c.skip(elem)
        elif fid == 6 and ttype == 8:
            res.created_by = c.binary().decode("utf-8", "replace")[:256]
        else:
            c.skip(ttype)
    if not res.elements:
        raise KernelError("parquet: footer carries no schema")
    return res
