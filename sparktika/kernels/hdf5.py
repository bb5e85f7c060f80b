"""HDF5 kernel — metadata-first, from scratch.

Tika 1.20 parity: org.apache.tika.parser.hdf.HDFParser (reached by the
reference via tika-parsers:1.20 — tika-fork-main/build.gradle:24) walks
the file with netcdf-java and reports attributes as metadata plus the
group/dataset inventory. Built from the public "HDF5 File Format
Specification" (Version 1.8, section III "Disk Format"), classic
feature set:

- signature ``\\x89HDF\\r\\n\\x1a\\n`` at offset 0, superblock version 0
  (size-of-offsets / size-of-lengths parameterized, 4 or 8 bytes;
  undefined addresses are all-ones);
- version-1 object headers (12-byte prefix + 4 pad, messages aligned
  to 8): Dataspace (0x0001 v1), Datatype (0x0003: fixed-point / float /
  string classes), Object Header Continuation (0x0010), Symbol Table
  (0x0011), Attribute (0x000C v1);
- groups via the v1 B-tree ("TREE", node type 0) over "SNOD" symbol
  table nodes with names in the "HEAP" local heap.

Later-format features (superblock v2/v3, "OHDR" v2 object headers,
fractal-heap "new style" groups) REFUSE loudly with a versioned
KernelError — honest refusal, never a silent partial read. Dataset
VALUES are never read (header metadata only, the HDFParser behavior).

Text contract (extract_hdf5_meta oracle): one line per group
``group {path}``, one line per dataset ``dataset {path} : {type}
({dims csv})``, one line per root attribute ``:{name} = {value}``,
in file walk order (B-tree order = name order within a group).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from .errors import KernelError, check_deadline

SIGNATURE = b"\x89HDF\r\n\x1a\n"

_MAX_OBJECTS = 4096
_MAX_DEPTH = 6
_MAX_MESSAGES = 256
_MAX_CONTINUATIONS = 8
_MAX_ATTRS = 64
_MAX_NAME = 4096
_MAX_DIMS = 32

_MSG_NIL = 0x0000
_MSG_DATASPACE = 0x0001
_MSG_DATATYPE = 0x0003
_MSG_ATTRIBUTE = 0x000C
_MSG_CONTINUATION = 0x0010
_MSG_SYMBOL_TABLE = 0x0011

_FLOAT_NAMES = {4: "float32", 8: "float64"}
_INT_NAMES = {1: "int8", 2: "int16", 4: "int32", 8: "int64"}


@dataclass
class H5Dataset:
    path: str
    dtype: str
    dims: tuple[int, ...]


@dataclass
class H5Result:
    offset_size: int
    length_size: int
    groups: list[str] = field(default_factory=list)
    datasets: list[H5Dataset] = field(default_factory=list)
    root_attrs: list[tuple[str, str]] = field(default_factory=list)

    def render_text(self) -> str:
        lines: list[str] = []
        for g in self.groups:
            lines.append(f"group {g}")
        for d in self.datasets:
            dims = ",".join(str(x) for x in d.dims)
            lines.append(f"dataset {d.path} : {d.dtype} ({dims})")
        for name, val in self.root_attrs:
            lines.append(f":{name} = {val}")
        return "".join(ln + "\n" for ln in lines)


class _Reader:
    def __init__(self, data: bytes, offset_size: int, length_size: int):
        self.data = data
        self.osz = offset_size
        self.lsz = length_size
        self.undef = (1 << (8 * offset_size)) - 1

    def bytes_at(self, pos: int, n: int) -> bytes:
        if pos < 0 or n < 0 or pos + n > len(self.data):
            raise KernelError("hdf5: read past EOF")
        return self.data[pos:pos + n]

    def u(self, pos: int, n: int) -> int:
        return int.from_bytes(self.bytes_at(pos, n), "little")

    def offset(self, pos: int) -> int:
        return self.u(pos, self.osz)

    def length(self, pos: int) -> int:
        return self.u(pos, self.lsz)


def _parse_datatype(raw: bytes) -> str:
    """Datatype message: class_and_version, 24 bit-field bits, u32
    size, then class properties (ignored — we only label)."""
    if len(raw) < 8:
        raise KernelError("hdf5: short datatype message")
    cls = raw[0] & 0x0F
    version = raw[0] >> 4
    if version not in (1, 2, 3):
        raise KernelError(f"hdf5: datatype version {version} unsupported")
    size = struct.unpack_from("<I", raw, 4)[0]
    if cls == 0:
        return _INT_NAMES.get(size, f"int{size * 8}")
    if cls == 1:
        return _FLOAT_NAMES.get(size, f"float{size * 8}")
    if cls == 3:
        return f"string{size}"
    return f"class{cls}:{size}"


def _parse_dataspace(raw: bytes, lsz: int) -> tuple[int, ...]:
    """Dataspace message v1: version, dimensionality, flags, 5
    reserved, then current dims (max dims follow when flags bit 0,
    ignored)."""
    if len(raw) < 8:
        raise KernelError("hdf5: short dataspace message")
    version, rank = raw[0], raw[1]
    if version != 1:
        raise KernelError(f"hdf5: dataspace version {version} unsupported")
    if rank > _MAX_DIMS:
        raise KernelError("hdf5: dataspace rank over cap")
    if len(raw) < 8 + rank * lsz:
        raise KernelError("hdf5: dataspace dims past message end")
    return tuple(int.from_bytes(raw[8 + i * lsz:8 + (i + 1) * lsz],
                                "little") for i in range(rank))


def _attr_value(dtype_raw: bytes, space_raw: bytes, data: bytes,
                lsz: int) -> str:
    """Render an attribute value: strings verbatim, numerics space-
    joined (the NetCDF-kernel convention, shared by the oracle)."""
    cls = dtype_raw[0] & 0x0F if dtype_raw else -1
    size = struct.unpack_from("<I", dtype_raw, 4)[0] if len(
        dtype_raw) >= 8 else 0
    dims = _parse_dataspace(space_raw, lsz) if space_raw else ()
    count = 1
    for d in dims:
        count *= d
    count = max(0, min(count, 4096))
    if cls == 3:
        return data[:size * max(count, 1)].split(b"\x00")[0].decode(
            "latin-1")
    vals: list[str] = []
    for i in range(count):
        chunk = data[i * size:(i + 1) * size]
        if len(chunk) < size:
            break
        if cls == 0:
            vals.append(str(int.from_bytes(chunk, "little", signed=True)))
        elif cls == 1 and size == 8:
            vals.append(repr(struct.unpack("<d", chunk)[0]))
        elif cls == 1 and size == 4:
            vals.append(repr(struct.unpack("<f", chunk)[0]))
        else:
            vals.append(chunk.hex())
    return " ".join(vals)


def _pad8(n: int) -> int:
    return (n + 7) & ~7


@dataclass
class _Object:
    """Parsed v1 object header: raw messages by walk order."""
    messages: list[tuple[int, bytes]]


class _Parser:
    def __init__(self, data: bytes, deadline: float | None):
        if not data.startswith(SIGNATURE):
            raise KernelError("hdf5: bad signature")
        if len(data) < SIGNATURE.__len__() + 24:
            raise KernelError("hdf5: truncated superblock")
        sb_ver = data[8]
        if sb_ver != 0:
            raise KernelError(
                f"hdf5: superblock version {sb_ver} unsupported "
                "(v0 classic only — v2/v3 refuse by design)")
        osz, lsz = data[13], data[14]
        if osz not in (4, 8) or lsz not in (4, 8):
            raise KernelError("hdf5: unsupported offset/length size")
        self.r = _Reader(data, osz, lsz)
        self.deadline = deadline
        self.objects_seen = 0
        self.visited: set[int] = set()
        # superblock: 8 sig + 8 versions/sizes + 2+2+4 k/flags,
        # then 4 file addresses, then the root symbol table entry
        pos = 8 + 8 + 8
        self.base = self.r.offset(pos)
        pos += 4 * osz
        if self.base != 0:
            raise KernelError("hdf5: nonzero base address unsupported")
        # root group symbol table entry: link name offset, object
        # header address, cache type, reserved, 16-byte scratch
        self.root_header = self.r.offset(pos + osz)

    def _check(self):
        check_deadline(self.deadline)
        self.objects_seen += 1
        if self.objects_seen > _MAX_OBJECTS:
            raise KernelError("hdf5: object cap exceeded")

    def read_object(self, addr: int) -> _Object:
        self._check()
        r = self.r
        if addr in self.visited:
            raise KernelError("hdf5: object header cycle")
        self.visited.add(addr)
        head = r.bytes_at(addr, 16)
        if head[:4] == b"OHDR":
            raise KernelError("hdf5: v2 object header (OHDR) "
                              "unsupported — refuses by design")
        version = head[0]
        if version != 1:
            raise KernelError(f"hdf5: object header version {version} "
                              "unsupported")
        n_msgs = struct.unpack_from("<H", head, 2)[0]
        if n_msgs > _MAX_MESSAGES:
            raise KernelError("hdf5: message cap exceeded")
        hdr_size = struct.unpack_from("<I", head, 8)[0]
        msgs: list[tuple[int, bytes]] = []
        # first block starts after the 12-byte prefix + 4 pad
        blocks = [(addr + 16, hdr_size)]
        conts = 0
        while blocks and len(msgs) < n_msgs:
            pos, remaining = blocks.pop(0)
            while remaining >= 8 and len(msgs) < n_msgs:
                mtype, msize = struct.unpack_from(
                    "<HH", r.bytes_at(pos, 4), 0)
                body = r.bytes_at(pos + 8, msize)
                pos += 8 + msize
                remaining -= 8 + msize
                if mtype == _MSG_CONTINUATION:
                    conts += 1
                    if conts > _MAX_CONTINUATIONS:
                        raise KernelError("hdf5: continuation cap")
                    if len(body) < r.osz + r.lsz:
                        raise KernelError("hdf5: short continuation")
                    caddr = int.from_bytes(body[:r.osz], "little")
                    clen = int.from_bytes(
                        body[r.osz:r.osz + r.lsz], "little")
                    blocks.append((caddr, clen))
                    continue
                if mtype != _MSG_NIL:
                    msgs.append((mtype, body))
        return _Object(messages=msgs)

    def heap_name(self, heap_addr: int, name_off: int) -> str:
        r = self.r
        head = r.bytes_at(heap_addr, 8)
        if head[:4] != b"HEAP":
            raise KernelError("hdf5: bad local heap signature")
        data_addr = r.offset(heap_addr + 8 + 2 * r.lsz)
        start = data_addr + name_off
        end = self.r.data.find(b"\x00", start,
                               start + _MAX_NAME)
        if end < 0:
            raise KernelError("hdf5: unterminated heap name")
        return self.r.data[start:end].decode("latin-1", "replace")

    def walk_group(self, btree_addr: int, heap_addr: int, prefix: str,
                   out: H5Result, depth: int):
        if depth > _MAX_DEPTH:
            raise KernelError("hdf5: group depth cap exceeded")
        self._walk_btree(btree_addr, heap_addr, prefix, out, depth, 0)

    def _walk_btree(self, node_addr: int, heap_addr: int, prefix: str,
                    out: H5Result, depth: int, tree_depth: int):
        self._check()
        if tree_depth > _MAX_DEPTH:
            raise KernelError("hdf5: b-tree depth cap exceeded")
        r = self.r
        head = r.bytes_at(node_addr, 8)
        if head[:4] != b"TREE":
            raise KernelError("hdf5: bad b-tree signature")
        node_type, level = head[4], head[5]
        if node_type != 0:
            raise KernelError("hdf5: non-group b-tree node")
        entries = struct.unpack_from("<H", head, 6)[0]
        if entries > _MAX_OBJECTS:
            raise KernelError("hdf5: b-tree entry cap")
        pos = node_addr + 8 + 2 * r.osz      # skip siblings
        pos += r.lsz                         # key 0
        for _ in range(entries):
            child = r.offset(pos)
            pos += r.osz + r.lsz             # child + next key
            if level > 0:
                self._walk_btree(child, heap_addr, prefix, out, depth,
                                 tree_depth + 1)
            else:
                self._walk_snod(child, heap_addr, prefix, out, depth)

    def _walk_snod(self, addr: int, heap_addr: int, prefix: str,
                   out: H5Result, depth: int):
        self._check()
        r = self.r
        head = r.bytes_at(addr, 8)
        if head[:4] != b"SNOD":
            raise KernelError("hdf5: bad symbol node signature")
        n_syms = struct.unpack_from("<H", head, 6)[0]
        if n_syms > _MAX_OBJECTS:
            raise KernelError("hdf5: symbol node cap")
        entry_size = 2 * r.osz + 8 + 16
        pos = addr + 8
        for _ in range(n_syms):
            name_off = r.offset(pos)
            obj_addr = r.offset(pos + r.osz)
            pos += entry_size
            name = self.heap_name(heap_addr, name_off)
            self.visit_object(obj_addr, f"{prefix}/{name}", out,
                              depth + 1)

    def visit_object(self, addr: int, path: str, out: H5Result,
                     depth: int):
        obj = self.read_object(addr)
        sym = next((b for t, b in obj.messages
                    if t == _MSG_SYMBOL_TABLE), None)
        if sym is not None:
            if len(sym) < 2 * self.r.osz:
                raise KernelError("hdf5: short symbol table message")
            btree = int.from_bytes(sym[:self.r.osz], "little")
            heap = int.from_bytes(sym[self.r.osz:2 * self.r.osz],
                                  "little")
            if path:
                out.groups.append(path)
            self.walk_group(btree, heap, path, out, depth)
            return
        dtype_raw = next((b for t, b in obj.messages
                          if t == _MSG_DATATYPE), None)
        space_raw = next((b for t, b in obj.messages
                          if t == _MSG_DATASPACE), None)
        if dtype_raw is not None and space_raw is not None:
            out.datasets.append(H5Dataset(
                path=path or "/",
                dtype=_parse_datatype(dtype_raw),
                dims=_parse_dataspace(space_raw, self.r.lsz)))

    def root_attributes(self, out: H5Result):
        obj = self.read_object(self.root_header)
        # re-allow revisiting the root for the group walk
        self.visited.discard(self.root_header)
        n = 0
        for t, body in obj.messages:
            if t != _MSG_ATTRIBUTE:
                continue
            n += 1
            if n > _MAX_ATTRS:
                break
            if len(body) < 8 or body[0] != 1:
                raise KernelError("hdf5: attribute message version "
                                  "unsupported")
            name_sz, dt_sz, ds_sz = struct.unpack_from("<HHH", body, 2)
            p = 8
            name = body[p:p + name_sz].split(b"\x00")[0].decode(
                "latin-1", "replace")
            p += _pad8(name_sz)
            dtype_raw = body[p:p + dt_sz]
            p += _pad8(dt_sz)
            space_raw = body[p:p + ds_sz]
            p += _pad8(ds_sz)
            out.root_attrs.append((name, _attr_value(
                dtype_raw, space_raw, body[p:], self.r.lsz)))


def parse_hdf5(data: bytes, deadline: float | None = None) -> H5Result:
    p = _Parser(data, deadline)
    out = H5Result(offset_size=p.r.osz, length_size=p.r.lsz)
    p.root_attributes(out)
    p.visit_object(p.root_header, "", out, 0)
    return out


# ---------------------------------------------------------------------
# Deterministic builder (synth twin — mirror of the grammar above, the
# build_netcdf pattern). Writes superblock v0, v1 object headers, one
# B-tree node per group, SNOD symbol nodes, local heaps.
# ---------------------------------------------------------------------

def _obj_header(messages: list[tuple[int, bytes]]) -> bytes:
    body = b""
    for mtype, raw in messages:
        raw = raw + b"\x00" * (_pad8(len(raw)) - len(raw))
        body += struct.pack("<HHB3x", mtype, len(raw), 0) + raw
    return struct.pack("<BxHII4x", 1, len(messages), 1, len(body)) + body


def _dataspace_msg(dims: tuple[int, ...]) -> bytes:
    return (struct.pack("<BBB5x", 1, len(dims), 0)
            + b"".join(struct.pack("<Q", d) for d in dims))


def _datatype_msg(cls: int, size: int) -> bytes:
    return struct.pack("<B3BI", (1 << 4) | cls, 0, 0, 0, size)


def _attr_msg(name: str, value: str) -> bytes:
    nb = name.encode() + b"\x00"
    vb = value.encode()
    dt = _datatype_msg(3, len(vb))
    ds = _dataspace_msg(())
    out = struct.pack("<BxHHH", 1, len(nb), len(dt), len(ds))
    for part in (nb, dt, ds):
        out += part + b"\x00" * (_pad8(len(part)) - len(part))
    return out + vb


class _W:
    """Append-only writer with deferred 8-byte patches."""

    def __init__(self):
        self.buf = bytearray()

    def tell(self) -> int:
        return len(self.buf)

    def add(self, b: bytes) -> int:
        pos = len(self.buf)
        self.buf += b
        return pos

    def patch_q(self, pos: int, value: int):
        struct.pack_into("<Q", self.buf, pos, value)


def _write_group(w: _W, children: list[tuple[str, int]]) -> tuple[int, int]:
    """Emit local heap + SNOD + B-tree for named children (name ->
    object header address); returns (btree_addr, heap_addr)."""
    children = sorted(children)
    names = bytearray(b"\x00" * 8)        # offset 0: empty string pad
    offs = []
    for name, _ in children:
        offs.append(len(names))
        nb = name.encode() + b"\x00"
        names += nb + b"\x00" * (_pad8(len(nb)) - len(nb))
    heap_addr = w.tell()
    data_addr = heap_addr + 8 + 3 * 8
    w.add(b"HEAP" + struct.pack("<B3x", 0)
          + struct.pack("<QQQ", len(names), len(names), data_addr))
    w.add(bytes(names))
    snod_addr = w.tell()
    snod = b"SNOD" + struct.pack("<BxH", 1, len(children))
    for off, (_, obj_addr) in zip(offs, children):
        snod += struct.pack("<QQ", off, obj_addr) + b"\x00" * 24
    w.add(snod)
    btree_addr = w.tell()
    undef = (1 << 64) - 1
    node = (b"TREE" + struct.pack("<BBH", 0, 0, 1)
            + struct.pack("<QQ", undef, undef)
            + struct.pack("<Q", 0)                 # key 0
            + struct.pack("<Q", snod_addr)          # child 0
            + struct.pack("<Q", offs[-1] if offs else 0))  # key 1
    w.add(node)
    return btree_addr, heap_addr


def build_hdf5(doc_id: int) -> bytes:
    """Deterministic classic HDF5 (extract_hdf5_meta oracle): a root
    group with a ``title`` attribute, a float64 dataset ``temp`` of
    shape (1 + doc_id % 5, 4), an int32 dataset ``count`` of shape
    (2 + doc_id % 3,), and for even ids a subgroup ``grp`` holding a
    string dataset ``label``."""
    w = _W()
    w.add(b"\x00" * 96)           # superblock placeholder

    temp_addr = w.add(_obj_header([
        (_MSG_DATATYPE, _datatype_msg(1, 8)),
        (_MSG_DATASPACE, _dataspace_msg((1 + doc_id % 5, 4))),
    ]))
    count_addr = w.add(_obj_header([
        (_MSG_DATATYPE, _datatype_msg(0, 4)),
        (_MSG_DATASPACE, _dataspace_msg((2 + doc_id % 3,))),
    ]))
    children = [("temp", temp_addr), ("count", count_addr)]

    if doc_id % 2 == 0:
        label_addr = w.add(_obj_header([
            (_MSG_DATATYPE, _datatype_msg(3, 16)),
            (_MSG_DATASPACE, _dataspace_msg((3,))),
        ]))
        g_btree, g_heap = _write_group(w, [("label", label_addr)])
        grp_addr = w.add(_obj_header([
            (_MSG_SYMBOL_TABLE, struct.pack("<QQ", g_btree, g_heap)),
        ]))
        children.append(("grp", grp_addr))

    btree, heap = _write_group(w, children)
    root_addr = w.add(_obj_header([
        (_MSG_SYMBOL_TABLE, struct.pack("<QQ", btree, heap)),
        (_MSG_ATTRIBUTE, _attr_msg("title", f"Synth HDF5 {doc_id}")),
        (_MSG_ATTRIBUTE, _attr_msg("source", "sparktika-synth")),
    ]))

    eof = w.tell()
    undef = (1 << 64) - 1
    sb = (SIGNATURE
          + struct.pack("<BBBxBBBx", 0, 0, 0, 0, 8, 8)
          + struct.pack("<HHI", 4, 16, 0)
          + struct.pack("<QQQQ", 0, undef, eof, undef)
          + struct.pack("<QQII", 0, root_addr, 1, 0)
          + struct.pack("<QQ", btree, heap))
    assert len(sb) == 96, len(sb)
    w.buf[:96] = sb
    return bytes(w.buf)
