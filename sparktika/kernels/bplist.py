"""Apple binary property list (bplist00) kernel — from scratch.

macOS/iOS artifacts (app bundles, Safari bookmarks, iTunes metadata)
ride binary plists; Tika added a bplist parser AFTER 1.20 (TIKA-2619,
via dd-plist), so this kernel goes beyond strict reference parity (the
CAB/XPS posture). Built from the PUBLIC on-disk grammar documented in
Apple's open-source CoreFoundation (CFBinaryPList.c's format comment,
reproduced in many public references):

- 8-byte magic ``bplist00`` (also accepts the 01 minor);
- 32-byte trailer: offsetIntSize, objectRefSize, numObjects (u64be),
  topObject (u64be), offsetTableOffset (u64be);
- offset table: numObjects big-endian offsets of offsetIntSize bytes;
- objects: marker high nibble = type, low nibble = count (0xF means
  the count follows as an int object): null/bool (0x0), int 2^n bytes
  (0x1), real (0x2), date (0x33, seconds since 2001-01-01), data
  (0x4), ASCII string (0x5), UTF-16BE string (0x6), UID (0x8), array
  (0xA), set (0xC), dict (0xD: count key refs then count value refs).

Text contract (extract_bplist_text oracle, the JSON-kernel posture):
STRING leaves in depth-first walk order from the top object (dict
entries in stored order), one per line. Scalars and data blobs count
toward ``n-objects`` metadata but emit no text. Bomb posture
(invariant 7): a total visit cap defeats reference-alias bombs (the
PDF name-tree lesson), per-path cycle detection defeats loops, every
read is bounds-checked.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from .errors import KernelError, check_deadline

_MAGIC = (b"bplist00", b"bplist01")

_MAX_VISITS = 100_000
_MAX_DEPTH = 64


def is_bplist(data: bytes) -> bool:
    return len(data) >= 40 and data[:8] in _MAGIC


@dataclass
class BplistResult:
    strings: list[str] = field(default_factory=list)
    n_objects: int = 0
    top_type: str = "null"

    @property
    def text(self) -> str:
        return "".join(s + "\n" for s in self.strings)


_TYPE_NAMES = {0x0: "null", 0x1: "int", 0x2: "real", 0x3: "date",
               0x4: "data", 0x5: "string", 0x6: "string", 0x8: "uid",
               0xA: "array", 0xC: "set", 0xD: "dict"}


class _Reader:
    def __init__(self, data: bytes, deadline: float | None):
        if not is_bplist(data):
            raise KernelError("bplist: bad magic")
        self.d = data
        self.deadline = deadline
        (self.off_size, self.ref_size, self.n_objects, self.top,
         table_off) = struct.unpack_from(">6xBBQQQ", data, len(data) - 32)
        if not 1 <= self.off_size <= 8 or not 1 <= self.ref_size <= 8:
            raise KernelError("bplist: bad trailer int sizes")
        if self.n_objects == 0 or self.n_objects > len(data):
            raise KernelError("bplist: implausible object count")
        end = table_off + self.n_objects * self.off_size
        if end > len(data) - 32:
            raise KernelError("bplist: offset table past trailer")
        self.offsets = [
            int.from_bytes(
                data[table_off + i * self.off_size:
                     table_off + (i + 1) * self.off_size], "big")
            for i in range(self.n_objects)]
        self.visits = 0

    def _int_at(self, pos: int) -> tuple[int, int]:
        """An int object at pos -> (value, next_pos)."""
        marker = self.d[pos]
        if marker >> 4 != 0x1:
            raise KernelError("bplist: expected int object for count")
        n = 1 << (marker & 0xF)
        if n > 16 or pos + 1 + n > len(self.d):
            raise KernelError("bplist: bad int size")
        return int.from_bytes(self.d[pos + 1:pos + 1 + n], "big"), \
            pos + 1 + n

    def _header(self, pos: int) -> tuple[int, int, int]:
        """Object header -> (type nibble, count, payload pos)."""
        if pos >= len(self.d) - 32:
            raise KernelError("bplist: object offset past trailer")
        marker = self.d[pos]
        t, n = marker >> 4, marker & 0xF
        pos += 1
        if t != 0x0 and n == 0xF:
            n, pos = self._int_at(pos)
        if n > len(self.d):
            raise KernelError("bplist: implausible element count")
        return t, n, pos

    def _ref(self, pos: int, i: int) -> int:
        at = pos + i * self.ref_size
        if at + self.ref_size > len(self.d):
            raise KernelError("bplist: object ref past EOF")
        return int.from_bytes(self.d[at:at + self.ref_size], "big")

    def walk(self, obj: int, out: list[str], path: frozenset,
             depth: int) -> None:
        check_deadline(self.deadline, "bplist walk")
        self.visits += 1
        if self.visits > _MAX_VISITS:
            raise KernelError("bplist: visit cap exceeded (alias bomb)")
        if depth > _MAX_DEPTH:
            raise KernelError("bplist: nesting cap exceeded")
        if obj in path:
            raise KernelError("bplist: reference cycle")
        if obj >= self.n_objects:
            raise KernelError("bplist: object ref out of range")
        t, n, pos = self._header(self.offsets[obj])
        if t == 0x5:                                  # ASCII string
            if pos + n > len(self.d):
                raise KernelError("bplist: string past EOF")
            out.append(self.d[pos:pos + n].decode("ascii", "replace"))
        elif t == 0x6:                                # UTF-16BE string
            if pos + 2 * n > len(self.d):
                raise KernelError("bplist: string past EOF")
            out.append(self.d[pos:pos + 2 * n].decode(
                "utf-16-be", "replace"))
        elif t == 0xA or t == 0xC:                    # array / set
            sub = path | {obj}
            for i in range(n):
                self.walk(self._ref(pos, i), out, sub, depth + 1)
        elif t == 0xD:                                # dict
            sub = path | {obj}
            for i in range(n):
                self.walk(self._ref(pos, i), out, sub, depth + 1)
                self.walk(self._ref(pos, n + i), out, sub, depth + 1)
        # scalar/data/date/uid: no text

    def top_type(self) -> str:
        if self.top >= self.n_objects:
            raise KernelError("bplist: top object out of range")
        t, _, _ = self._header(self.offsets[self.top])
        return _TYPE_NAMES.get(t, f"type{t:x}")


def parse_bplist(data: bytes,
                 deadline: float | None = None) -> BplistResult:
    r = _Reader(data, deadline)
    res = BplistResult(n_objects=r.n_objects, top_type=r.top_type())
    r.walk(r.top, res.strings, frozenset(), 0)
    return res


# -- builder (synth corpus + tests) --------------------------------------


def build_bplist(top) -> bytes:
    """Serialize str/int/float/bool/None/bytes/list/dict to a valid
    bplist00 (shared-nothing: one object per occurrence)."""
    objs: list[bytes | tuple] = []

    def emit(v) -> int:
        i = len(objs)
        objs.append(None)  # reserve slot
        if v is None:
            objs[i] = b"\x00"
        elif isinstance(v, bool):
            objs[i] = b"\x09" if v else b"\x08"
        elif isinstance(v, int):
            objs[i] = b"\x13" + struct.pack(">q", v)
        elif isinstance(v, float):
            objs[i] = b"\x23" + struct.pack(">d", v)
        elif isinstance(v, bytes):
            objs[i] = _hdr(0x4, len(v)) + v
        elif isinstance(v, str):
            try:
                b = v.encode("ascii")
                objs[i] = _hdr(0x5, len(b)) + b
            except UnicodeEncodeError:
                b = v.encode("utf-16-be")
                objs[i] = _hdr(0x6, len(v)) + b
        elif isinstance(v, list):
            refs = [emit(x) for x in v]
            objs[i] = (0xA, refs)
        elif isinstance(v, dict):
            krefs = [emit(k) for k in v]
            vrefs = [emit(x) for x in v.values()]
            objs[i] = (0xD, krefs + vrefs)
        else:
            raise ValueError(f"unsupported bplist type {type(v)}")
        return i

    def _hdr(t: int, n: int) -> bytes:
        if n < 15:
            return bytes([(t << 4) | n])
        return bytes([(t << 4) | 0xF, 0x13]) + struct.pack(">q", n)

    emit(top)
    ref_size = 1 if len(objs) < 256 else 2
    blobs: list[bytes] = []
    for o in objs:
        if isinstance(o, tuple):
            t, refs = o
            n = len(refs) if t == 0xA else len(refs) // 2
            blobs.append(_hdr(t, n) + b"".join(
                r.to_bytes(ref_size, "big") for r in refs))
        else:
            blobs.append(o)
    out = bytearray(b"bplist00")
    offsets = []
    for b in blobs:
        offsets.append(len(out))
        out += b
    table_off = len(out)
    off_size = 1 if table_off < 256 else (2 if table_off < 65536 else 4)
    for o in offsets:
        out += o.to_bytes(off_size, "big")
    out += struct.pack(">6xBBQQQ", off_size, ref_size, len(objs), 0,
                       table_off)
    return bytes(out)
