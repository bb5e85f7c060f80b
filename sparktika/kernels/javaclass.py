"""Java class-file kernel — from scratch.

Tika 1.20 parity: ``org.apache.tika.parser.asm.ClassParser`` (reached
by the reference via tika-parsers:1.20 —
tika-fork-main/build.gradle:24) walks the class with ASM and emits a
javap-style listing: class name (also the title), superclass,
interfaces, and every field/method name with its descriptor. Built
from the PUBLIC JVM specification (JVMS §4 "The class File Format")
only:

- magic 0xCAFEBABE, minor/major version (45 = Java 1.1 ... 52 = 8,
  then +1 per release);
- constant pool: 1-indexed, CONSTANT_Long/Double occupy two slots;
  tags 1 Utf8, 3/4 int/float, 5/6 long/double, 7 Class, 8 String,
  9/10/11 member refs, 12 NameAndType, 15/16 MethodHandle/Type,
  17/18 Dynamic/InvokeDynamic, 19/20 Module/Package;
- access flags, this/super class, interfaces, then fields and methods
  (name + descriptor indices; attributes skipped by declared length).

Detection: the magic collides with Mach-O universal (fat) binaries,
so ``is_javaclass`` additionally demands a plausible version word
(major 45-75, minor 0-65535 but 0/preview in practice) — a fat
binary's arch count lands in the major-version position and is < 45.

Text contract (extract_class_meta oracle):
``package {p}\\nclass {Name} extends {Super}\\n`` then
``implements {I1} {I2}\\n`` when present, one ``field {name} :
{descriptor}`` line per field and ``method {name} : {descriptor}``
per method, declaration order. Strings decode as modified UTF-8 via
plain UTF-8 with replacement (identifier-safe).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from .errors import KernelError, check_deadline

_MAGIC = b"\xca\xfe\xba\xbe"
_MAX_MEMBERS = 65535

# tag -> fixed payload size (None: variable)
_FIXED = {3: 4, 4: 4, 5: 8, 6: 8, 7: 2, 8: 2, 9: 4, 10: 4, 11: 4,
          12: 4, 15: 3, 16: 2, 17: 4, 18: 4, 19: 2, 20: 2}


def is_javaclass(data: bytes) -> bool:
    if len(data) < 10 or data[:4] != _MAGIC:
        return False
    major, = struct.unpack_from(">H", data, 6)
    return 45 <= major <= 75


@dataclass
class ClassResult:
    class_name: str
    super_name: str
    interfaces: list[str] = field(default_factory=list)
    fields: list[tuple[str, str]] = field(default_factory=list)
    methods: list[tuple[str, str]] = field(default_factory=list)
    major: int = 0
    access_flags: int = 0

    @property
    def package(self) -> str:
        return self.class_name.rpartition(".")[0]

    @property
    def simple_name(self) -> str:
        return self.class_name.rpartition(".")[2]

    @property
    def java_version(self) -> str:
        if self.major <= 48:
            return f"1.{self.major - 44}"
        return str(self.major - 44)

    def render_text(self) -> str:
        lines = []
        if self.package:
            lines.append(f"package {self.package}")
        lines.append(f"class {self.simple_name} extends {self.super_name}")
        if self.interfaces:
            lines.append("implements " + " ".join(self.interfaces))
        for n, d in self.fields:
            lines.append(f"field {n} : {d}")
        for n, d in self.methods:
            lines.append(f"method {n} : {d}")
        return "".join(ln + "\n" for ln in lines)


def _dotted(binary_name: str) -> str:
    return binary_name.replace("/", ".")


def parse_javaclass(data: bytes,
                    deadline: float | None = None) -> ClassResult:
    if not is_javaclass(data):
        raise KernelError("class: bad magic or implausible version")
    major, = struct.unpack_from(">H", data, 6)
    pos = 8
    count, = struct.unpack_from(">H", data, pos)
    pos += 2
    utf8: dict[int, str] = {}
    classes: dict[int, int] = {}       # pool idx -> utf8 idx
    i = 1
    while i < count:
        check_deadline(deadline, "class constant pool")
        if pos >= len(data):
            raise KernelError("class: truncated constant pool")
        tag = data[pos]
        pos += 1
        if tag == 1:
            if pos + 2 > len(data):
                raise KernelError("class: truncated Utf8 length")
            n, = struct.unpack_from(">H", data, pos)
            pos += 2
            if pos + n > len(data):
                raise KernelError("class: truncated Utf8 bytes")
            utf8[i] = data[pos:pos + n].decode("utf-8", "replace")
            pos += n
        elif tag in _FIXED:
            if tag == 7:
                classes[i] = struct.unpack_from(">H", data, pos)[0]
            sz = _FIXED[tag]
            if pos + sz > len(data):
                raise KernelError("class: truncated pool entry")
            pos += sz
        else:
            raise KernelError(f"class: unknown constant tag {tag}")
        i += 2 if tag in (5, 6) else 1

    def cls_name(idx: int) -> str:
        return _dotted(utf8.get(classes.get(idx, -1), ""))

    if pos + 8 > len(data):
        raise KernelError("class: truncated class declaration")
    access, this_c, super_c, n_ifaces = struct.unpack_from(
        ">HHHH", data, pos)
    pos += 8
    res = ClassResult(class_name=cls_name(this_c),
                      super_name=cls_name(super_c) or "java.lang.Object",
                      major=major, access_flags=access)
    if not res.class_name:
        raise KernelError("class: this_class resolves to no name")
    for _ in range(n_ifaces):
        if pos + 2 > len(data):
            raise KernelError("class: truncated interfaces")
        res.interfaces.append(cls_name(
            struct.unpack_from(">H", data, pos)[0]))
        pos += 2

    def members(out: list[tuple[str, str]]) -> int:
        nonlocal pos
        if pos + 2 > len(data):
            raise KernelError("class: truncated member count")
        n, = struct.unpack_from(">H", data, pos)
        pos += 2
        for _ in range(n):
            check_deadline(deadline, "class members")
            if pos + 8 > len(data):
                raise KernelError("class: truncated member")
            _acc, name_i, desc_i, n_attrs = struct.unpack_from(
                ">HHHH", data, pos)
            pos += 8
            out.append((utf8.get(name_i, "?"), utf8.get(desc_i, "?")))
            for _ in range(n_attrs):
                if pos + 6 > len(data):
                    raise KernelError("class: truncated attribute")
                alen, = struct.unpack_from(">I", data, pos + 2)
                pos += 6 + alen
                if pos > len(data):
                    raise KernelError("class: attribute past EOF")
        return n

    members(res.fields)
    members(res.methods)
    return res


# -- builder (synth corpus + tests) --------------------------------------


class _Pool:
    def __init__(self):
        self.entries: list[bytes] = []
        self._utf8: dict[str, int] = {}
        self._cls: dict[str, int] = {}

    def utf8(self, s: str) -> int:
        if s not in self._utf8:
            b = s.encode()
            self.entries.append(b"\x01" + struct.pack(">H", len(b)) + b)
            self._utf8[s] = len(self.entries)
        return self._utf8[s]

    def cls(self, binary_name: str) -> int:
        if binary_name not in self._cls:
            u = self.utf8(binary_name)
            self.entries.append(b"\x07" + struct.pack(">H", u))
            self._cls[binary_name] = len(self.entries)
        return self._cls[binary_name]


def build_class(name: str, super_name: str = "java/lang/Object",
                interfaces: list[str] = (),
                fields: list[tuple[str, str]] = (),
                methods: list[tuple[str, str]] = (),
                major: int = 52) -> bytes:
    """Minimal valid class file (no Code attributes)."""
    p = _Pool()
    this_i = p.cls(name)
    super_i = p.cls(super_name)
    iface_i = [p.cls(i) for i in interfaces]
    f_rows = [(p.utf8(n), p.utf8(d)) for n, d in fields]
    m_rows = [(p.utf8(n), p.utf8(d)) for n, d in methods]

    out = bytearray(_MAGIC)
    out += struct.pack(">HH", 0, major)
    out += struct.pack(">H", len(p.entries) + 1)
    for e in p.entries:
        out += e
    out += struct.pack(">HHHH", 0x0021, this_i, super_i, len(iface_i))
    for i in iface_i:
        out += struct.pack(">H", i)
    for rows, acc in ((f_rows, 0x0002), (m_rows, 0x0001)):
        out += struct.pack(">H", len(rows))
        for n_i, d_i in rows:
            out += struct.pack(">HHHH", acc, n_i, d_i, 0)
    return bytes(out)
