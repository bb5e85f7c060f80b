"""Windows Shell Link (.lnk) kernel, from scratch per [MS-SHLLNK].

Shortcuts recur in shared-drive and desktop-backup crawls and carry
real signal: the target path, a human description, command-line
arguments. Layout ([MS-SHLLNK] §2): a 76-byte ShellLinkHeader
(HeaderSize 0x4C, the LinkCLSID 00021401-0000-0000-C000-000000000046,
LinkFlags, FileAttributes, three FILETIMEs, FileSize, IconIndex,
ShowCommand, HotKey), then optional structures in fixed order:
LinkTargetIDList (u16 size prefix), LinkInfo (u32 size prefix, with
VolumeIDAndLocalBasePath offering a NUL-terminated local base path),
then StringData entries (CountCharacters u16 + chars, UTF-16LE when
LinkFlags.IsUnicode else ANSI) in the order NAME_STRING, RELATIVE_PATH,
WORKING_DIR, COMMAND_LINE_ARGUMENTS, ICON_LOCATION.

Tika 1.20 has no .lnk parser — beyond reference parity, justified by
crawl frequency. Guards: all offsets bounds-checked; string counts
capped; failures degrade to status rows (invariant 7).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

from .errors import KernelError


LNK_CLSID = bytes((0x01, 0x14, 0x02, 0x00, 0x00, 0x00, 0x00, 0x00,
                   0xC0, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x46))

# LinkFlags bits ([MS-SHLLNK] §2.1.1)
_HAS_IDLIST = 0x01
_HAS_LINKINFO = 0x02
_HAS_NAME = 0x04
_HAS_RELPATH = 0x08
_HAS_WORKDIR = 0x10
_HAS_ARGS = 0x20
_HAS_ICON = 0x40
_IS_UNICODE = 0x80

_MAX_STRING_CHARS = 65_535


def is_lnk(data: bytes) -> bool:
    return (len(data) >= 0x4C
            and data[:4] == b"\x4c\x00\x00\x00"
            and data[4:20] == LNK_CLSID)


@dataclass
class LnkResult:
    name: str | None = None
    relative_path: str | None = None
    working_dir: str | None = None
    arguments: str | None = None
    icon_location: str | None = None
    local_base_path: str | None = None
    file_size: int = 0
    flags: int = 0


def _read_string(data: bytes, pos: int, unicode_: bool) -> tuple[str, int]:
    if pos + 2 > len(data):
        raise KernelError("lnk: truncated StringData count")
    count = struct.unpack("<H", data[pos:pos + 2])[0]
    if count > _MAX_STRING_CHARS:
        raise KernelError("lnk: StringData count cap exceeded")
    pos += 2
    nbytes = count * 2 if unicode_ else count
    if pos + nbytes > len(data):
        raise KernelError("lnk: truncated StringData body")
    raw = data[pos:pos + nbytes]
    s = (raw.decode("utf-16-le", "replace") if unicode_
         else raw.decode("cp1252", "replace"))
    return s, pos + nbytes


def extract_lnk(data: bytes) -> LnkResult:
    if not is_lnk(data):
        raise KernelError("lnk: bad header size or LinkCLSID")
    flags, _attrs = struct.unpack("<II", data[0x14:0x1C])
    file_size = struct.unpack("<I", data[0x34:0x38])[0]
    res = LnkResult(file_size=file_size, flags=flags)
    pos = 0x4C
    if flags & _HAS_IDLIST:
        if pos + 2 > len(data):
            raise KernelError("lnk: truncated IDListSize")
        idsize = struct.unpack("<H", data[pos:pos + 2])[0]
        pos += 2 + idsize
        if pos > len(data):
            raise KernelError("lnk: IDList out of bounds")
    if flags & _HAS_LINKINFO:
        if pos + 4 > len(data):
            raise KernelError("lnk: truncated LinkInfoSize")
        lisize = struct.unpack("<I", data[pos:pos + 4])[0]
        if lisize < 0x1C or pos + lisize > len(data):
            raise KernelError("lnk: LinkInfo out of bounds")
        li = data[pos:pos + lisize]
        _sz, _hdr, liflags, _vol, lbp_off = struct.unpack("<5I", li[:20])
        if liflags & 0x01 and 0 < lbp_off < lisize:  # VolumeIDAndLocalBasePath
            end = li.find(b"\x00", lbp_off)
            if end != -1:
                res.local_base_path = li[lbp_off:end].decode(
                    "cp1252", "replace")
        pos += lisize
    uni = bool(flags & _IS_UNICODE)
    if flags & _HAS_NAME:
        res.name, pos = _read_string(data, pos, uni)
    if flags & _HAS_RELPATH:
        res.relative_path, pos = _read_string(data, pos, uni)
    if flags & _HAS_WORKDIR:
        res.working_dir, pos = _read_string(data, pos, uni)
    if flags & _HAS_ARGS:
        res.arguments, pos = _read_string(data, pos, uni)
    if flags & _HAS_ICON:
        res.icon_location, pos = _read_string(data, pos, uni)
    return res
