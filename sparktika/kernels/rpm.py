"""RPM package kernel — lead + header-structure walk, from scratch.

Public RPM v3 package format (rpm.org file-format docs / LSB package
chapter): a 96-byte LEAD (magic ED AB EE DB, major/minor, big-endian
type and arch words, a 66-byte name, signature type), then a SIGNATURE
header and the MAIN header, both in the same "header structure" form:
magic 8E AD E8 01 + reserved, u32 index count, u32 store size, 16-byte
index entries (tag, type, offset, count), then the store. The store of
the signature header pads to an 8-byte boundary before the main header.

Extracted: package name/version/release/arch, summary + description
(I18NSTRING: first locale), license, URL, size. The compressed cpio
payload that follows the main header is deliberately never touched.
Tika 1.20 detects application/x-rpm by the lead magic (via
tika-mimetypes; reference reaches parsers through tika-parsers:1.20,
build.gradle:24); field extraction is beyond that parity.

Guards: index-count and store-size caps, per-entry offset bounds, only
string/int types dereferenced — all failures degrade to status rows
(invariant 7).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from .errors import KernelError, check_deadline


_LEAD_MAGIC = b"\xed\xab\xee\xdb"
_HDR_MAGIC = b"\x8e\xad\xe8\x01"

_MAX_INDEX = 10_000
_MAX_STORE = 64 * 1024 * 1024

# main-header tags (public rpmtag.h values)
_TAGS = {1000: "name", 1001: "version", 1002: "release", 1004: "summary",
         1005: "description", 1009: "size", 1014: "license",
         1020: "url", 1022: "arch"}

_T_INT32 = 4
_T_STRING = 6
_T_STRING_ARRAY = 8
_T_I18NSTRING = 9


@dataclass
class RpmResult:
    fields: dict[str, str] = field(default_factory=dict)
    binary_package: bool = True


def _read_header(data: bytes, pos: int,
                 want: dict[int, str] | None) -> tuple[dict[str, str], int]:
    """Parse one header structure at `pos`; return (wanted fields,
    position just past the store)."""
    if data[pos:pos + 4] != _HDR_MAGIC:
        raise KernelError("rpm: bad header-structure magic")
    if pos + 16 > len(data):
        raise KernelError("rpm: truncated header intro")
    nindex, hsize = struct.unpack(">II", data[pos + 8:pos + 16])
    if nindex > _MAX_INDEX or hsize > _MAX_STORE:
        raise KernelError("rpm: header index/store cap exceeded")
    idx_start = pos + 16
    store = idx_start + 16 * nindex
    if store + hsize > len(data):
        raise KernelError("rpm: header store out of bounds")
    out: dict[str, str] = {}
    if want:
        for i in range(nindex):
            tag, typ, off, count = struct.unpack(
                ">IIII", data[idx_start + 16 * i:idx_start + 16 * i + 16])
            name = want.get(tag)
            if name is None or off >= hsize:
                continue
            base = store + off
            if typ in (_T_STRING, _T_I18NSTRING, _T_STRING_ARRAY):
                end = data.find(b"\x00", base, store + hsize)
                if end == -1:
                    continue
                out[name] = data[base:end].decode("utf-8", "replace")
            elif typ == _T_INT32 and count >= 1 and off + 4 <= hsize:
                out[name] = str(struct.unpack(">I", data[base:base + 4])[0])
    return out, store + hsize


def extract_rpm(data: bytes, deadline: float | None = None) -> RpmResult:
    if data[:4] != _LEAD_MAGIC or len(data) < 96:
        raise KernelError("rpm: bad lead magic")
    pkg_type = struct.unpack(">H", data[4 + 2:4 + 4])[0]
    check_deadline(deadline, "rpm header walk")
    # signature header starts right after the 96-byte lead
    _, after_sig = _read_header(data, 96, None)
    # signature store pads the main header to an 8-byte boundary
    main_pos = (after_sig + 7) & ~7
    fields, _ = _read_header(data, main_pos, _TAGS)
    res = RpmResult(fields=fields, binary_package=(pkg_type == 0))
    return res
