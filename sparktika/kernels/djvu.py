"""DjVu kernel — header metadata, from scratch.

Public DjVu v3 spec (djvu.org / RFC-style AT&T publication): files open
with the 4-byte ``AT&T`` prefix, then an EA-IFF-85-style chunk tree:
``FORM``+``DJVU`` for a single page whose first chunk is ``INFO``
(width/height big-endian u16, version bytes, dpi LITTLE-endian u16 —
the spec's one endianness quirk — gamma, flags), or ``FORM``+``DJVM``
for a multipage document whose ``DIRM`` directory carries the component
count. Scanned-document archives (archive.org, digital libraries) are
full of .djvu. Page IMAGE decode (JB2/IW44 arithmetic coding) is out of
scope by design — header facts only. Tika 1.20 has no DjVu parser;
beyond parity.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

from .errors import KernelError


@dataclass
class DjvuResult:
    kind: str                 # single | bundled
    n_pages: int = 1
    width: int | None = None
    height: int | None = None
    dpi: int | None = None


def is_djvu(data: bytes) -> bool:
    return (data[:4] == b"AT&T" and data[4:8] == b"FORM"
            and data[12:16] in (b"DJVU", b"DJVM"))


def extract_djvu(data: bytes) -> DjvuResult:
    if not is_djvu(data):
        raise KernelError("djvu: bad AT&T/FORM signature")
    form = data[12:16]
    if form == b"DJVU":
        # single page: first chunk must be INFO
        if data[16:20] != b"INFO":
            raise KernelError("djvu: DJVU form without leading INFO")
        size = int.from_bytes(data[20:24], "big")
        if size < 10 or 24 + 10 > len(data):
            raise KernelError("djvu: truncated INFO chunk")
        w, h = struct.unpack(">HH", data[24:28])
        dpi = struct.unpack("<H", data[30:32])[0]  # little-endian field
        if not (0 < w <= 65_535 and 0 < h <= 65_535):
            raise KernelError("djvu: implausible page dimensions")
        return DjvuResult(kind="single", n_pages=1, width=w, height=h,
                          dpi=dpi)
    # bundled multipage: walk to DIRM for the component directory
    pos, n = 16, len(data)
    while pos + 8 <= n:
        cid = data[pos:pos + 4]
        size = int.from_bytes(data[pos + 4:pos + 8], "big")
        if size > n - pos - 8:
            break
        if cid == b"DIRM":
            if size < 3:
                raise KernelError("djvu: truncated DIRM")
            nfiles = struct.unpack(">H", data[pos + 9:pos + 11])[0]
            return DjvuResult(kind="bundled", n_pages=nfiles)
        pos += 8 + size + (size & 1)
    raise KernelError("djvu: DJVM form without DIRM directory")
