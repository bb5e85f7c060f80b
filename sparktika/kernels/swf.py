"""Adobe Flash SWF kernel — header metadata, from scratch.

Public SWF File Format Specification (v19, openly published by Adobe):
signature FWS (uncompressed) / CWS (zlib body, SWF 6+) / ZWS (LZMA
body, SWF 13+), u8 version, u32 little-endian uncompressed file
length; the (possibly compressed) stream that follows holds a
bit-packed RECT frame size (5-bit nbits, then four signed nbits-wide
twips values), a u16 8.8 fixed-point frame rate, and a u16 frame
count. Legacy web crawls are full of .swf — the header facts (player
version, stage dimensions, frame count/rate) are the queryable value;
tags are never walked. Tika 1.20 detects application/x-shockwave-flash
by the same signatures via its mimetypes registry; header decode is
beyond that parity.

Guards: only the first 512 decompressed bytes are ever inflated
(bounded zlib/LZMA), all reads bounds-checked; failures degrade to
status rows (invariant 7).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

from .errors import KernelError


_HEAD_NEED = 512  # decompressed bytes needed for RECT + rate + count


@dataclass
class SwfResult:
    version: int
    compression: str            # none | zlib | lzma
    file_length: int            # declared uncompressed length
    width_px: int
    height_px: int
    frame_rate: float           # 8.8 fixed -> exact x/256
    frame_count: int


def _body_head(data: bytes) -> bytes:
    sig = data[:3]
    if sig == b"FWS":
        return data[8:8 + _HEAD_NEED]
    if sig == b"CWS":
        import zlib

        try:
            return zlib.decompressobj().decompress(data[8:], _HEAD_NEED)
        except zlib.error as e:
            raise KernelError(f"swf: zlib body undecodable ({e})")
    if sig == b"ZWS":
        import lzma

        # ZWS layout: u32 compressed length at 8, then 5-byte LZMA1
        # props (lc/lp/pb byte + u32 dict size), then the raw stream
        if len(data) < 17:
            raise KernelError("swf: truncated ZWS header")
        props = data[12]
        if props >= 9 * 5 * 5:
            raise KernelError("swf: bad LZMA properties byte")
        lc = props % 9
        lp = (props // 9) % 5
        pb = props // 45
        dict_size = struct.unpack("<I", data[13:17])[0]
        # clamp the declared dict hard: we decode <= 512 bytes, so no
        # match can reference further back than that — a crafted header
        # declaring a huge dict must not make every worker allocate it
        filt = [{"id": lzma.FILTER_LZMA1, "lc": lc, "lp": lp, "pb": pb,
                 "dict_size": max(4096, min(dict_size, 1 << 20))}]
        try:
            dec = lzma.LZMADecompressor(format=lzma.FORMAT_RAW,
                                        filters=filt)
            return dec.decompress(data[17:], _HEAD_NEED)
        except lzma.LZMAError as e:
            raise KernelError(f"swf: lzma body undecodable ({e})")
    raise KernelError("swf: unknown signature")


def extract_swf(data: bytes) -> SwfResult:
    if len(data) < 9 or data[:3] not in (b"FWS", b"CWS", b"ZWS"):
        raise KernelError("swf: bad signature")
    version = data[3]
    file_length = struct.unpack("<I", data[4:8])[0]
    compression = {b"FWS": "none", b"CWS": "zlib", b"ZWS": "lzma"}[data[:3]]
    body = _body_head(data)
    if len(body) < 2:
        raise KernelError("swf: truncated body head")
    nbits = body[0] >> 3
    need_bits = 5 + 4 * nbits
    need_bytes = (need_bits + 7) // 8
    if len(body) < need_bytes + 4:
        raise KernelError("swf: truncated RECT")
    acc = int.from_bytes(body[:need_bytes], "big")
    acc >>= need_bytes * 8 - need_bits  # drop pad bits
    vals = []
    for i in range(4):
        shift = (3 - i) * nbits
        v = (acc >> shift) & ((1 << nbits) - 1) if nbits else 0
        # RECT values are signed twips
        if nbits and v >= 1 << (nbits - 1):
            v -= 1 << nbits
        vals.append(v)
    xmin, xmax, ymin, ymax = vals
    w_px = (xmax - xmin) // 20
    h_px = (ymax - ymin) // 20
    if not (0 < w_px <= 16_384 and 0 < h_px <= 16_384):
        raise KernelError("swf: implausible stage dimensions")
    rate_raw, frame_count = struct.unpack(
        "<HH", body[need_bytes:need_bytes + 4])
    return SwfResult(version=version, compression=compression,
                     file_length=file_length, width_px=w_px,
                     height_px=h_px, frame_rate=rate_raw / 256.0,
                     frame_count=frame_count)
