"""ISO 9660 disc image kernel, from scratch per ECMA-119.

Disc images recur in software-archive and shared-drive crawls. Layout
(public ECMA-119 / ISO 9660): a 32 KiB system area, then 2048-byte
volume descriptors at sector 16+ — type 1 is the Primary Volume
Descriptor ("CD001" magic), carrying the volume identifier, space
size, and the 34-byte root directory record; type 255 terminates the
set. Directory records hold both-endian extent LBA / data length, a
flags byte (bit 1 = directory), and an ISO name (";1" version suffix
stripped). Members route through the SAME router/budget semantics as
zip/tar/ar (kernels/container.py), so a text or HTML file inside an
image extracts like any other container member.

Guards: descriptor/record bounds-checked, directory recursion depth-
and entry-capped, extents clamped to the image; Joliet/Rock-Ridge long
names are out of scope (the ISO names still list). Tika 1.20 has no
ISO image parser — beyond parity.
"""

from __future__ import annotations

from .container import ContainerResult, MemberText
from .errors import KernelError, check_deadline

ISO_MIME = "application/x-iso9660-image"

_SECTOR = 2048
_MAX_ENTRIES = 10_000
_MAX_DIR_DEPTH = 16


def is_iso9660(data: bytes) -> bool:
    off = 16 * _SECTOR
    return (len(data) >= off + 7 and data[off + 1:off + 6] == b"CD001"
            and data[off] in (0, 1, 2, 255))


def _both_u32(b: bytes, off: int) -> int:
    return int.from_bytes(b[off:off + 4], "little")


def _iter_dir(data: bytes, extent: int, size: int, depth: int,
              seen: set[int], out: list, deadline) -> None:
    if depth > _MAX_DIR_DEPTH:
        raise KernelError("iso9660: directory depth cap exceeded")
    if extent in seen:
        return  # directory loop (crafted image)
    seen.add(extent)
    pos = extent * _SECTOR
    end = min(pos + size, len(data))
    while pos < end:
        check_deadline(deadline, "iso9660 directory walk")
        rec_len = data[pos]
        if rec_len == 0:
            # records never span sectors: skip to the next one
            pos = (pos // _SECTOR + 1) * _SECTOR
            continue
        if pos + rec_len > len(data) or rec_len < 34:
            raise KernelError("iso9660: directory record out of bounds")
        rec = data[pos:pos + rec_len]
        ext = _both_u32(rec, 2)
        dlen = _both_u32(rec, 10)
        flags = rec[25]
        name_len = rec[32]
        if 33 + name_len > rec_len:
            raise KernelError("iso9660: name overruns record")
        raw = rec[33:33 + name_len]
        pos += rec_len
        if raw in (b"\x00", b"\x01"):   # self / parent
            continue
        name = raw.decode("latin-1", "replace").split(";")[0].rstrip(".")
        if len(out) >= _MAX_ENTRIES:
            raise KernelError("iso9660: entry cap exceeded")
        if flags & 0x02:
            out.append((name + "/", None, None))
            _iter_dir(data, ext, dlen, depth + 1, seen, out, deadline)
        else:
            out.append((name, ext, dlen))


def extract_iso(
    data: bytes,
    max_chars: int = -1,
    max_ratio: float = 200.0,
    max_entry_bytes: int = 256_000_000,
    depth: int = 0,
    deadline: float | None = None,
    recurse=None,
) -> ContainerResult:
    acc = MemberText(max_chars, max_ratio, max_entry_bytes, depth, deadline,
                     recurse)
    if not is_iso9660(data):
        raise KernelError("iso9660: no CD001 descriptor at sector 16")
    pvd = None
    for i in range(16, min(16 + 32, len(data) // _SECTOR)):
        off = i * _SECTOR
        typ = data[off]
        if data[off + 1:off + 6] != b"CD001":
            break
        if typ == 1 and pvd is None:
            pvd = data[off:off + _SECTOR]
        if typ == 255:
            break
    if pvd is None:
        raise KernelError("iso9660: no primary volume descriptor")
    vol_id = pvd[40:72].decode("latin-1", "replace").strip()
    root = pvd[156:190]
    root_extent = _both_u32(root, 2)
    root_size = _both_u32(root, 10)
    entries: list = []
    _iter_dir(data, root_extent, root_size, 0, set(), entries, deadline)
    for name, ext, dlen in entries:
        acc.entries.append(name)
        if ext is None:       # directory
            continue
        if dlen > max_entry_bytes:
            acc.lost()
            continue
        start = ext * _SECTOR
        body = data[start:start + min(dlen, max(0, len(data) - start))]
        if len(body) < dlen:
            acc.lost()   # extent beyond the image: honest prefix
        if acc.wants():
            acc.add(name, body)
    return acc.result({"Content-Type": ISO_MIME, "iso-volume-id": vol_id})
