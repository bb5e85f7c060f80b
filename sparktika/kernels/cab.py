"""Microsoft Cabinet (.cab) container kernel — from scratch.

Built from the PUBLIC [MS-CAB] specification (Cabinet file format,
v20230920) only. The reference (tika-fork) detects
``application/vnd.ms-cab-compressed`` through Tika 1.20's mimetypes
table but ships no CAB parser, so this kernel goes BEYOND reference
parity: cabs appear routinely in driver/installer crawls, and a
corpus pipeline that skips them loses every README/INF/license text
they carry.

Layout walked here ([MS-CAB] §2.1-2.5):

- CFHEADER: ``MSCF`` magic, cabinet/file-area offsets, folder + file
  counts, flags (PREV/NEXT cabinet chain markers, per-area reserve
  sizes).
- CFFOLDER[cFolders]: first-CFDATA offset, CFDATA count, compression
  type (0 NONE, 1 MSZIP, 2 QUANTUM, 3 LZX with the window size in the
  high byte's low 5 bits).
- CFFILE[cFiles]: uncompressed size, offset inside the folder's
  uncompressed stream, folder index (0xFFFD/0xFFFE/0xFFFF mark
  spanning members of multi-cabinet sets), DOS date/time, attributes,
  NUL-terminated name (UTF-8 when attribute 0x80 is set).
- CFDATA chain per folder: checksum, compressed + uncompressed byte
  counts, payload. The checksum ([MS-CAB] Appendix C) is verified
  whenever non-zero — a corrupt block refuses instead of emitting
  garbage text.

Codec handling:

- NONE: payload bytes pass through (sizes must agree).
- MSZIP ([MS-MCI] §2): each block is ``CK`` + one raw-DEFLATE stream;
  the 32 KiB history window carries across blocks, so block N inflates
  with block N-1's output tail preset as the dictionary
  (``zlib.decompressobj(-15, zdict=...)``).
- LZX: one LZXD stream per folder, CFDATA payloads concatenated;
  frames of 32 KiB output each starting 16-bit aligned — exactly the
  contract kernels/lzx.py already decodes for CHM (single reset
  segment, window bits 15-21 from the folder's compression type).
- QUANTUM: honestly refused (no public-spec-complete decoder here);
  the folder's member names are still listed.

Spanning members of multi-cabinet sets are recorded by name and
skipped (their bytes live partly in a neighbour cab). Bomb guards
mirror the zip/tar/7z containers: inflate-ratio + per-entry caps,
nesting depth, per-document deadline, checksum verification.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

from .errors import InflateRatioError, KernelError, check_deadline

_MAGIC = b"MSCF"
_FLAG_PREV = 0x0001
_FLAG_NEXT = 0x0002
_FLAG_RESERVE = 0x0004
_COMP_NONE = 0
_COMP_MSZIP = 1
_COMP_QUANTUM = 2
_COMP_LZX = 3
_IFOLD_SPAN = 0xFFFD  # 0xFFFD/0xFFFE/0xFFFF: member spans cabinets
_MAX_FOLDER_BYTES_HARD = 1 << 31
_MSZIP_WINDOW = 32768


def _checksum(data: bytes, seed: int = 0) -> int:
    """[MS-CAB] Appendix C CHECKSUM: XOR of little-endian u32 words; a
    1-3 byte tail packs big-end-first (b[0]<<16 | b[1]<<8 | b[2] for a
    3-byte tail, per the spec's fall-through switch)."""
    csum = seed
    n4 = len(data) & ~3
    for (w,) in struct.iter_unpack("<I", data[:n4]):
        csum ^= w
    rem = data[n4:]
    if rem:
        ul = 0
        i = 0
        if len(rem) == 3:
            ul |= rem[i] << 16
            i += 1
        if len(rem) >= 2:
            ul |= rem[i] << 8
            i += 1
        ul |= rem[i]
        csum ^= ul
    return csum & 0xFFFFFFFF


def is_cab(data: bytes) -> bool:
    """Magic + internally consistent header (size/offset sanity), so a
    stray ``MSCF`` in other content cannot misroute."""
    if len(data) < 36 or data[:4] != _MAGIC:
        return False
    cb_cabinet, = struct.unpack_from("<I", data, 8)
    coff_files, = struct.unpack_from("<I", data, 16)
    ver_minor, ver_major, c_folders, c_files = struct.unpack_from(
        "<BBHH", data, 24)
    if (ver_major, ver_minor) != (1, 3):
        return False
    return 36 <= coff_files <= len(data) and cb_cabinet <= len(data) + 0 \
        and c_folders >= 1 and c_files >= 1


@dataclass
class _Folder:
    coff_data: int
    c_data: int
    comp_type: int


@dataclass
class _File:
    name: str
    size: int
    folder_off: int
    i_folder: int
    spans: bool


def _read_cstr(data: bytes, pos: int, utf8: bool = False) -> tuple[str, int]:
    end = data.find(b"\x00", pos)
    if end < 0 or end - pos > 4096:
        raise KernelError("cab: unterminated string")
    raw = data[pos:end]
    try:
        s = raw.decode("utf-8" if utf8 else "cp1252")
    except UnicodeDecodeError:
        s = raw.decode("cp1252", errors="replace")
    return s, end + 1


def _parse(data: bytes) -> tuple[list[_Folder], list[_File], int, int]:
    """Header + directory walk → (folders, files, cbCFFolder-reserve,
    cbCFData-reserve)."""
    if len(data) < 36 or data[:4] != _MAGIC:
        raise KernelError("cab: bad magic")
    coff_files, = struct.unpack_from("<I", data, 16)
    ver_minor, ver_major, c_folders, c_files, flags = struct.unpack_from(
        "<BBHHH", data, 24)
    if (ver_major, ver_minor) != (1, 3):
        raise KernelError(f"cab: unsupported version {ver_major}.{ver_minor}")
    pos = 36
    res_header = res_folder = res_data = 0
    if flags & _FLAG_RESERVE:
        if pos + 4 > len(data):
            raise KernelError("cab: truncated reserve header")
        res_header, res_folder, res_data = struct.unpack_from(
            "<HBB", data, pos)
        pos += 4 + res_header
    if flags & _FLAG_PREV:
        _, pos = _read_cstr(data, pos)   # szCabinetPrev
        _, pos = _read_cstr(data, pos)   # szDiskPrev
    if flags & _FLAG_NEXT:
        _, pos = _read_cstr(data, pos)   # szCabinetNext
        _, pos = _read_cstr(data, pos)   # szDiskNext

    folders: list[_Folder] = []
    for _ in range(c_folders):
        if pos + 8 > len(data):
            raise KernelError("cab: truncated CFFOLDER table")
        coff, c_data, ctype = struct.unpack_from("<IHH", data, pos)
        pos += 8 + res_folder
        folders.append(_Folder(coff, c_data, ctype))

    pos = coff_files
    files: list[_File] = []
    for _ in range(c_files):
        if pos + 16 > len(data):
            raise KernelError("cab: truncated CFFILE table")
        cb, uoff, ifold, _date, _time, attribs = struct.unpack_from(
            "<IIHHHH", data, pos)
        pos += 16
        name, pos = _read_cstr(data, pos, utf8=bool(attribs & 0x80))
        files.append(_File(name, cb, uoff, ifold, ifold >= _IFOLD_SPAN))
    return folders, files, res_data, len(data)


def _folder_blocks(data: bytes, folder: _Folder, res_data: int,
                   deadline: float | None) -> tuple[bytes, int, list[int]]:
    """Concatenate + checksum-verify a folder's CFDATA chain →
    (compressed stream, total uncompressed size, per-block uncompressed
    sizes)."""
    pos = folder.coff_data
    comp = bytearray()
    out_total = 0
    block_sizes: list[int] = []
    for _ in range(folder.c_data):
        check_deadline(deadline, "cab block walk")
        if pos + 8 > len(data):
            raise KernelError("cab: truncated CFDATA header")
        csum, cb_data, cb_uncomp = struct.unpack_from("<IHH", data, pos)
        payload_at = pos + 8 + res_data
        payload = data[payload_at: payload_at + cb_data]
        if len(payload) != cb_data:
            raise KernelError("cab: truncated CFDATA payload")
        if csum != 0 and res_data == 0:
            # checksum covers payload first, then the cbData|cbUncomp
            # field bytes seeded with the payload sum ([MS-CAB] App. C);
            # skipped when a per-datablock reserve is present (the
            # reserve/checksum interplay is not pinned by the spec text)
            want = _checksum(data[pos + 4: pos + 8], _checksum(payload))
            if want != csum:
                raise KernelError("cab: CFDATA checksum mismatch")
        comp += payload
        out_total += cb_uncomp
        block_sizes.append(cb_uncomp)
        pos = payload_at + cb_data
    return bytes(comp), out_total, block_sizes


def _decode_folder(data: bytes, folder: _Folder, res_data: int,
                   max_ratio: float, max_entry_bytes: int,
                   deadline: float | None) -> bytes:
    comp, out_total, block_sizes = _folder_blocks(
        data, folder, res_data, deadline)
    if out_total > max_entry_bytes or out_total > _MAX_FOLDER_BYTES_HARD:
        raise InflateRatioError(
            f"cab: folder inflates to {out_total} bytes (cap)")
    if comp and out_total / max(len(comp), 1) > max_ratio:
        raise InflateRatioError("cab: folder inflate ratio exceeds cap")
    method = folder.comp_type & 0x000F
    if method == _COMP_NONE:
        if len(comp) != out_total:
            raise KernelError("cab: NONE folder size mismatch")
        return comp
    if method == _COMP_MSZIP:
        # per-block raw deflate, history window carried as zdict
        out = bytearray()
        cpos = 0
        # re-walk block compressed sizes (MSZIP must split per block)
        pos = folder.coff_data
        for want_out in block_sizes:
            check_deadline(deadline, "cab mszip block")
            cb_data, = struct.unpack_from("<H", data, pos + 4)
            payload_at = pos + 8 + res_data
            payload = data[payload_at: payload_at + cb_data]
            pos = payload_at + cb_data
            cpos += cb_data
            if payload[:2] != b"CK":
                raise KernelError("cab: MSZIP block missing CK signature")
            zdict = bytes(out[-_MSZIP_WINDOW:])
            d = zlib.decompressobj(-15, zdict=zdict) if zdict \
                else zlib.decompressobj(-15)
            try:
                chunk = d.decompress(payload[2:], want_out + 1)
            except zlib.error as exc:
                raise KernelError(f"cab: MSZIP inflate failed ({exc})")
            if len(chunk) != want_out:
                raise KernelError("cab: MSZIP block size mismatch")
            out += chunk
        return bytes(out)
    if method == _COMP_LZX:
        from . import lzx

        window_bits = (folder.comp_type >> 8) & 0x1F
        if not 15 <= window_bits <= 21:
            raise KernelError(f"cab: LZX window bits {window_bits} invalid")
        # one stream per folder: a single reset segment spanning every
        # frame (CAB LZXD never resets mid-folder), frames 16-bit
        # aligned — the exact contract lzx.decompress verifies for CHM
        frames = max(1, -(-out_total // lzx.FRAME_SIZE))
        return lzx.decompress(comp, out_total, window_bits,
                              reset_interval_frames=frames,
                              deadline=deadline)
    if method == _COMP_QUANTUM:
        raise KernelError("cab: QUANTUM compression unsupported (refused)")
    raise KernelError(f"cab: unknown compression type {method}")


def extract_cab(
    data: bytes,
    max_chars: int = -1,
    max_ratio: float = 200.0,
    max_entry_bytes: int = 256_000_000,
    depth: int = 0,
    deadline: float | None = None,
    recurse=None,
):
    """CAB member text extraction with the zip/tar/7z containers' routing
    and budget semantics (returns a ContainerResult)."""
    from .container import MemberText

    acc = MemberText(max_chars, max_ratio, max_entry_bytes, depth, deadline,
                     recurse)
    folders, files, res_data, _ = _parse(data)

    # lazy one-folder cache, like the 7z path: members arrive in folder
    # order, so sequential just-in-time decode never re-inflates, and a
    # small max_chars budget stops before later folders ever decode
    cached: tuple[int, bytes] | None = None
    refused: set[int] = set()

    def folder_bytes(fi: int) -> bytes | None:
        nonlocal cached
        if fi in refused:
            return None
        if cached is not None and cached[0] == fi:
            return cached[1]
        if fi >= len(folders):
            raise KernelError("cab: file references missing folder")
        check_deadline(deadline, "cab folder decode")
        try:
            out = _decode_folder(data, folders[fi], res_data,
                                 max_ratio, max_entry_bytes, deadline)
        except InflateRatioError:
            raise  # bomb guard always propagates
        except KernelError:
            # QUANTUM / corrupt folder: refuse just this folder; other
            # folders' members keep their text (the tar/ar/cpio
            # oversize-member lesson — one bad member must not drop
            # every later member, r6 fix)
            refused.add(fi)
            return None
        cached = (fi, out)
        return out

    skipped_spanning = 0
    for f in files:
        check_deadline(deadline, "cab member route")
        acc.entries.append(f.name)
        if f.spans:
            skipped_spanning += 1
            continue
        if not acc.wants():
            continue  # names still recorded; no further decompression
        blob = folder_bytes(f.i_folder)
        if blob is None:
            continue
        if f.folder_off + f.size > len(blob):
            continue  # directory lied about this member; others survive
        acc.add(f.name, blob[f.folder_off: f.folder_off + f.size])
    md = {"Content-Type": "application/vnd.ms-cab-compressed"}
    if skipped_spanning:
        md["cab-spanning-members-skipped"] = str(skipped_spanning)
    if refused:
        md["cab-folders-refused"] = str(len(refused))
    return acc.result(md)


# -- builder (synth corpus + tests; one source of on-disk-layout truth) --


def build_cab(members: list[tuple[str, bytes]], compression: str = "mszip",
              window_bits: int = 16, with_checksums: bool = True,
              one_folder_per_member: bool = False) -> bytes:
    """Write a valid single-cabinet CAB: all members in one folder (or
    one folder each), compression 'none' | 'mszip' | 'lzx'."""
    groups: list[list[tuple[str, bytes]]]
    if one_folder_per_member:
        groups = [[m] for m in members]
    else:
        groups = [members]

    folder_payloads: list[list[tuple[int, bytes]]] = []  # (uncomp, comp)
    file_rows: list[tuple[str, int, int, int]] = []  # name,size,uoff,ifolder
    for gi, group in enumerate(groups):
        raw = b"".join(body for _, body in group)
        off = 0
        for name, body in group:
            file_rows.append((name, len(body), off, gi))
            off += len(body)
        blocks: list[tuple[int, bytes]] = []
        if compression == "none":
            for i in range(0, max(len(raw), 1), _MSZIP_WINDOW):
                chunk = raw[i: i + _MSZIP_WINDOW]
                blocks.append((len(chunk), chunk))
            if not raw:
                blocks = [(0, b"")]
        elif compression == "mszip":
            for i in range(0, max(len(raw), 1), _MSZIP_WINDOW):
                chunk = raw[i: i + _MSZIP_WINDOW]
                zdict = raw[max(0, i - _MSZIP_WINDOW): i]
                c = zlib.compressobj(6, zlib.DEFLATED, -15,
                                     zdict=zdict) if zdict else \
                    zlib.compressobj(6, zlib.DEFLATED, -15)
                payload = c.compress(chunk) + c.flush()
                blocks.append((len(chunk), b"CK" + payload))
            if not raw:
                blocks = [(0, b"CK" + zlib.compressobj(
                    6, zlib.DEFLATED, -15).flush())]
        elif compression == "lzx":
            from . import lzx

            if window_bits != lzx.LzxEncoder.WINDOW_BITS:
                raise ValueError("builder LZX window is fixed at 16 bits")
            enc = lzx.LzxEncoder()
            frames = max(1, -(-len(raw) // lzx.FRAME_SIZE))
            comp, offsets = enc.compress_stream(raw, reset_frames=frames)
            # one CFDATA block per 32 KiB output frame, exactly the
            # real-world layout (block boundaries == frame boundaries)
            offsets = offsets + [len(comp)]
            for fi in range(len(offsets) - 1):
                u = min(lzx.FRAME_SIZE, len(raw) - fi * lzx.FRAME_SIZE)
                blocks.append((u, comp[offsets[fi]: offsets[fi + 1]]))
            if not raw:
                blocks = [(0, comp)]
        else:
            raise ValueError(f"unknown compression {compression}")
        folder_payloads.append(blocks)

    comp_code = {"none": _COMP_NONE, "mszip": _COMP_MSZIP,
                 "lzx": _COMP_LZX | (window_bits << 8)}[compression]

    cffile_area = bytearray()
    for name, size, uoff, ifold in file_rows:
        nm = name.encode("utf-8")
        attribs = 0x80 if any(b > 127 for b in nm) else 0x20
        cffile_area += struct.pack("<IIHHHH", size, uoff, ifold,
                                   0x5B2A, 0x4D3C, attribs) + nm + b"\x00"

    header_len = 36
    folder_area_len = 8 * len(groups)
    coff_files = header_len + folder_area_len
    data_start = coff_files + len(cffile_area)

    folder_dir = bytearray()
    data_area = bytearray()
    for blocks in folder_payloads:
        coff = data_start + len(data_area)
        folder_dir += struct.pack("<IHH", coff, len(blocks), comp_code)
        for uncomp, payload in blocks:
            hdr_tail = struct.pack("<HH", len(payload), uncomp)
            csum = _checksum(hdr_tail, _checksum(payload)) \
                if with_checksums else 0
            data_area += struct.pack("<I", csum) + hdr_tail + payload

    cb_cabinet = data_start + len(data_area)
    header = struct.pack(
        "<4sIIIIIBBHHHHH", _MAGIC, 0, cb_cabinet, 0, coff_files, 0,
        3, 1, len(groups), len(file_rows), 0, 0x1234, 0)
    return bytes(header + folder_dir + cffile_area + data_area)
