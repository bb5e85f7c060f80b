"""CHM (Microsoft Compiled HTML Help, ITSS) kernel — metadata-first.

Tika 1.20 parses CHM via its own chm package (tika-parsers; reference
build.gradle -> tika-parsers:1.20). This kernel is built from the
widely-published unofficial ITSS/CHM format documentation (Russotto's
"Microsoft's HTML Help (.chm) format" notes and the Pabs/chmspec
mirrors), all public:

  ITSF header (v2/v3) -> two header sections: #0 carries the file size,
  #1 is the ITSP directory (0x1000-byte PMGL listing chunks + optional
  PMGI index chunks, which we skip — PMGLs are walked linearly).
  Directory entries are (name, content-section, offset, length) with
  big-endian 7-bit ENCINT integers.

Content section 0 ("Uncompressed") is read directly: the #SYSTEM
stream yields the title (code 3) and generator, and HTML/text members
route through the shared container member router. Content section 1
("MSCompressed") is LZX-compressed and DECODES since r6 via the
from-scratch decoder in kernels/lzx.py (LZXC v2 ControlData for the
window/reset-interval, optional ResetTable offsets cross-checked
during decode); missing machinery, an unexpected LZXC version, or a
corrupt stream refuse the member bodies with the reason in metadata
(``compression-refused``), never emitting garbage. Entry names/sizes
are always listed for both sections.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from .errors import KernelError, check_deadline

_MAX_DIR_CHUNKS = 4096
_MAX_ENTRIES = 65536


def is_chm(data: bytes) -> bool:
    return data[:4] == b"ITSF" and len(data) >= 96


@dataclass
class ChmResult:
    text: str
    title: str | None = None
    entries: list[str] = field(default_factory=list)
    truncated: bool = False
    metadata: dict[str, list[str]] = field(default_factory=dict)


def _encint(data: bytes, pos: int, end: int) -> tuple[int, int]:
    v = 0
    for _ in range(6):  # 42 bits is far beyond any sane directory value
        if pos >= end:
            raise KernelError("chm: ENCINT runs past chunk end")
        b = data[pos]
        pos += 1
        v = (v << 7) | (b & 0x7F)
        if not b & 0x80:
            return v, pos
    raise KernelError("chm: ENCINT too long")


def _parse_system(body: bytes) -> dict[str, str]:
    """#SYSTEM stream: dword version, then (word code, word len, data)
    records. Code 3 = title, 9 = generator, 2 = default topic."""
    out: dict[str, str] = {}
    codes = {3: "title", 9: "generator", 2: "default-topic"}
    pos, n = 4, len(body)
    while pos + 4 <= n:
        code, ln = struct.unpack_from("<HH", body, pos)
        pos += 4
        if pos + ln > n:
            break
        if code in codes and codes[code] not in out:
            out[codes[code]] = (body[pos: pos + ln].split(b"\x00")[0]
                                .decode("cp1252", "replace"))
        pos += ln
    return out


_MSC = "::DataSpace/Storage/MSCompressed/"
_RESET_TABLE = (_MSC + "Transform/{7FC28940-9D31-11D0-9B27-00A0C91E9C7C}"
                "/InstanceData/ResetTable")


class _Section1:
    """Lazy LZXC (MSCompressed) section decoder. Decodes the whole
    section ONCE, bounded by the members' furthest extent, the entry
    cap, and the inflate-ratio bomb guard; member reads slice the
    result. Any non-bomb decode failure turns into a refusal reason
    (status metadata) rather than failing the document — the
    metadata-first posture — while deadline and ratio guards propagate.
    """

    def __init__(self, entries, read0, max_ratio: float,
                 max_entry_bytes: int, deadline: float | None):
        self._entries = entries
        self._read0 = read0
        self._max_ratio = max_ratio
        self._max_entry_bytes = max_entry_bytes
        self._deadline = deadline
        self._decoded: bytes | None = None
        self._done = False
        self.reason: str | None = None

    def _decode(self) -> None:
        from .errors import DeadlineError, InflateRatioError
        from . import lzx

        self._done = True
        control = self._read0(_MSC + "ControlData")
        content = self._read0(_MSC + "Content")
        if control is None or content is None or len(control) < 24:
            self.reason = "lzx-machinery-missing"
            return
        if control[4:8] != b"LZXC":
            self.reason = "lzxc-bad-magic"
            return
        version, reset_int, win = struct.unpack_from("<III", control, 8)
        if version != 2:
            # version 2 is what HTML Help writes; other versions change
            # the units of the next two fields — refuse, don't guess
            self.reason = f"lzxc-version-{version}-unsupported"
            return
        window_bytes = win * 0x8000
        wb = window_bytes.bit_length() - 1
        if window_bytes <= 0 or (1 << wb) != window_bytes \
                or not 15 <= wb <= 21 or reset_int <= 0:
            self.reason = "lzxc-bad-parameters"
            return
        needed = max((off + ln for _, sec, off, ln in self._entries
                      if sec == 1), default=0)
        out_len = min(needed, self._max_entry_bytes)
        frame_offsets = None
        rt = self._read0(_RESET_TABLE)
        if rt is not None and len(rt) >= 40:
            nent, esz, hdr = struct.unpack_from("<III", rt, 4)
            uncomp = struct.unpack_from("<Q", rt, 16)[0]
            if esz == 8 and hdr >= 40 and hdr + 8 * nent <= len(rt) \
                    and nent <= 1 << 20:
                frame_offsets = [
                    struct.unpack_from("<Q", rt, hdr + 8 * i)[0]
                    for i in range(nent)]
                out_len = min(out_len, uncomp)
        if out_len > self._max_ratio * max(1, len(content)):
            raise InflateRatioError(
                "chm: LZX output exceeds max_inflate_ratio (bomb guard)")
        try:
            self._decoded = lzx.decompress(
                content, out_len, wb, reset_int,
                frame_offsets=frame_offsets, deadline=self._deadline)
        except DeadlineError:
            raise
        except KernelError as e:
            self.reason = f"lzx-error: {e}"

    def read(self, off: int, ln: int) -> bytes | None:
        if not self._done:
            self._decode()
        if self._decoded is None or ln > self._max_entry_bytes \
                or off + ln > len(self._decoded):
            return None
        return self._decoded[off: off + ln]


def extract_chm(
    data: bytes,
    max_chars: int = -1,
    max_ratio: float = 200.0,
    max_entry_bytes: int = 256_000_000,
    depth: int = 0,
    deadline: float | None = None,
    recurse=None,
) -> ChmResult:
    if not is_chm(data):
        raise KernelError("not a CHM (ITSF) file")
    n = len(data)
    version, header_len = struct.unpack_from("<II", data, 4)
    if version not in (2, 3):
        raise KernelError(f"chm: unsupported ITSF version {version}")
    hs0_off, hs0_len, hs1_off, hs1_len = struct.unpack_from(
        "<QQQQ", data, 0x38)
    if version >= 3 and header_len >= 0x60:
        content_off = struct.unpack_from("<Q", data, 0x58)[0]
    else:
        content_off = hs1_off + hs1_len
    if not (0 < hs1_off < n and hs1_off + 0x54 <= n and content_off <= n):
        raise KernelError("chm: header section out of bounds")

    if data[hs1_off: hs1_off + 4] != b"ITSP":
        raise KernelError("chm: bad ITSP directory magic")
    chunk_size = struct.unpack_from("<I", data, hs1_off + 16)[0]
    num_chunks = struct.unpack_from("<I", data, hs1_off + 44)[0]
    if not (64 <= chunk_size <= 0x10000):
        raise KernelError("chm: implausible directory chunk size")
    if num_chunks > _MAX_DIR_CHUNKS:
        raise KernelError("chm: directory chunk count exceeds cap")

    # (name, section, offset, length) — PMGLs walked linearly, PMGI
    # index chunks carry no entry data and are skipped
    entries: list[tuple[str, int, int, int]] = []
    chunks_base = hs1_off + 0x54
    for ci in range(num_chunks):
        check_deadline(deadline, "chm directory walk")
        cbase = chunks_base + ci * chunk_size
        if cbase + 20 > n:
            raise KernelError("chm: directory chunk out of bounds")
        if data[cbase: cbase + 4] != b"PMGL":
            continue
        free = struct.unpack_from("<I", data, cbase + 4)[0]
        end = cbase + chunk_size - min(free, chunk_size - 20)
        if end > n:
            raise KernelError("chm: PMGL chunk runs past file end")
        pos = cbase + 20
        while pos < end:
            nlen, pos = _encint(data, pos, end)
            if nlen == 0 or nlen > 4096 or pos + nlen > end:
                raise KernelError("chm: bad directory entry name")
            name = data[pos: pos + nlen].decode("utf-8", "replace")
            pos += nlen
            section, pos = _encint(data, pos, end)
            off, pos = _encint(data, pos, end)
            length, pos = _encint(data, pos, end)
            entries.append((name, section, off, length))
            if len(entries) > _MAX_ENTRIES:
                raise KernelError("chm: entry count exceeds cap")

    def read0(name: str) -> bytes | None:
        for en, sec, off, ln in entries:
            if en == name and sec == 0:
                if ln > max_entry_bytes:
                    return None
                start = content_off + off
                if start + ln > n:
                    raise KernelError("chm: member data out of bounds")
                return data[start: start + ln]
        return None

    md: dict[str, list[str]] = {
        "Content-Type": ["application/vnd.ms-htmlhelp"]}
    sysinfo = _parse_system(read0("/#SYSTEM") or b"")
    title = sysinfo.get("title")
    if sysinfo.get("generator"):
        md["generator"] = [sysinfo["generator"]]

    sec1 = _Section1(entries, read0, max_ratio, max_entry_bytes, deadline)

    from .container import MemberText

    acc = MemberText(max_chars, max_ratio, max_entry_bytes, depth, deadline,
                     recurse)
    compressed = 0
    refused = 0
    for name, sec, off, ln in entries:
        check_deadline(deadline, "chm member extraction")
        if not name.startswith("/") or name.startswith(("/#", "/$")):
            continue  # storages (::DataSpace/...) and system streams
        if name.endswith("/"):
            continue
        acc.entries.append(name.lstrip("/"))
        if sec == 0:
            if ln > max_entry_bytes:
                acc.lost()
                continue
            start = content_off + off
            if start + ln > n:
                raise KernelError("chm: member data out of bounds")
            body = data[start: start + ln]
        elif sec == 1:
            # MSCompressed (LZX): decoded since r6 (kernels/lzx.py);
            # missing/odd machinery or a corrupt stream refuses the
            # member (reason in metadata), never emits garbage
            compressed += 1
            body = sec1.read(off, ln)
            if body is None:
                refused += 1
                continue
        else:
            refused += 1
            continue
        # asked after the read: the compressed-member count and the
        # refusal reason cover every member, the ones past the cap too
        if acc.wants():
            acc.add(name, body)
    if compressed:
        md["compressed-members"] = [str(compressed)]
    if refused:
        md["compression-refused"] = [sec1.reason or "lzx-unsupported"]
    return ChmResult(text=acc.text, title=title, entries=acc.entries,
                     truncated=acc.truncated, metadata=md)
