"""LHA / LZH archive kernel, from scratch.

Public LHA header documentation (the format every Japanese-web-era
archive tool implemented; Tika 1.20 routes .lzh by the same offset-2
``-lh?-`` magic via its mimetypes registry but ships no extractor).
Scope: level-0 and level-1 headers (the overwhelming majority of wild
.lzh files) — method fourcc, packed/original sizes, member names.
Stored members (``-lh0-``) route text through the shared container
router; compressed methods (-lh1-..-lh7-, LZSS/Huffman families) are
LISTED with an explicit per-archive refusal note rather than risking a
misremembered sliding-window spec (the WPD caution); ``-lhd-``
directory entries list. Level-2 headers refuse loudly.

Guards: header checksum verified (level 0/1: 8-bit sum of the header
bytes after the checksum field), sizes bounds-checked, strict
advancement, entry cap; failures degrade to status rows (invariant 7).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .container import MemberText
from .errors import KernelError, check_deadline


_METHODS = frozenset(b"01234567d")
_MAX_ENTRIES = 10_000

BODY_REFUSAL = ("compressed LHA methods (-lh1-..-lh7-) refused by design "
                "— sliding-window tables not available from retrieved "
                "public content; stored (-lh0-) members extract")


@dataclass
class LhaResult:
    text: str = ""
    entries: list[str] = field(default_factory=list)
    methods: list[str] = field(default_factory=list)
    n_stored: int = 0
    n_compressed: int = 0
    truncated: bool = False


def is_lha(data: bytes) -> bool:
    """Offset-2 ASCII magic is weak: gate on a legal method letter, the
    trailing '-', a plausible header level byte, and a nonzero header
    size."""
    if len(data) < 22 or data[0] == 0:
        return False
    if data[2:5] != b"-lh" or data[6:7] != b"-":
        return False
    if data[5] not in _METHODS:
        return False
    return data[20] in (0, 1, 2)


def extract_lha(
    data: bytes,
    max_chars: int = -1,
    max_ratio: float = 200.0,
    max_entry_bytes: int = 256_000_000,
    depth: int = 0,
    deadline: float | None = None,
    recurse=None,
) -> LhaResult:
    if not is_lha(data):
        raise KernelError("lha: bad header magic")
    res = LhaResult()
    acc = MemberText(max_chars, max_ratio, max_entry_bytes, depth, deadline,
                     recurse)
    pos, n = 0, len(data)
    while pos < n and data[pos] != 0:
        check_deadline(deadline, "lha member scan")
        if pos + 22 > n:
            raise KernelError("lha: truncated header")
        hsize = data[pos]
        checksum = data[pos + 1]
        level = data[pos + 20]
        if level == 2:
            raise KernelError("lha: level-2 headers not supported")
        if level not in (0, 1):
            raise KernelError(f"lha: unknown header level {level}")
        if pos + 2 + hsize > n:
            raise KernelError("lha: header size out of bounds")
        # minimum base header: method(5)+sizes(8)+time(4)+attr(1)+
        # level(1)+name_len(1)+crc(2) = 22; level 1 adds os(1)+next(2)
        if hsize < (25 if level == 1 else 22):
            raise KernelError(f"lha: header too small ({hsize}B) "
                              f"for level {level}")
        hdr = data[pos + 2:pos + 2 + hsize]
        if sum(hdr) & 0xFF != checksum:
            raise KernelError("lha: header checksum mismatch")
        method = hdr[0:5].decode("latin-1")
        packed = int.from_bytes(hdr[5:9], "little")
        name_len = hdr[19]
        if 20 + name_len + 2 > hsize:
            raise KernelError("lha: name overruns header")
        name = hdr[20:20 + name_len].decode("shift_jis", "replace")
        body_start = pos + 2 + hsize
        skip = packed
        if level == 1:
            # level 1 ends the base header with a u16 "next extended
            # header size"; the chaining conventions beyond that vary
            # between implementations, so nonzero chains REFUSE rather
            # than guess (the WPD caution) — plain level-1 members
            # (next size 0) extract normally
            next_size = int.from_bytes(hdr[hsize - 2:hsize], "little")
            if next_size:
                raise KernelError(
                    "lha: level-1 extended headers not supported")
        if body_start + skip > n:
            raise KernelError("lha: member body out of bounds")
        pos = body_start + skip
        if len(acc.entries) >= _MAX_ENTRIES:
            raise KernelError("lha: entry cap exceeded")
        if method == "-lhd-":
            acc.entries.append(name.rstrip("\\/") + "/")
            continue
        acc.entries.append(name)
        res.methods.append(method)
        if method == "-lh0-":
            res.n_stored += 1
            if skip > max_entry_bytes:
                acc.lost()
            elif acc.wants():
                acc.add(name, data[body_start:pos])
        else:
            res.n_compressed += 1
    res.text, res.entries, res.truncated = acc.text, acc.entries, acc.truncated
    return res
