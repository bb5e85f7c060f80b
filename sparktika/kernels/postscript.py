"""PostScript / EPS kernel — DSC comment metadata, from scratch.

Public Adobe Document Structuring Conventions (DSC) spec v3.0: a
conforming PostScript file opens with ``%!PS-Adobe-N.N`` (optionally
``EPSF-N.N`` for encapsulated files) and carries structured ``%%``
header comments — Title, Creator, CreationDate, Pages, BoundingBox,
LanguageLevel — terminated by ``%%EndComments``. Extracting body text
would mean EXECUTING the PostScript program (show operators over
arbitrary control flow), so this kernel is metadata-first by design:
DSC facts surface as queryable metadata, the program is refused with an
explicit body-refusal entry.

DOS EPS binary files (the public Adobe EPSF spec's preview format):
magic C5 D0 D3 C6, then little-endian u32 offset/length of the embedded
PostScript section — the DSC scan runs over that window.

Tika 1.20 detects application/postscript by the same magic and has no
PS text parser either, so the refusal IS parity; the DSC fields are
beyond it.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .errors import KernelError


BODY_REFUSAL = ("PostScript body text requires executing the program; "
                "refused by design (DSC metadata extracted instead)")

_SCAN_BYTES = 64 * 1024
_FIELDS = ("Title", "Creator", "CreationDate", "Pages", "BoundingBox",
           "LanguageLevel", "DocumentData", "For")


@dataclass
class PsResult:
    version: str | None = None
    eps: bool = False
    dos_eps: bool = False
    fields: dict[str, str] = field(default_factory=dict)


def extract_ps(data: bytes) -> PsResult:
    res = PsResult()
    if data[:4] == b"\xc5\xd0\xd3\xc6":
        if len(data) < 12:
            raise KernelError("ps: truncated DOS EPS preview header")
        off = int.from_bytes(data[4:8], "little")
        ln = int.from_bytes(data[8:12], "little")
        if off >= len(data) or off < 12:
            raise KernelError("ps: DOS EPS PostScript offset out of bounds")
        res.dos_eps = True
        data = data[off:off + min(ln, len(data) - off)]
    if data[:2] != b"%!":
        raise KernelError("ps: missing %! signature")
    first = data[:data.find(b"\n", 0, 256) if b"\n" in data[:256]
                 else 256].decode("latin-1", "replace").strip()
    if first.startswith("%!PS-Adobe-"):
        rest = first[len("%!PS-Adobe-"):]
        res.version = rest.split()[0] if rest else None
        res.eps = "EPSF-" in first
    for line in data[:_SCAN_BYTES].splitlines():
        if line[:2] != b"%%":
            continue
        if line.startswith(b"%%EndComments"):
            break
        body = line[2:].decode("latin-1", "replace")
        name, sep, val = body.partition(":")
        if sep and name in _FIELDS:
            val = val.strip()
            if val and name not in res.fields:
                res.fields[name] = val
    return res
