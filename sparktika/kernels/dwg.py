"""AutoCAD DWG kernel — version-detection metadata, from scratch.

Tika 1.20 parity target: ``org.apache.tika.parser.dwg.DWGParser``
(reached via tika-parsers:1.20, tika-fork-main/build.gradle:24), which
reads header text fields (title, author, keywords) from the
version-specific section layout documented by the Open Design Alliance.
That per-version layout did not arrive in this round's retrieved
content, and a misremembered offset table silently reads garbage bytes
as titles past any oracle (the PST-permute caution, CLAUDE.md), so this
kernel is deliberately DETECTION-FIRST:

- the fully public 6-byte ASCII version signature that leads every DWG
  (``AC1006`` .. ``AC1032``) routes the file and maps to its release
  label — a closed set, self-verifying by exact membership, and the
  same per-version magic strings Tika's own mimetypes registry routes
  by;
- everything past the signature is refused with an explicit
  ``body-refusal`` metadata entry — no guessed offsets, no guessed
  text.

The header-section reader slots in behind ``parse_dwg_version`` the
moment the ODA layout arrives in retrieved public content.
"""

from __future__ import annotations

from .errors import KernelError


BODY_REFUSAL = ("DWG header-section layout not available from retrieved "
                "public content; header-field decode refused by design "
                "rather than risking silently garbled metadata")

# The closed public signature set (each string is the file's first six
# bytes; release labels are the AutoCAD generation that introduced the
# on-disk format).
VERSION_RELEASES: dict[bytes, str] = {
    b"AC1006": "AutoCAD R10",
    b"AC1009": "AutoCAD R11/R12",
    b"AC1012": "AutoCAD R13",
    b"AC1014": "AutoCAD R14",
    b"AC1015": "AutoCAD 2000",
    b"AC1018": "AutoCAD 2004",
    b"AC1021": "AutoCAD 2007",
    b"AC1024": "AutoCAD 2010",
    b"AC1027": "AutoCAD 2013",
    b"AC1032": "AutoCAD 2018",
}


def parse_dwg_version(data: bytes) -> tuple[str, str]:
    """(version string, release label) from the 6-byte signature.
    Raises KernelError on truncation or a signature outside the closed
    set — every failure surfaces as a status row, never an exception
    (invariant 7)."""
    if len(data) < 6:
        raise KernelError("dwg: truncated before the 6-byte signature")
    sig = data[:6]
    release = VERSION_RELEASES.get(sig)
    if release is None:
        raise KernelError(
            f"dwg: unknown version signature {sig!r} (closed-set gate)")
    return sig.decode("ascii"), release
