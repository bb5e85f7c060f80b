"""WordPerfect WPD kernel — metadata-first, from scratch.

Tika 1.20 parity target: org.apache.tika.parser.wordperfect
.WordPerfectParser (reached via tika-parsers:1.20,
tika-fork-main/build.gradle:24). It extracts body text by walking the
document area's single-/multi-byte FUNCTION CODES, whose size tables
are documented only in Corel's WP SDK and the libwpd implementation —
neither arrived in this round's retrieved content, and a misremembered
size table silently desynchronizes the stream and garbles text past
any oracle (the PST-permute caution, CLAUDE.md round-6 notes). So this
kernel is deliberately METADATA-FIRST:

- parses the fully public 16-byte WPFF prefix header that leads every
  WP5.x/6+ file (the layout libwpd's WPXHeader reads and Corel's file-
  format notes publish): magic \\xFFWPC, u32 document-area pointer,
  product type, file type, major/minor version, u16 encryption key,
  u16 index-area pointer;
- surfaces those facts as queryable metadata plus a derived version
  label (major 0 = WP5.x, major 2 = WP6/7/8);
- refuses the document-area body with an explicit ``body-refusal``
  entry, and password-protected files (encryption key != 0) with an
  EncryptedError refusal — never emits guessed text.

The body decoder slots in behind parse_wpd_header the moment the
function-code tables arrive in retrieved public content.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

from .errors import EncryptedError, KernelError

MAGIC = b"\xffWPC"

BODY_REFUSAL = ("WP function-code size tables not available from "
                "retrieved public content; body decode refused by "
                "design rather than risking silently garbled text")

_VERSION_LABELS = {0: "WP5.x", 2: "WP6/7/8"}


@dataclass
class WpdHeader:
    doc_area_pointer: int
    product_type: int
    file_type: int
    major_version: int
    minor_version: int
    encrypted: bool
    index_pointer: int

    @property
    def version_label(self) -> str:
        return _VERSION_LABELS.get(self.major_version, "unknown")


def parse_wpd_header(data: bytes) -> WpdHeader:
    """The 16-byte WPFF prefix. Raises KernelError on structural
    violations, EncryptedError when the encryption key is set."""
    if len(data) < 16:
        raise KernelError("wpd: file shorter than the 16-byte prefix")
    if not data.startswith(MAGIC):
        raise KernelError("wpd: missing \\xFFWPC magic")
    doc_ptr, product, ftype, major, minor, enc_key, idx_ptr = \
        struct.unpack_from("<IBBBBHH", data, 4)
    if product != 1:
        # 1 = WordPerfect; other WPC products (Shell, InForms...) are
        # out of scope for the WordPerfectParser parity target
        raise KernelError(f"wpd: non-WordPerfect WPC product {product}")
    if doc_ptr < 16 or doc_ptr > len(data):
        raise KernelError("wpd: document-area pointer outside the file")
    if enc_key != 0:
        raise EncryptedError("encrypted_wpd",
                             "wpd: password-protected (nonzero "
                             "encryption key)")
    return WpdHeader(doc_area_pointer=doc_ptr, product_type=product,
                     file_type=ftype, major_version=major,
                     minor_version=minor, encrypted=False,
                     index_pointer=idx_ptr)
