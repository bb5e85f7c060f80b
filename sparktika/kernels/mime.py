"""MIME detection from magic bytes + content sniffing.

From-scratch equivalent of the reference's auto-detection step
(ref: main/TikaForkMain.java:72 DefaultDetector;
main/ConfigurableAutoDetectParser.java:137-141 — the detected type
OVERWRITES the declared Content-Type). Detection order:

  1. binary magic prefixes (PDF, OLE2, ZIP/OOXML, gzip, images, media, ...)
  2. HTML sniff over the first 1024 bytes (WHATWG-style pattern table)
  3. XML declaration
  4. valid UTF-8 / mostly-printable -> text/plain
  5. fallback application/octet-stream

The declared type is kept as a separate column and only wins when nothing
is detected (ref: declared-type seeding, main/TikaForkMain.java:325-327).
"""

from __future__ import annotations

from .charset import detect_bom

OCTET_STREAM = "application/octet-stream"

# (prefix, mime). Order matters: first match wins.
_MAGIC: tuple[tuple[bytes, str], ...] = (
    (b"%PDF-", "application/pdf"),
    (b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1", "application/x-tika-msoffice"),
    (b"PK\x03\x04", "application/zip"),
    (b"PK\x05\x06", "application/zip"),
    (b"\x1f\x8b", "application/gzip"),
    (b"\x1f\x9d", "application/x-compress"),  # Unix compress .Z
    # LZMA_Alone: props byte 0x5D (lc=3 lp=0 pb=2, the only value real
    # encoders emit) + dict-size low bytes 0 (dict sizes are >= 2^16
    # powers of two) — the same 3-byte signature commons-compress uses
    (b"\x5d\x00\x00", "application/x-lzma"),
    (b"BZh", "application/x-bzip2"),
    (b"\xfd7zXZ\x00", "application/x-xz"),
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"II*\x00", "image/tiff"),
    (b"MM\x00*", "image/tiff"),
    (b"BM", "image/bmp"),
    (b"\x00\x00\x01\x00", "image/vnd.microsoft.icon"),
    (b"OggS", "audio/ogg"),
    (b"7z\xbc\xaf\x27\x1c", "application/x-7z-compressed"),
    (b"Rar!\x1a\x07", "application/vnd.rar"),
    (b"\x1aE\xdf\xa3", "video/webm"),  # EBML (webm/mkv family)
    (b"\x28\xb5\x2f\xfd", "application/zstd"),
    (b"\x04\x22\x4d\x18", "application/x-lz4"),
    (b"\x02\x21\x4c\x18", "application/x-lz4"),  # legacy frame
    (b"fLaC", "audio/flac"),
    (b"ID3", "audio/mpeg"),
    (b"\xff\xfb", "audio/mpeg"),
    (b"%!PS", "application/postscript"),
    (b"\xc5\xd0\xd3\xc6", "application/postscript"),  # DOS EPS preview
    (b"{\\rtf", "application/rtf"),
    # any WARC version (Common Crawl ships 1.1 since 2018)
    (b"WARC/", "application/warc"),
    (b"\x7fELF", "application/x-executable"),
    (b"MZ", "application/x-msdownload"),      # PE / DOS executable
    (b"\xfe\xed\xfa\xce", "application/x-mach-binary"),
    (b"\xce\xfa\xed\xfe", "application/x-mach-binary"),
    (b"\xfe\xed\xfa\xcf", "application/x-mach-binary"),
    (b"\xcf\xfa\xed\xfe", "application/x-mach-binary"),
    (b"SQLite format 3\x00", "application/x-sqlite3"),
    (b"\x78\x9f\x3e\x22", "application/vnd.ms-tnef"),
    (b"!BDN", "application/vnd.ms-outlook-pst"),
    # Debian package: ar whose first member is debian-binary (same
    # contextual magic Tika uses); must precede the generic ar entry
    (b"!<arch>\ndebian", "application/x-debian-package"),
    (b"!<arch>\n", "application/x-archive"),
    (b"\xed\xab\xee\xdb", "application/x-rpm"),
    (b"ITSF\x03\x00\x00\x00", "application/vnd.ms-htmlhelp"),
    (b"ITSF\x02\x00\x00\x00", "application/vnd.ms-htmlhelp"),
    (b"8BPS", "image/vnd.adobe.photoshop"),
    (b"MThd", "audio/midi"),
    (b"MATLAB 5.0 MAT-file", "application/x-matlab-data"),
    (b"\xff\x06\x00\x00sNaPpY", "application/x-snappy"),
    # zlib-wrapped deflate: only the two non-ASCII FLG values real
    # encoders emit (0x01/0x5E would collide with "x^..." text); the
    # TNEF entry (78 9F ...) precedes these in the 0x78 bucket
    (b"\x78\x9c", "application/zlib"),
    (b"\x78\xda", "application/zlib"),
    (b"OTTO", "application/x-font-otf"),
    (b"ttcf", "application/x-font-ttf"),
    (b"wOFF", "application/font-woff"),
    (b"wOF2", "application/font-woff2"),
    (b"CDF\x01", "application/x-netcdf"),
    (b"CDF\x02", "application/x-netcdf"),
    (b"\xffWPC", "application/vnd.wordperfect"),
    (b"\x89HDF\r\n\x1a\n", "application/x-hdf5"),
    (b"MSCF", "application/vnd.ms-cab-compressed"),
    (b"\xd7\xcd\xc6\x9a", "image/wmf"),   # placeable WMF ([MS-WMF] 2.3.2.3)
    (b"bplist00", "application/x-bplist"),
    (b"bplist01", "application/x-bplist"),
    (b"\x00\x05\x16\x00", "application/applefile"),  # AppleSingle
    (b"\x00\x05\x16\x07", "application/applefile"),  # AppleDouble
    (b"Obj\x01", "application/avro"),
    (b".snd", "audio/basic"),  # Sun/NeXT audio
    (b"\x93NUMPY", "application/x-npy"),
    (b"GGUF", "application/x-gguf"),
    # AutoCAD DWG: per-version 6-byte signatures, the same closed set
    # Tika's mimetypes registry routes by (kernels/dwg.py)
    (b"AC1006", "image/vnd.dwg"),
    (b"AC1009", "image/vnd.dwg"),
    (b"AC1012", "image/vnd.dwg"),
    (b"AC1014", "image/vnd.dwg"),
    (b"AC1015", "image/vnd.dwg"),
    (b"AC1018", "image/vnd.dwg"),
    (b"AC1021", "image/vnd.dwg"),
    (b"AC1024", "image/vnd.dwg"),
    (b"AC1027", "image/vnd.dwg"),
    (b"AC1032", "image/vnd.dwg"),
)

# First-byte index over _MAGIC: the scan runs once per document, so a
# linear startswith over ~60 prefixes is measurable at corpus scale.
# Within one bucket the original table order is preserved (first match
# wins, e.g. ITSF v3 before v2).
_MAGIC_BY_FIRST: dict[int, tuple[tuple[bytes, str], ...]] = {}
for _p, _m in _MAGIC:
    _MAGIC_BY_FIRST.setdefault(_p[0], ())
for _b in _MAGIC_BY_FIRST:
    _MAGIC_BY_FIRST[_b] = tuple((p, m) for p, m in _MAGIC if p[0] == _b)

# HTML sniff tags (case-insensitive), per a WHATWG-style table.
_HTML_TAGS = (
    b"<!doctype html", b"<html", b"<head", b"<body", b"<script", b"<title",
    b"<meta", b"<h1", b"<div", b"<p>", b"<p ", b"<table", b"<a href",
    b"<br", b"<b>", b"<iframe", b"<!--",
)


def _sniff_after_skippable(data: bytes) -> str | None:
    """zstd (RFC 8878 §3.1.2) and lz4 SHARE the 0x184D2A50..5F
    skippable-frame magic family — real files of either codec may lead
    with one (seek tables, user metadata). Walk the skippable chain
    (bounded) and route on the first REAL magic."""
    pos = 0
    for _ in range(64):
        if pos + 8 > len(data):
            return None
        magic = int.from_bytes(data[pos:pos + 4], "little")
        if not 0x184D2A50 <= magic <= 0x184D2A5F:
            if magic == 0xFD2FB528:
                return "application/zstd"
            if magic in (0x184D2204, 0x184C2102):
                return "application/x-lz4"
            return None
        pos += 8 + int.from_bytes(data[pos + 4:pos + 8], "little")
    return None


def _sniff_riff(data: bytes) -> str | None:
    if data[:4] == b"RIFF" and len(data) >= 12:
        sub = data[8:12]
        if sub == b"WEBP":
            return "image/webp"
        if sub == b"WAVE":
            return "audio/x-wav"
        if sub == b"AVI ":
            return "video/x-msvideo"
        return OCTET_STREAM
    return None


def _sniff_mp4(data: bytes) -> str | None:
    # an ISO-BMFF file opens with its ftyp box, whose big-endian size
    # covers at least the header, major brand and minor version (16 bytes)
    # and fits the payload, or is 0 ("to the end of the file"). Without
    # the size check, text whose 5th-8th characters spell "ftyp" would be
    # routed to media.
    size = int.from_bytes(data[:4], "big")
    if (len(data) >= 12 and data[4:8] == b"ftyp"
            and (size == 0 or 16 <= size <= len(data))):
        brand = data[8:12]
        if brand[:3] in (b"M4A",):
            return "audio/mp4"
        if brand in (b"avif", b"avis"):
            return "image/avif"
        if brand in (b"heic", b"heix", b"mif1"):
            return "image/heic"
        return "video/mp4"
    return None


def sniff_html(data: bytes) -> bool:
    head = data[:1024].lstrip(b" \t\r\n\x0c\xef\xbb\xbf").lower()
    return head.startswith(_HTML_TAGS)


# bytes the text heuristic counts against: C0 controls except \t\n\v\f\r,
# plus DEL — deleted via translate, the length delta is the count (C-speed)
_BINARYISH = bytes(b for b in range(256)
                   if b < 0x09 or (0x0E <= b < 0x20) or b == 0x7F)


def _mostly_text(data: bytes) -> bool:
    sample = data[:4096]
    if not sample:
        return True
    bad = len(sample) - len(sample.translate(None, _BINARYISH))
    return bad / len(sample) < 0.02


def detect_mime(data: bytes, declared: str | None = None, url: str | None = None) -> str:
    """Detect MIME type; detected wins over declared (same as reference)."""
    if not data:
        return _normalize(declared) or OCTET_STREAM
    for prefix, mime in _MAGIC_BY_FIRST.get(data[0], ()):
        if data.startswith(prefix):
            return mime
    if data[3:4] == b"\x18" and 0x50 <= data[0] <= 0x5F \
            and data[1:3] == b"\x2a\x4d":
        skip = _sniff_after_skippable(data)
        if skip:
            return skip
    riff = _sniff_riff(data)
    if riff:
        return riff
    if data[:4] == b"FORM" and data[8:12] in (b"AIFF", b"AIFC"):
        return "audio/x-aiff"  # EA IFF 85 container, AIFF formType only
    if data[:4] == b"\x4c\x00\x00\x00":
        # Shell Link: the 4-byte HeaderSize alone is weak; is_lnk
        # additionally requires the full 16-byte LinkCLSID
        from .lnk import is_lnk

        if is_lnk(data):
            return "application/x-ms-shortcut"
    if data[:1] == b"P" and data[1:2] in b"123456":
        from .image import sniff_pnm

        pnm = sniff_pnm(data)
        if pnm:
            return pnm
    if data[:1] == b"\x0a":
        # PCX: 1-byte magic gated on four consistent header facts
        from .image import is_pcx

        if is_pcx(data):
            return "image/vnd.zbrush.pcx"
    if data[:3] in (b"FWS", b"CWS", b"ZWS") and len(data) >= 9 \
            and 1 <= data[3] <= 64:
        # SWF: ASCII signature gated on a plausible player version
        return "application/x-shockwave-flash"
    if len(data) >= 10 and data[8:9] == b"{":
        # SafeTensors is magic-less: bounded u64 header length + a
        # leading '{' + a spec-required key in the header window
        from .tensors import is_safetensors

        if is_safetensors(data):
            return "application/x-safetensors"
    if len(data) > 16 * 2048 + 6 and data[16 * 2048 + 1:16 * 2048 + 6] \
            == b"CD001":
        # ISO 9660: descriptor magic lives at sector 16 (ECMA-119)
        return "application/x-iso9660-image"
    if data[2:5] == b"-lh":
        # LHA/LZH: offset-2 ASCII magic gated on method/level facts
        from .lha import is_lha

        if is_lha(data):
            return "application/x-lha"
    if data[:4] == b"AT&T":
        # DjVu: ASCII prefix gated on the FORM/DJVU|DJVM chunk shape
        from .djvu import is_djvu

        if is_djvu(data):
            return "image/vnd.djvu"
    if len(data) >= 44 and data[-18:] == b"TRUEVISION-XFILE.\x00":
        # Targa v2: footer-gated (no leading magic)
        from .image import is_tga

        if is_tga(data):
            return "image/x-tga"
    if len(data) >= 263 and data[257:262] == b"ustar":
        return "application/x-tar"
    if data[:3] == b"070":
        # cpio newc/crc/odc: ASCII magic that could open a text file too,
        # so is_cpio additionally validates the next 24 hex/octal chars
        from .container import is_cpio

        if is_cpio(data):
            return "application/x-cpio"
    if data[:2] == b"\x60\xea":
        # ARJ: 2-byte magic is weak, so is_arj additionally validates the
        # main-header shape (plausible size, file type 2)
        from .container import is_arj

        if is_arj(data):
            return "application/x-arj"
    if len(data) >= 2 and data[0] == 0x09 and data[1] in (0x00, 0x02, 0x04):
        # raw BIFF2/3/4 worksheet (pre-OLE2 .xls): BOF record at offset
        # 0, validator-gated (plausible length + document-type word)
        from .oldxls import is_old_biff

        if is_old_biff(data):
            return "application/vnd.ms-excel"
    if data[:3] == b"FLV":
        # 3-byte ASCII magic is weak; is_flv additionally validates the
        # version byte, flag bits, and the data offset
        from .flv import is_flv

        if is_flv(data):
            return "video/x-flv"
    if data[:1] == b"d" and len(data) >= 16 and data[1:2].isdigit():
        # bencoded dict: weak ASCII shape, gated on metainfo markers
        from .torrent import is_torrent

        if is_torrent(data):
            return "application/x-bittorrent"
    if data[:3] == b"ORC":
        # 3-byte ASCII magic is weak; is_orc demands a parsing
        # PostScript at the tail carrying the ORC magic field
        from .orc import is_orc

        if is_orc(data):
            return "application/x-orc"
    if data[:4] == b"PAR1":
        # parquet needs the TRAILING magic too — prefix alone is weak
        from .parquetmeta import is_parquet

        if is_parquet(data):
            return "application/x-parquet"
    if data[:4] == b"\xca\xfe\xba\xbe":
        # 0xCAFEBABE is shared with Mach-O universal binaries; the
        # validator demands a plausible class-file version word
        from .javaclass import is_javaclass

        if is_javaclass(data):
            return "application/java-vm"
        # else: likely a Mach-O universal (fat) binary — no thin-slice
        # parser here, so fall through to the generic chain
    if len(data) >= 88 and data[:4] == b"\x01\x00\x00\x00":
        # EMF: the real signature (" EMF") sits at offset 40, so the
        # EMR_HEADER type word alone never routes — is_emf checks both
        from .metafile import is_emf

        if is_emf(data):
            return "image/emf"
    if len(data) >= 18 and data[0] in (1, 2) and data[1] == 0 \
            and data[2] == 9 and data[3] == 0:
        # bare (non-placeable) WMF has NO magic: is_wmf demands the
        # 9-word header size, a known version word, and zero members
        from .metafile import is_wmf

        if is_wmf(data):
            return "image/wmf"
    if data[:4] == b"\x00\x01\x00\x00" or data[:4] == b"true":
        # sfnt TrueType: weak magic, validator-gated
        from .font import is_font

        if is_font(data):
            return "application/x-font-ttf"
    if data[0] in (0x02, 0x03, 0x30, 0x31, 0x83, 0x8B, 0xF5) \
            and len(data) >= 68:
        # dBASE has NO magic: looks_like_dbf demands four mutually
        # consistent header facts before this wins
        from .dbf import looks_like_dbf

        if looks_like_dbf(data):
            return "application/x-dbf"
    mp4 = _sniff_mp4(data)
    if mp4:
        return mp4
    if sniff_html(data):
        return "text/html"
    head = data[:1024]
    bom = detect_bom(head)
    stripped = head[bom[1]:] if bom else head
    head_l = stripped.lstrip(b" \t\r\n")
    if head_l.startswith(b"<?xml"):
        return "application/xml"
    if head_l[:4].lower() == b"<svg":
        # bare-root SVG (no xml decl): ride the XML route, which refines
        # the label to image/svg+xml from the root element
        return "application/xml"
    if head_l[:6].upper() == b"BEGIN:":
        from .vcal import sniff_vcal

        vc = sniff_vcal(data)
        if vc is not None:
            return vc
    if data[:5] == b"From ":
        # mbox envelope check BEFORE the eml sniff: an mbox's first line
        # is not header-shaped so sniff_eml rejects it anyway, but keep
        # the ordering explicit (Tika magic: "From " at offset 0)
        from .mbox import sniff_mbox

        if sniff_mbox(data):
            return "application/mbox"
    from .eml import sniff_eml

    if sniff_eml(data):
        # RFC 2557 saved web pages are rfc822-shaped with a
        # multipart/related top-level type — route them to the MHTML
        # kernel, everything else stays email
        from .mhtml import is_multipart_related

        if is_multipart_related(data):
            return "multipart/related"
        return "message/rfc822"
    declared_n = _normalize(declared)
    if declared_n and declared_n != OCTET_STREAM:
        # A declared type survives only when magic found nothing specific
        # and the payload doesn't contradict it grossly.
        if declared_n.startswith("text/") and not _mostly_text(data):
            pass
        else:
            return declared_n
    if bom or _mostly_text(data):
        return "text/plain"
    # BOM-less UTF-16 text (ICU-style null-parity signal): NULs defeat the
    # printable-ratio sniff, so check the pattern explicitly
    from .charset import detect_utf16_heuristic

    if detect_utf16_heuristic(data) is not None:
        return "text/plain"
    return OCTET_STREAM


def _normalize(ct: str | None) -> str | None:
    if not ct:
        return None
    base = ct.split(";", 1)[0].strip().lower()
    return base or None
