"""Debian binary package (.deb) kernel, from scratch.

A .deb is a plain common-format Unix ar archive (Debian deb(5) format:
no GNU long-name tables) whose members are, in order:
``debian-binary`` (the literal version text "2.0\\n"),
``control.tar.{gz,xz,bz2}`` (package metadata), and
``data.tar.{gz,xz,bz2,zst}`` (the filesystem payload). Tika 1.20
detects ``application/x-debian-package`` by the contextual magic
``!<arch>\\ndebian`` and lists members via commons-compress (reference
reaches it through tika-parsers:1.20, build.gradle:24); this kernel
goes further and parses the control file.

- metadata: every RFC-822-style control field (Package, Version,
  Architecture, Maintainer, Section, Installed-Size, Depends, ...)
- text: the Description field rendered per deb-control(5): first line
  is the synopsis, continuation lines are indented, a lone '.' is a
  paragraph break
- guards: decompression ratio cap on control.tar, member walk bounds-
  checked, the data payload is NEVER decompressed (metadata lists its
  name only) — failures degrade to status rows (invariant 7)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .errors import InflateRatioError, KernelError, check_deadline


_MAX_CONTROL = 16 * 1024 * 1024  # decompressed control.tar cap


@dataclass
class DebResult:
    fields: dict[str, str] = field(default_factory=dict)
    description: str = ""
    members: list[str] = field(default_factory=list)


def _ar_members(data: bytes):
    """(name, body) over a common-format ar archive (the only flavor
    deb(5) permits: 16-byte name field, '/' terminator optional)."""
    pos, n = 8, len(data)
    while pos + 60 <= n:
        hdr = data[pos:pos + 60]
        if hdr[58:60] != b"\x60\x0a":
            raise KernelError("deb: bad ar header terminator")
        try:
            size = int(hdr[48:58].split()[0])
        except (ValueError, IndexError):
            raise KernelError("deb: bad ar size field")
        if size < 0 or pos + 60 + size > n:
            raise KernelError("deb: ar entry out of bounds")
        name = hdr[:16].rstrip().rstrip(b"/").decode("utf-8", "replace")
        yield name, data[pos + 60:pos + 60 + size]
        pos += 60 + size + (size & 1)


def _decompress_control(name: str, body: bytes) -> bytes:
    if name.endswith(".gz"):
        import gzip
        import io

        out = gzip.GzipFile(fileobj=io.BytesIO(body)).read(_MAX_CONTROL + 1)
    elif name.endswith(".xz"):
        import lzma

        out = lzma.LZMADecompressor().decompress(body, _MAX_CONTROL + 1)
    elif name.endswith(".bz2"):
        import bz2

        out = bz2.BZ2Decompressor().decompress(body, _MAX_CONTROL + 1)
    elif name == "control.tar":
        return body
    else:
        raise KernelError(f"deb: unsupported control compression in {name}")
    if len(out) > _MAX_CONTROL:
        raise InflateRatioError("deb: control.tar inflation cap exceeded")
    return out


def _tar_member(tar: bytes, wanted: tuple[str, ...]) -> bytes | None:
    pos, n = 0, len(tar)
    while pos + 512 <= n:
        header = tar[pos:pos + 512]
        if not header.strip(b"\x00"):
            break
        try:
            size = int(header[124:136].split(b"\x00")[0].strip() or b"0", 8)
        except ValueError:
            raise KernelError("deb: bad tar size in control.tar")
        if size < 0 or pos + 512 + size > n:
            # a control.tar cut mid-member must refuse, not silently
            # return a truncated control file as if complete
            raise KernelError("deb: tar entry out of bounds")
        name = header[:100].split(b"\x00")[0].decode("utf-8", "replace")
        if name.lstrip("./") in wanted and header[156:157] in (b"0", b"\x00"):
            return tar[pos + 512:pos + 512 + size]
        pos += 512 + ((size + 511) & ~511)
    return None


def parse_control_fields(text: str) -> dict[str, str]:
    """deb-control(5): ``Field: value`` lines; continuation lines start
    with a space/tab and extend the previous field; a continuation line
    holding only '.' is a paragraph break."""
    fields: dict[str, str] = {}
    cur: str | None = None
    for line in text.splitlines():
        if line[:1] in (" ", "\t") and cur is not None:
            fields[cur] += "\n" + line[1:].rstrip()
        elif ":" in line:
            name, _, val = line.partition(":")
            cur = name.strip()
            fields[cur] = val.strip()
        elif not line.strip():
            cur = None
    return fields


def extract_deb(data: bytes, deadline: float | None = None) -> DebResult:
    res = DebResult()
    saw_version = False
    control_tar: bytes | None = None
    for name, body in _ar_members(data):
        check_deadline(deadline, "deb member scan")
        res.members.append(name)
        if name == "debian-binary":
            if not body.startswith(b"2."):
                raise KernelError(
                    f"deb: unsupported format version {body[:8]!r}")
            saw_version = True
        elif name.startswith("control.tar"):
            control_tar = _decompress_control(name, body)
        # data.tar.* is listed but deliberately never decompressed
    if not saw_version:
        raise KernelError("deb: missing debian-binary member")
    if control_tar is None:
        raise KernelError("deb: missing control.tar member")
    control = _tar_member(control_tar, ("control",))
    if control is None:
        raise KernelError("deb: control file missing from control.tar")
    res.fields = parse_control_fields(
        control.decode("utf-8", "replace"))
    desc = res.fields.get("Description", "")
    res.description = "\n".join(
        "" if ln == "." else ln for ln in desc.split("\n"))
    return res
