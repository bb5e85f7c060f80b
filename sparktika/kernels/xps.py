"""XPS / OpenXPS kernel — from scratch.

XML Paper Specification packages (Microsoft XPS, standardized as
ECMA-388 OpenXPS) are OPC zip containers whose pages are FixedPage XML
parts carrying text in ``<Glyphs UnicodeString="...">`` runs — XPS is
the print-to-file format of Windows, so crawled document dumps carry
real page text here. Tika added an XPS parser after 1.20
(TIKA-2524/2749), so this kernel goes BEYOND strict reference parity
(the CAB posture) using only the public ECMA-388 part grammar:

- the FixedDocumentSequence part (``*.fdseq``) lists
  ``<DocumentReference Source>`` parts;
- each FixedDocument (``*.fdoc``) lists ``<PageContent Source>``
  FixedPage parts in page order;
- each FixedPage (``*.fpage``) draws text with ``<Glyphs
  UnicodeString="...">`` (a leading ``{}`` escapes a literal ``{``,
  per ECMA-388 §5.1.4).

Source attributes resolve absolutely (leading ``/``) or relative to
the referencing part's directory. Text contract
(extract_xps_text oracle): Glyphs runs joined with ``\\n`` inside a
page, ``\\n\\n`` between pages, one trailing ``\\n``. Bomb posture
(invariant 7): per-entry inflate caps via the shared OPC reader,
page/run/byte caps, per-doc deadline.
"""

from __future__ import annotations

import posixpath
from dataclasses import dataclass, field

from .errors import KernelError, check_deadline
from .ooxml import open_zip, read_entry
from .xmlparse import local_name, xml_events

XPS_MIME = "application/vnd.ms-xpsdocument"

_MAX_PAGES = 2000
_MAX_RUNS_PER_PAGE = 50_000


@dataclass
class XpsResult:
    text: str
    n_pages: int = 0
    n_runs: int = 0
    truncated: bool = False
    entries: list[str] = field(default_factory=list)


def sniff_xps(data: bytes) -> bool:
    """A zip holding a FixedDocumentSequence part is an XPS package."""
    if data[:4] != b"PK\x03\x04":
        return False
    try:
        with open_zip(data) as zf:
            return any(n.lower().endswith(".fdseq") for n in zf.namelist())
    except Exception:
        return False


def _resolve(ref_part: str, source: str) -> str:
    source = source.split("#", 1)[0]
    if source.startswith("/"):
        return posixpath.normpath(source[1:])
    return posixpath.normpath(
        posixpath.join(posixpath.dirname(ref_part), source))


def _sources(xml: str, want_tag: str, deadline: float | None) -> list[str]:
    out: list[str] = []
    for ev in xml_events(xml, deadline=deadline):
        if ev[0] == "start" and local_name(ev[1]) == want_tag:
            src = ev[2].get("Source") or ev[2].get("source")
            if src:
                out.append(src)
    return out


def _unescape_unicode_string(s: str) -> str:
    # ECMA-388 §5.1.4: "{}" prefix escapes a UnicodeString that would
    # otherwise start a context-index "{...}" block
    return s[2:] if s.startswith("{}") else s


def extract_xps(
    data: bytes,
    max_chars: int = -1,
    max_ratio: float = 200.0,
    max_entry_bytes: int = 256_000_000,
    deadline: float | None = None,
) -> XpsResult:
    with open_zip(data) as zf:
        names = zf.namelist()
        by_lower = {n.lower(): n for n in names}

        def read_part(name: str) -> str | None:
            real = by_lower.get(name.lower())
            if real is None:
                return None
            raw = read_entry(zf, real, max_ratio, max_entry_bytes)
            return raw.decode("utf-8", "replace")

        fdseq_name = next(
            (n for n in names if n.lower().endswith(".fdseq")), None)
        if fdseq_name is None:
            raise KernelError("xps: no FixedDocumentSequence part")
        fdseq = read_part(fdseq_name) or ""
        page_parts: list[str] = []
        for doc_src in _sources(fdseq, "DocumentReference", deadline):
            check_deadline(deadline, "xps document walk")
            fdoc_name = _resolve(fdseq_name, doc_src)
            fdoc = read_part(fdoc_name)
            if fdoc is None:
                continue
            for page_src in _sources(fdoc, "PageContent", deadline):
                page_parts.append(_resolve(fdoc_name, page_src))
                if len(page_parts) > _MAX_PAGES:
                    raise KernelError("xps: page cap exceeded")

        pages_text: list[str] = []
        n_runs = 0
        budget = max_chars if max_chars != -1 else None
        truncated = False
        for part in page_parts:
            check_deadline(deadline, "xps page walk")
            if truncated:
                break
            xml = read_part(part)
            if xml is None:
                continue
            runs: list[str] = []
            for ev in xml_events(xml, deadline=deadline):
                if ev[0] == "start" and local_name(ev[1]) == "Glyphs":
                    us = ev[2].get("UnicodeString")
                    if us is None:
                        us = ev[2].get("unicodestring")
                    if us:
                        runs.append(_unescape_unicode_string(us))
                        n_runs += 1
                        if len(runs) > _MAX_RUNS_PER_PAGE:
                            raise KernelError("xps: glyph-run cap exceeded")
            page = "\n".join(runs)
            if budget is not None:
                # strictly greater: an exact-fit page cuts nothing, so
                # the truncated flag must not fire on the boundary
                # (r7 ADVICE); a later page (even an empty budget with
                # a nonempty page) still trips it
                if len(page) > budget:
                    page = page[:budget]
                    truncated = True
                budget -= len(page)
            pages_text.append(page)
        text = "\n\n".join(pages_text)
        if text:
            text += "\n"
        return XpsResult(text=text, n_pages=len(pages_text),
                         n_runs=n_runs, truncated=truncated,
                         entries=names)


# -- builder (synth corpus + tests) --------------------------------------


def build_xps(pages: list[list[str]]) -> bytes:
    """Valid minimal XPS: fdseq -> fdoc -> one fpage per page, each
    Glyphs run XML-escaped."""
    import io
    import zipfile
    from xml.sax.saxutils import quoteattr

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        def put(name: str, data: str) -> None:
            # fixed member timestamps: the same pages give the same bytes
            zf.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), data,
                        zipfile.ZIP_DEFLATED)

        put("[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxml'
            'formats.org/package/2006/content-types">'
            '<Default Extension="fdseq" ContentType="application/vnd.ms-'
            'package.xps-fixeddocumentsequence+xml"/>'
            '<Default Extension="fdoc" ContentType="application/vnd.ms-'
            'package.xps-fixeddocument+xml"/>'
            '<Default Extension="fpage" ContentType="application/vnd.ms-'
            'package.xps-fixedpage+xml"/></Types>')
        put("FixedDocSeq.fdseq",
            '<?xml version="1.0"?><FixedDocumentSequence xmlns="http://'
            'schemas.microsoft.com/xps/2005/06">'
            '<DocumentReference Source="/Documents/1/FixedDocument.fdoc"/>'
            "</FixedDocumentSequence>")
        pagerefs = "".join(
            f'<PageContent Source="Pages/{i + 1}.fpage"/>'
            for i in range(len(pages)))
        put("Documents/1/FixedDocument.fdoc",
            '<?xml version="1.0"?><FixedDocument xmlns="http://schemas.'
            f'microsoft.com/xps/2005/06">{pagerefs}</FixedDocument>')
        for i, runs in enumerate(pages):
            glyphs = "".join(
                f'<Glyphs OriginX="10" OriginY="{20 * (j + 1)}" '
                f'FontRenderingEmSize="12" FontUri="/Resources/arial.ttf" '
                f"UnicodeString={quoteattr(r)}/>"
                for j, r in enumerate(runs))
            put(f"Documents/1/Pages/{i + 1}.fpage",
                '<?xml version="1.0"?><FixedPage xmlns="http://schemas.'
                'microsoft.com/xps/2005/06" Width="816" Height="1056">'
                f"{glyphs}</FixedPage>")
    return buf.getvalue()
