"""Per-document extraction dispatch: bytes -> ExtractResult.

The pure-Python core of the engine's Spark extraction stage (the
`mapInArrow` batch function in pipeline/extract.py calls
`extract_document` once per row). One call = one parse transaction,
mirroring the reference's per-document contract (client sends
(baseUri, contentType, bytes), receives (metadata, text) — ref:
client/TikaProcessPool.java:110-135), with these status semantics
replacing fork-kill isolation (ref: SURVEY.md O19/O20):

  ok / truncated / timeout / failed / skipped_oversize / unsupported

Failures become rows, never exceptions: a bomb or poisoned doc degrades
to an empty flagged result exactly like the reference's empty-Metadata
soft landing (ref: client/TikaRunner.java:142-147,
test/TikaProcessTest.java:182-203).

Routing is one lookup of the detected MIME in `ROUTES`, the analog of
the reference's media-type registry (CompositeParser,
main/TikaForkMain.java:299-301,329-332). Exact matches win; only a MIME
with no entry falls back by prefix: a `text/*` type declared
`application/json` goes to the JSON route, any other `text/*` to plain
text, `image/*` to the image-header route, and everything else is an
`unsupported` row. The JSON route hands malformed JSON on to the
plain-text route as `text/plain`. So `text/html` or `text/vcard`
declared as JSON keep their own route.

To add a format: write one handler `_fmt(d: _Doc) -> ExtractResult`
that imports its kernel inside the function (a worker then imports only
the kernels its documents need) and returns `d.text_row(...)` or
`d.row(...)`, and register it in `ROUTES` under each MIME it serves.

Metadata keys reuse the reference's reserved field names where they
exist (ref: main/TikaConstants.java:12-27): resource_name, parsing_time,
write_limit_reached.
"""

from __future__ import annotations

import json
import re
import time
import zlib
from importlib import import_module
from collections.abc import Callable
from dataclasses import dataclass, field

from ..config import DEFAULT_CONFIG, ExtractConfig
from . import boilerplate, charset, mime, pdf
from .errors import (DeadlineError, DepthLimitError, EncryptedError,
                     InflateRatioError, KernelError)
from .htmlparse import Link, parse_html
from .textout import embedded_block

STATUS_OK = "ok"
STATUS_TRUNCATED = "truncated"
STATUS_TIMEOUT = "timeout"
STATUS_FAILED = "failed"
STATUS_OVERSIZE = "skipped_oversize"
STATUS_UNSUPPORTED = "unsupported"


@dataclass
class ExtractResult:
    url: str
    content_type_declared: str | None
    content_type_detected: str
    charset_detected: str | None
    text_extracted: str | None
    main_text: str | None
    title: str | None
    links: list[Link]
    metadata: dict[str, list[str]]
    status: str
    error: str | None
    parse_ms: int
    n_bytes_in: int
    n_chars_out: int
    write_limit_reached: bool = False


def _cap_text(text: str, max_chars: int) -> tuple[str, bool]:
    """Apply the write-limit semantics to already-assembled text (plain-text
    path); cap is exact (SURVEY.md O5)."""
    if max_chars != -1 and len(text) > max_chars:
        return text[:max_chars], True
    return text, False


def _charset_md(detected: str, cs: str) -> dict[str, list[str]]:
    return {"Content-Type": [f"{detected}; charset={cs}"],
            "Content-Encoding": [cs]}


@dataclass(slots=True)
class _Doc:
    """Per-call state of one extract_document call, passed to every
    route handler.

    Embedded-document recursion plumbing (ref: guarded embedded
    auto-detect parse, ConfigurableAutoDetectParser.java:131-165).
    Reference-reserved metadata names (main/TikaConstants.java:20-27):
    every child that re-enters the dispatcher records a hierarchical
    `embedded_resource_path` ("/name" segments, Tika's
    RecursiveParserWrapper convention), and exhausting the
    max_embed_depth budget while embedded payloads remain raises
    `embedded_resource_limit_reached` on the OUTER document.

    `detected` is the MIME an exception row reports; a handler that
    refines the type before code that can still raise updates it."""

    url: str
    declared: str | None
    data: bytes
    cfg: ExtractConfig
    t0: float
    deadline: float | None
    n_bytes: int
    embed_depth: int
    embed_path: str
    embed_paths: list[str] = field(default_factory=list)
    embed_limit: bool = False
    embed_seq: int = 0
    detected: str = mime.OCTET_STREAM

    @property
    def embed_budget(self) -> int:
        return self.cfg.max_embed_depth - self.embed_depth

    @property
    def inflate_guards(self) -> dict:
        """The bomb guards every zip-family kernel takes."""
        return dict(max_ratio=self.cfg.max_inflate_ratio,
                    max_entry_bytes=self.cfg.max_inflate_bytes,
                    deadline=self.deadline)

    @property
    def container_guards(self) -> dict:
        """The guards and recursion hook every container kernel takes."""
        return dict(self.inflate_guards, max_chars=self.cfg.max_chars,
                    recurse=self.recurse)

    def row(self, detected: str, **kw) -> ExtractResult:
        base = dict(
            url=self.url,
            content_type_declared=self.declared,
            content_type_detected=detected,
            charset_detected=None,
            text_extracted=None,
            main_text=None,
            title=None,
            links=[],
            metadata={},
            status=STATUS_FAILED,
            error=None,
            parse_ms=int((time.monotonic() - self.t0) * 1000),
            n_bytes_in=self.n_bytes,
            n_chars_out=0,
        )
        base.update(kw)
        md = base["metadata"]
        md.setdefault("resource_name", [self.url.rsplit("/", 1)[-1] or self.url])
        md.setdefault("Content-Type", [base["content_type_detected"]])
        md["parsing_time"] = [str(base["parse_ms"])]
        md["write_limit_reached"] = [str(base.get("write_limit_reached", False)).lower()]
        if self.embed_paths:
            # hierarchical per-child paths, recursion order (reference
            # name EMBEDDED_RESOURCE_PATH, TikaConstants.java:26-27)
            md.setdefault("embedded_resource_path", list(self.embed_paths))
        if self.embed_limit:
            md["embedded_resource_limit_reached"] = ["true"]
        if base["text_extracted"] is not None:
            base["n_chars_out"] = len(base["text_extracted"])
        return ExtractResult(**base)

    def text_row(self, detected: str, text: str,
                 truncated: bool | None = None, **kw) -> ExtractResult:
        """The result of a text route: `text` capped at cfg.max_chars,
        status truncated iff the cap bit, text dropped in metadata-only
        mode. A kernel that enforces max_chars itself passes its own
        `truncated` flag and its text is not capped again: truncation
        comes from the kernel's write-limit/budget bookkeeping, not raw
        length — span/div separators bypass the write count, so total
        length may exceed max_chars without any content loss (same
        posture as the HTML route)."""
        if truncated is None:
            text, truncated = _cap_text(text, self.cfg.max_chars)
        status = STATUS_TRUNCATED if truncated else STATUS_OK
        content = text if self.cfg.parse_content else None
        return self.row(detected, text_extracted=content, status=status,
                        write_limit_reached=truncated, **kw)

    def meta_row(self, detected: str, metadata: dict, **kw) -> ExtractResult:
        """The ok result of a route that reports metadata and no body."""
        return self.row(detected, metadata=metadata, status=STATUS_OK,
                        text_extracted="" if self.cfg.parse_content else None,
                        **kw)

    def child_path(self, name: str | None) -> str:
        self.embed_seq += 1
        leaf = (name or "").strip().lstrip("/") or f"embedded-{self.embed_seq}"
        return f"{self.embed_path}/{leaf}"

    def recurse(self, name: str, payload: bytes) -> str | None:
        """Guarded re-entry for embedded payload bytes; only OK /
        truncated results contribute text, anything else degrades to
        nothing (the outer doc's status is never affected). Called at an
        exhausted depth budget it contributes NO text but marks
        embedded_resource_limit_reached — the caller-side budget gate
        moved here so the trip is observable (r4 verdict item 4)."""
        child_path = self.child_path(name)
        if self.embed_budget <= 0:
            self.embed_limit = True
            return None
        r2 = extract_document(name, None, payload, self.cfg,
                              embed_depth=self.embed_depth + 1,
                              _deadline=self.deadline, _embed_path=child_path)
        self.embed_paths.append(child_path)
        self.embed_paths.extend(r2.metadata.get("embedded_resource_path", []))
        if r2.metadata.get("embedded_resource_limit_reached") == ["true"]:
            self.embed_limit = True
        if r2.status in (STATUS_OK, STATUS_TRUNCATED):
            return r2.text_extracted or None
        return None

    def recurse_quietly(self, name: str, payload: bytes) -> str | None:
        """`recurse` for an attachment inside a parsed document: a
        corrupt attachment never fails the outer document."""
        try:
            return self.recurse(name, payload)
        except DeadlineError:
            raise
        except Exception:
            return None

    def rewrap(self, name: str, payload: bytes, wrapper_md: dict,
               nested: bool = False) -> ExtractResult:
        """Re-dispatch the payload a wrapper carries; the inner result
        becomes this document's row, with `wrapper_md` added to its
        metadata. A transparent wrapper (codec, AppleSingle) keeps the
        SAME embed depth (no level consumed) but the budget and path
        prefix must survive the hop — a reset would let .zst/.msg
        alternation nest unboundedly and would strip parents from
        embedded_resource_path (r5 review). A nested one (Ole10Native)
        consumes one embed level, starts a fresh path and drops the
        inner main_text and links."""
        r = extract_document(name, None, payload, self.cfg,
                             embed_depth=self.embed_depth + 1 if nested
                             else self.embed_depth,
                             _deadline=self.deadline,
                             _embed_path="" if nested else self.embed_path)
        md = dict(r.metadata)
        md.update(wrapper_md)
        return self.row(r.content_type_detected,
                        charset_detected=r.charset_detected,
                        text_extracted=(r.text_extracted
                                        if self.cfg.parse_content else None),
                        main_text=None if nested else r.main_text,
                        title=r.title, links=[] if nested else r.links,
                        metadata=md, status=r.status, error=r.error,
                        write_limit_reached=r.write_limit_reached)


def _xml(d: _Doc) -> ExtractResult:
    # dedicated namespace-agnostic XML route (VERDICT r02 item 7:
    # the HTML walker's safe-element sets can drop arbitrary XML
    # element text); Tika 1.20 parity posture is DcXMLParser's
    # all-character-content + title
    from .feed import parse_feed, parse_sitemap, sniff_feed_root
    from .xmlparse import local_name, parse_xml_text, xml_events

    data, cfg, deadline = d.data, d.cfg, d.deadline
    # encoding is trusted only inside a LEADING <?xml ...?>
    # declaration (XML 1.0 §4.3.3) — a root-element attribute or
    # comment that merely contains "encoding=" must not win
    # (ADVICE r3)
    head = data[:200]
    bom = charset.detect_bom(head)
    decl_zone = head[bom[1]:] if bom else head
    decl_zone = decl_zone.lstrip(b" \t\r\n")
    decl = None
    if decl_zone.startswith(b"<?xml"):
        end = decl_zone.find(b"?>")
        decl = re.search(
            rb"""encoding\s*=\s*["']([A-Za-z0-9_.-]+)""",
            decl_zone[: end if end != -1 else len(decl_zone)])
    cs = (decl.group(1).decode("ascii", "replace").lower()
          if decl else charset.detect_charset(data, is_html=False))
    xtext, cs = charset.decode(data, cs, is_html=False)
    r = parse_xml_text(xtext, max_depth=cfg.max_depth, deadline=deadline)
    root = local_name(r.root_tag) if r.root_tag else None

    def root_start() -> tuple:
        # lazy event scan: stops at the ROOT start tag however long the
        # preamble is — no byte-slice that could truncate an attribute
        # value mid-way; (tag, attrs), or (None, {}) without a root
        return next((ev[1:3] for ev in xml_events(xtext) if ev[0] == "start"),
                    (None, {}))

    if root in ("urlset", "sitemapindex"):
        # sitemaps.org refinement: URL rows into metadata, no
        # body text (a sitemap has none)
        sm = parse_sitemap(xtext, deadline=deadline)
        d.detected = "application/x-sitemap+xml"
        md = _charset_md(d.detected, cs)
        md["sitemap-kind"] = [sm.kind]
        md["sitemap-urls"] = [str(len(sm.urls))]
        if sm.urls:
            md["sitemap-locs"] = sm.urls
            if any(sm.lastmods):
                md["sitemap-lastmods"] = sm.lastmods
        if sm.truncated:
            md["sitemap-truncated"] = ["true"]
        return d.meta_row(d.detected, md, charset_detected=cs)
    feed_fmt = None
    if root in ("rss", "feed", "RDF"):
        # the namespace check needs the root attrs
        tag, attrs = root_start()
        if tag is not None:
            feed_fmt = sniff_feed_root(tag, attrs)
    if feed_fmt is not None:
        # RSS/Atom/RDF feed refinement (FeedParser parity):
        # entry titles + summaries as the body, feed title as
        # the document title, links/dates as metadata
        fr = parse_feed(xtext, deadline=deadline)
        text, limited = _cap_text(fr.render_text(), cfg.max_chars)
        d.detected = ("application/atom+xml" if fr.format == "atom"
                      else "application/rss+xml")
        md = _charset_md(d.detected, cs)
        md["feed-format"] = [fr.format]
        md["feed-entries"] = [str(len(fr.entries))]
        if fr.title:
            md["title"] = [fr.title]
            md["dc:title"] = [fr.title]
        if fr.description:
            md["feed-description"] = [fr.description]
        links = [e.link for e in fr.entries if e.link]
        if links:
            md["feed-entry-links"] = links
        dates = [e.date for e in fr.entries if e.date]
        if dates:
            md["feed-entry-dates"] = dates
        if fr.truncated_entries:
            md["feed-entries-truncated"] = ["true"]
        return d.text_row(d.detected, text, truncated=limited,
                          charset_detected=cs, title=fr.title, metadata=md)
    if root == "FictionBook":
        # FB2 e-book refinement (kernels/fb2.py): body sections
        # only — the generic XML route would smear description
        # metadata into the text
        from .fb2 import FB2_MIME, parse_fb2

        fb = parse_fb2(xtext, deadline=deadline)
        md = _charset_md(FB2_MIME, cs)
        md["fb2-sections"] = [str(fb.n_sections)]
        if fb.title:
            md["title"] = [fb.title]
        if fb.authors:
            md["fb2-authors"] = fb.authors
        if fb.genres:
            md["fb2-genres"] = fb.genres
        if fb.lang:
            md["fb2-lang"] = [fb.lang]
        return d.text_row(FB2_MIME, fb.text, charset_detected=cs,
                          title=fb.title, metadata=md)
    if root == "abiword":
        # AbiWord refinement (kernels/xmlroutes.py): body
        # paragraphs only — dc.title stays OUT of the text
        from .xmlroutes import ABW_MIME, parse_abiword

        ab = parse_abiword(xtext, deadline=deadline)
        md = _charset_md(ABW_MIME, cs)
        if ab.title:
            md["title"] = [ab.title]
        return d.text_row(ABW_MIME, ab.text, charset_detected=cs,
                          title=ab.title, metadata=md)
    if root == "gpx":
        # GPX refinement (kernels/xmlroutes.py): structured
        # point/track counts + names; the body is the name list
        from .xmlroutes import GPX_MIME, parse_gpx

        gp = parse_gpx(xtext, deadline=deadline)
        md = _charset_md(GPX_MIME, cs)
        md["gpx-waypoints"] = [str(gp.n_waypoints)]
        md["gpx-trackpoints"] = [str(gp.n_trackpoints)]
        md["gpx-routepoints"] = [str(gp.n_routepoints)]
        md["gpx-tracks"] = [str(gp.n_tracks)]
        return d.text_row(GPX_MIME, "\n".join(gp.names), charset_detected=cs,
                          title=gp.names[0] if gp.names else None,
                          metadata=md)
    if root == "document":
        # flat ODF (.fodt/.fods/.fodp): single-file XML whose
        # root carries office:mimetype; reuse the ODF paragraph
        # walks directly on the document (kernels/odf.py)
        fmime = None
        for k, v in root_start()[1].items():
            if k.rsplit(":", 1)[-1] == "mimetype" and "opendocument" in v:
                fmime = v
        if fmime:
            from .odf import _walk_ods, _walk_odt

            flat = f"{fmime}-flat-xml"
            walk = _walk_ods if "spreadsheet" in fmime else _walk_odt
            orr = walk(xtext, cfg.max_depth, deadline)
            return d.text_row(flat, orr.text, charset_detected=cs,
                              metadata=_charset_md(flat, cs))
    text, limited = _cap_text(r.text, cfg.max_chars)
    svg_attrs = {}
    if root and root.lower() == "svg":
        # refine: SVG is XML, but callers filter on the real type;
        # root-element attrs give header-level dims (SVG 1.1 §5.1)
        d.detected = "image/svg+xml"
        svg_attrs = root_start()[1]
    md = _charset_md(d.detected, cs)
    md["n-elements"] = [str(r.n_elements)]
    for attr, key in (("width", "Image Width"), ("height", "Image Height"),
                      ("viewBox", "svg:viewBox")):
        if svg_attrs.get(attr):
            md[key] = [svg_attrs[attr]]
    if r.root_tag:
        md["xml:root"] = [r.root_tag]
    if r.title:
        md["title"] = [r.title]
        md["dc:title"] = [r.title]
    return d.text_row(d.detected, text, truncated=limited, charset_detected=cs,
                      title=r.title, metadata=md)


def _html(d: _Doc) -> ExtractResult:
    cfg = d.cfg
    cs = charset.detect_charset(d.data, is_html=True)
    text, cs = charset.decode(d.data, cs, is_html=True)
    r = parse_html(
        text,
        base_uri=d.url,
        max_chars=cfg.max_chars,
        max_depth=cfg.max_depth,
        extract_links=cfg.extract_links,
        collect_blocks=cfg.extract_main_text,
        deadline=d.deadline,
        # metadata-only fast path: skip the writer entirely (O26;
        # like the reference's parseContent=false, no content handler
        # means no text assembly and no write limit)
        emit_text=cfg.parse_content,
        meta_tags=cfg.html_meta_tags,
    )
    mtext = boilerplate.main_text(r.blocks) if cfg.extract_main_text else None
    md = _charset_md(d.detected, cs)
    if r.title:
        md["title"] = [r.title]
        md["dc:title"] = [r.title]
    if r.links:
        md["n-links"] = [str(len(r.links))]
    for mk, mv in r.meta.items():
        # opt-in <meta name> pairs; never clobber reserved keys
        md.setdefault(mk, [mv])
    return d.text_row(d.detected, r.text, truncated=r.write_limit_reached,
                      charset_detected=cs, main_text=mtext, title=r.title,
                      links=r.links, metadata=md)


def _pdf(d: _Doc) -> ExtractResult:
    from .tikameta import pdf_tika_metadata

    r = pdf.extract_pdf(
        d.data,
        max_inflate_ratio=d.cfg.max_inflate_ratio,
        max_inflate_bytes=d.cfg.max_inflate_bytes,
        deadline=d.deadline,
        include_images=d.cfg.pdf_extract_inline_images,
        collect_embedded=True,
    )
    # /EmbeddedFiles attachments recurse through the dispatcher
    # under the shared deadline/budget (PDF 32000 §7.11.4; Tika's
    # PDFParser embedded-document path); at an exhausted budget
    # recurse contributes nothing but flags
    # embedded_resource_limit_reached
    pdf_text = r.text
    emb_names = []
    for fname, payload in r.embedded_files:
        t2 = d.recurse_quietly(fname, payload)
        if t2:
            pdf_text += embedded_block(fname, t2)
            emb_names.append(fname)
    # Tika-1.20-parity key set (39 distinct keys on the reference
    # fixture, test/TikaProcessTest.java:129-133); engine fields
    # (resource_name/parsing_time/write_limit_reached) are added on
    # top by row()
    md = pdf_tika_metadata(
        r.metadata, r.metadata.get("pdf:version", ""),
        n_pages=r.n_pages, chars_per_page=r.page_nchars,
        unmapped_per_page=r.page_unmapped)
    for k in ("pdf:image-count", "pdf:inline-image-count"):
        if k in r.metadata:
            md[k] = [r.metadata[k]]
    if emb_names:
        md["embedded-names"] = emb_names
    return d.text_row(d.detected, pdf_text, title=r.metadata.get("Title"),
                      metadata=md)


def _rtf(d: _Doc) -> ExtractResult:
    from .rtf import extract_rtf

    # no max_chars push-down needed: RTF output is bounded by input
    # size (no decompression; \bin payloads are skipped)
    r = extract_rtf(d.data, deadline=d.deadline)
    return d.text_row(d.detected, r.text, title=r.title,
                      metadata={k: [v] for k, v in r.metadata.items()})


def _eml(d: _Doc) -> ExtractResult:
    from .eml import extract_eml

    r = extract_eml(d.data, deadline=d.deadline)
    md = {k: [v] for k, v in r.metadata.items()}
    md["n-parts"] = [str(r.n_parts)]
    md["n-attachments"] = [str(r.n_attachments)]
    if r.attachment_names:
        md["attachment-names"] = r.attachment_names
    return d.text_row(d.detected, r.text, title=r.subject, metadata=md)


def _tensor(d: _Doc) -> ExtractResult:
    from .tensors import parse_gguf, parse_npy, parse_safetensors

    # model/tensor artifacts (kernels/tensors.py): catalogue
    # facts from headers only — weight payloads never read
    parse = {"application/x-npy": parse_npy,
             "application/x-safetensors": parse_safetensors,
             "application/x-gguf": parse_gguf}[d.detected]
    tm = parse(d.data)
    md = {"Content-Type": [tm.mime],
          "tensor-count": [str(tm.n_tensors)]}
    if tm.dtype:
        md["tensor-dtype"] = [tm.dtype]
    if tm.total_params is not None:
        md["tensor-total-params"] = [str(tm.total_params)]
    if tm.arch:
        md["model-architecture"] = [tm.arch]
    if tm.name:
        md["model-name"] = [tm.name]
    for k, v in sorted(tm.fields.items()):
        md[k] = [v]
    return d.row(tm.mime, text_extracted="", title=tm.name, metadata=md,
                 status=STATUS_OK)


def _postscript(d: _Doc) -> ExtractResult:
    from .postscript import BODY_REFUSAL as _PS_REFUSAL
    from .postscript import extract_ps

    # DSC comment metadata; body refused by design (executing
    # the program is the only way to get text — Tika 1.20 has
    # no PS text parser either, kernels/postscript.py)
    r = extract_ps(d.data)
    md = {"Content-Type": [d.detected],
          "body-refusal": [_PS_REFUSAL]}
    if r.version:
        md["ps-dsc-version"] = [r.version]
    if r.eps:
        md["ps-eps"] = ["true"]
    if r.dos_eps:
        md["ps-dos-eps"] = ["true"]
    for k, v in sorted(r.fields.items()):
        md[f"ps-{k.lower()}"] = [v]
    return d.meta_row(d.detected, md, title=r.fields.get("Title"))


def _swf(d: _Doc) -> ExtractResult:
    from .swf import extract_swf

    # SWF header facts (kernels/swf.py): stage dims from the
    # bit-packed RECT, frame rate/count; tags never walked
    r = extract_swf(d.data)
    md = {"Content-Type": [d.detected],
          "swf-version": [str(r.version)],
          "swf-compression": [r.compression],
          "swf-file-length": [str(r.file_length)],
          "Image Width": [str(r.width_px)],
          "Image Height": [str(r.height_px)],
          "swf-frame-rate": [repr(r.frame_rate)],
          "swf-frame-count": [str(r.frame_count)]}
    return d.row(d.detected, text_extracted="", metadata=md, status=STATUS_OK)


def _deb(d: _Doc) -> ExtractResult:
    from .deb import extract_deb

    # deb(5): control fields into metadata, Description rendered
    # per deb-control(5) as the body; data.tar never decompressed
    r = extract_deb(d.data, deadline=d.deadline)
    md = {"Content-Type": [d.detected],
          "deb-members": list(r.members)}
    for k, v in sorted(r.fields.items()):
        if k != "Description":
            md[f"deb-{k.lower()}"] = [v]
    return d.text_row(d.detected, r.description,
                      title=r.fields.get("Package"), metadata=md)


def _rpm(d: _Doc) -> ExtractResult:
    from .rpm import extract_rpm

    # RPM lead + header-structure walk (kernels/rpm.py): package
    # facts into metadata, description as the body; the cpio
    # payload is never touched
    r = extract_rpm(d.data, deadline=d.deadline)
    md = {"Content-Type": [d.detected],
          "rpm-package-type": ["binary" if r.binary_package else "source"]}
    for k, v in sorted(r.fields.items()):
        if k != "description":
            md[f"rpm-{k}"] = [v]
    return d.text_row(d.detected, r.fields.get("description", ""),
                      title=r.fields.get("name"), metadata=md)


def _lnk(d: _Doc) -> ExtractResult:
    from .lnk import extract_lnk

    # [MS-SHLLNK]: StringData + LinkInfo local base path as
    # queryable facts; the NAME_STRING (comment) is the body
    r = extract_lnk(d.data)
    md = {"Content-Type": [d.detected]}
    for key, val in (("lnk-relative-path", r.relative_path),
                     ("lnk-working-dir", r.working_dir),
                     ("lnk-arguments", r.arguments),
                     ("lnk-icon-location", r.icon_location),
                     ("lnk-local-base-path", r.local_base_path)):
        if val:
            md[key] = [val]
    md["lnk-target-size"] = [str(r.file_size)]
    return d.text_row(d.detected, r.name or "", title=r.name, metadata=md)


def _mhtml(d: _Doc) -> ExtractResult:
    from .mhtml import extract_mhtml

    # RFC 2557 saved web page: root HTML through the walker,
    # sibling resources as metadata (kernels/mhtml.py)
    r = extract_mhtml(d.data, deadline=d.deadline)
    md = {"Content-Type": [d.detected],
          "n-resources": [str(r.n_resources)]}
    if r.snapshot_location:
        md["snapshot-content-location"] = [r.snapshot_location]
    if r.resource_locations:
        md["resource-locations"] = r.resource_locations
    if r.resource_types:
        md["resource-types"] = r.resource_types
    if r.title:
        md["title"] = [r.title]
    return d.text_row(d.detected, r.text, title=r.title, metadata=md)


def _tnef(d: _Doc) -> ExtractResult:
    from .tnef import extract_tnef

    r = extract_tnef(d.data, deadline=d.deadline, recurse=d.recurse)
    md = {k: [v] for k, v in r.metadata.items()}
    md["n-attachments"] = [str(r.n_attachments)]
    if r.attachment_names:
        md["attachment-names"] = r.attachment_names
    return d.text_row(d.detected, r.text, title=r.subject, metadata=md)


def _sqlite(d: _Doc) -> ExtractResult:
    from .sqlite import extract_sqlite

    r = extract_sqlite(d.data, max_chars=d.cfg.max_chars, deadline=d.deadline)
    md = {k: [v] for k, v in r.metadata.items()}
    md["n-tables"] = [str(r.n_tables)]
    if r.table_names:
        md["table-names"] = list(r.table_names)
    return d.text_row(d.detected, r.text, truncated=r.truncated, metadata=md)


def _pst(d: _Doc) -> ExtractResult:
    from .pst import extract_pst

    r = extract_pst(d.data, recurse=d.recurse, max_chars=d.cfg.max_chars,
                    deadline=d.deadline)
    md = {k: [v] for k, v in r.metadata.items()}
    md["n-messages"] = [str(r.n_messages)]
    md["n-folders"] = [str(r.n_folders)]
    if r.folder_names:
        md["folder-names"] = list(r.folder_names)
    return d.text_row(d.detected, r.text, truncated=r.truncated, title=r.title,
                      metadata=md)


def _vcal(d: _Doc) -> ExtractResult:
    from .vcal import extract_vcal

    r = extract_vcal(d.data, deadline=d.deadline)
    md = {k: [v] for k, v in r.metadata.items()}
    md["n-cards" if r.kind == "vcard" else "n-events"] = [str(r.n_components)]
    return d.text_row(d.detected, r.text, title=r.title, metadata=md)


def _mbox(d: _Doc) -> ExtractResult:
    from .mbox import extract_mbox

    r = extract_mbox(d.data, deadline=d.deadline)
    md = {k: [v] for k, v in r.metadata.items()}
    md["n-messages"] = [str(r.n_messages)]
    if r.n_skipped:
        md["n-skipped-messages"] = [str(r.n_skipped)]
    if r.subjects:
        md["subjects"] = r.subjects
    return d.text_row(d.detected, r.text, title=r.title, metadata=md)


def _json(d: _Doc) -> ExtractResult:
    # JSON payloads: string-leaf traversal (document order), one
    # line per string value — the shape LLM-pipeline text jobs
    # want from crawled JSON. Malformed JSON degrades to the
    # plain-text route (never a task failure).
    cs = charset.detect_charset(d.data, is_html=False)
    raw_text, cs = charset.decode(d.data, cs, is_html=False)
    try:
        obj = json.loads(raw_text)
    except ValueError:
        obj = None
    if obj is None:
        d.detected = "text/plain"
        return _text(d)
    parts: list[str] = []
    stack = [obj]
    while stack:
        node = stack.pop()
        if isinstance(node, str):
            parts.append(node)
        elif isinstance(node, dict):
            stack.extend(reversed(list(node.values())))
        elif isinstance(node, list):
            stack.extend(reversed(node))
        if len(parts) > 1_000_000:
            raise KernelError("JSON string-leaf cap exceeded")
    text = "\n".join(parts) + ("\n" if parts else "")
    title = (obj.get("title") if isinstance(obj, dict)
             and isinstance(obj.get("title"), str) else None)
    return d.text_row("application/json", text, title=title,
                      charset_detected=cs,
                      metadata={"Content-Type": ["application/json"],
                                "n-string-leaves": [str(len(parts))]})


def _text(d: _Doc) -> ExtractResult:
    cs = charset.detect_charset(d.data, is_html=False)
    text, cs = charset.decode(d.data, cs, is_html=False)
    return d.text_row(d.detected, text, charset_detected=cs,
                      metadata=_charset_md(d.detected, cs))


def _zip(d: _Doc) -> ExtractResult:
    from .epub import EPUB_MIME, extract_epub, sniff_epub

    data, cfg = d.data, d.cfg
    if sniff_epub(data):
        r = extract_epub(data, max_chars=cfg.max_chars,
                         max_depth=cfg.max_depth, **d.inflate_guards)
        md = {"Content-Type": [EPUB_MIME],
              "n-spine-items": [str(r.n_spine)]}
        if r.title:
            md["title"] = [r.title]
            md["dc:title"] = [r.title]
        return d.text_row(EPUB_MIME, r.text, truncated=r.truncated,
                          title=r.title, metadata=md)

    from .iwork import IWORK_MIMES, extract_iwork, sniff_iwork

    if sniff_iwork(data):
        r = extract_iwork(data, max_chars=cfg.max_chars, **d.inflate_guards)
        iwork_mime = IWORK_MIMES[r.kind]
        md = {"Content-Type": [iwork_mime],
              "n-paragraphs": [str(r.n_paragraphs)]}
        return d.text_row(iwork_mime, r.text, truncated=r.truncated,
                          metadata=md)

    from .odf import extract_odf, sniff_odf

    odf_mime = sniff_odf(data)
    if odf_mime is not None:
        r = extract_odf(data, max_depth=cfg.max_depth, **d.inflate_guards)
        md = {"Content-Type": [odf_mime]}
        if r.kind == "odt":
            md["n-paragraphs"] = [str(r.n_paragraphs)]
        elif r.kind == "odp":
            md["n-paragraphs"] = [str(r.n_paragraphs)]
            md["n-slides"] = [str(r.n_pages)]
        else:
            md["n-tables"] = [str(r.n_tables)]
            md["sheet-names"] = r.sheet_names
        return d.text_row(odf_mime, r.text, metadata=md)

    # XPS runs AFTER the prefix-sniffing kinds (epub/
    # iwork/odf have first-local-header fast paths;
    # sniff_xps reads the central directory)
    from .xps import XPS_MIME, extract_xps, sniff_xps

    if sniff_xps(data):
        r = extract_xps(data, max_chars=cfg.max_chars, **d.inflate_guards)
        md = {"Content-Type": [XPS_MIME],
              "n-pages": [str(r.n_pages)],
              "n-glyph-runs": [str(r.n_runs)]}
        return d.text_row(XPS_MIME, r.text, truncated=r.truncated, metadata=md)

    from .container import extract_zip_container

    r = extract_zip_container(data, **d.container_guards)
    md = {k: [v] for k, v in r.metadata.items() if k != "Content-Type"}
    if r.embedded_names:
        # same multi-element list shape as the .doc/.pdf paths;
        # carried as a real list end-to-end (ADVICE r3)
        md["embedded-names"] = list(r.embedded_names)
    refined = r.metadata.get("Content-Type", d.detected)
    md["Content-Type"] = [refined]
    if r.entries:
        md["container-entries"] = [str(len(r.entries))]
    return d.text_row(refined, r.text, truncated=r.truncated,
                      title=r.metadata.get("dc:title"), metadata=md)


def _inflate(wbits: int):
    def decode(data: bytes, cap: int, deadline: float | None):
        dec = zlib.decompressobj(wbits)
        inner = dec.decompress(data, cap)
        # unconsumed_tail = output cap hit; not eof = truncated
        # archive — both fail closed (a truncated .gz must never
        # flow downstream as clean-but-corrupt text)
        return inner, bool(dec.unconsumed_tail) or not dec.eof
    return decode


def _unbzip2(data: bytes, cap: int, deadline: float | None):
    import bz2

    dec = bz2.BZ2Decompressor()
    return dec.decompress(data, max_length=cap), not dec.eof


def _unlzma(fmt: str):
    def decode(data: bytes, cap: int, deadline: float | None):
        import lzma

        dec = lzma.LZMADecompressor(format=getattr(lzma, fmt))
        # .lzma: eof is set on the declared size OR the EOS marker
        # (unknown-size streams carry one) — absent both, the
        # stream is truncated or over-cap; fail closed
        return dec.decompress(data, max_length=cap), not dec.eof
    return decode


def _from_scratch(module: str, fn: str, takes_deadline: bool = False):
    """A decoder from this package (Python 3.11 ships none of these
    codecs): it raises InflateRatioError past the cap / KernelError on
    corruption -> failed status via the outer handler, so it never
    overflows."""
    def decode(data: bytes, cap: int, deadline: float | None):
        kernel = getattr(import_module(f".{module}", __package__), fn)
        kw = {"deadline": deadline} if takes_deadline else {}
        return kernel(data, cap, **kw), False
    return decode


# single-member codec MIME -> (codec name, url suffix, decode(data, cap,
# deadline) -> (inner, overflow))
_CODECS = {
    "application/gzip": ("gzip", ".gz", _inflate(16 + zlib.MAX_WBITS)),
    "application/x-bzip2": ("bzip2", ".bz2", _unbzip2),
    "application/zstd": ("zstd", ".zst",  # RFC 8878
                         _from_scratch("zstd", "decompress_zstd")),
    "application/x-lz4": ("lz4", ".lz4",
                          _from_scratch("lz4", "decompress_lz4")),
    "application/x-compress": ("compress", ".z",  # LZW
                               _from_scratch("zcompress", "decompress_z",
                                             takes_deadline=True)),
    # framing decoder, per-chunk CRC-32C verified
    "application/x-snappy": ("snappy", ".sz",
                             _from_scratch("snappy", "decompress_framed")),
    "application/zlib": ("deflate", ".zz", _inflate(zlib.MAX_WBITS)),
    "application/x-lzma": ("lzma", ".lzma", _unlzma("FORMAT_ALONE")),
    "application/x-xz": ("xz", ".xz", _unlzma("FORMAT_XZ")),
}
_CODEC_MAGIC = (
    (b"\x1f\x8b", "gzip"), (b"\x1f\x9d", "compress"), (b"BZh", "bzip2"),
    (b"\xfd7zXZ\x00", "xz"), (b"\x28\xb5\x2f\xfd", "zstd"),
    (b"\x04\x22\x4d\x18", "lz4"), (b"\x02\x21\x4c\x18", "lz4"),
    (b"\x5d\x00\x00", "lzma"), (b"\xff\x06\x00\x00sNaPpY", "snappy"),
    (b"\x78\x9c", "deflate"), (b"\x78\xda", "deflate"),
)


def _codec(d: _Doc) -> ExtractResult:
    # single-member compressed wrapper (.txt.gz / .csv.bz2 /
    # .tar.xz / .zst ...): guarded decompress, then re-dispatch on
    # the inner payload under the shared deadline
    codec, suffix, decode = _CODECS[d.detected]
    cap = min(int(max(d.n_bytes, 1024) * d.cfg.max_inflate_ratio),
              d.cfg.max_inflate_bytes)
    inner, overflow = decode(d.data, cap, d.deadline)
    if overflow:
        return d.row(d.detected, status=STATUS_FAILED,
                     error=f"InflateRatioError: {codec} payload "
                           f"exceeds inflate cap {cap}B (or archive "
                           f"is truncated)")
    inner_codec = next((name for magic, name in _CODEC_MAGIC
                        if inner.startswith(magic)), None)
    if inner_codec is not None:
        # compressed-in-compressed chains compound the ratio
        # guard without bound — refuse instead of recursing
        return d.row(d.detected, status=STATUS_FAILED,
                     error=f"nested {inner_codec} refused "
                           "(ratio-compounding bomb)")
    url = d.url
    inner_name = url[: -len(suffix)] if url.lower().endswith(suffix) else url
    return d.rewrap(inner_name, inner, {"Content-Encoding-Outer": [codec]})


def _lha(d: _Doc) -> ExtractResult:
    from .lha import BODY_REFUSAL as _LHA_REFUSAL
    from .lha import extract_lha

    r = extract_lha(d.data, **d.container_guards)
    md = {"Content-Type": ["application/x-lha"],
          "container-entries": [str(len(r.entries))],
          "lha-stored": [str(r.n_stored)],
          "lha-compressed": [str(r.n_compressed)]}
    if r.methods:
        md["lha-methods"] = list(dict.fromkeys(r.methods))
    if r.n_compressed:
        md["body-refusal"] = [_LHA_REFUSAL]
    return d.text_row(d.detected, r.text, truncated=r.truncated, metadata=md)


def _iso(d: _Doc) -> ExtractResult:
    from .iso9660 import extract_iso

    r = extract_iso(d.data, **d.container_guards)
    md = {"Content-Type": ["application/x-iso9660-image"]}
    md.update({k: [v] for k, v in r.metadata.items() if k != "Content-Type"})
    if r.entries:
        md["container-entries"] = [str(len(r.entries))]
        md["iso-entry-names"] = list(r.entries)
    return d.text_row(d.detected, r.text, truncated=r.truncated, metadata=md)


def _chm(d: _Doc) -> ExtractResult:
    from .chm import extract_chm

    r = extract_chm(d.data, **d.container_guards)
    md = dict(r.metadata)
    if r.entries:
        md["container-entries"] = [str(len(r.entries))]
    if r.title:
        md["title"] = [r.title]
    return d.text_row(d.detected, r.text, truncated=r.truncated, title=r.title,
                      metadata=md)


# archive MIME -> (kernel module, function); each returns a
# ContainerResult; every metadata key but Content-Type goes to the row
_ARCHIVES = {
    "application/x-7z-compressed": ("sevenzip", "extract_7z"),
    "application/vnd.ms-cab-compressed": ("cab", "extract_cab"),
    "application/x-tar": ("container", "extract_tar_container"),
    "application/x-archive": ("container", "extract_ar_container"),
    "application/x-cpio": ("container", "extract_cpio_container"),
    "application/x-arj": ("container", "extract_arj_container"),
}


def _archive(d: _Doc) -> ExtractResult:
    module, fn = _ARCHIVES[d.detected]
    extract = getattr(import_module(f".{module}", __package__), fn)
    r = extract(d.data, **d.container_guards)
    md = {"Content-Type": [d.detected]}
    if r.entries:
        md["container-entries"] = [str(len(r.entries))]
    md.update({k: [v] for k, v in r.metadata.items() if k != "Content-Type"})
    return d.text_row(d.detected, r.text, truncated=r.truncated, metadata=md)


def _dbf(d: _Doc) -> ExtractResult:
    from .dbf import parse_dbf

    # max_chars < 0 means unlimited; the kernel still needs a
    # hard memory guard against record-count bombs
    kern_cap = d.cfg.max_chars if d.cfg.max_chars > 0 else (1 << 24)
    r = parse_dbf(d.data, max_chars=kern_cap, deadline=d.deadline)
    text, limited = _cap_text(r.render_text(), d.cfg.max_chars)
    md = {"Content-Type": ["application/x-dbf"],
          "dbf-version": [f"{r.version:#x}"],
          "dbf-records": [str(r.n_records)],
          "dbf-fields": [str(len(r.fields))],
          "dbf-last-update": [r.last_update],
          "dbf-field-names": [f.name for f in r.fields]}
    return d.text_row(d.detected, text, truncated=limited or r.truncated,
                      metadata=md)


def _matlab(d: _Doc) -> ExtractResult:
    from .matfile import parse_mat

    r = parse_mat(d.data, deadline=d.deadline)
    md = {"Content-Type": ["application/x-matlab-data"],
          "mat-header": [r.header_text],
          "mat-variables": [str(len(r.variables))]}
    if r.variables:
        md["mat-variable-names"] = [v.name for v in r.variables]
    return d.text_row(d.detected, r.render_text(), metadata=md)


def _raw_biff(d: _Doc) -> ExtractResult:
    # RAW pre-OLE2 BIFF2/3/4 worksheet (detect_mime only yields
    # this MIME for validator-passed raw streams; OLE2-wrapped
    # .xls arrives as x-tika-msoffice). POI OldExcelExtractor
    # parity via kernels/oldxls.py.
    from .oldxls import extract_old_biff_raw

    r = extract_old_biff_raw(d.data, deadline=d.deadline)
    md = {"Content-Type": ["application/vnd.ms-excel"],
          "biff-version": [str(r.biff_version)],
          "n-cells": [str(r.n_cells)]}
    return d.text_row(d.detected, r.text, metadata=md)


def _flv(d: _Doc) -> ExtractResult:
    from .flv import parse_flv, render_meta_value

    # FLVParser parity (Tika 1.20 via tika-parsers): header
    # audio/video flags + every onMetaData AMF0 scalar
    r = parse_flv(d.data, deadline=d.deadline)
    md = {"Content-Type": ["video/x-flv"],
          "hasAudio": ["true" if r.has_audio else "false"],
          "hasVideo": ["true" if r.has_video else "false"]}
    for k, v in r.entries[:64]:
        md.setdefault(k, []).append(render_meta_value(v))
    return d.meta_row(d.detected, md)


def _torrent(d: _Doc) -> ExtractResult:
    from .torrent import parse_torrent

    # metainfo inventory; the pieces hash blob is measured,
    # never decoded (beyond Tika 1.20 parity — no bencode)
    r = parse_torrent(d.data, deadline=d.deadline)
    md = {"Content-Type": ["application/x-bittorrent"],
          "torrent-files": [str(len(r.files))],
          "torrent-total-bytes": [str(r.total_length)],
          "torrent-piece-length": [str(r.piece_length)]}
    if r.name:
        md["title"] = [r.name]
    if r.created_by:
        md["torrent-created-by"] = [r.created_by]
    return d.text_row(d.detected, r.render_text(), title=r.name, metadata=md)


def _orc(d: _Doc) -> ExtractResult:
    from .orc import parse_orc

    # metadata-first footer walk (from-scratch protobuf wire
    # reader) — stripe data never touched
    r = parse_orc(d.data, deadline=d.deadline)
    md = {"Content-Type": ["application/x-orc"],
          "orc-rows": [str(r.n_rows)],
          "orc-stripes": [str(r.n_stripes)],
          "orc-compression": [r.compression]}
    return d.text_row(d.detected, r.render_text(), metadata=md)


def _parquet(d: _Doc) -> ExtractResult:
    from .parquetmeta import parse_parquet

    # metadata-first footer walk (from-scratch Thrift compact
    # reader) — no page data touched, no native decoder
    r = parse_parquet(d.data, deadline=d.deadline)
    md = {"Content-Type": ["application/x-parquet"],
          "parquet-rows": [str(r.n_rows)],
          "parquet-row-groups": [str(r.n_row_groups)],
          "parquet-version": [str(r.version)]}
    if r.created_by:
        md["parquet-created-by"] = [r.created_by]
    return d.text_row(d.detected, r.render_text(), metadata=md)


def _avro(d: _Doc) -> ExtractResult:
    from .avro import parse_avro

    # metadata-first: schema + exact framing counts, payloads
    # never decoded (beyond Tika 1.20 parity — no Avro parser)
    r = parse_avro(d.data, deadline=d.deadline)
    md = {"Content-Type": ["application/avro"],
          "avro-codec": [r.codec],
          "avro-records": [str(r.n_records)],
          "avro-blocks": [str(r.n_blocks)]}
    if r.truncated_tail:
        md["avro-truncated-tail"] = ["true"]
    return d.text_row(d.detected, r.render_text(), metadata=md)


def _applefile(d: _Doc) -> ExtractResult:
    from .applefile import APPLEFILE_MIME, parse_applefile

    # AppleSingleFileParser parity (Tika 1.20): real-name
    # metadata; an AppleSingle data fork re-dispatches under
    # the real name (transparent-wrapper posture — same embed
    # depth, shared budget/deadline); AppleDouble is the
    # resource-fork half only -> metadata row
    af = parse_applefile(d.data)
    facts = {"apple-format": [af.kind]}
    if af.real_name:
        facts["apple-real-name"] = [af.real_name]
    if af.comment:
        facts["apple-comment"] = [af.comment]
    if af.resource_fork_len:
        facts["apple-resource-fork-bytes"] = [str(af.resource_fork_len)]
    md = {"Content-Type": [APPLEFILE_MIME], **facts}
    if af.kind == "applesingle" and af.data_fork is not None:
        if af.data_fork[:4] == b"\x00\x05\x16\x00":
            # AppleSingle-in-AppleSingle: the re-dispatch is a
            # transparent wrapper at the SAME embed depth, so a
            # crafted chain nests unboundedly (150 KB reaches
            # 3000 deep) with only RecursionError to stop it —
            # refuse like the gzip nested-codec path (r7 ADVICE)
            return d.row(APPLEFILE_MIME, status=STATUS_FAILED,
                         error="nested applesingle refused "
                               "(wrapper-chain bomb)",
                         metadata=md)
        out = d.rewrap(af.real_name or d.url, af.data_fork,
                       {**facts, "Content-Encoding-Outer": ["applesingle"]})
        # the inner MIME, not the inner Content-Type header value
        out.metadata["Content-Type"] = [out.content_type_detected]
        return out
    return d.meta_row(APPLEFILE_MIME, md)


def _bplist(d: _Doc) -> ExtractResult:
    from .bplist import parse_bplist

    # string leaves in walk order (the JSON-kernel posture);
    # beyond Tika 1.20 parity (bplist parsing landed TIKA-2619)
    r = parse_bplist(d.data, deadline=d.deadline)
    md = {"Content-Type": ["application/x-bplist"],
          "bplist-objects": [str(r.n_objects)],
          "bplist-top-type": [r.top_type]}
    return d.text_row(d.detected, r.text, metadata=md)


def _javaclass(d: _Doc) -> ExtractResult:
    from .javaclass import parse_javaclass

    # ClassParser parity (Tika 1.20 via tika-parsers): javap-
    # style identifier listing; class name doubles as the title
    r = parse_javaclass(d.data, deadline=d.deadline)
    md = {"Content-Type": ["application/java-vm"],
          "title": [r.simple_name],
          "class-name": [r.class_name],
          "java-version": [r.java_version],
          "n-fields": [str(len(r.fields))],
          "n-methods": [str(len(r.methods))]}
    return d.text_row(d.detected, r.render_text(), metadata=md)


def _metafile(d: _Doc) -> ExtractResult:
    from .metafile import parse_emf, parse_wmf

    # WMFParser/EMFParser parity (Tika 1.20 via tika-parsers):
    # one line per text-output record; frame dims as metadata
    parse = parse_wmf if d.detected == "image/wmf" else parse_emf
    r = parse(d.data, deadline=d.deadline)
    md = {"Content-Type": [d.detected],
          "metafile-records": [str(r.n_records)],
          "metafile-text-records": [str(len(r.texts))],
          "width-units": [str(r.width_units)],
          "height-units": [str(r.height_units)]}
    return d.text_row(d.detected, r.text, metadata=md)


def _attrs_md(md: dict, prefix: str,
              attrs: list[tuple[str, str]]) -> str | None:
    """Scientific-format attributes into metadata; returns the title."""
    for aname, aval in attrs[:64]:
        md.setdefault(f"{prefix}:{aname}", []).append(aval[:512])
    title = next((v for k, v in attrs if k == "title"), None)
    if title:
        md["title"] = [title]
    return title


def _netcdf(d: _Doc) -> ExtractResult:
    from .netcdf import parse_netcdf

    # NetCDFParser parity (Tika 1.20 via tika-parsers): global
    # attributes as metadata, dim/var inventory as the body
    r = parse_netcdf(d.data, deadline=d.deadline)
    md = {"Content-Type": ["application/x-netcdf"],
          "netcdf-version": ["classic" if r.version == 1
                             else "64-bit-offset"],
          "netcdf-dimensions": [str(len(r.dims))],
          "netcdf-variables": [str(len(r.variables))],
          "netcdf-records": [str(r.numrecs)]}
    title = _attrs_md(md, "netcdf", r.gatts)
    return d.text_row(d.detected, r.render_text(), metadata=md, title=title)


def _hdf5(d: _Doc) -> ExtractResult:
    from .hdf5 import parse_hdf5

    # HDFParser parity (Tika 1.20 via tika-parsers): attributes
    # as metadata, group/dataset inventory as the body
    r = parse_hdf5(d.data, deadline=d.deadline)
    md = {"Content-Type": [d.detected],
          "hdf5-groups": [str(len(r.groups))],
          "hdf5-datasets": [str(len(r.datasets))]}
    title = _attrs_md(md, "hdf5", r.root_attrs)
    return d.text_row(d.detected, r.render_text(), metadata=md, title=title)


def _wordperfect(d: _Doc) -> ExtractResult:
    from .wpd import BODY_REFUSAL, parse_wpd_header

    # WordPerfectParser parity, metadata-first by design: the
    # public 16-byte WPFF prefix extracts faithfully; the
    # function-code body is refused (kernels/wpd.py docstring)
    h = parse_wpd_header(d.data)
    md = {"Content-Type": [d.detected],
          "wpd-version": [h.version_label],
          "wpd-major-version": [str(h.major_version)],
          "wpd-minor-version": [str(h.minor_version)],
          "wpd-file-type": [str(h.file_type)],
          "wpd-doc-area-pointer": [str(h.doc_area_pointer)],
          "body-refusal": [BODY_REFUSAL]}
    return d.meta_row(d.detected, md)


def _dwg(d: _Doc) -> ExtractResult:
    from .dwg import BODY_REFUSAL as _DWG_REFUSAL
    from .dwg import parse_dwg_version

    # DWGParser parity, detection-first by design: the public
    # 6-byte version signature extracts faithfully; the
    # version-specific header sections are refused
    # (kernels/dwg.py docstring)
    ver, release = parse_dwg_version(d.data)
    md = {"Content-Type": [d.detected],
          "dwg-version": [ver],
          "dwg-release": [release],
          "body-refusal": [_DWG_REFUSAL]}
    return d.meta_row(d.detected, md)


def _midi(d: _Doc) -> ExtractResult:
    from .midi import parse_midi

    # MidiParser parity: track/patch facts + embedded text
    # (karaoke lyrics, track names) as the body
    r = parse_midi(d.data, deadline=d.deadline)
    md = {"Content-Type": ["audio/midi"],
          "midi-format": [str(r.format)],
          "midi-tracks": [str(r.n_tracks)],
          "midi-division": [str(r.division)]}
    if r.track_names:
        md["midi-track-names"] = r.track_names
    if r.copyright:
        md["midi-copyright"] = [r.copyright]
    return d.text_row("audio/midi", r.text, metadata=md)


def _font(d: _Doc) -> ExtractResult:
    from .font import parse_font

    # metadata-only (TrueTypeParser parity: names + counts)
    md = parse_font(d.data)
    title = md.get("font-name", md.get("font-family", [None]))[0]
    if title:
        md["title"] = [title]
    return d.row(md["Content-Type"][0], metadata=md, title=title,
                 status=STATUS_OK)


def _executable(d: _Doc) -> ExtractResult:
    from .executable import parse_executable

    # metadata-only by design (ExecutableParser parity: Tika
    # 1.20 reports platform facts, never text)
    md = parse_executable(d.data)
    return d.row(md["Content-Type"][0], metadata=md, status=STATUS_OK)


def _ole2(d: _Doc) -> ExtractResult:
    from .ole2 import Ole2File
    from .xls import extract_xls

    data, cfg, deadline = d.data, d.cfg, d.deadline
    ole = Ole2File(data)  # structure errors -> KernelError -> failed
    # dispatch on ROOT-LEVEL stream names: an embedded Workbook
    # inside a .doc's ObjectPool must not reroute the whole file
    # (tree-scoped lookups, invariant 12); flat legacy writers
    # degrade to the all-entries view inside root_children()
    streams = {e.name for e in ole.root_children() if e.obj_type == 2}

    if "Workbook" in streams or "Book" in streams:
        from .olemeta import extract_ole_properties
        from .tikameta import xls_tika_metadata

        r = extract_xls(data, deadline=deadline)
        # Tika-1.20-parity key set from the OLE2 property sets (23
        # distinct keys on the reference fixture,
        # test/TikaProcessTest.java:124-128) + engine fields
        summary, docsum = extract_ole_properties(ole)
        md = xls_tika_metadata(summary, docsum)
        md["sheet-names"] = r.sheet_names
        md["n-cells"] = [str(r.n_cells)]
        if r.biff_version != 8:
            md["biff-version"] = [str(r.biff_version)]
        return d.text_row("application/vnd.ms-excel", r.text, metadata=md)
    if "WordDocument" in streams:
        from .doc import embedded_objects, extract_doc_ole
        from .ole2 import ScopedOle
        from .xls import extract_xls_ole

        r = extract_doc_ole(ole, deadline=deadline)
        # ObjectPool payload recursion: packaged bytes re-enter the
        # dispatcher; embedded compound docs run their office
        # kernel over a tree-scoped view (never re-serialized)
        doc_text = r.text
        emb_names: list[str] = []
        for obj in embedded_objects(ole):
            label = obj.filename or obj.name
            if obj.kind == "bytes":
                t2 = d.recurse_quietly(label, obj.data)
            elif d.embed_budget <= 0:
                # office sub-storages would parse below;
                # budget exhausted -> flag, no text
                d.embed_limit = True
                t2 = None
            else:
                try:
                    sub = ScopedOle(ole, obj.storage)
                    # classify by DIRECT children only — the
                    # subtree set would let a nested
                    # ObjectPool's Workbook misroute an
                    # embedded Word doc (invariant 12)
                    subnames = {e.name for e in sub.root_children()
                                if e.obj_type == 2}
                    if subnames & {"Workbook", "Book"}:
                        t2 = extract_xls_ole(sub, deadline=deadline).text
                    elif "WordDocument" in subnames:
                        t2 = extract_doc_ole(sub, deadline=deadline).text
                    elif "PowerPoint Document" in subnames:
                        from .ppt import extract_ppt_ole

                        t2 = extract_ppt_ole(sub, deadline=deadline).text
                    else:
                        t2 = None
                    if t2 is not None:
                        # tree-scoped office parse: record the
                        # child path (no dispatcher re-entry)
                        d.embed_paths.append(d.child_path(label))
                except DeadlineError:
                    raise
                except Exception:
                    t2 = None  # corrupt embed never fails the doc
            if t2:
                doc_text += embedded_block(label, t2)
                emb_names.append(label)
        md = {"Content-Type": ["application/msword"],
              "n-text-pieces": [str(r.n_pieces)],
              "n-chars-main": [str(r.n_chars_main)]}
        if r.n_chars_footnotes:
            md["n-chars-footnotes"] = [str(r.n_chars_footnotes)]
        if r.n_chars_headers:
            md["n-chars-headers"] = [str(r.n_chars_headers)]
        if r.n_embedded_objects:
            md["n-embedded-objects"] = [str(r.n_embedded_objects)]
        if emb_names:
            md["embedded-names"] = emb_names
        return d.text_row("application/msword", doc_text, metadata=md)
    if "VisioDocument" in streams:
        from .visio import BODY_REFUSAL, VSD_MIME, extract_visio

        # metadata-first by design: signature + OLE2 property
        # sets extract faithfully; the HDGF LZW-variant body is
        # refused rather than risking silently garbled text
        r = extract_visio(ole, deadline=deadline)
        md = {"Content-Type": [VSD_MIME],
              "visio-signature": [r.signature],
              "visio-stream-bytes": [str(r.stream_bytes)],
              "body-refusal": [BODY_REFUSAL]}
        for k in ("title", "subject", "author", "keywords",
                  "comments", "last_author", "app_name",
                  "create_dtm", "last_save_dtm"):
            v = r.summary.get(k)
            if v not in (None, ""):
                md[k] = [str(v)]
        for k in ("company", "manager", "category"):
            v = r.docsum.get(k)
            if v not in (None, ""):
                md[k] = [str(v)]
        title = r.summary.get("title")
        return d.meta_row(VSD_MIME, md, title=str(title) if title else None)
    ppt_mime = "application/vnd.ms-powerpoint"

    def old_ppt(version: str, facts: dict) -> ExtractResult:
        from .ppt import OLD_PPT_REFUSAL

        md = {"Content-Type": [ppt_mime],
              "ppt-format": [f"powerpoint-{version}"], **facts,
              "refusal-reason": [OLD_PPT_REFUSAL]}
        return d.row(ppt_mime, status=STATUS_UNSUPPORTED, metadata=md,
                     error=f"old-format PowerPoint {version}, "
                           "refused by design")

    if "PP40" in streams:
        # PowerPoint 4.x: Tika 1.20's POIFSContainerDetector
        # keys the PowerPoint type on a PP40 root stream; POI
        # HSLF has no pre-97 reader — structured refusal
        return old_ppt("4.x", {})
    if "PowerPoint Document" in streams:
        from .ppt import doc_file_version, extract_ppt

        ver = doc_file_version(ole)
        if ver is not None and ver != 0x03F4:
            # PowerPoint 95: Current User carries a pre-97
            # docFileVersion ([MS-PPT] §2.3.2 requires 0x03F4
            # for 97+) — the same check POI's CurrentUserAtom
            # uses before OldPowerPointFormatException
            return old_ppt("95", {"ppt-doc-file-version": [str(ver)]})
        r = extract_ppt(data, deadline=deadline)
        return d.text_row(ppt_mime, r.text,
                          metadata={"Content-Type": [ppt_mime],
                                    "n-text-atoms": [str(r.n_atoms)]})
    from .msg import MSG_MIME, extract_msg, is_msg

    if is_msg(list(streams)):
        r = extract_msg(ole, recurse=d.recurse,
                        embed_budget=max(d.embed_budget, 0))
        # embedded MESSAGES descend inside msg.py (tree-scoped,
        # no dispatcher re-entry): merge their relative paths /
        # budget-floor flag into the reference-named keys
        d.embed_paths.extend(f"{d.embed_path}/{p}" for p in r.embedded_paths)
        if r.embed_limit_hit:
            d.embed_limit = True
        md = {k: [v] for k, v in r.metadata.items()}
        md["n-recipients"] = [str(r.n_recipients)]
        md["n-attachments"] = [str(r.n_attachments)]
        return d.text_row(MSG_MIME, r.text, title=r.subject, metadata=md)
    # bare embedded-object container (the shape OOXML
    # word/embeddings/oleObject*.bin takes): a root-level
    # Ole10Native packager record wraps a real payload —
    # re-dispatch it like a wrapper (gzip posture)
    native = next((e for e in ole.root_children()
                   if e.obj_type == 2 and e.name == "\x01Ole10Native"), None)
    if native is not None and d.embed_budget > 0:
        from .doc import _parse_ole10native

        fname, payload = _parse_ole10native(ole.read_entry(native))
        if payload is not None:
            wrapper_md = {"Ole10Native-Wrapper": ["true"]}
            if fname:
                wrapper_md["embedded-filename"] = [fname]
            return d.rewrap(fname or d.url, payload, wrapper_md, nested=True)
    # valid compound file without a known text payload
    return d.row(d.detected, status=STATUS_UNSUPPORTED,
                 error=f"OLE2 streams {sorted(streams)[:8]} have no v1 parser")


def _djvu(d: _Doc) -> ExtractResult:
    from .djvu import extract_djvu

    # DjVu header facts (kernels/djvu.py): page count / dims /
    # dpi; JB2/IW44 page decode out of scope by design
    r = extract_djvu(d.data)
    md = {"Content-Type": [d.detected],
          "djvu-kind": [r.kind],
          "djvu-pages": [str(r.n_pages)]}
    if r.width is not None:
        md["Image Width"] = [str(r.width)]
        md["Image Height"] = [str(r.height)]
    if r.dpi is not None:
        md["djvu-dpi"] = [str(r.dpi)]
    return d.row(d.detected, text_extracted="", metadata=md, status=STATUS_OK)


def _image(d: _Doc) -> ExtractResult:
    # Tika ImageParser behavior: dimensions into metadata from the
    # headers only (no pixel decode in the text pipeline), empty body
    from .image import exif_metadata, image_dimensions

    dims = image_dimensions(d.data)
    if dims is None:
        return d.row(d.detected, status=STATUS_UNSUPPORTED,
                     error="image headers unparseable")
    mime_kind, iw, ih = dims
    md = {"Content-Type": [mime_kind],
          "Image Width": [str(iw)],
          "Image Height": [str(ih)]}
    for k, v in exif_metadata(d.data).items():
        md[k] = [v]
    return d.row(mime_kind, text_extracted="", metadata=md, status=STATUS_OK)


def _audio_md(am, with_bitrate: bool) -> dict[str, list[str]]:
    md = {"Content-Type": [am.mime],
          "samplerate": [str(am.sample_rate)],
          "channels": [str(am.channels)]}
    if am.bits_per_sample:
        md["bits"] = [str(am.bits_per_sample)]
    if am.duration_ms:
        md["duration-ms"] = [str(am.duration_ms)]
    if with_bitrate and am.bitrate_kbps:
        md["bitrate-kbps"] = [str(am.bitrate_kbps)]
    return md


def _pcm_audio(d: _Doc) -> ExtractResult:
    # AudioParser parity (Tika 1.20 routes .wav/.aiff/.au via
    # javax.sound): stream properties into metadata, empty body.
    # AIFF text chunks and the .au info string surface too.
    from .audio import parse_aiff, parse_au, parse_wav_header

    am, tags, info = None, {}, None
    if d.detected == "audio/x-aiff":
        am, tags = parse_aiff(d.data) or (None, {})
    elif d.detected == "audio/basic":
        am, info = parse_au(d.data) or (None, None)
    else:
        am = parse_wav_header(d.data)
    if am is None:
        return d.row(d.detected, status=STATUS_UNSUPPORTED,
                     error="audio headers unparseable")
    md = _audio_md(am, with_bitrate=False)
    for k, v in tags.items():
        md[k] = [v]
    if info:
        md["audio-info"] = [info]
    return d.row(am.mime, text_extracted="", title=tags.get("title"),
                 metadata=md, status=STATUS_OK)


def _coded_audio(d: _Doc) -> ExtractResult:
    # header-level audio metadata (Tika Mp3Parser / FLAC / Ogg
    # posture: stream properties into metadata, empty body)
    from .audio import (parse_flac_comments, parse_flac_streaminfo,
                        parse_id3_tags, parse_mp3_header,
                        parse_ogg_comments, parse_ogg_header)

    header, comments = {
        "audio/flac": (parse_flac_streaminfo, parse_flac_comments),
        "audio/mpeg": (parse_mp3_header, parse_id3_tags),
        "audio/ogg": (parse_ogg_header, parse_ogg_comments)}[d.detected]
    am = header(d.data)
    if am is None:
        return d.row(d.detected, status=STATUS_UNSUPPORTED,
                     error="audio headers unparseable")
    md = _audio_md(am, with_bitrate=True)
    tags = comments(d.data)
    for k, v in tags.items():
        md[k] = [v]
    return d.row(am.mime, text_extracted="", title=tags.get("title"),
                 metadata=md, status=STATUS_OK)


# Deliberate refusals say so in metadata (r4 verdict: a RAR refusal
# must be distinguishable from a gap).
_BY_DESIGN = {
    "application/vnd.rar": "proprietary format, refused by design",
}


def _unsupported(d: _Doc) -> ExtractResult:
    # recognized-but-unparsed (media, ...) and unknown binary
    reason = _BY_DESIGN.get(d.detected)
    return d.row(d.detected, status=STATUS_UNSUPPORTED,
                 metadata={"refusal-reason": [reason]} if reason else {},
                 error=(f"no parser for {d.detected}"
                        + (f" ({reason})" if reason else "")))


Route = Callable[[_Doc], ExtractResult]

ROUTES: dict[str, Route] = {
    "application/xml": _xml,
    "text/html": _html,
    "application/pdf": _pdf,
    "application/rtf": _rtf,
    "message/rfc822": _eml,
    **dict.fromkeys(("application/x-npy", "application/x-safetensors",
                     "application/x-gguf"), _tensor),
    "application/postscript": _postscript,
    "application/x-shockwave-flash": _swf,
    "application/x-debian-package": _deb,
    "application/x-rpm": _rpm,
    "application/x-ms-shortcut": _lnk,
    "multipart/related": _mhtml,
    "application/vnd.ms-tnef": _tnef,
    "application/x-sqlite3": _sqlite,
    "application/vnd.ms-outlook-pst": _pst,
    **dict.fromkeys(("text/vcard", "text/calendar"), _vcal),
    "application/mbox": _mbox,
    "application/json": _json,
    "application/zip": _zip,
    **dict.fromkeys(_CODECS, _codec),
    "application/x-lha": _lha,
    "application/x-iso9660-image": _iso,
    "application/vnd.ms-htmlhelp": _chm,
    "application/x-dbf": _dbf,
    "application/x-matlab-data": _matlab,
    "application/vnd.ms-excel": _raw_biff,
    "video/x-flv": _flv,
    "application/x-bittorrent": _torrent,
    "application/x-orc": _orc,
    "application/x-parquet": _parquet,
    "application/avro": _avro,
    "application/applefile": _applefile,
    "application/x-bplist": _bplist,
    "application/java-vm": _javaclass,
    **dict.fromkeys(("image/wmf", "image/emf"), _metafile),
    "application/x-netcdf": _netcdf,
    "application/x-hdf5": _hdf5,
    "application/vnd.wordperfect": _wordperfect,
    "image/vnd.dwg": _dwg,
    "audio/midi": _midi,
    **dict.fromkeys(("application/x-font-ttf", "application/x-font-otf",
                     "application/font-woff", "application/font-woff2"),
                    _font),
    **dict.fromkeys(("application/x-executable", "application/x-msdownload",
                     "application/x-mach-binary"), _executable),
    **dict.fromkeys(_ARCHIVES, _archive),
    "application/x-tika-msoffice": _ole2,
    "image/vnd.djvu": _djvu,
    **dict.fromkeys(("audio/x-aiff", "audio/basic", "audio/x-wav"),
                    _pcm_audio),
    **dict.fromkeys(("audio/flac", "audio/mpeg", "audio/ogg"), _coded_audio),
}


def _fallback_route(detected: str, declared: str | None) -> Route:
    """The route for a MIME with no ROUTES entry, by prefix."""
    if detected.startswith("text/"):
        declared_base = (declared or "").split(";")[0].strip().lower()
        return _json if declared_base == "application/json" else _text
    if detected.startswith("image/"):
        return _image
    return _unsupported


def extract_document(
    url: str,
    content_type: str | None,
    data: bytes | None,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    true_size: int | None = None,
    embed_depth: int = 0,
    _deadline: float | None = None,
    _embed_path: str = "",
) -> ExtractResult:
    """`true_size` lets the Spark layer ship only a 1KB sniff head for
    oversize documents (single-scan short-circuit) while the kernel still
    reports the document's real size in the status row.

    `embed_depth` tracks re-entry for EMBEDDED documents (.msg attachment
    payloads and embedded messages, .doc ObjectPool objects); recursion
    stops when it reaches cfg.max_embed_depth — the Spark-side analog of
    the reference's guarded embedded-document auto-detect parse
    (ref: tika-fork-main ConfigurableAutoDetectParser.java:131-165,
    installed at TikaForkMain.java:297)."""
    t0 = time.monotonic()
    deadline = t0 + cfg.timeout_ms / 1000.0 if cfg.timeout_ms > 0 else None
    # nested re-dispatch (embedded docs, gzip inner payload) inherits the
    # OUTER document's deadline: N embedded payloads must share one
    # per-document budget, not get N fresh ones (bomb posture, O4/O20)
    if _deadline is not None:
        deadline = _deadline if deadline is None else min(deadline, _deadline)
    data = data or b""
    d = _Doc(url, content_type or None, data, cfg, t0, deadline,
             true_size if true_size is not None else len(data),
             embed_depth, _embed_path)

    # size cap BEFORE any parsing (the Spark plan additionally filters these
    # rows out pre-shuffle; this is the kernel-level backstop)
    if d.n_bytes > cfg.max_bytes:
        return d.row(mime.detect_mime(data[:1024], d.declared, url),
                     status=STATUS_OVERSIZE,
                     error=f"document size {d.n_bytes} exceeds cap {cfg.max_bytes}")

    d.detected = mime.detect_mime(data, d.declared, url)
    try:
        route = ROUTES.get(d.detected) or _fallback_route(d.detected, d.declared)
        return route(d)
    except DeadlineError as e:
        return d.row(d.detected, status=STATUS_TIMEOUT, error=str(e))
    except EncryptedError as e:
        # honest refusal for password-protected / unsupported-crypt docs
        # (the empty-user-password common case decrypts transparently and
        # never reaches here) — refusal kind is queryable metadata
        return d.row(d.detected, status=STATUS_UNSUPPORTED,
                     metadata={"encryption": [e.kind]},
                     error=f"EncryptedError: {e}")
    except (DepthLimitError, InflateRatioError, KernelError) as e:
        return d.row(d.detected, status=STATUS_FAILED,
                     error=f"{type(e).__name__}: {e}")
    except Exception as e:  # absolute backstop: a poisoned doc never kills a task
        return d.row(d.detected, status=STATUS_FAILED,
                     error=f"{type(e).__name__}: {e}")
