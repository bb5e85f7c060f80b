"""RSS / Atom / RSS-1.0(RDF) feed kernel — from scratch.

Tika 1.20 parity: org.apache.tika.parser.feed.FeedParser (ROME under
the hood, reached by the reference through the tika-parsers:1.20 jar —
build.gradle; no feed logic in its own tree) reports the feed title
and description as metadata and renders each entry's title +
description as the text body. This kernel walks the shared
``xml_events`` scanner (kernels/xmlparse.py) with a local-name stack,
namespace-prefix-agnostic, covering the three wire formats a crawl
sees:

- RSS 2.0: ``rss > channel > (title|description|item...)``, entry
  links as element text;
- Atom (RFC 4287): ``feed > (title|subtitle|entry...)``, entry links
  as ``<link href=...>`` (rel=alternate or unset wins);
- RSS 1.0: ``rdf:RDF > (channel|item...)`` — channel and items are
  SIBLINGS under the RDF root.

Output contract (pinned by the extract_feed_text oracle): body text is
one line per entry field in document order — entry title, then its
summary/description when present; the feed title is the document
title (never duplicated into the body, same posture as HTML <title>).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .entities import decode_entities
from .errors import DepthLimitError
from .xmlparse import local_name, xml_events

_MAX_ENTRIES = 4096
_MAX_DEPTH = 64

# entry-level text fields, normalized across dialects
_SUMMARY_NAMES = {"description", "summary", "content", "encoded"}
_DATE_NAMES = {"pubDate", "updated", "published", "date"}


@dataclass
class FeedEntry:
    title: str | None = None
    link: str | None = None
    summary: str | None = None
    date: str | None = None


@dataclass
class FeedResult:
    format: str
    title: str | None
    description: str | None
    entries: list[FeedEntry] = field(default_factory=list)
    truncated_entries: bool = False

    def render_text(self) -> str:
        lines: list[str] = []
        for e in self.entries:
            if e.title:
                lines.append(e.title)
            if e.summary:
                lines.append(e.summary)
        return "".join(ln + "\n" for ln in lines)


_ATOM_NS = "http://www.w3.org/2005/Atom"
_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def sniff_feed_root(root_tag: str | None,
                    root_attrs: dict[str, str] | None = None) -> str | None:
    """Map a root element to a feed format ('rss'/'atom'/'rdf').

    <rss> is unambiguous; <feed> counts as Atom only when the Atom
    namespace is declared on the root (a generic document may use a
    <feed> element for anything — Tika's detector keys on the
    namespace too); rdf:RDF similarly requires the RDF namespace."""
    if not root_tag:
        return None
    ln = local_name(root_tag)
    attrs = root_attrs or {}
    if ln == "rss":
        return "rss"
    if ln == "feed":
        return "atom" if _ATOM_NS in attrs.values() else None
    if ln == "RDF":
        return "rdf" if _RDF_NS in attrs.values() else None
    return None



@dataclass
class SitemapResult:
    kind: str                   # 'urlset' | 'sitemapindex'
    urls: list[str] = field(default_factory=list)
    lastmods: list[str] = field(default_factory=list)  # aligned, "" = none
    truncated: bool = False


def sniff_sitemap_root(root_tag: str | None,
                       root_attrs: dict[str, str] | None = None
                       ) -> str | None:
    """urlset / sitemapindex roots (sitemaps.org protocol). The
    namespace is required by the protocol, but real-world sitemaps
    frequently omit it — the element names are distinctive enough."""
    if not root_tag:
        return None
    ln = local_name(root_tag)
    return ln if ln in ("urlset", "sitemapindex") else None


def parse_sitemap(xtext: str, max_urls: int = 50000,
                  deadline: float | None = None) -> SitemapResult:
    """Single event pass: <url><loc>/<lastmod> under urlset,
    <sitemap><loc> under sitemapindex. 50k is the protocol's own
    per-file URL cap."""
    kind = "urlset"
    urls: list[str] = []
    mods: list[str] = []
    truncated = False
    stack: list[str] = []
    capture: str | None = None
    buf: list[str] = []
    cur_loc: str | None = None
    cur_mod = ""

    for ev in xml_events(xtext, deadline=deadline):
        k = ev[0]
        if k == "start":
            name = local_name(ev[1])
            if len(stack) + 1 > _MAX_DEPTH:
                raise DepthLimitError("sitemap: nesting too deep")
            if not stack:
                kind = sniff_sitemap_root(ev[1]) or "urlset"
            if len(stack) == 2 and name in ("loc", "lastmod") \
                    and not ev[3]:
                capture, buf = name, []
            if not ev[3]:
                stack.append(ev[1])
        elif k == "end":
            if not stack:
                continue
            name = local_name(stack[-1])
            stack.pop()
            if capture and name == capture:
                val = "".join(buf).strip()
                if capture == "loc" and cur_loc is None:
                    cur_loc = val or None
                elif capture == "lastmod":
                    cur_mod = cur_mod or val
                capture = None
            if len(stack) == 1 and name in ("url", "sitemap"):
                if cur_loc:
                    if len(urls) >= max_urls:
                        truncated = True
                    else:
                        urls.append(cur_loc)
                        mods.append(cur_mod)
                cur_loc, cur_mod = None, ""
        elif k == "text" and capture:
            buf.append(decode_entities(ev[1]))
        elif k == "cdata" and capture:
            buf.append(ev[1])
    return SitemapResult(kind=kind, urls=urls, lastmods=mods,
                         truncated=truncated)


def parse_feed(xtext: str, deadline: float | None = None) -> FeedResult:
    """Event-driven single pass; collects channel/feed metadata and the
    per-entry (title, link, summary, date) tuples."""
    fmt = "unknown"
    feed_title: str | None = None
    feed_desc: str | None = None
    entries: list[FeedEntry] = []
    truncated = False

    stack: list[str] = []          # local names
    cur: FeedEntry | None = None
    capture: str | None = None     # which field the open element feeds
    buf: list[str] = []

    def entry_depth() -> int:
        # rss: /rss/channel/item (3); atom: /feed/entry (2);
        # rdf: /RDF/item (2)
        return 3 if fmt == "rss" else 2

    for ev in xml_events(xtext, deadline=deadline):
        kind = ev[0]
        if kind == "start":
            name = local_name(ev[1])
            self_closing = ev[3]
            depth = len(stack) + 1
            if depth > _MAX_DEPTH:
                raise DepthLimitError("feed: element nesting too deep")
            if depth == 1:
                fmt = sniff_feed_root(ev[1], ev[2]) or "unknown"
            in_entry = cur is not None
            if not in_entry and name in ("item", "entry") and \
                    depth <= entry_depth():
                if len(entries) >= _MAX_ENTRIES:
                    truncated = True
                else:
                    cur = FeedEntry()
                    entries.append(cur)
            elif in_entry and name == "link" and "href" in ev[2]:
                # Atom link element: alternate (or unset) rel wins
                rel = ev[2].get("rel", "alternate")
                if rel == "alternate" and not cur.link:
                    cur.link = ev[2]["href"].strip()
            if not self_closing:
                # open a text capture for the fields we keep
                parent_is_channel = (
                    stack and local_name(stack[-1]) in ("channel", "feed"))
                if in_entry:
                    if name == "title":
                        capture, buf = "e.title", []
                    elif name in _SUMMARY_NAMES:
                        capture, buf = "e.summary", []
                    elif name == "link":
                        capture, buf = "e.link", []
                    elif name in _DATE_NAMES:
                        capture, buf = "e.date", []
                elif parent_is_channel or (fmt == "rdf" and stack
                                           and local_name(stack[-1])
                                           == "channel"):
                    if name == "title":
                        capture, buf = "f.title", []
                    elif name in ("description", "subtitle"):
                        capture, buf = "f.desc", []
                stack.append(ev[1])
        elif kind == "end":
            if stack:
                name = local_name(stack[-1])
                stack.pop()
                if capture:
                    val = "".join(buf).strip()
                    if capture == "e.title" and name == "title":
                        if cur is not None and not cur.title:
                            cur.title = val or None
                        capture = None
                    elif capture == "e.summary" and name in _SUMMARY_NAMES:
                        if cur is not None and not cur.summary:
                            cur.summary = val or None
                        capture = None
                    elif capture == "e.link" and name == "link":
                        if cur is not None and not cur.link and val:
                            cur.link = val
                        capture = None
                    elif capture == "e.date" and name in _DATE_NAMES:
                        if cur is not None and not cur.date:
                            cur.date = val or None
                        capture = None
                    elif capture == "f.title" and name == "title":
                        if feed_title is None:
                            feed_title = val or None
                        capture = None
                    elif capture == "f.desc" and name in ("description",
                                                          "subtitle"):
                        if feed_desc is None:
                            feed_desc = val or None
                        capture = None
                if cur is not None and name in ("item", "entry") and \
                        len(stack) < entry_depth():
                    cur = None
        elif kind == "text" and capture:
            buf.append(decode_entities(ev[1]))
        elif kind == "cdata" and capture:
            buf.append(ev[1])

    return FeedResult(format=fmt, title=feed_title, description=feed_desc,
                      entries=entries, truncated_entries=truncated)
