"""Lenient HTML parser: body text, links, title, and density blocks in one walk.

Re-specifies (from scratch, event-driven, no DOM materialization) the
reference's SAX pipeline:

- element safety sets: Tika DefaultHtmlMapper's safe set extended by the
  ~30 extra elements of ExtendedHtmlMapper
  (ref: main/ExtendedHtmlMapper.java:20-53; note the reference's "LEGENG"
  typo means <legend> never matched there — we include it properly).
- discard subtrees: script/style — contents never reach text OR links
  (ref: DefaultHtmlMapper discard set; discarded elements emit no SAX
  events, so the link handler's dead "script" branch never fires).
- body-only text: only events under <body> reach the writer
  (ref: main/TikaBodyContentHandler.java:223-243 XPath matcher).
- SPAN/DIV separator rules live in textout.TextWriter (ref :143-175).
- link extraction over the 13-element table with per-kind attribute
  mapping, nested-builder stack, alt-text injection and its ordering
  quirks (ref: main/TikaLinkContentHandler.java:29-203):
    * img/input: builder pushed BEFORE alt chars -> own anchor gets alt
    * area: alt chars emitted BEFORE push -> only ENCLOSING links get alt
    * form: GET-only; input: type=image only
    * alt text feeds link anchors only, never body text (the injection
      happens inside the link handler in the reference, not the writer)
- anchor whitespace collapse \\s+ -> " " + trim
  (ref: main/TikaLinkContentHandler.java:263-271; enabled at
  main/TikaForkMain.java:50).

Additionally segments body text into blocks with word/anchor-word counts
for boilerplate classification (kernels/boilerplate.py).
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

from .entities import decode_entities
from .errors import DeadlineError, DepthLimitError, WriteLimitReached
from .textout import TextWriter

# --- element sets -----------------------------------------------------------

# Tika 1.20 DefaultHtmlMapper safe-element set (public Apache Tika source).
_TIKA_DEFAULT_SAFE = {
    "h1", "h2", "h3", "h4", "h5", "h6", "p", "pre", "blockquote", "q",
    "ul", "ol", "menu", "li", "dl", "dt", "dd",
    "table", "thead", "tbody", "tr", "th", "td", "address",
    "a", "map", "area", "img", "frameset", "frame", "iframe",
    "object", "param", "ins", "del",
}

# ExtendedHtmlMapper additions (ref: main/ExtendedHtmlMapper.java:20-53).
_EXTENDED_SAFE = {
    "br", "hr", "form", "div", "span", "b", "strong", "i", "em", "small",
    "mark", "sub", "sup", "abbr", "cite", "code", "kbd", "samp", "article",
    "aside", "details", "figcaption", "header", "label", "legend", "nav",
    "s", "summary", "time",
}

SAFE_ELEMENTS = _TIKA_DEFAULT_SAFE | _EXTENDED_SAFE

DISCARD_ELEMENTS = {"script", "style"}

VOID_ELEMENTS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
}

# Elements that may appear before <body> without implicitly opening it.
_HEAD_SCOPE = {"html", "head", "meta", "title", "link", "base", "style", "script"}

# Link-bearing elements (ref: main/TikaLinkContentHandler.java:29-31).
LINK_ELEMENTS = {
    "a", "img", "input", "link", "form", "embed", "source",
    "track", "object", "frame", "iframe", "area", "script",
}

# Elements whose end emits a newline character through the tee, mirroring
# Tika's XHTML layer (its golden on the reference's html fixture is 2,648
# chars = our raw body text + one newline per </p> and <br>; the fixture has
# exactly 7 <p> + 3 <br>). div/span are deliberately NOT here — their
# separators come from the writer rules (ref: TikaBodyContentHandler.java).
ENDLINE_ELEMENTS = {
    "p", "br", "h1", "h2", "h3", "h4", "h5", "h6", "li", "dt", "dd", "tr",
    "caption", "pre", "blockquote", "address", "hr", "form", "ul", "ol",
    "dl", "table",
}

# Elements whose start auto-closes an open <p> (HTML5 parsing rules subset).
_P_CLOSERS = {
    "p", "div", "ul", "ol", "li", "dl", "dt", "dd", "table", "blockquote",
    "pre", "form", "hr", "address", "h1", "h2", "h3", "h4", "h5", "h6",
    "article", "aside", "section", "header", "footer", "nav",
}

# Block-level boundaries for boilerplate segmentation.
BLOCK_ELEMENTS = {
    "div", "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "table", "tr", "td", "th", "blockquote", "pre", "article", "section",
    "header", "footer", "nav", "aside", "form", "hr", "br", "dl", "dt",
    "dd", "figure", "figcaption", "summary", "details", "body",
}

_WS_COLLAPSE = re.compile(r"\s+")
_TAGNAME = re.compile(r"[a-zA-Z][a-zA-Z0-9:-]*")
_ATTR = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)


# --- results ----------------------------------------------------------------

@dataclass
class Link:
    type: str
    source_uri: str
    target_uri: str
    title: str
    anchor: str
    rel: str
    params: dict[str, str] = field(default_factory=dict)


@dataclass
class Block:
    text: str
    n_words: int
    n_anchor_words: int
    n_chars: int
    n_anchor_chars: int
    tag: str

    @property
    def link_density(self) -> float:
        return self.n_anchor_chars / self.n_chars if self.n_chars else 0.0


@dataclass
class HtmlResult:
    text: str
    title: str | None
    links: list[Link]
    blocks: list[Block]
    write_limit_reached: bool
    # <meta name=... content=...> pairs (first occurrence wins); only
    # populated when the walk runs with meta_tags=True (opt-in — the
    # reference fixture's pinned metadata-key count predates this)
    meta: dict[str, str] = field(default_factory=dict)


class _LinkBuilder:
    """Mirror of the reference's LinkBuilder (main/TikaLinkContentHandler.java:206-273)."""

    __slots__ = ("type", "uri", "title", "rel", "text", "params")

    def __init__(self, type_: str):
        self.type = type_
        self.uri = ""
        self.title = ""
        self.rel = ""
        self.text: list[str] = []
        self.params: dict[str, str] = {}

    def set_uri(self, v):  self.uri = v or ""
    def set_title(self, v): self.title = v or ""
    def set_rel(self, v):   self.rel = v or ""

    def set_param(self, k, v):
        if v is not None:
            self.params[k] = v

    def characters(self, s: str):
        self.text.append(s)

    def build(self, base_uri: str) -> Link:
        # whitespace collapsed, as the reference does (TikaForkMain.java:50)
        anchor = _WS_COLLAPSE.sub(" ", "".join(self.text)).strip()
        return Link(self.type, base_uri, self.uri, self.title, anchor,
                    self.rel, self.params)


# --- tokenizer ---------------------------------------------------------------

_RAW_CLOSE = {
    "script": re.compile(r"</script\s*>", re.IGNORECASE),
    "style": re.compile(r"</style\s*>", re.IGNORECASE),
}


def tokenize(s: str, deadline: float | None = None):
    """Yield lenient HTML events:
    ('text', str) | ('start', name, attrs, self_closing) | ('end', name)
    Comments, doctype, CDATA and processing instructions are dropped.
    script/style contents are consumed raw (no tag parsing inside).
    """
    i, n = 0, len(s)
    tick = 0
    while i < n:
        tick += 1
        if deadline is not None and (tick & 0xFF) == 0 and time.monotonic() > deadline:
            raise DeadlineError("html parse deadline exceeded")
        lt = s.find("<", i)
        if lt == -1:
            yield ("text", s[i:])
            break
        if lt > i:
            yield ("text", s[i:lt])
        if lt + 1 >= n:
            yield ("text", s[lt:])
            break
        c = s[lt + 1]
        if c == "!":
            if s.startswith("<!--", lt):
                end = s.find("-->", lt + 4)
                i = n if end == -1 else end + 3
            elif s.startswith("<![CDATA[", lt):
                end = s.find("]]>", lt + 9)
                if end == -1:
                    yield ("text", s[lt + 9:])
                    i = n
                else:
                    yield ("text", s[lt + 9: end])
                    i = end + 3
            else:  # doctype or bogus declaration
                end = s.find(">", lt + 1)
                i = n if end == -1 else end + 1
            continue
        if c == "?":  # processing instruction
            end = s.find(">", lt + 1)
            i = n if end == -1 else end + 1
            continue
        if c == "/":
            m = _TAGNAME.match(s, lt + 2)
            end = s.find(">", lt + 1)
            if m and end != -1:
                yield ("end", m.group(0).lower())
                i = end + 1
            else:
                yield ("text", "<")
                i = lt + 1
            continue
        m = _TAGNAME.match(s, lt + 1)
        if not m:
            yield ("text", "<")
            i = lt + 1
            continue
        name = m.group(0).lower()
        j = m.end()
        attrs: dict[str, str] = {}
        self_closing = False
        while j < n:
            ch = s[j]
            if ch == ">":
                j += 1
                break
            if ch == "/" and j + 1 < n and s[j + 1] == ">":
                self_closing = True
                j += 2
                break
            if ch in " \t\r\n\x0c":
                j += 1
                continue
            am = _ATTR.match(s, j)
            if not am:
                j += 1
                continue
            aname = am.group(1).lower()
            aval = am.group(2)
            if aval is None:
                aval = ""
            elif aval[:1] in "\"'":
                aval = aval[1:-1]
            if aname not in attrs:
                attrs[aname] = decode_entities(aval)
            j = am.end()
        yield ("start", name, attrs, self_closing)
        i = j
        if name in ("script", "style") and not self_closing:
            cm = _RAW_CLOSE[name].search(s, i)
            if cm:
                i = cm.end()
            else:
                i = n
            yield ("end", name)


def scan_html_meta(
    s: str,
    max_depth: int = 200,
    deadline: float | None = None,
    meta_tags: bool = False,
) -> HtmlResult:
    """Structure-only walk for the metadata-only fast path (O26): title,
    depth guard, and deadline — no text assembly, no links, no blocks, no
    event generator, no attribute materialization.

    Byte-equivalent observables with the full walker (status/exception,
    title) by construction: identical tag-boundary rules (same _TAGNAME /
    _ATTR consumption, comment/CDATA/doctype/PI handling, script/style raw
    skip) and identical stack semantics (void elements, self-closing,
    <p> auto-close, TagSoup pop-until-match, head/body/title scoping).
    Pinned by the differential fuzz test in tests/test_fuzz.py.

    ~3x faster than driving the event walker with null sinks: the
    per-event generator suspend/resume and attr dict assembly dominate
    the lean path's cost (measured on the bench heavy-page corpus).
    """
    stack: list[str] = []
    title_parts: list[str] = []
    meta: dict[str, str] = {}
    in_head = in_title = body_started = body_done = False
    i, n = 0, len(s)
    tick = 0

    def text_span(span: str) -> None:
        # mirrors the walker's text handling for the two observable cases:
        # title capture, and text-before-body flipping body_started (which
        # gates whether a later <title> is captured). After </body> the
        # walker discards text BEFORE the body_started check (body_done
        # gate), so post-body text never flips body_started.
        nonlocal body_started
        if in_title:
            title_parts.append(decode_entities(span))
        elif body_done:
            return
        elif not body_started and not in_head:
            if decode_entities(span).strip():
                body_started = True

    while i < n:
        tick += 1
        if deadline is not None and (tick & 0xFF) == 0 and time.monotonic() > deadline:
            raise DeadlineError("html parse deadline exceeded")
        lt = s.find("<", i)
        if lt == -1:
            if in_title or not body_started:
                text_span(s[i:])
            break
        if lt > i and (in_title or not body_started):
            text_span(s[i:lt])
        if lt + 1 >= n:
            if in_title or not body_started:
                text_span(s[lt:])
            break
        c = s[lt + 1]
        if c == "!":
            if s.startswith("<!--", lt):
                end = s.find("-->", lt + 4)
                i = n if end == -1 else end + 3
            elif s.startswith("<![CDATA[", lt):
                end = s.find("]]>", lt + 9)
                if in_title or not body_started:
                    text_span(s[lt + 9:] if end == -1 else s[lt + 9: end])
                i = n if end == -1 else end + 3
            else:  # doctype or bogus declaration
                end = s.find(">", lt + 1)
                i = n if end == -1 else end + 1
            continue
        if c == "?":  # processing instruction
            end = s.find(">", lt + 1)
            i = n if end == -1 else end + 1
            continue
        if c == "/":
            m = _TAGNAME.match(s, lt + 2)
            end = s.find(">", lt + 1)
            if not m or end == -1:
                if in_title or not body_started:
                    text_span("<")
                i = lt + 1
                continue
            name = m.group(0).lower()
            i = end + 1
            if name == "title":
                in_title = False
            if name == "head":
                in_head = False
                in_title = False
            elif name == "body":
                stack.clear()
                body_done = True
            elif name in stack:
                while stack:
                    if stack.pop() == name:
                        break
            continue
        m = _TAGNAME.match(s, lt + 1)
        if not m:
            if in_title or not body_started:
                text_span("<")
            i = lt + 1
            continue
        name = m.group(0).lower()
        j = m.end()
        self_closing = False
        # attrs are extracted ONLY for <meta> when meta_tags is on —
        # the lean path's speed comes from skipping attr materialization
        # (including this dict: allocated solely when needed)
        want_attrs = meta_tags and name == "meta"
        attrs: dict[str, str] | None = {} if want_attrs else None
        while j < n:
            ch = s[j]
            if ch == ">":
                j += 1
                break
            if ch == "/" and j + 1 < n and s[j + 1] == ">":
                self_closing = True
                j += 2
                break
            if ch in " \t\r\n\x0c":
                j += 1
                continue
            am = _ATTR.match(s, j)
            if not am:
                j += 1
                continue
            if want_attrs:
                aname = am.group(1).lower()
                aval = am.group(2)
                if aval is None:
                    aval = ""
                elif aval[:1] in "\"'":
                    aval = aval[1:-1]
                if aname not in attrs:
                    attrs[aname] = decode_entities(aval)
            j = am.end()
        i = j
        if want_attrs:
            mname = attrs.get("name")
            if mname and "content" in attrs and mname not in meta:
                meta[mname] = attrs["content"]
        if name == "html":
            continue
        if name == "head":
            in_head = True
            continue
        if name == "body":
            body_started = True
            in_head = False
            continue
        if name == "title" and not body_started:
            in_title = True
            continue
        if name in DISCARD_ELEMENTS:
            if not self_closing:
                cm = _RAW_CLOSE[name].search(s, i)
                i = cm.end() if cm else n
            continue
        if not body_started and not in_head and name not in _HEAD_SCOPE:
            body_started = True
        is_void = name in VOID_ELEMENTS or self_closing
        if stack and stack[-1] == "p" and name in _P_CLOSERS:
            stack.pop()
        if not is_void:
            stack.append(name)
            if len(stack) > max_depth:
                raise DepthLimitError(
                    f"element nesting exceeded {max_depth}")

    title = _WS_COLLAPSE.sub(" ", "".join(title_parts)).strip() or None
    return HtmlResult(text="", title=title, links=[], blocks=[],
                      meta=meta, write_limit_reached=False)


# --- walker -------------------------------------------------------------------

class _NullWriter:
    """Metadata-only sink: the walk still runs (title, links, structure
    guards) but no body text is assembled. Mirrors the reference's
    parseContent=false path, where no content handler is attached so no
    text is serialized and the write limit can never trip
    (ref: main/TikaForkMain.java:240-247 parseContent branch)."""

    __slots__ = ()
    limit_reached = False

    def characters(self, s: str) -> None: ...
    def start_element(self, name: str) -> None: ...
    def end_element(self, name: str) -> None: ...
    def getvalue(self) -> str:
        return ""


def parse_html(
    text: str,
    base_uri: str = "",
    max_chars: int = -1,
    max_depth: int = 200,
    extract_links: bool = True,
    collect_blocks: bool = True,
    deadline: float | None = None,
    emit_text: bool = True,
    meta_tags: bool = False,
) -> HtmlResult:
    # metadata-only fast path: no consumer wants text, links, or blocks —
    # run the dedicated structure-only scanner (same observables, ~3x less
    # per-doc work; differential-fuzzed in tests/test_fuzz.py)
    if not emit_text and not extract_links and not collect_blocks:
        return scan_html_meta(text, max_depth=max_depth, deadline=deadline,
                              meta_tags=meta_tags)
    writer = TextWriter(max_chars) if emit_text else _NullWriter()
    meta: dict[str, str] = {}
    links: list[Link] = []
    builder_stack: list[_LinkBuilder] = []
    stack: list[str] = []
    title_parts: list[str] = []
    in_head = False
    in_title = False
    body_started = False
    body_done = False
    a_depth = 0
    limit_hit = False

    # block segmentation state
    blocks: list[Block] = []
    blk_parts: list[str] = []
    blk_anchor_parts: list[str] = []
    blk_tag = "body"

    def flush_block(tag_for_next: str):
        nonlocal blk_parts, blk_anchor_parts, blk_tag
        if not blk_parts:  # common case: structural tags with no text between
            blk_tag = tag_for_next
            return
        # " ".join(split()) == _WS_COLLAPSE.sub(" ", raw).strip() — same
        # whitespace class, one pass, and the word list is reused for counts
        words = "".join(blk_parts).split()
        if words:
            textv = " ".join(words)
            n_chars = len(textv)
            n_words = len(words)
            anchor_raw = "".join(blk_anchor_parts)
            anchor_chars = min(
                len(" ".join(anchor_raw.split())) if anchor_raw else 0,
                n_chars)
            # approximate anchor words by character share of collapsed text
            n_anchor_words = round(n_words * (anchor_chars / n_chars)) if n_chars else 0
            blocks.append(Block(textv, n_words, n_anchor_words, n_chars,
                                anchor_chars, blk_tag))
        blk_parts = []
        blk_anchor_parts = []
        blk_tag = tag_for_next

    def emit_chars(chunk: str, to_writer: bool = True):
        """Send characters to writer + link builders (mirrors the SAX tee)."""
        nonlocal limit_hit
        for b in builder_stack:
            b.characters(chunk)
        if collect_blocks and to_writer:
            blk_parts.append(chunk)
            if a_depth > 0:
                blk_anchor_parts.append(chunk)
        if to_writer:
            writer.characters(chunk)

    def handle_link_start(name: str, attrs: dict[str, str]):
        """Per-kind attribute mapping (ref: TikaLinkContentHandler.java:71-179)."""
        get = attrs.get
        if name == "a":
            b = _LinkBuilder("a")
            b.set_uri(get("href")); b.set_title(get("title")); b.set_rel(get("rel"))
            b.set_param("id", get("id"))
            builder_stack.insert(0, b)
        elif name == "img":
            b = _LinkBuilder("img")
            b.set_uri(get("src")); b.set_title(get("title")); b.set_rel(get("rel"))
            b.set_param("alt", get("alt"))
            builder_stack.insert(0, b)
            alt = get("alt")
            if alt is not None:
                for bb in builder_stack:
                    bb.characters(alt)
        elif name == "input":
            if (get("type") or "").lower() != "image":
                return False
            b = _LinkBuilder("input")
            b.set_uri(get("src")); b.set_title(get("name"))
            b.set_param("alt", get("alt"))
            builder_stack.insert(0, b)
            alt = get("alt")
            if alt is not None:
                for bb in builder_stack:
                    bb.characters(alt)
        elif name == "link":
            b = _LinkBuilder("link")
            b.set_uri(get("href")); b.set_title(get("title")); b.set_rel(get("rel"))
            b.set_param("type", get("type"))
            builder_stack.insert(0, b)
        elif name == "form":
            method = get("method")
            if method is not None and method.lower() != "get":
                return False
            b = _LinkBuilder("form")
            b.set_uri(get("action")); b.set_title(get("name"))
            b.set_param("target", get("target"))
            builder_stack.insert(0, b)
        elif name == "embed":
            b = _LinkBuilder("embed")
            b.set_uri(get("src")); b.set_title(get("name"))
            b.set_param("type", get("type"))
            b.set_param("height", get("height")); b.set_param("width", get("width"))
            builder_stack.insert(0, b)
        elif name == "source":
            b = _LinkBuilder("source")
            b.set_uri(get("src"))
            b.set_param("type", get("type")); b.set_param("media", get("media"))
            builder_stack.insert(0, b)
        elif name == "track":
            b = _LinkBuilder("track")
            b.set_uri(get("src")); b.set_title(get("label"))
            b.set_param("kind", get("kind")); b.set_param("srclang", get("srclang"))
            builder_stack.insert(0, b)
        elif name == "object":
            b = _LinkBuilder("object")
            b.set_uri(get("data"))
            b.set_param("type", get("type"))
            b.set_param("height", get("height")); b.set_param("width", get("width"))
            builder_stack.insert(0, b)
        elif name in ("frame", "iframe"):
            b = _LinkBuilder(name)
            b.set_uri(get("src")); b.set_title(get("name"))
            builder_stack.insert(0, b)
        elif name == "area":
            b = _LinkBuilder("area")
            b.set_uri(get("href"))
            b.set_param("shape", get("shape")); b.set_param("coords", get("coords"))
            b.set_param("alt", get("alt"))
            # quirk preserved: alt chars are emitted BEFORE the push in the
            # reference (:160-171), so only ENCLOSING links receive them
            alt = get("alt")
            if alt is not None:
                for bb in builder_stack:
                    bb.characters(alt)
            builder_stack.insert(0, b)
        else:
            return False
        return True

    def handle_link_end(name: str):
        if builder_stack:
            links.append(builder_stack.pop(0).build(base_uri))

    def end_effects(name: str):
        """Effects of one endElement event (explicit or synthesized)."""
        nonlocal a_depth
        if name == "a":
            a_depth = max(0, a_depth - 1)
        if body_started and not body_done:
            if collect_blocks and name in BLOCK_ELEMENTS:
                flush_block(name)
            if name in SAFE_ELEMENTS:
                writer.end_element(name)
            if name in ENDLINE_ELEMENTS:
                emit_chars("\n")
            if extract_links and name in LINK_ELEMENTS and name not in DISCARD_ELEMENTS:
                handle_link_end(name)

    def close_element(name: str):
        """Close `name`, synthesizing end events for any elements left open
        above it (TagSoup-style tree balancing, which the reference relies on
        for its endElement stream)."""
        nonlocal in_head, in_title, body_done
        if name == "title":
            in_title = False
        if name == "head":
            in_head = False
            in_title = False
            return
        if name == "body":
            close_all_open()
            body_done = True
            return
        if name in stack:
            while stack:
                top = stack.pop()
                end_effects(top)
                if top == name:
                    break
        else:
            end_effects(name)

    def close_all_open():
        while stack:
            end_effects(stack.pop())

    try:
        for ev in tokenize(text, deadline=deadline):
            kind = ev[0]
            if kind == "text":
                # meta-only fast path: body text with no consumer (no writer,
                # no blocks, no open link builders) skips entity decoding too
                if (not emit_text and not in_title and body_started
                        and not body_done and not collect_blocks
                        and not builder_stack):
                    continue
                chunk = decode_entities(ev[1])
                if in_title:
                    title_parts.append(chunk)
                    continue
                if body_done:
                    continue
                if not body_started:
                    if in_head or not chunk.strip():
                        continue
                    body_started = True
                emit_chars(chunk)
            elif kind == "start":
                name, attrs, self_closing = ev[1], ev[2], ev[3]
                if name == "html":
                    continue
                if name == "head":
                    in_head = True
                    continue
                if name == "body":
                    body_started = True
                    in_head = False
                    continue
                if name == "title" and not body_started:
                    in_title = True
                    continue
                if name in DISCARD_ELEMENTS:
                    continue  # tokenizer already consumed script/style bodies
                if meta_tags and name == "meta":
                    mname = attrs.get("name")
                    if mname and "content" in attrs and mname not in meta:
                        meta[mname] = attrs["content"]
                if not body_started and not in_head and name not in _HEAD_SCOPE:
                    body_started = True
                is_void = name in VOID_ELEMENTS or self_closing
                # HTML5 rule subset: a new block element auto-closes an open <p>
                if stack and stack[-1] == "p" and name in _P_CLOSERS:
                    stack.pop()
                    end_effects("p")
                if not is_void:
                    stack.append(name)
                    if len(stack) > max_depth:
                        raise DepthLimitError(
                            f"element nesting exceeded {max_depth}")
                if body_started and not body_done:
                    if collect_blocks and name in BLOCK_ELEMENTS:
                        flush_block(name)
                    if name in SAFE_ELEMENTS:
                        writer.start_element(name)
                    if name == "a":
                        a_depth += 1
                    if extract_links and name in LINK_ELEMENTS:
                        handle_link_start(name, attrs)
                    if is_void:
                        end_effects(name)
                elif in_head and extract_links and name == "link":
                    # <link> lives in head; collect it even though it is not body text
                    if handle_link_start(name, attrs):
                        handle_link_end(name)
            elif kind == "end":
                name = ev[1]
                close_element(name)
        # EOF: synthesize end events for everything still open (the
        # reference's TagSoup front-end auto-balances the tree, so its
        # endElement events always fire)
        close_all_open()
        while builder_stack:
            handle_link_end("")
    except WriteLimitReached:
        limit_hit = True

    if not limit_hit and collect_blocks:
        flush_block("eof")

    title = _WS_COLLAPSE.sub(" ", "".join(title_parts)).strip() or None
    return HtmlResult(
        text=writer.getvalue(),
        title=title,
        links=links,
        blocks=blocks,
        meta=meta,
        write_limit_reached=limit_hit or writer.limit_reached,
    )
