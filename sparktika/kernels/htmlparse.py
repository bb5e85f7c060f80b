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

The walk is one loop over `<` tokens, with no event generator. `_LT`
finds the next `<` and classifies it in one match: an end tag's name; a
start tag's name plus the rest of the tag through its `>` or `/>`
(`_TAG_REST`); or neither, for a comment, CDATA, declaration, PI or
literal `<` (`_markup`). The text before each `<` is one chunk, because
chunks decide `body_started` and which whitespace is dropped, and each
`<` is one deadline tick. Attribute dicts are built only where they are
read: link elements when `extract_links` is on and <meta> when
`meta_tags` is on; every other tag's attributes are skipped inside the
`_LT` match. One name -> bit-flags table (`_FLAGS`) replaces a set
lookup per rule. Body text, a well-nested end tag and `<a>` are inlined
in the loop; the rare paths (<p> auto-close, mis-nested close, other
link kinds, title/head/body) stay in helpers. `scan_html_meta` shares
`_LT`, `_attrs` and `_markup`, so both walkers have one definition of a
tag boundary. The output is pinned by tests/test_html_walk_golden.py.
Measured on a 4-vCPU host, CPU time, one core, 200 perfbench
`html_extract` pages (~7.2 KB each) with production flags, 30
alternating in-process reps against the generator-based walker it
replaced: 488 -> 362 us/doc (min), median pair ratio 0.77; the whole
`make_extract_fn` row body over 400 such pages 610 -> 513 us/doc.
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

# One name -> bit-flags table for the sets above: one dict lookup per tag
# instead of one set lookup per rule.
_SEP = 1          # the writer separates it (textout.TextWriter: span/div)
_DISCARD = 2
_VOID = 4
_HEAD = 8         # may appear before <body> without opening it
_LINK = 16        # opens a link builder (script never does: discarded)
_ENDLINE = 32
_P_CLOSE = 64
_BLOCK = 128
_SPECIAL = 256    # html/head/body/title: scoping before the stack
_A = 512
_META = 1024


def _flag_table() -> dict[str, int]:
    rules = [
        (_SEP, SAFE_ELEMENTS & {"span", "div"}),
        (_DISCARD, DISCARD_ELEMENTS), (_VOID, VOID_ELEMENTS),
        (_HEAD, _HEAD_SCOPE), (_LINK, LINK_ELEMENTS - DISCARD_ELEMENTS),
        (_ENDLINE, ENDLINE_ELEMENTS), (_P_CLOSE, _P_CLOSERS),
        (_BLOCK, BLOCK_ELEMENTS), (_SPECIAL, {"html", "head", "body", "title"}),
        (_A, {"a"}), (_META, {"meta"}),
    ]
    table: dict[str, int] = {}
    for bit, names in rules:
        for name in names:
            table[name] = table.get(name, 0) | bit
    return table


_FLAGS = _flag_table()
# (name, flags) for a tag name already in lower case: the walker skips
# str.lower and a second lookup for the common spelling
_TAG_INFO = {k: (k, v) for k, v in _FLAGS.items()}

_WS_COLLAPSE = re.compile(r"\s+")
_NAME = r"[a-zA-Z][a-zA-Z0-9:-]*"
_ATTR = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)
# The rest of a start tag after its name, the one definition of where a
# tag ends: repeatedly whitespace, one _ATTR match (a quoted value may
# hold `>`), or any other single character, up to `>` or `/>` (its own
# group), or the end of the input.
_TAG_REST = r"(?:[ \t\r\n\x0c]+|" + _ATTR.pattern + r"|[^>/]|/(?!>))*(/?>)?"
# The walk's one tokenizer, shared by both walkers: one match per `<`.
# Group 1 is an end tag's name; group 2 a start tag's, whose match runs
# through _TAG_REST (group 5 is its `>`/`/>`, None at the end of the
# input); neither for a comment, CDATA, declaration, PI or literal `<`.
_LT = re.compile(rf"<(?:/({_NAME})|({_NAME}){_TAG_REST}|)")

_RAW_CLOSE = {
    "script": re.compile(r"</script\s*>", re.IGNORECASE),
    "style": re.compile(r"</style\s*>", re.IGNORECASE),
}


def _attrs(s: str, j: int, k: int) -> dict[str, str]:
    """Attribute dict of the start tag whose `_TAG_REST` span is s[j:k]:
    first occurrence of a (lower-cased) name wins, quotes stripped,
    entities decoded. The _ATTR matches in that span are the ones
    _TAG_REST consumed (neither `>` nor `/` starts one)."""
    attrs: dict[str, str] = {}
    for am in _ATTR.finditer(s, j, k):
        aname = am.group(1).lower()
        if aname not in attrs:
            aval = am.group(2)
            if aval is None:
                aval = ""
            elif aval[:1] in "\"'":
                aval = aval[1:-1]
            attrs[aname] = decode_entities(aval)
    return attrs


def _markup(s: str, lt: int) -> tuple[int, str | None]:
    """A `<` that opens no tag: (where the walk resumes, text it yields).
    Comments, declarations (doctype) and processing instructions yield
    nothing; CDATA yields its content; anything else is a literal `<`."""
    n = len(s)
    if s.startswith("<!", lt):
        if s.startswith("<!--", lt):
            end = s.find("-->", lt + 4)
            return (n if end == -1 else end + 3), None
        if s.startswith("<![CDATA[", lt):
            end = s.find("]]>", lt + 9)
            if end == -1:
                return n, s[lt + 9:]
            return end + 3, s[lt + 9: end]
    elif not s.startswith("<?", lt):
        return lt + 1, "<"
    end = s.find(">", lt + 1)
    return (n if end == -1 else end + 1), None


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

    def __init__(self, type_: str, uri=None, title=None, rel=None):
        self.type = type_
        self.uri = uri or ""
        self.title = title or ""
        self.rel = rel or ""
        self.text: list[str] = []
        self.params: dict[str, str] = {}

    def set_param(self, k, v):
        if v is not None:
            self.params[k] = v

    def build(self, base_uri: str) -> Link:
        # whitespace collapsed, as the reference does (TikaForkMain.java:50):
        # split() splits on the same whitespace class as \s+, so this is
        # _WS_COLLAPSE.sub(" ", raw).strip() in one pass
        anchor = " ".join("".join(self.text).split())
        return Link(self.type, base_uri, self.uri, self.title, anchor,
                    self.rel, self.params)


def _link_builder(name: str, attrs: dict[str, str]) -> _LinkBuilder | None:
    """Per-kind attribute mapping (ref: TikaLinkContentHandler.java:71-179)
    for every link kind but `a`, which the walker builds inline; None when
    the element opens no link (a non-image input, a non-GET form)."""
    get = attrs.get
    if name == "img":
        b = _LinkBuilder("img", get("src"), get("title"), get("rel"))
        b.set_param("alt", get("alt"))
    elif name == "input":
        if (get("type") or "").lower() != "image":
            return None
        b = _LinkBuilder("input", get("src"), get("name"))
        b.set_param("alt", get("alt"))
    elif name == "link":
        b = _LinkBuilder("link", get("href"), get("title"), get("rel"))
        b.set_param("type", get("type"))
    elif name == "form":
        method = get("method")
        if method is not None and method.lower() != "get":
            return None
        b = _LinkBuilder("form", get("action"), get("name"))
        b.set_param("target", get("target"))
    elif name == "embed":
        b = _LinkBuilder("embed", get("src"), get("name"))
        b.set_param("type", get("type"))
        b.set_param("height", get("height")); b.set_param("width", get("width"))
    elif name == "source":
        b = _LinkBuilder("source", get("src"))
        b.set_param("type", get("type")); b.set_param("media", get("media"))
    elif name == "track":
        b = _LinkBuilder("track", get("src"), get("label"))
        b.set_param("kind", get("kind")); b.set_param("srclang", get("srclang"))
    elif name == "object":
        b = _LinkBuilder("object", get("data"))
        b.set_param("type", get("type"))
        b.set_param("height", get("height")); b.set_param("width", get("width"))
    elif name in ("frame", "iframe"):
        b = _LinkBuilder(name, get("src"), get("name"))
    else:  # area
        b = _LinkBuilder("area", get("href"))
        b.set_param("shape", get("shape")); b.set_param("coords", get("coords"))
        b.set_param("alt", get("alt"))
    return b


# --- structure-only scanner ---------------------------------------------------

def scan_html_meta(
    s: str,
    max_depth: int = 200,
    deadline: float | None = None,
    meta_tags: bool = False,
) -> HtmlResult:
    """Structure-only walk for the metadata-only fast path (O26): title,
    depth guard, and deadline — no text assembly, no links, no blocks, no
    attribute materialization (except <meta> when meta_tags is on).

    Byte-equivalent observables with the full walker (status/exception,
    title, meta) by construction: the same `<` classifier (_LT), tag end
    (_TAG_REST), markup handling (_markup), script/style raw skip and
    deadline tick per `<`, and the same stack semantics (void elements,
    self-closing, <p> auto-close, TagSoup pop-until-match,
    head/body/title scoping). Pinned by the differential fuzz test in
    tests/test_fuzz.py and tests/test_html_walk_golden.py.
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
        m = _LT.search(s, i)
        if m is None:
            if in_title or not body_started:
                text_span(s[i:])
            break
        lt = m.start()
        if lt > i and (in_title or not body_started):
            text_span(s[i:lt])
        end_name, name, _, _, close = m.groups()
        if name is None:
            name = end_name
            end = -1 if name is None else s.find(">", m.end())
            if end == -1:
                i, span = _markup(s, lt)
                if span is not None and (in_title or not body_started):
                    text_span(span)
                continue
            name = name.lower()
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
        name = name.lower()
        f = _FLAGS.get(name, 0)
        i = m.end()
        self_closing = close == "/>"
        if meta_tags and f & _META:
            attrs = _attrs(s, m.end(2), i)
            mname = attrs.get("name")
            if mname and "content" in attrs and mname not in meta:
                meta[mname] = attrs["content"]
        if f & _SPECIAL:
            if name == "html":
                continue
            if name == "head":
                in_head = True
                continue
            if name == "body":
                body_started = True
                in_head = False
                continue
            if not body_started:  # title
                in_title = True
                continue
        if f & _DISCARD:
            if not self_closing:
                cm = _RAW_CLOSE[name].search(s, i)
                i = cm.end() if cm else n
            continue
        if not body_started and not in_head and not f & _HEAD:
            body_started = True
        if f & _P_CLOSE and stack and stack[-1] == "p":
            stack.pop()
        if not (f & _VOID or self_closing):
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
    s = text
    n = len(s)
    writer = TextWriter(max_chars) if emit_text else _NullWriter()
    write = writer.characters
    meta: dict[str, str] = {}
    links: list[Link] = []
    builders: list[_LinkBuilder] = []  # innermost open link last
    stack: list[str] = []
    title_parts: list[str] = []
    in_head = in_title = body_started = body_done = False
    a_depth = 0
    limit_hit = False
    # body text has a consumer besides open link builders
    want_text = emit_text or collect_blocks
    # start tags whose attributes are read
    attr_flags = (_LINK if extract_links else 0) | (_META if meta_tags else 0)

    # block segmentation state
    blocks: list[Block] = []
    blk_parts: list[str] = []
    blk_anchor_parts: list[str] = []
    blk_tag = "body"

    def flush_block(tag_for_next: str):
        """Close the current block (it has text parts) and open the next."""
        nonlocal blk_parts, blk_anchor_parts, blk_tag
        # " ".join(split()) == _WS_COLLAPSE.sub(" ", raw).strip() — same
        # whitespace class, one pass, and the word list is reused for counts
        words = "".join(blk_parts).split()
        if words:
            textv = " ".join(words)
            n_chars = len(textv)
            n_words = len(words)
            anchor_chars = min(
                len(" ".join("".join(blk_anchor_parts).split())),
                n_chars) if blk_anchor_parts else 0
            # approximate anchor words by character share of collapsed text
            n_anchor_words = round(n_words * (anchor_chars / n_chars)) if n_chars else 0
            blocks.append(Block(textv, n_words, n_anchor_words, n_chars,
                                anchor_chars, blk_tag))
        blk_parts = []
        blk_anchor_parts = []
        blk_tag = tag_for_next

    def emit(chunk: str):
        """Send characters to link builders, block and writer (the SAX tee);
        the body-text path in the loop below is this, inlined."""
        for b in builders:
            b.text.append(chunk)
        if collect_blocks:
            blk_parts.append(chunk)
            if a_depth > 0:
                blk_anchor_parts.append(chunk)
        write(chunk)

    def text_event(raw: str):
        nonlocal body_started
        if in_title:
            title_parts.append(decode_entities(raw))
            return
        if body_done:
            return
        if body_started:
            # meta-only: body text with no consumer skips decoding too
            if not (want_text or builders):
                return
            chunk = decode_entities(raw)
        else:
            if in_head:
                return
            chunk = decode_entities(raw)
            if not chunk.strip():
                return
            body_started = True
        emit(chunk)

    def end_effects(name: str):
        """Effects of one endElement event (explicit or synthesized); the
        well-nested end tag in the loop below is this, inlined."""
        nonlocal a_depth, blk_tag
        f = _FLAGS.get(name, 0)
        if f & _A and a_depth:
            a_depth -= 1
        if body_started and not body_done:
            if f & _BLOCK and collect_blocks:
                if blk_parts:
                    flush_block(name)
                else:
                    blk_tag = name
            if f & _SEP:
                writer.end_element(name)
            if f & _ENDLINE:
                emit("\n")
            if f & _LINK and extract_links and builders:
                links.append(builders.pop().build(base_uri))

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

    i = 0
    tick = 0
    search = _LT.search
    flags = _FLAGS.get
    tag_info = _TAG_INFO.get
    try:
        while i < n:
            tick += 1
            if deadline is not None and (tick & 0xFF) == 0 and time.monotonic() > deadline:
                raise DeadlineError("html parse deadline exceeded")
            m = search(s, i)
            if m is None:
                text_event(s[i:])
                break
            lt = m.start()
            if lt > i:
                if body_started and not body_done and not in_title:
                    if want_text or builders:
                        chunk = s[i:lt]
                        if "&" in chunk:
                            chunk = decode_entities(chunk)
                        for b in builders:
                            b.text.append(chunk)
                        if collect_blocks:
                            blk_parts.append(chunk)
                            if a_depth > 0:
                                blk_anchor_parts.append(chunk)
                        write(chunk)
                else:
                    text_event(s[i:lt])
            end_name, name, _, _, close = m.groups()
            if name is None:  # an end tag, or no tag at all
                name = end_name
                end = -1 if name is None else s.find(">", m.end())
                if end == -1:
                    i, chunk = _markup(s, lt)
                    if chunk is not None:
                        text_event(chunk)
                    continue
                i = end + 1
                info = tag_info(name)
                if info is None:
                    name = name.lower()
                    f = flags(name, 0)
                else:
                    name, f = info
                if f & _SPECIAL or not stack or stack[-1] != name:
                    close_element(name)
                    continue
                stack.pop()  # well-nested: end_effects(name), inlined
                if f & _A and a_depth:
                    a_depth -= 1
                if body_started and not body_done:
                    if f & _BLOCK and collect_blocks:
                        if blk_parts:
                            flush_block(name)
                        else:
                            blk_tag = name
                    if f & _SEP:
                        writer.end_element(name)
                    if f & _ENDLINE:
                        emit("\n")
                    if f & _LINK and extract_links and builders:
                        links.append(builders.pop().build(base_uri))
                continue

            info = tag_info(name)
            if info is None:
                name = name.lower()
                f = flags(name, 0)
            else:
                name, f = info
            i = m.end()
            self_closing = close == "/>"
            attrs = _attrs(s, m.end(2), i) if f & attr_flags else None
            if f & _SPECIAL:
                if name == "html":
                    continue
                if name == "head":
                    in_head = True
                    continue
                if name == "body":
                    body_started = True
                    in_head = False
                    continue
                if not body_started:  # title
                    in_title = True
                    continue
            if f & _DISCARD:  # script/style: contents consumed raw
                if not self_closing:
                    cm = _RAW_CLOSE[name].search(s, i)
                    i = cm.end() if cm else n
                continue
            if meta_tags and f & _META:
                mname = attrs.get("name")
                if mname and "content" in attrs and mname not in meta:
                    meta[mname] = attrs["content"]
            if not body_started and not in_head and not f & _HEAD:
                body_started = True
            is_void = f & _VOID or self_closing
            # HTML5 rule subset: a new block element auto-closes an open <p>
            if f & _P_CLOSE and stack and stack[-1] == "p":
                stack.pop()
                end_effects("p")
            if not is_void:
                stack.append(name)
                if len(stack) > max_depth:
                    raise DepthLimitError(
                        f"element nesting exceeded {max_depth}")
            if body_started and not body_done:
                if f & _BLOCK and collect_blocks:
                    if blk_parts:
                        flush_block(name)
                    else:
                        blk_tag = name
                if f & _SEP:
                    writer.start_element(name)
                if f & _A:
                    a_depth += 1
                    if extract_links:
                        get = attrs.get
                        b = _LinkBuilder("a", get("href"), get("title"), get("rel"))
                        b.set_param("id", get("id"))
                        builders.append(b)
                elif f & _LINK and extract_links:
                    b = _link_builder(name, attrs)
                    alt = attrs.get("alt")
                    if name == "area":
                        # quirk preserved: alt chars are emitted BEFORE the
                        # push in the reference (:160-171), so only
                        # ENCLOSING links receive them
                        if alt is not None:
                            for bb in builders:
                                bb.text.append(alt)
                        builders.append(b)
                    elif b is not None:
                        builders.append(b)
                        # img/input: pushed BEFORE the alt chars, so the
                        # element's own anchor gets them too
                        if alt is not None and name in ("img", "input"):
                            for bb in builders:
                                bb.text.append(alt)
                if is_void:
                    end_effects(name)
            elif in_head and f & _LINK and extract_links and name == "link":
                # <link> lives in head; collect it even though it is not body text
                b = _link_builder(name, attrs)
                links.append(b.build(base_uri))
        # EOF: synthesize end events for everything still open (the
        # reference's TagSoup front-end auto-balances the tree, so its
        # endElement events always fire)
        close_all_open()
        while builders:
            links.append(builders.pop().build(base_uri))
    except WriteLimitReached:
        limit_hit = True

    if not limit_hit and collect_blocks and blk_parts:
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
