"""Equivalence pin for the HTML walker: digests of `parse_html` output over
seeded tag soup, under every flag combination, replayed against
tests/goldens/html_walk_digests.json.

The corpus is built here from a fixed seed, so the golden file holds only
digests (8 hex characters per document and configuration). A digest covers
text, title, links (every field, params in insertion order), blocks, meta
(insertion order), the write-limit flag, or the exception type and message
when the walk raises. Any change to what the walker emits shows up as a
differing document index.

Regenerate only after a DELIBERATE change to the walker's output:
`python tests/test_html_walk_golden.py --write` (from the repo root).
"""

from __future__ import annotations

import hashlib
import itertools
import json
import random
import sys
from pathlib import Path

GOLDEN = Path(__file__).parent / "goldens" / "html_walk_digests.json"
SEED = 20261020
N_DOCS = 300
BASE = "https://h.example/dir/page.html"

# unusual whitespace: \x0b \x85 \xa0 　 count for str.split/\s but not
# for the tag tokenizer's attribute-whitespace set
_WS = [" ", "  ", "\t", "\n", "\r\n", "\x0c", "\x0b", "\x85", "\xa0",
       "　", " \xa0 ", "\n　\n"]
_WORDS = ["alpha", "Beta", "gamma", "d", "Ünï", "x1", "&amp;", "&lt;b&gt;",
          "&#65;", "&#x263a;", "&#X41;", "&bogus;", "&", "& ", "&nbsp;",
          "&#0;", "&#xD800;", "&#99999999;", "&amp", "a&b;c", "&copy;2"]
_NAMES = ["a", "img", "input", "link", "form", "embed", "source", "track",
          "object", "frame", "iframe", "area", "script", "style", "div",
          "span", "p", "br", "hr", "li", "ul", "td", "tr", "table", "h1",
          "b", "em", "pre", "section", "nav", "body", "head", "html",
          "title", "meta", "base", "wbr", "col", "label", "x-tag", "o:p",
          "svg:rect", "q", "A", "DIV", "Img", "P", "TiTle", "BODY"]
_ATTR_NAMES = ["href", "src", "alt", "type", "method", "name", "content",
               "rel", "title", "id", "action", "target", "label", "kind",
               "srclang", "data", "height", "width", "shape", "coords",
               "media", "HREF", "Alt", "class", "_x", ":y", "data-v.w"]
_VALUES = ["x", "u/v?a=1&amp;b=2", "image", "IMAGE", "get", "GET", "post",
           "", "a b", "t&lt;t", "1>2", "description", "viewport", "/",
           "x/", "&#x41;", "q'q", 'q"q', "\xa0sp　"]
_FIXED = [
    "<!-- c -->", "<!--", "-->", "<!-- <div> -->", "<![CDATA[x<y&amp;]]>",
    "<![CDATA[]]>", "<![CDATA[", "]]>", "<!DOCTYPE html>", "<!bogus",
    "<?xml version='1.0'?>", "<?pi", "<", "< ", "<<", ">", "</", "</>",
    "</ >", "<3", "<-", "<script>var a='<div>';</script>",
    "<SCRIPT>x<b>y</ScRiPt >", "<style>p{}</style>", "<script src=x/>",
    "<script>", "</script>", "<style>", "<br/>", "<p/>", "<a/>",
    "<div/>", "<span/>", "<img src=x/>", "<img src='y'/ >", "<a href=z />",
    "<hr//>", "<p / >", "<input type=image src=i alt='A'>",
    "<input type=text>", "<form method=post action=f>", "<form action=g>",
    "<area href=h alt='ar'>", "<meta name=k content=v>",
    "<meta name='k' content='w'>", "<meta content=c>", "<meta name=n>",
    "<title>T &amp; t</title>", "</body>", "</head>", "</html>", "</a>",
    "</p>", "</div>", "</span>", "</li>", "</nonesuch>", "</a", "</a x>",
    "<a href='unterminated>", '<a href="dq>x', "<div title='a>b'>",
    "<a\thref=t\x0ctitle=T\rrel=r\nid=i>", "<a\x0bhref=vt>", "<a\xa0href=nb>",
    "<div @click=x #y %z>", "<div a=b=c>", "<p a='1' a='2'>",
]


_TAME = ["<b>", "</b>", "<p>", "</p>", "<a href=x>", "</a>", "<br>",
         "<div>", "</div>", "<span>", "</span>", "<", "<img src=i alt=a>"]


def _text(rng: random.Random) -> str:
    return "".join(rng.choice(_WORDS) + rng.choice(_WS)
                   for _ in range(rng.randint(1, 4)))


def _start_tag(rng: random.Random) -> str:
    parts = ["<", rng.choice(_NAMES)]
    for _ in range(rng.choice([0, 0, 1, 1, 2, 3, 5])):
        parts.append(rng.choice([" ", "  ", "\n", "\t", "", "/"]))
        parts.append(rng.choice(_ATTR_NAMES))
        v = rng.choice(_VALUES)
        parts.append(rng.choice([
            "", f"={v.replace(' ', '')}", f'="{v}"', f"='{v}'", f" = '{v}'",
            f'="{v}', f"='{v}", "=", f"={v.replace(' ', '')}/"]))
    parts.append(rng.choice([">", ">", ">", "/>", " />", "/ >", "", " >",
                             "\x0b>", " /x>"]))
    return "".join(parts)


def _end_tag(rng: random.Random) -> str:
    return rng.choice(["</{}>", "</{} >", "</{}\n>", "</{}", "</{} x=y>"]
                      ).format(rng.choice(_NAMES))


def soup(rng: random.Random) -> str:
    n = rng.choice([0, 1, 2, 5, 10, 20, 40, 60, 90, 140, 320, -1])
    if n < 0:
        # no comment, raw-text or quote that swallows the rest, and on
        # either side of the deadline check's 256th tick
        return "".join(rng.choice(_TAME) if rng.random() < 0.85
                       else _text(rng) for _ in range(rng.randint(260, 340)))
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.32:
            out.append(_text(rng))
        elif r < 0.62:
            out.append(_start_tag(rng))
        elif r < 0.80:
            out.append(_end_tag(rng))
        elif r < 0.84:
            out.append(rng.choice(_WS))
        else:
            out.append(rng.choice(_FIXED))
    return "".join(out)


def corpus() -> list[str]:
    rng = random.Random(SEED)
    return [soup(rng) for _ in range(N_DOCS)]


def configs() -> dict[str, dict]:
    """Every (emit_text, extract_links, collect_blocks, meta_tags) combination
    (all-False text/links/blocks runs the structure-only scanner), plus write
    limits, a tight depth guard and an expired deadline (it fires on the
    256th `<` token, so it pins the tick count too)."""
    out = {}
    for emit, links, blocks, meta in itertools.product([True, False], repeat=4):
        out[f"e{emit:d}l{links:d}b{blocks:d}m{meta:d}"] = dict(
            emit_text=emit, extract_links=links, collect_blocks=blocks,
            meta_tags=meta)
    full = dict(emit_text=True, extract_links=True, collect_blocks=True,
                meta_tags=True)
    scan = dict(emit_text=False, extract_links=False, collect_blocks=False,
                meta_tags=True)
    out["limit0"] = dict(full, max_chars=0)
    out["limit37"] = dict(full, max_chars=37)
    out["limit37_text_only"] = dict(emit_text=True, extract_links=False,
                                    collect_blocks=False, max_chars=37)
    out["depth6"] = dict(full, max_depth=6)
    out["depth6_scan"] = dict(scan, max_depth=6)
    out["deadline0"] = dict(full, deadline=0.0)
    out["deadline0_scan"] = dict(scan, deadline=0.0)
    return out


def digest(html: str, kwargs: dict) -> str:
    from sparktika.kernels.htmlparse import parse_html

    try:
        r = parse_html(html, base_uri=BASE, **kwargs)
        obs = (
            r.text, r.title,
            [(l.type, l.source_uri, l.target_uri, l.title, l.anchor, l.rel,
              list(l.params.items())) for l in r.links],
            [(b.text, b.n_words, b.n_anchor_words, b.n_chars,
              b.n_anchor_chars, b.tag) for b in r.blocks],
            list(r.meta.items()), r.write_limit_reached,
        )
    except Exception as e:  # noqa: BLE001 - the exception is the observable
        obs = ("raised", type(e).__name__, str(e))
    return hashlib.sha256(repr(obs).encode()).hexdigest()[:8]


def digests() -> dict[str, str]:
    docs = corpus()
    return {name: "".join(digest(d, kw) for d in docs)
            for name, kw in configs().items()}


def test_walker_output_matches_golden_digests():
    want = json.loads(GOLDEN.read_text())
    assert (want["seed"], want["n_docs"]) == (SEED, N_DOCS)
    got = digests()
    assert sorted(got) == sorted(want["digests"])
    differing = {
        name: [i for i in range(N_DOCS)
               if got[name][8 * i:8 * i + 8] != want["digests"][name][8 * i:8 * i + 8]]
        for name in got
    }
    differing = {k: v for k, v in differing.items() if v}
    assert not differing, f"documents whose output changed: {differing}"


def test_corpus_reaches_the_cases_it_pins():
    """The seeded soup must keep exercising what the digests are meant to
    pin: a write-limit cut, a depth-guard raise, a deadline raise, links,
    meta and unusual whitespace."""
    from sparktika.kernels.errors import DeadlineError, DepthLimitError
    from sparktika.kernels.htmlparse import parse_html

    docs = corpus()
    text = "".join(docs)
    assert all(w in text for w in ("\x0b", "\x85", "\xa0", "　"))
    kinds = set()
    meta = cut = 0
    for d in docs:
        r = parse_html(d, base_uri=BASE, max_chars=37, max_depth=10_000,
                       meta_tags=True)
        kinds.update(l.type for l in r.links)
        meta += bool(r.meta)
        cut += r.write_limit_reached
    assert kinds == {"a", "img", "input", "link", "form", "embed", "source",
                     "track", "object", "frame", "iframe", "area"}
    assert meta and cut

    def raises(kwargs):
        n = 0
        for d in docs:
            try:
                parse_html(d, **kwargs)
            except (DeadlineError, DepthLimitError):
                n += 1
        return n

    assert raises(configs()["depth6"])
    assert raises(configs()["deadline0"])


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_html_walk_golden.py --write")
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    GOLDEN.write_text(json.dumps(
        {"seed": SEED, "n_docs": N_DOCS, "digests": digests()},
        indent=1, sort_keys=True) + "\n")
    print(f"wrote {GOLDEN}")
