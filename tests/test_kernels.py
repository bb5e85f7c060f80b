"""Kernel unit tests — no Spark/JVM. Mirrors the reference's test strategy
(end-to-end golden outputs per fixture + safety semantics;
ref: test/TikaProcessTest.java)."""

from __future__ import annotations

import time

import pytest

from sparktika.config import ExtractConfig
from sparktika.kernels import charset, mime, pdf, textstats
from sparktika.kernels.boilerplate import classify_blocks, main_text
from sparktika.kernels.errors import DepthLimitError, InflateRatioError, WriteLimitReached
from sparktika.kernels.extract import extract_document
from sparktika.kernels.htmlparse import parse_html
from sparktika.kernels.textout import TextWriter


# ---------------------------------------------------------------- textout

def test_writer_span_div_separators():
    """SPAN start -> ' ' and DIV start -> '\\n' only when writeCount > 0;
    end separators unconditional (ref: TikaBodyContentHandler.java:143-175)."""
    w = TextWriter()
    w.start_element("div")   # suppressed: nothing written yet
    w.start_element("span")  # suppressed
    w.characters("a")
    w.end_element("span")    # ' '
    w.start_element("span")  # ' ' (count>0)
    w.characters("b")
    w.end_element("span")
    w.end_element("div")
    assert w.getvalue() == "a  b \n"


def test_writer_zero_length_stream_no_leading_separator():
    w = TextWriter()
    w.start_element("div")
    w.end_element("div")  # trailing separator is unconditional in the ref
    assert w.getvalue() == "\n"
    w2 = TextWriter()
    w2.start_element("div")
    assert w2.getvalue() == ""


def test_writer_exact_cap():
    w = TextWriter(5)
    w.characters("abc")
    with pytest.raises(WriteLimitReached):
        w.characters("defg")
    assert w.getvalue() == "abcde"
    assert w.limit_reached
    assert w.count == 5


def test_writer_separators_do_not_count_toward_limit():
    w = TextWriter(2)
    w.characters("a")
    w.end_element("div")
    w.characters("b")  # count now exactly 2: fits
    assert w.getvalue() == "a\nb"
    assert not w.limit_reached


# ---------------------------------------------------------------- charset

def test_charset_bom_wins_over_meta():
    data = b"\xef\xbb\xbf<html><meta charset='iso-8859-1'><body>x</body></html>"
    assert charset.detect_charset(data) == "utf-8"


def test_charset_meta_http_equiv():
    data = b'<html><head><meta http-equiv="Content-Type" content="text/html; charset=iso-8859-1"></head></html>'
    assert charset.detect_charset(data) == "iso-8859-1"


def test_charset_latin1_decode_to_unicode():
    text, cs = charset.decode("caf\xe9".encode("latin-1"), "iso-8859-1")
    assert text == "café" and cs == "iso-8859-1"


def test_charset_utf8_heuristic_and_cp1252_fallback():
    assert charset.detect_charset("héllo".encode("utf-8"), is_html=False) == "utf-8"
    assert charset.detect_charset(b"caf\xe9 au lait", is_html=False) == "windows-1252"
    text, _ = charset.decode(b"caf\x93quoted\x94", "windows-1252")
    assert text == "caf“quoted”"


def test_charset_bomless_utf16_null_pattern():
    """ICU-style BOM-less UTF-16 detection: one-sided NUL parity."""
    body = "The quick brown fox jumps over the lazy dog. " * 4
    le = body.encode("utf-16-le")
    be = body.encode("utf-16-be")
    assert charset.detect_charset(le, is_html=False) == "utf-16-le"
    assert charset.detect_charset(be, is_html=False) == "utf-16-be"
    assert charset.decode(le, is_html=False)[0] == body
    assert charset.decode(be, is_html=False)[0] == body
    # a BOM (when present) still wins over the heuristic
    import codecs
    assert charset.detect_charset(codecs.BOM_UTF16_LE + le,
                                  is_html=False) == "utf-16-le"
    # CJK-heavy UTF-16 has few NULs -> heuristic declines (conservative),
    # and plain ASCII / cp1252 text is never misdetected
    assert charset.detect_utf16_heuristic("日本語のテキスト".encode("utf-16-le")) is None
    assert charset.detect_utf16_heuristic(b"plain ascii text here") is None
    assert charset.detect_charset(b"short", is_html=False) == "utf-8"
    # binary with NULs on BOTH parities (e.g. sparse binary) declines
    assert charset.detect_utf16_heuristic(bytes(64)) is None


# ---------------------------------------------------------------- mime

def test_mime_magic_table():
    assert mime.detect_mime(b"%PDF-1.3 ...") == "application/pdf"
    assert mime.detect_mime(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\0" * 16) == "application/x-tika-msoffice"
    assert mime.detect_mime(b"PK\x03\x04" + b"\0" * 16) == "application/zip"
    assert mime.detect_mime(b"\x89PNG\r\n\x1a\n" + b"\0" * 8) == "image/png"


def test_mime_html_sniff_case_insensitive():
    assert mime.detect_mime(b"  <!DOCTYPE html><html>") == "text/html"
    assert mime.detect_mime(b"<HTML><body>hi</body>") == "text/html"
    assert mime.detect_mime(b'<!doctype html public "-//w3c//dtd html 4.0 transitional//en">') == "text/html"


def test_mime_detected_overrides_declared():
    """Detector result wins over the declared type, like the reference
    (ref: ConfigurableAutoDetectParser.java:137-141)."""
    assert mime.detect_mime(b"%PDF-1.4", declared="text/html") == "application/pdf"


def test_mime_ftyp_needs_a_sane_box_size():
    """Text whose 5th-8th characters spell "ftyp" stays text; an ISO-BMFF
    ftyp box (big-endian size >= 16 that fits the payload) is media."""
    from sparktika.synth import build_mp4

    text = b"ezoyftyp ecd qwerty uiop asdf ghjkl zxcv bnm\n"
    assert mime.detect_mime(text) == "text/plain"
    r = extract_document("https://x/m/text/a", None, text)
    assert (r.status, r.content_type_detected) == ("ok", "text/plain")
    assert mime.detect_mime(build_mp4(3)) == "video/mp4"
    box = (24).to_bytes(4, "big") + b"ftypM4A " + b"\0" * 12
    assert mime.detect_mime(box) == "audio/mp4"
    assert mime.detect_mime(box[:20]) != "audio/mp4"  # box overruns the payload
    assert mime.detect_mime(b"\0\0\0\x08ftypisom" + b"\0" * 8) != "video/mp4"


def test_mime_declared_used_when_no_magic():
    assert mime.detect_mime(b"just some words", declared="text/csv") == "text/csv"
    assert mime.detect_mime(b"just some words") == "text/plain"
    assert mime.detect_mime(bytes(range(256)) * 4) == "application/octet-stream"


# ---------------------------------------------------------------- html kernel

def test_html_body_only_and_title():
    html = "<html><head><title>My Title</title><style>p{}</style></head><body>hello</body></html>"
    r = parse_html(html)
    assert r.text == "hello"
    assert r.title == "My Title"


def test_html_div_span_separator_semantics():
    html = "<body><div><span>a</span><span>b</span></div></body>"
    # div start suppressed (count 0), span start suppressed, 'a', span end ' ',
    # span start ' ', 'b', span end ' ', div end '\n'
    assert parse_html(html).text == "a  b \n"


def test_html_script_style_discarded_entirely():
    html = "<body>keep<script>var x='<p>leak</p>';</script><style>.c{}</style>me</body>"
    r = parse_html(html)
    assert r.text == "keepme"
    # discarded script never yields a link (ref behavior: discarded elements
    # emit no SAX events, so the script link branch is dead code)
    assert all(l.type != "script" for l in r.links)


def test_html_entities():
    assert parse_html("<body>a &amp; b &lt;tag&gt; &#65;&#x42;</body>").text == "a & b <tag> AB"


def test_html_unclosed_p_tag_soup():
    # each <p> auto-closes the previous one; </body> closes the last; every
    # </p> emits a newline (Tika XHTML layer parity, see ENDLINE_ELEMENTS)
    html = "<body>one<p>two<p>three</body>"
    assert parse_html(html).text == "onetwo\nthree\n"


def test_html_links_anchor_collapse():
    html = '<body><a href="/x" title="T" rel="r" id="i">  some\n  anchor </a></body>'
    r = parse_html(html, base_uri="https://e.com/p")
    assert len(r.links) == 1
    l = r.links[0]
    assert (l.type, l.target_uri, l.title, l.rel, l.anchor, l.source_uri) == (
        "a", "/x", "T", "r", "some anchor", "https://e.com/p")
    assert l.params == {"id": "i"}


def test_html_img_alt_feeds_enclosing_anchor_not_body():
    html = '<body><a href="/x"><img src="i.png" alt="ALT"></a>tail</body>'
    r = parse_html(html)
    a = [l for l in r.links if l.type == "a"][0]
    img = [l for l in r.links if l.type == "img"][0]
    assert a.anchor == "ALT"          # enclosing anchor receives alt
    assert img.anchor == "ALT"        # img's own builder pushed before alt chars
    assert "ALT" not in r.text        # alt never reaches body text


def test_html_area_alt_ordering_quirk():
    """area pushes its builder AFTER emitting alt chars, so its own anchor
    stays empty (ref: TikaLinkContentHandler.java:160-171)."""
    html = '<body><a href="/x"><area href="/a" alt="Z"></a></body>'
    r = parse_html(html)
    area = [l for l in r.links if l.type == "area"][0]
    a = [l for l in r.links if l.type == "a"][0]
    assert area.anchor == ""
    assert a.anchor == "Z"


def test_html_form_get_only_and_input_image_only():
    html = ('<body><form method="post" action="/p"></form>'
            '<form method="GET" action="/g"></form>'
            '<input type="text" src="/t"><input type="image" src="/i" alt="btn">'
            "</body>")
    r = parse_html(html)
    forms = [l for l in r.links if l.type == "form"]
    inputs = [l for l in r.links if l.type == "input"]
    assert [f.target_uri for f in forms] == ["/g"]
    assert [i.target_uri for i in inputs] == ["/i"]


def test_html_13_link_kinds():
    html = (
        "<body>"
        '<a href="/a">x</a><img src="/img"><input type="image" src="/in">'
        '<link href="/l" rel="stylesheet"><form method="get" action="/f"></form>'
        '<embed src="/e"><source src="/s"><track src="/t"><object data="/o"></object>'
        '<frame src="/fr"><iframe src="/if"></iframe><area href="/ar">'
        "</body>"
    )
    r = parse_html(html)
    kinds = sorted({l.type for l in r.links})
    assert kinds == ["a", "area", "embed", "form", "frame", "iframe", "img",
                     "input", "link", "object", "source", "track"]


def test_html_head_link_collected():
    html = '<html><head><link href="/css" rel="stylesheet" type="text/css"></head><body>x</body></html>'
    r = parse_html(html)
    ls = [l for l in r.links if l.type == "link"]
    assert len(ls) == 1 and ls[0].target_uri == "/css" and ls[0].params == {"type": "text/css"}


def test_html_depth_guard():
    html = "<body>" + "<div>" * 300 + "x" + "</div>" * 300 + "</body>"
    with pytest.raises(DepthLimitError):
        parse_html(html, max_depth=200)


def test_html_write_limit_exact_cap():
    html = "<body><div>" + "x" * 500 + "</div></body>"
    r = parse_html(html, max_chars=100)
    assert r.text == "x" * 100
    assert r.write_limit_reached


# ---------------------------------------------------------------- boilerplate

def test_boilerplate_blocks_and_classification():
    nav = '<div><a href="/1">Home</a> <a href="/2">About</a> <a href="/3">News</a></div>'
    content = "<p>" + " ".join(["word"] * 50) + "</p>"
    more = "<p>" + " ".join(["body"] * 30) + "</p>"
    footer = '<div><a href="/c">Contact</a> <a href="/i">Imprint</a></div>'
    r = parse_html(f"<body>{nav}{content}{more}{footer}</body>")
    flags = classify_blocks(r.blocks)
    texts = [b.text for b, f in zip(r.blocks, flags) if f]
    assert any("word word" in t for t in texts)
    assert all("Home" not in t and "Contact" not in t for t in texts)
    mt = main_text(r.blocks)
    assert "word word" in mt and "Home" not in mt


# ---------------------------------------------------------------- pdf kernel

def _simple_pdf(content: str, flate: bool = False) -> bytes:
    import zlib as _z

    stream = content.encode("latin-1")
    head = b"<< /Length %d >>" % len(stream)
    if flate:
        stream = _z.compress(stream)
        head = b"<< /Length %d /Filter /FlateDecode >>" % len(stream)
    objs = [
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n",
        b"4 0 obj\n" + head + b"\nstream\n" + stream + b"\nendstream\nendobj\n",
    ]
    return b"%PDF-1.3\n" + b"".join(objs) + b"%%EOF\n"


# Tika-stack framing (see pdf.py render_pages): a single-paragraph page ends
# with linesep + </p> newline + endPage's empty <p/> + </div> writer newline
# + </div> XHTML newline = 5 trailing newlines.
_PAGE_TRAIL = "\n\n\n\n\n"


def test_pdf_single_tj():
    data = _simple_pdf("BT /F1 12 Tf 72 720 Td (hello pdf world) Tj ET")
    assert pdf.extract_pdf(data).text == "hello pdf world" + _PAGE_TRAIL


def test_pdf_flate_stream():
    data = _simple_pdf("BT /F1 12 Tf 72 720 Td (compressed text) Tj ET", flate=True)
    assert pdf.extract_pdf(data).text == "compressed text" + _PAGE_TRAIL


def test_pdf_multiline_emission_order():
    # emission order is preserved (PDFTextStripper default, which is what
    # the reference's Tika/PDFBox path produces); a y change = a newline
    content = ("BT /F1 12 Tf 14 TL 72 200 Td (line one) Tj ET\n"
               "BT /F1 12 Tf 72 100 Td (line two) Tj ET")
    data = _simple_pdf(content)
    # the 100pt gap exceeds the paragraph drop threshold (2.5 x line height):
    # two paragraphs, "\n\n" between them (PDFBox isParagraphSeparation)
    assert pdf.extract_pdf(data).text == "line one\n\nline two" + _PAGE_TRAIL


def test_pdf_same_line_gap_inserts_space():
    content = ("BT /F1 10 Tf 72 500 Td (left) Tj ET\n"
               "BT /F1 10 Tf 300 500 Td (right) Tj ET")
    data = _simple_pdf(content)
    assert pdf.extract_pdf(data).text == "left right" + _PAGE_TRAIL


def test_pdf_tstar_and_escapes():
    content = r"BT /F1 12 Tf 14 TL 72 720 Td (a\(b\)c) Tj T* (d\\e) Tj ET"
    data = _simple_pdf(content)
    # 14pt leading < 2.5 x 0.6 x 12 = 18: same paragraph, plain line break
    assert pdf.extract_pdf(data).text == "a(b)c\nd\\e" + _PAGE_TRAIL


def test_pdf_tj_array_kerning():
    content = "BT /F1 12 Tf 72 720 Td [(Hel) 10 (lo) -250 (world)] TJ ET"
    data = _simple_pdf(content)
    assert pdf.extract_pdf(data).text == "Hello world" + _PAGE_TRAIL


def test_pdf_hex_string_and_winansi():
    content = "BT /F1 12 Tf 72 720 Td <48659C> Tj ET"  # H e œ
    data = _simple_pdf(content)
    assert pdf.extract_pdf(data).text == "Heœ" + _PAGE_TRAIL


def test_pdf_flate_bomb_guard():
    import zlib as _z

    bomb = _z.compress(b"\0" * 10_000_000)  # ~10k bytes compressed
    head = b"<< /Length %d /Filter /FlateDecode >>" % len(bomb)
    data = (b"%PDF-1.3\n4 0 obj\n" + head + b"\nstream\n" + bomb
            + b"\nendstream\nendobj\n%%EOF\n")
    with pytest.raises(InflateRatioError):
        pdf.extract_pdf(data, max_inflate_ratio=200.0)


def test_pdf_info_metadata():
    data = (b"%PDF-1.3\n1 0 obj\n<< /Title (My Doc) /Producer (sparktika) >>\nendobj\n"
            + _simple_pdf("BT (x) Tj ET")[9:])
    r = pdf.extract_pdf(data)
    assert r.metadata["Title"] == "My Doc"
    assert r.metadata["Producer"] == "sparktika"


def test_pdf_inline_image_skipped_and_counted():
    # the inline payload deliberately contains tokenizer poison: an unbalanced
    # "(" and text-operator lookalikes; the BI..EI skip must keep it all away
    # from the text interpreter
    binary = "".join(chr(b) for b in range(1, 64)) + "(Tj ET junk"
    content = ("BT /F1 12 Tf 72 720 Td (before) Tj ET\n"
               "BI /W 4 /H 4 /BPC 8 ID " + binary + " EI\n"
               "BT /F1 12 Tf 72 700 Td (after) Tj ET")
    data = _simple_pdf(content)
    r = pdf.extract_pdf(data)
    assert "before" in r.text and "after" in r.text
    assert "pdf:image-count" not in r.metadata  # O24 default: off
    r2 = pdf.extract_pdf(data, include_images=True)
    assert r2.metadata["pdf:inline-image-count"] == "1"
    assert r2.metadata["pdf:image-count"] == "1"


def test_pdf_image_xobject_count_and_config_flag():
    xobj = (b"5 0 obj\n<< /Type /XObject /Subtype /Image /Width 4 /Height 4 "
            b"/Length 3 >>\nstream\nabc\nendstream\nendobj\n")
    data = _simple_pdf("BT (text) Tj ET").replace(b"%%EOF\n", xobj + b"%%EOF\n")
    r = pdf.extract_pdf(data, include_images=True)
    assert r.metadata["pdf:image-count"] == "1"
    assert r.metadata["pdf:inline-image-count"] == "0"
    # dispatcher wiring (O24 flag routes through ExtractConfig)
    on = extract_document("https://x/a.pdf", "application/pdf", data,
                          ExtractConfig(pdf_extract_inline_images=True))
    assert on.metadata["pdf:image-count"] == ["1"]
    off = extract_document("https://x/a.pdf", "application/pdf", data)
    assert "pdf:image-count" not in off.metadata
    assert on.text_extracted == off.text_extracted


# ---------------------------------------------------------------- dispatch

def test_extract_document_html_ok():
    r = extract_document("https://e.com/a.html", "text/html",
                         b"<html><head><title>T</title></head><body><div>hi</div></body></html>")
    assert r.status == "ok"
    assert r.text_extracted == "hi\n"
    assert r.content_type_detected == "text/html"
    assert r.title == "T"
    assert r.metadata["write_limit_reached"] == ["false"]


def test_extract_document_oversize_skipped_before_parse():
    cfg = ExtractConfig(max_bytes=10)
    r = extract_document("u", None, b"<html><body>hello world</body></html>", cfg)
    assert r.status == "skipped_oversize"
    assert r.text_extracted is None


def test_extract_document_truncated():
    cfg = ExtractConfig(max_chars=5)
    r = extract_document("u", "text/html", b"<body><div>abcdefghij</div></body>", cfg)
    assert r.status == "truncated"
    assert r.text_extracted == "abcde"
    assert r.write_limit_reached


def test_extract_document_depth_bomb_fails_softly():
    cfg = ExtractConfig(max_depth=50)
    html = b"<body>" + b"<div>" * 100 + b"x"
    r = extract_document("u", None, html, cfg)
    assert r.status == "failed"
    assert "DepthLimitError" in (r.error or "")


def test_extract_document_broken_ole2_fails_softly():
    r = extract_document("u", None, b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\0" * 100)
    assert r.status == "failed"  # recognized container, bogus structure
    assert r.content_type_detected == "application/x-tika-msoffice"


def test_extract_document_unsupported_binary():
    r = extract_document("u", None, b"\x89PNG\r\n\x1a\n" + b"\0" * 100)
    assert r.status == "unsupported"
    assert r.content_type_detected == "image/png"


def test_extract_document_meta_only_fast_path_equivalence():
    """parse_content=False skips the HTML writer entirely (O26) yet must
    agree with full extraction on status, mime, charset, title, links, and
    metadata (the reference's parseContent=false attaches no content
    handler, so no text and no write limit)."""
    html = (b"<html><head><title>T &amp; U</title></head><body>"
            b"<a href='/x'>link text</a>"
            + b"<p>body &amp; text</p>" * 300 + b"</body></html>")
    full = extract_document("https://x/a.html", "text/html", html)
    meta = extract_document("https://x/a.html", "text/html", html,
                            ExtractConfig(parse_content=False))
    assert full.status == meta.status == "ok"
    assert meta.text_extracted is None and meta.n_chars_out == 0
    assert full.text_extracted and "body & text" in full.text_extracted
    assert (full.content_type_detected, full.charset_detected, full.title) == (
        meta.content_type_detected, meta.charset_detected, meta.title)
    assert [(l.target_uri, l.anchor) for l in full.links] == [
        (l.target_uri, l.anchor) for l in meta.links]
    for k in ("Content-Type", "Content-Encoding", "title", "dc:title", "n-links"):
        assert full.metadata.get(k) == meta.metadata.get(k), k
    # links+blocks off as well: the walk skips entity decoding of body text
    lean = extract_document("https://x/a.html", "text/html", html,
                            ExtractConfig(parse_content=False,
                                          extract_links=False,
                                          extract_main_text=False))
    assert (lean.status, lean.title, lean.links) == ("ok", full.title, [])
    assert lean.main_text is None


def test_extract_document_plain_text_passthrough():
    r = extract_document("u", "text/plain", b"test file here\n" * 3)
    assert r.status == "ok"
    assert r.text_extracted == "test file here\n" * 3


def test_extract_document_latin1_html_to_utf8():
    html = ('<html><head><meta http-equiv="Content-Type" '
            'content="text/html; charset=iso-8859-1"></head>'
            "<body>caf\xe9</body></html>").encode("latin-1")
    r = extract_document("u", "text/html", html)
    assert r.charset_detected == "iso-8859-1"
    assert r.text_extracted == "café"


def test_extract_document_never_raises():
    for payload in [b"", None, b"\x00\x01\x02", b"<body>" + b"&" * 1000,
                    b"%PDF-1.3 garbage"]:
        r = extract_document("u", None, payload)
        assert r.status in {"ok", "failed", "unsupported", "truncated"}


# ---------------------------------------------------------------- textstats

def test_minhash_similar_docs_agree_more():
    a = "the quick brown fox jumps over the lazy dog " * 10
    b = a.replace("lazy", "sleepy")
    c = "completely different words entirely unrelated content here " * 10
    sa, sb, sc = (textstats.minhash_signature(t) for t in (a, b, c))
    agree_ab = (sa == sb).mean()
    agree_ac = (sa == sc).mean()
    true_ab = textstats.jaccard(textstats.word_shingles(a), textstats.word_shingles(b))
    assert abs(agree_ab - true_ab) < 0.15  # minhash estimates true jaccard
    assert agree_ab > agree_ac + 0.2


def test_minhash_deterministic():
    import numpy as np
    s1 = textstats.minhash_signature("hello world foo bar baz")
    s2 = textstats.minhash_signature("hello world foo bar baz")
    assert np.array_equal(s1, s2)


def test_simhash_near_duplicates_close():
    a = "spark is a unified analytics engine for large scale data processing"
    b = a + " indeed"
    c = "totally other topic about gardening tulips and roses in spring"
    ha, hb, hc = (textstats.simhash64(t) for t in (a, b, c))
    assert textstats.hamming64(ha, hb) < textstats.hamming64(ha, hc)


def test_winnowing_fingerprint_properties():
    fp1 = textstats.winnowing_fingerprint("abcdefghijklmnop" * 4)
    fp2 = textstats.winnowing_fingerprint("abcdefghijklmnop" * 4)
    assert fp1 == fp2 and len(fp1) > 0
    shared = set(textstats.winnowing_fingerprint("x" * 3 + "abcdefghijklmnop" * 4))
    assert len(shared & set(fp1)) > 0


def test_lang_detect_and_quality():
    assert textstats.detect_lang("the cat and the dog went to a house in the garden") == "en"
    assert textstats.detect_lang("der hund und die katze ist nicht da") == "de"
    assert textstats.detect_lang("zzz qqq xxx") == "und"
    q = textstats.quality_score("the quick brown fox jumps over the lazy dog and runs")
    assert 0.0 < q <= 1.0
    assert textstats.quality_score("") == 0.0


def test_ngram_lang_detection():
    assert textstats.detect_lang_ngram(
        "the quick brown fox jumping over the lazy dog of the farm") == "en"
    assert textstats.detect_lang_ngram(
        "ich möchte ein schönes buch und die zeitung lesen") == "de"
    assert textstats.detect_lang_ngram("zzzz qqqq") == "und"


def test_xml_keeps_detected_type():
    """An XML payload parses through the XML kernel but must keep
    content_type_detected='application/xml' (code-review finding: it was
    being relabeled text/html). Feed roots are the exception: they
    REFINE to their real type (rss/atom), like SVG does."""
    r = extract_document("u", None, b'<?xml version="1.0"?><inventory><part><name>t</name></part></inventory>')
    assert r.content_type_detected == "application/xml"
    assert r.metadata["Content-Type"][0].startswith("application/xml")
    r2 = extract_document("u", None, b'<?xml version="1.0"?><rss><channel><title>t</title></channel></rss>')
    assert r2.content_type_detected == "application/rss+xml"


def test_json_extraction_string_leaves():
    """JSON payloads: string leaves in document order, one per line;
    top-level title key -> title; malformed JSON degrades to plain text;
    numbers/bools/null skipped."""
    from sparktika.kernels.extract import extract_document

    js = (b'{"title": "T", "a": [1, "one", {"b": "two", "c": null}], '
          b'"d": true, "e": "three"}')
    r = extract_document("https://x/d.json", "application/json", js)
    assert r.status == "ok"
    assert r.content_type_detected == "application/json"
    assert r.title == "T"
    assert r.text_extracted == "T\none\ntwo\nthree\n"
    assert r.metadata["n-string-leaves"] == ["4"]
    # malformed -> plain-text degrade, never a failure
    bad = extract_document("https://x/b.json", "application/json", b"{oops")
    assert (bad.status, bad.content_type_detected) == ("ok", "text/plain")
    assert bad.text_extracted == "{oops"
    # top-level array, no title
    arr = extract_document("https://x/a.json", "application/json",
                           b'["x", {"y": "z"}]')
    assert arr.title is None and arr.text_extracted == "x\nz\n"
    # empty object: ok with empty text
    empty = extract_document("https://x/e.json", "application/json", b"{}")
    assert (empty.status, empty.text_extracted) == ("ok", "")


def test_declared_json_never_overrides_an_exact_route():
    """The declared-JSON rule is a fallback for text/* types with no
    route of their own: a payload that sniffs as HTML or vCard keeps
    its route when the server declares application/json."""
    from sparktika.kernels.extract import extract_document

    html = b"<html><head><title>T</title></head><body><p>hi</p></body></html>"
    r = extract_document("https://x/p", "application/json", html)
    assert (r.content_type_detected, r.status, r.title) == ("text/html", "ok", "T")
    vcf = b"BEGIN:VCARD\r\nVERSION:3.0\r\nFN:A B\r\nEND:VCARD\r\n"
    r = extract_document("https://x/c", "application/json", vcf)
    assert (r.content_type_detected, r.status, r.title) == ("text/vcard", "ok", "A B")


def test_pdf_embedded_files_recursed():
    from sparktika.config import ExtractConfig
    from sparktika.synth import build_pdf_embedded

    r = extract_document("x.pdf", None, build_pdf_embedded(7))
    assert r.status == "ok"
    assert r.text_extracted.endswith(
        "[Embedded: note1.txt]\nEmbedded note 7.\n")
    assert r.metadata["embedded-names"] == ["note1.txt"]
    # recursion disabled: host text only, no attachment section
    r0 = extract_document("x.pdf", None, build_pdf_embedded(7),
                          ExtractConfig(max_embed_depth=0))
    assert "[Embedded:" not in r0.text_extracted
    # existing PDFs without /EmbeddedFiles are untouched
    from sparktika.synth import build_pdf
    r1 = extract_document("y.pdf", None, build_pdf("Plain.", True))
    assert "embedded-names" not in r1.metadata


def test_pdf_embedded_name_tree_alias_bomb_terminates():
    """Regression (review pass 3): a self-referential /Kids name tree
    must terminate via the visited-set/visit-cap, not traverse 64^depth
    aliased nodes (a sub-KB document must never hang a worker)."""
    import time

    bomb = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R /Names "
        b"<< /EmbeddedFiles 7 0 R >> >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [] /Count 0 >>\nendobj\n"
        b"7 0 obj\n<< /Kids [" + b"7 0 R " * 60 + b"] >>\nendobj\n"
        b"%%EOF\n"
    )
    t0 = time.monotonic()
    r = extract_document("bomb.pdf", None, bomb)
    assert time.monotonic() - t0 < 5.0
    assert r.status in ("ok", "failed")
    assert not r.metadata.get("embedded-names")


def test_pdf_embedded_skipped_when_budget_zero():
    """collect_embedded=False: attachments are neither inflated nor
    walked when the dispatcher would discard them anyway."""
    from sparktika.config import ExtractConfig
    from sparktika.kernels.pdf import extract_pdf
    from sparktika.synth import build_pdf_embedded

    r = extract_pdf(build_pdf_embedded(3), collect_embedded=False)
    assert r.embedded_files == []
    r2 = extract_document("x.pdf", None, build_pdf_embedded(3),
                          ExtractConfig(max_embed_depth=0))
    assert "[Embedded:" not in r2.text_extracted


def test_mime_breadth_modern_crawl_formats():
    """Honest detection (status may stay unsupported — never a wrong
    label) for formats a modern crawl serves constantly."""
    from sparktika.kernels.mime import detect_mime

    cases = [
        (b"Rar!\x1a\x07\x00" + bytes(32), "application/vnd.rar"),
        (b"\x1aE\xdf\xa3" + bytes(32), "video/webm"),
    ]
    for payload, expected in cases:
        assert detect_mime(payload, None, "u") == expected, expected
        r = extract_document("u", None, payload)
        assert r.content_type_detected == expected
        assert r.status == "unsupported"  # honest: no parser, right label
    # zstd gained a real decoder in r5: a corrupt frame is now an honest
    # FAILURE (right label, error surfaced), not unsupported
    r = extract_document("u", None, b"\x28\xb5\x2f\xfd" + bytes(32))
    assert r.content_type_detected == "application/zstd"
    assert r.status == "failed"
    # HEIF family: dims-only metadata since r4
    for payload, expected in [(bytes(4) + b"ftypavif" + bytes(16), "image/avif"),
                              (bytes(4) + b"ftypheic" + bytes(16), "image/heic")]:
        r = extract_document("u", None, payload)
        assert r.content_type_detected == expected
    # 7z grew a real parser in round 4: truncated magic-only payloads now
    # fail the parse honestly instead of reporting unsupported
    r = extract_document("u", None, b"7z\xbc\xaf\x27\x1c" + bytes(32))
    assert r.content_type_detected == "application/x-7z-compressed"
    assert r.status == "failed"


def test_html_meta_tags_opt_in():
    from sparktika.config import ExtractConfig

    html = (b"<html><head><meta name='description' content='A &amp; B'>"
            b"<meta name='dup' content='first'>"
            b"<meta name='dup' content='second'>"
            b"<meta content='nameless'>"
            b"<meta name='title' content='never-clobbers'>"
            b"</head><body><p>x</p>"
            b"<meta name='inbody' content='also captured'></body></html>")
    r = extract_document("u", "text/html", html,
                         ExtractConfig(html_meta_tags=True))
    assert r.metadata["description"] == ["A & B"]
    assert r.metadata["dup"] == ["first"]          # first occurrence wins
    assert r.metadata["inbody"] == ["also captured"]
    assert "nameless" not in str(r.metadata)
    # default OFF: parity-stable (no meta keys)
    r0 = extract_document("u", "text/html", html)
    assert "description" not in r0.metadata
    # meta-only fast path captures the same pairs
    lean = extract_document("u", "text/html", html,
                            ExtractConfig(html_meta_tags=True,
                                          parse_content=False,
                                          extract_links=False,
                                          extract_main_text=False))
    assert lean.metadata["description"] == ["A & B"]
    assert lean.metadata["dup"] == ["first"]


def test_pdf_image_payload_emission():
    """include_images decodes Flate-RGB and DCTDecode XObjects into
    pixel-exact DecodedImages, in object order (r3 verdict item 6)."""
    import numpy as np

    from sparktika.kernels.pdf import extract_pdf
    from sparktika.synth import build_pdf_images, _media_color, media_dims

    r = extract_pdf(build_pdf_images(7), include_images=True)
    assert r.metadata["pdf:decoded-image-count"] == "2"
    assert [num for num, _ in r.images] == [5, 6]
    flate = r.images[0][1]
    assert (flate.width, flate.height) == (8, 6)
    assert tuple(flate.pixels[0, 0]) == _media_color(7)
    assert (flate.pixels == flate.pixels[0, 0]).all()
    jpeg = r.images[1][1]
    assert (jpeg.width, jpeg.height) == media_dims(21)
    assert (jpeg.pixels == (111 * 7) % 256).all()
    # default path emits nothing
    r0 = extract_pdf(build_pdf_images(7), include_images=False)
    assert r0.images == []


def test_pdf_image_unsupported_codecs_counted_not_emitted():
    """JBIG2/predictor-coded images are skipped (still counted) and a
    corrupt DCT stream never fails the document."""
    import zlib as _z

    from sparktika.kernels.pdf import extract_pdf

    body = _z.compress(b"\x00" * 24)
    pdf = b"".join([
        b"%PDF-1.4\n",
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n",
        # JBIG2: unsupported filter
        b"5 0 obj\n<< /Type /XObject /Subtype /Image /Width 2 /Height 2 "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /JBIG2Decode "
        b"/Length 4 >>\nstream\nabcd\nendstream\nendobj\n",
        # predictor-coded Flate: unsupported
        b"6 0 obj\n<< /Type /XObject /Subtype /Image /Width 2 /Height 2 "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode "
        b"/DecodeParms << /Predictor 15 /Colors 3 /Columns 2 >> "
        b"/Length %d >>\nstream\n" % len(body), body,
        b"\nendstream\nendobj\n",
        # corrupt DCTDecode payload
        b"7 0 obj\n<< /Type /XObject /Subtype /Image /Width 2 /Height 2 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /DCTDecode "
        b"/Length 6 >>\nstream\n\xff\xd8\xff\x00ab\nendstream\nendobj\n",
        b"%%EOF\n",
    ])
    r = extract_pdf(pdf, include_images=True)
    assert r.metadata["pdf:image-count"] == "3"
    assert r.metadata["pdf:decoded-image-count"] == "0"
    assert r.images == []


def test_vcard_ical_kernels():
    from sparktika.kernels.mime import detect_mime
    from sparktika.kernels.vcal import extract_vcal, sniff_vcal
    from sparktika.synth import build_ics, build_vcf

    assert sniff_vcal(build_vcf(1)) == "text/vcard"
    assert sniff_vcal(build_ics(1)) == "text/calendar"
    assert detect_mime(build_vcf(1)) == "text/vcard"
    assert detect_mime(build_ics(1)) == "text/calendar"
    # prose mentioning BEGIN:VCARD mid-file never misroutes
    assert detect_mime(b"notes about BEGIN:VCARD syntax\n") == "text/plain"

    r = extract_vcal(build_vcf(4))
    assert r.n_components == 3 and r.title == "Person 4"
    assert "PHOTO" not in r.text and "data-skipped" not in r.text
    # vCard 2.1 QUOTED-PRINTABLE (r5): soft line break joined, =XX decoded
    assert "Café note one continued 4" in r.text
    assert "=C3" not in r.text and "=\n" not in r.text

    r = extract_vcal(build_ics(4))
    assert r.n_components == 2 and r.title == "Meeting 4"
    assert "Hidden todo" not in r.text  # VTODO excluded

    # folding + escapes
    folded = (b"BEGIN:VCARD\r\nFN:Split\r\n  name\r\n"
              b"NOTE:semi\\; and \\\\ back\r\nEND:VCARD\r\n")
    r = extract_vcal(folded)
    assert r.text == "Split name\nsemi; and \\ back\n"

    # malformed: never raises, still a result
    r = extract_vcal(b"BEGIN:VCARD\njunk without colon\nFN\x00:x\n")
    assert isinstance(r.text, str)


def test_ical_valarm_does_not_leak():
    """r4 review finding: a VALARM nested in a VEVENT must not leak its
    SUMMARY/DESCRIPTION into the text or steal the title."""
    from sparktika.kernels.vcal import extract_vcal

    ics = (b"BEGIN:VCALENDAR\r\n"
           b"BEGIN:VEVENT\r\n"
           b"BEGIN:VALARM\r\n"
           b"ACTION:EMAIL\r\n"
           b"SUMMARY:Alarm mail subject\r\n"
           b"DESCRIPTION:Reminder body\r\n"
           b"END:VALARM\r\n"
           b"SUMMARY:Real meeting\r\n"
           b"LOCATION:Room 1\r\n"
           b"END:VEVENT\r\n"
           b"END:VCALENDAR\r\n")
    r = extract_vcal(ics)
    assert r.title == "Real meeting"
    assert r.text == "Real meeting\nRoom 1\n"
    assert "Alarm" not in r.text and "Reminder" not in r.text


def test_vcard_qp_edge_cases():
    """QP decoding edges: bare QUOTED-PRINTABLE param (2.1 allows
    nameless params), malformed =X escape passes through literally,
    trailing '=' at EOF never raises."""
    from sparktika.kernels.vcal import extract_vcal

    r = extract_vcal(b"BEGIN:VCARD\r\n"
                     b"NOTE;QUOTED-PRINTABLE:a=20b=\r\n"
                     b"tail\r\nEND:VCARD\r\n")
    assert "a btail" in r.text
    # malformed =ZZ passes through literally; the trailing '=' soft
    # break is unconditional per RFC 2045 (joins even an END line —
    # bounded by file size, never raises)
    r = extract_vcal(b"BEGIN:VCARD\r\n"
                     b"NOTE;ENCODING=QUOTED-PRINTABLE:bad =ZZ esc=\r\n"
                     b"END:VCARD\r\n")
    assert "bad =ZZ esc" in r.text
    # trailing '=' on the LAST line: nothing to join, never raises
    r = extract_vcal(b"BEGIN:VCARD\r\n"
                     b"NOTE;ENCODING=QUOTED-PRINTABLE:tail=")
    assert isinstance(r.text, str)


def test_vcard_qp_backslash_sequences_stay_literal():
    """r5 review: QP-decoded 2.1 values carry no backslash escaping —
    =5Cn (a Windows path segment) must stay a literal backslash-n."""
    from sparktika.kernels.vcal import extract_vcal

    r = extract_vcal(b"BEGIN:VCARD\r\n"
                     b"NOTE;ENCODING=QUOTED-PRINTABLE:path C:=5Cnotes=5Cnew\r\n"
                     b"END:VCARD\r\n")
    assert "path C:\\notes\\new" in r.text


def test_mime_warc_any_version():
    """r5 whole-repo review: Common Crawl ships WARC/1.1 since 2018."""
    assert mime.detect_mime(b"WARC/1.1\r\nWARC-Type: response\r\n") == \
        "application/warc"
    assert mime.detect_mime(b"WARC/1.0\r\nWARC-Type: response\r\n") == \
        "application/warc"


def test_eml_quoted_boundary_not_shredded():
    """r5 whole-repo review (RFC 2046 §5.1.1): the delimiter matches at
    LINE START only — a part QUOTING '--boundary' mid-line keeps its
    text and spawns no phantom part."""
    from sparktika.kernels.eml import extract_eml

    msg = (b"From: a@b.c\r\n"
           b"Content-Type: multipart/mixed; boundary=XYZ\r\n\r\n"
           b"pre\r\n--XYZ\r\nContent-Type: text/plain\r\n\r\n"
           b"quoting the delimiter --XYZ inline should be fine\r\n"
           b"--XYZ\r\nContent-Type: text/plain\r\n\r\nsecond part\r\n"
           b"--XYZ--\r\n")
    r = extract_eml(msg)
    assert "quoting the delimiter --XYZ inline should be fine" in r.text
    assert "second part" in r.text
    assert r.n_parts == 3  # container + 2 real parts, no phantom


def test_pdf_page_tree_alias_bomb_dies_fast():
    """r5 whole-repo review: an aliased /Kids graph must not explore
    exponentially many paths (visited set + deadline polls)."""
    import time as _t

    from sparktika.kernels.pdf import extract_pdf

    pdf_data = (b"%PDF-1.4\n"
                b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
                b"2 0 obj << /Kids [2 0 R 2 0 R] >> endobj\n"
                b"trailer << /Root 1 0 R >>")
    t0 = _t.monotonic()
    extract_pdf(pdf_data, deadline=_t.monotonic() + 3)
    assert _t.monotonic() - t0 < 3.5


def test_pdf_indirect_contents_array():
    """PDF 32000 §7.7.3.3: /Contents may be an indirect ref TO an array
    of streams (r5 whole-repo review: text was silently empty)."""
    from sparktika.kernels.pdf import extract_pdf

    pdf_data = (b"%PDF-1.4\n"
                b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
                b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
                b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 5 0 R >>"
                b" endobj\n"
                b"5 0 obj [6 0 R] endobj\n"
                b"6 0 obj << /Length 44 >> stream\n"
                b"BT /F1 12 Tf 72 700 Td (Hello World) Tj ET\n"
                b"endstream endobj\n"
                b"trailer << /Root 1 0 R >>")
    assert "Hello World" in extract_pdf(pdf_data).text


def test_pdf_two_byte_cmap_and_bfrange_overflow():
    """Identity-H-style 2-byte CMaps decode in 2-byte units (not
    NUL-interleaved garbage), and an overflowing bfrange destination
    widens instead of raising OverflowError (r5 whole-repo review)."""
    from sparktika.kernels.pdf import _Font, parse_tounicode

    m, two = parse_tounicode(
        b"begincodespacerange <0000> <FFFF> endcodespacerange "
        b"beginbfchar <0048> <0048> <0049> <0065> endbfchar")
    assert two
    assert _Font(m, None, two).decode(b"\x00\x48\x00\x49") == "He"
    m2, _ = parse_tounicode(b"beginbfrange <0000> <00FF> <FFF0> endbfrange")
    assert len(m2) == 256  # no OverflowError


def test_bmp_lying_palette_degrades():
    """A biClrUsed pointing past the file raises KernelError, never a
    raw numpy ValueError (r5 whole-repo review)."""
    import struct as _struct

    from sparktika.kernels.errors import KernelError as _KE
    from sparktika.kernels.image import decode_bmp

    hdr = bytearray(b"BM" + bytes(12)
                    + _struct.pack("<IiiHH", 40, 2, 2, 1, 8) + bytes(24))
    hdr[10:14] = (1078).to_bytes(4, "little")
    hdr[46:50] = (0x10000000).to_bytes(4, "little")
    hdr += bytes(4096)
    with pytest.raises(_KE):
        decode_bmp(bytes(hdr))


def test_rtf_surrogate_pairs_combine():
    """r5 second whole-repo review: RTF encodes non-BMP chars as PAIRS
    of negative \\uN — halves must combine; a lone surrogate would be
    un-UTF-8-encodable and kill the Arrow batch."""
    from sparktika.kernels.rtf import extract_rtf

    r = extract_rtf(b"{\\rtf1 \\u-10179?\\u-8572?}")
    r.text.encode("utf-8")
    assert "\U0001F684" in r.text
    r2 = extract_rtf(b"{\\rtf1 \\u-10179? tail}")  # lone high: dropped
    r2.text.encode("utf-8")
    assert "tail" in r2.text and "\ud83d" not in r2.text
    assert "café" in extract_rtf(b"{\\rtf1 caf\\u233?}").text


def test_ods_covered_cells_and_depth_guard():
    """Merged cells keep later columns in position; the max_depth param
    is enforced (was dead)."""
    from sparktika.kernels.errors import DepthLimitError
    from sparktika.kernels.odf import extract_odf
    from sparktika.synth import _odf_zip

    content = (
        b'<?xml version="1.0"?><office:document-content '
        b'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        b'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
        b'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        b'<office:body><office:spreadsheet><table:table table:name="S">'
        b'<table:table-row>'
        b'<table:table-cell><text:p>A</text:p></table:table-cell>'
        b'<table:covered-table-cell/>'
        b'<table:table-cell><text:p>C</text:p></table:table-cell>'
        b'</table:table-row></table:table>'
        b'</office:spreadsheet></office:body></office:document-content>')
    r = extract_odf(_odf_zip(
        "application/vnd.oasis.opendocument.spreadsheet", content))
    assert "A\t\tC" in r.text
    deep = (b'<?xml version="1.0"?><office:document-content '
            b'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0">'
            b'<office:body><office:spreadsheet>'
            + b"<a>" * 600 + b"</a>" * 600
            + b'</office:spreadsheet></office:body></office:document-content>')
    with pytest.raises(DepthLimitError):
        extract_odf(_odf_zip(
            "application/vnd.oasis.opendocument.spreadsheet", deep),
            max_depth=200)


def test_epub_percent_encoded_spine_href():
    """OPF hrefs are URLs: percent-encoding and fragments resolve to
    the zip entry (chapters were silently dropped)."""
    import io
    import zipfile

    from sparktika.kernels.epub import extract_epub

    opf = (b'<?xml version="1.0"?>'
           b'<package xmlns="http://www.idpf.org/2007/opf" version="2.0">'
           b'<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">'
           b'<dc:title>T</dc:title></metadata><manifest>'
           b'<item id="c1" href="ch%20one.xhtml" '
           b'media-type="application/xhtml+xml"/>'
           b'<item id="c2" href="ch2.xhtml#sec" '
           b'media-type="application/xhtml+xml"/></manifest>'
           b'<spine><itemref idref="c1"/><itemref idref="c2"/></spine>'
           b'</package>')
    container = (b'<?xml version="1.0"?><container version="1.0" '
                 b'xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
                 b'<rootfiles><rootfile full-path="content.opf" '
                 b'media-type="application/oebps-package+xml"/></rootfiles>'
                 b'</container>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("mimetype", "application/epub+zip")
        z.writestr("META-INF/container.xml", container)
        z.writestr("content.opf", opf)
        z.writestr("ch one.xhtml",
                   b"<html><body><p>encoded chapter</p></body></html>")
        z.writestr("ch2.xhtml",
                   b"<html><body><p>fragment chapter</p></body></html>")
    r = extract_epub(buf.getvalue())
    assert "encoded chapter" in r.text and "fragment chapter" in r.text


def test_tar_capped_member_marks_truncated():
    """A tar member cut at max_entry_bytes flags truncated=True (the
    zip path already did)."""
    import io
    import tarfile

    from sparktika.kernels.container import extract_tar_container

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as t:
        payload = b"capped text " * 2000
        info = tarfile.TarInfo("big.txt")
        info.size = len(payload)
        t.addfile(info, io.BytesIO(payload))
    r = extract_tar_container(buf.getvalue(), max_entry_bytes=1000)
    assert r.truncated


def test_oversize_member_does_not_skip_later_members():
    """r6 review: tar/ar/cpio conflated per-member oversize with budget
    exhaustion — one oversize member silently dropped every LATER
    member's text (names were still listed, masking the loss)."""
    import io
    import tarfile

    from sparktika.kernels.container import (extract_ar_container,
                                             extract_cpio_container,
                                             extract_tar_container)

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        big = tarfile.TarInfo("big.bin")
        big.size = 5000
        tf.addfile(big, io.BytesIO(b"\x00" * 5000))
        small = tarfile.TarInfo("small.txt")
        small.size = 10
        tf.addfile(small, io.BytesIO(b"tiny text\n"))
    r = extract_tar_container(buf.getvalue(), max_entry_bytes=1000)
    assert r.truncated and "tiny text" in r.text

    def ar_entry(name, body):
        hdr = (name.ljust(16).encode() + b"0".ljust(12) + b"0".ljust(6)
               + b"0".ljust(6) + b"100644".ljust(8)
               + str(len(body)).encode().ljust(10) + b"\x60\x0a")
        return hdr + body + (b"\n" if len(body) & 1 else b"")

    ar = (b"!<arch>\n" + ar_entry("big.bin", b"\x00" * 5000)
          + ar_entry("s.txt", b"tiny text\n"))
    r2 = extract_ar_container(ar, max_entry_bytes=1000)
    assert r2.truncated and "tiny text" in r2.text

    def cpio_entry(name, body):
        nb = name.encode() + b"\x00"
        hdr = (b"070701" + b"0" * 8 + f"{0o100644:08x}".encode()
               + b"0" * 8 * 4 + f"{len(body):08x}".encode()
               + b"0" * 8 * 4 + f"{len(nb):08x}".encode() + b"0" * 8)
        out = hdr + nb
        out += b"\x00" * ((-len(out)) % 4)
        out += body
        out += b"\x00" * ((-len(out)) % 4)
        return out

    cp = (cpio_entry("big.bin", b"\x00" * 5000)
          + cpio_entry("s.txt", b"tiny text\n")
          + cpio_entry("TRAILER!!!", b""))
    r3 = extract_cpio_container(cp, max_entry_bytes=1000)
    assert r3.truncated and "tiny text" in r3.text


def test_container_formats_agree_on_same_members():
    """Differential consistency: the SAME member files packed as tar,
    ar, cpio, and zip must route to identical concatenated text (the
    shared member router is the single source of truth; a per-format
    ordering or decoding drift fails here)."""
    import io
    import tarfile
    import zipfile

    from sparktika.kernels.container import (extract_ar_container,
                                             extract_cpio_container,
                                             extract_tar_container,
                                             extract_zip_container)

    members = [("a.txt", b"alpha text\n"),
               ("b.html", b"<html><body><p>bee</p></body></html>"),
               ("c.json", b'{"k": "json leaf"}')]

    tbuf = io.BytesIO()
    with tarfile.open(fileobj=tbuf, mode="w") as tf:
        for name, body in members:
            ti = tarfile.TarInfo(name)
            ti.size = len(body)
            tf.addfile(ti, io.BytesIO(body))

    def ar_entry(name, body):
        hdr = (name.ljust(16).encode() + b"0".ljust(12) + b"0".ljust(6)
               + b"0".ljust(6) + b"100644".ljust(8)
               + str(len(body)).encode().ljust(10) + b"\x60\x0a")
        return hdr + body + (b"\n" if len(body) & 1 else b"")

    ar = b"!<arch>\n" + b"".join(ar_entry(n, b) for n, b in members)

    def cpio_entry(name, body):
        nb = name.encode() + b"\x00"
        hdr = (b"070701" + b"0" * 8 + f"{0o100644:08x}".encode()
               + b"0" * 8 * 4 + f"{len(body):08x}".encode()
               + b"0" * 8 * 4 + f"{len(nb):08x}".encode() + b"0" * 8)
        out = hdr + nb
        out += b"\x00" * ((-len(out)) % 4)
        out += body
        out += b"\x00" * ((-len(out)) % 4)
        return out

    cp = (b"".join(cpio_entry(n, b) for n, b in members)
          + cpio_entry("TRAILER!!!", b""))

    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w") as z:
        for name, body in members:
            z.writestr(name, body)

    texts = {
        "tar": extract_tar_container(tbuf.getvalue()).text,
        "ar": extract_ar_container(ar).text,
        "cpio": extract_cpio_container(cp).text,
        "zip": extract_zip_container(zbuf.getvalue()).text,
    }
    assert len(set(texts.values())) == 1, texts
    assert "alpha text" in texts["tar"] and "bee" in texts["tar"]
    assert "json leaf" in texts["tar"]
