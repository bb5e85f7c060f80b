"""XPS kernel — ECMA-388 FixedPage Glyphs text extraction."""

from __future__ import annotations

import io
import random
import zipfile

import pytest

from sparktika.kernels.errors import KernelError
from sparktika.kernels.extract import ExtractConfig, extract_document
from sparktika.kernels.xps import build_xps, extract_xps, sniff_xps
from sparktika.synth import build_xps_doc


def test_pages_and_runs():
    r = extract_xps(build_xps([["a", "b"], ["c"]]))
    assert r.text == "a\nb\n\nc\n"
    assert r.n_pages == 2 and r.n_runs == 3


def test_xml_escapes_and_brace_escape():
    r = extract_xps(build_xps([['quote " amp & lt <', "{}{literal"]]))
    assert r.text == 'quote " amp & lt <\n{literal\n'


def test_absolute_and_relative_sources_resolve():
    # builder uses an absolute fdoc Source + relative fpage Sources
    r = extract_xps(build_xps([["resolved"]]))
    assert r.text == "resolved\n"


def test_missing_fdseq_refuses():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("hello.txt", "not xps")
    assert not sniff_xps(buf.getvalue())
    with pytest.raises(KernelError):
        extract_xps(buf.getvalue())


def test_missing_page_part_skipped_not_fatal():
    data = build_xps([["kept"]])
    # remove the page part; the fdoc still references it
    src = zipfile.ZipFile(io.BytesIO(data))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for n in src.namelist():
            if not n.endswith(".fpage"):
                zf.writestr(n, src.read(n))
    r = extract_xps(buf.getvalue())
    assert r.text == "" and r.n_pages == 0


def test_dispatcher_route_and_ooxml_not_stolen():
    r = extract_document("d.xps", None, build_xps_doc(5))
    assert r.status == "ok"
    assert r.content_type_detected == "application/vnd.ms-xpsdocument"
    assert r.text_extracted.startswith("Xps heading 5\n")
    # a docx must still route to OOXML, not XPS
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("word/document.xml",
                    "<w:document><w:body><w:p><w:r><w:t>hi</w:t></w:r>"
                    "</w:p></w:body></w:document>")
    r2 = extract_document("d.docx", None, buf.getvalue())
    assert "xps" not in r2.content_type_detected


def test_char_budget_stops_decoding():
    pages = [[f"page {i} " + "x" * 100] for i in range(50)]
    r = extract_xps(build_xps(pages), max_chars=250)
    assert r.truncated
    assert len(r.text) < 500  # later pages never decoded


def test_fuzz_never_raises_through_dispatcher():
    rng = random.Random(0x9950)
    seeds = [build_xps_doc(i) for i in range(3)]
    for _ in range(150):
        base = bytearray(rng.choice(seeds))
        for _ in range(rng.randint(1, 6)):
            base[rng.randrange(len(base))] = rng.randrange(256)
        if rng.random() < 0.3:
            base = base[:rng.randrange(len(base))]
        r = extract_document("f.xps", None, bytes(base), ExtractConfig())
        assert r.status in ("ok", "failed", "truncated", "unsupported")


def test_exact_fit_page_not_truncated():
    # r7 ADVICE: when the page text exactly fills the remaining budget
    # no character is cut — the truncated flag must stay False.
    r = extract_xps(build_xps([["abcde"]]), max_chars=5)
    assert r.text.rstrip("\n") == "abcde"
    assert not r.truncated
    # one char over the boundary DOES truncate
    r2 = extract_xps(build_xps([["abcdef"]]), max_chars=5)
    assert r2.truncated
    # exact fit followed by a nonempty page also truncates
    r3 = extract_xps(build_xps([["abcde"], ["x"]]), max_chars=5)
    assert r3.truncated


def test_build_bytes_do_not_depend_on_the_clock(monkeypatch):
    """Zip members carry a fixed timestamp, so the same pages always build
    the same bytes; members stay deflated."""
    import time

    pages = [["a", "b"], ["c"]]
    monkeypatch.setattr(time, "time", lambda: 1_000_000_000.0)
    first = build_xps(pages)
    monkeypatch.setattr(time, "time", lambda: 1_700_000_000.0)
    assert build_xps(pages) == first
    infos = zipfile.ZipFile(io.BytesIO(first)).infolist()
    assert {i.compress_type for i in infos} == {zipfile.ZIP_DEFLATED}
