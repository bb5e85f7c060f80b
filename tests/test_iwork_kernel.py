"""iWork '09 package kernel tests."""

import io
import random
import zipfile

import pytest

from sparktika.kernels.errors import KernelError
from sparktika.kernels.extract import extract_document
from sparktika.kernels.iwork import extract_iwork, sniff_iwork
from sparktika.synth import build_iwork


def test_three_dialects():
    for i, (mime, text) in enumerate([
        ("application/vnd.apple.pages",
         "Pages body 0 one.\nPages body 0 two.\n"),
        ("application/vnd.apple.numbers", "Cell 1 alpha\nCell 1 beta\n"),
        ("application/vnd.apple.keynote", "Slide 2 title.\n"),
    ]):
        r = extract_document(f"https://x/{i}.pages", None, build_iwork(i))
        assert r.status == "ok"
        assert r.content_type_detected == mime
        assert r.text_extracted == text


def test_gz_index_variant():
    # odd Pages ids carry index.xml.gz
    r = extract_document("https://x/3.pages", None, build_iwork(3))
    assert r.status == "ok"
    assert r.text_extracted == "Pages body 3 one.\nPages body 3 two.\n"


def test_sniff_requires_both_markers():
    def make_zip(entries):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            for name, body in entries:
                z.writestr(name, body)
        return buf.getvalue()

    # plist alone / index alone: no route
    assert not sniff_iwork(make_zip([("buildVersionHistory.plist", "x")]))
    assert not sniff_iwork(make_zip([("index.xml", "<sl:document/>")]))
    assert sniff_iwork(make_zip([("buildVersionHistory.plist", "x"),
                                 ("index.xml", "<sl:document/>")]))
    # generic zip with other files: no route
    assert not sniff_iwork(make_zip([("a.txt", "hello")]))


def test_bad_root_refuses():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("buildVersionHistory.plist", "x")
        z.writestr("index.xml", "<notiwork><p>t</p></notiwork>")
    with pytest.raises(KernelError):
        extract_iwork(buf.getvalue())


def test_nested_text_body_and_spans():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("buildVersionHistory.plist", "x")
        z.writestr("index.xml",
                   '<sl:document><sf:text-body><sf:p>a <sf:span>b'
                   '</sf:span> c</sf:p><sf:p></sf:p>'
                   '<sf:p>d &amp; e</sf:p></sf:text-body>'
                   '<sf:p>outside body ignored</sf:p></sl:document>')
    r = extract_iwork(buf.getvalue())
    assert r.text == "a b c\nd & e\n"
    assert r.n_paragraphs == 2


def test_fuzz_never_raises():
    rnd = random.Random(37)
    data = bytearray(build_iwork(4))
    for _ in range(80):
        i = rnd.randrange(len(data))
        orig = data[i]
        data[i] = rnd.randrange(256)
        rr = extract_document("https://x/a.numbers", None, bytes(data))
        assert rr.status in ("ok", "failed", "unsupported", "truncated")
        data[i] = orig


def test_build_bytes_do_not_depend_on_the_clock(monkeypatch):
    """Zip members carry a fixed timestamp, so one doc_id always builds
    the same bytes; members stay deflated."""
    import time

    monkeypatch.setattr(time, "time", lambda: 1_000_000_000.0)
    first = build_iwork(3)
    monkeypatch.setattr(time, "time", lambda: 1_700_000_000.0)
    assert build_iwork(3) == first
    infos = zipfile.ZipFile(io.BytesIO(first)).infolist()
    assert {i.compress_type for i in infos} == {zipfile.ZIP_DEFLATED}
