"""MHTML (RFC 2557 multipart/related) kernel tests: routing off the
eml sniff, root-HTML render, resource accounting, CTE decode,
boundary-quoting safety, invariant-7 fuzz."""

import random

import pytest

from sparktika.kernels.errors import KernelError
from sparktika.kernels.extract import extract_document
from sparktika.kernels.mhtml import extract_mhtml, is_multipart_related
from sparktika.kernels.mime import detect_mime
from sparktika.synth import build_mhtml


def test_routing_mhtml_vs_eml():
    assert detect_mime(build_mhtml(3)) == "multipart/related"
    plain_mail = (b"From: a@example.com\r\nTo: b@example.com\r\n"
                  b"Subject: hi\r\nMIME-Version: 1.0\r\n"
                  b"Content-Type: text/plain\r\n\r\nhello\r\n")
    assert detect_mime(plain_mail) == "message/rfc822"
    assert not is_multipart_related(plain_mail)


def test_mixed_case_multipart_header_routes_to_mhtml():
    # RFC 2045: type and subtype are case-insensitive
    raw = (b"From: a@example.com\r\nMIME-Version: 1.0\r\n"
           b"Content-Type: Multipart/Related; boundary=\"B\"\r\n\r\n"
           b"--B\r\nContent-Type: text/html\r\n\r\n"
           b"<html><body><p>mixed case</p></body></html>\r\n--B--\r\n")
    assert is_multipart_related(raw)
    assert detect_mime(raw) == "multipart/related"
    r = extract_document("u.mht", None, raw)
    assert r.status == "ok"
    assert r.text_extracted == "mixed case"
    # the prefilter reads only the header block: the token in a body
    # does not make a plain email a saved page
    plain = raw.replace(b"Multipart/Related", b"text/plain")
    assert not is_multipart_related(plain + b"\r\nmultipart/related\r\n")


def test_root_html_renders_and_resources_counted():
    r = extract_mhtml(build_mhtml(2))
    assert r.text == "Saved page 2 body.\nTokens 2."
    assert r.title == "Page 2"
    assert r.snapshot_location == "https://pages.example.com/p2"
    assert r.n_resources == 3
    assert r.resource_types == ["text/css", "image/png", "image/png"]
    assert r.resource_locations[0] == "https://pages.example.com/style2.css"


def test_base64_html_part_decodes():
    import base64

    html = b"<html><body><p>b64 body</p></body></html>"
    raw = (b"MIME-Version: 1.0\r\n"
           b"Content-Type: multipart/related; boundary=\"B\"\r\n\r\n"
           b"--B\r\nContent-Type: text/html\r\n"
           b"Content-Transfer-Encoding: base64\r\n\r\n"
           + base64.b64encode(html) + b"\r\n--B--\r\n")
    r = extract_mhtml(raw)
    assert r.text == "b64 body"


def test_quoted_boundary_in_html_not_split():
    # RFC 2046 line-anchoring: a part QUOTING the delimiter mid-line
    # must not be shredded
    raw = (b"MIME-Version: 1.0\r\n"
           b"Content-Type: multipart/related; boundary=\"B\"\r\n\r\n"
           b"--B\r\nContent-Type: text/html\r\n\r\n"
           b"<html><body><p>the marker --B stays inline</p></body></html>"
           b"\r\n--B--\r\n")
    r = extract_mhtml(raw)
    assert "--B stays inline" in r.text


def test_missing_boundary_refuses():
    raw = (b"MIME-Version: 1.0\r\n"
           b"Content-Type: multipart/related\r\n\r\nx")
    with pytest.raises(KernelError, match="boundary"):
        extract_mhtml(raw)
    r = extract_document("u.mht", "multipart/related", raw)
    assert r.status == "failed"


def test_part_cap_bomb():
    parts = b"".join(b"--B\r\nContent-Type: image/gif\r\n\r\nx\r\n"
                     for _ in range(600))
    raw = (b"MIME-Version: 1.0\r\n"
           b"Content-Type: multipart/related; boundary=\"B\"\r\n\r\n"
           + parts + b"--B--\r\n")
    with pytest.raises(KernelError, match="part cap"):
        extract_mhtml(raw)
    r = extract_document("u.mht", "multipart/related", raw)
    assert r.status == "failed"


def test_fuzz_never_raises():
    rng = random.Random(8323)
    for i in range(200):
        base = build_mhtml(i % 5)
        mut = bytearray(base[:rng.randrange(1, len(base))])
        for _ in range(rng.randrange(0, 5)):
            mut[rng.randrange(len(mut))] = rng.randrange(256)
        r = extract_document("u", "multipart/related", bytes(mut))
        assert r.status in ("ok", "failed", "unsupported", "truncated")
