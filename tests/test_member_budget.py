"""The member char-budget rule every archive kernel shares
(`kernels/container.MemberText`), checked on each format that has a
member-list builder: a member dropped at the cap makes the result
truncated, whether the cap was crossed inside a member or met exactly
at its end."""

from __future__ import annotations

import io
import random
import zipfile

import pytest

from sparktika.config import ExtractConfig
from sparktika.kernels.cab import build_cab, extract_cab
from sparktika.kernels.container import (
    extract_ar_container,
    extract_cpio_container,
    extract_tar_container,
    extract_zip_container,
)
from sparktika.kernels.extract import extract_document
from sparktika.kernels.sevenzip import extract_7z
from sparktika.synth import _ar_member, _cpio_newc, _tar_entry, build_7z

MEMBERS = [("a.txt", b"abc"),
           ("b.html", b"<html><body><p>hello world</p></body></html>")]


def _zip(members):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, body in members:
            zf.writestr(name, body)
    return buf.getvalue()


def _tar(members):
    return b"".join(_tar_entry(n, b) for n, b in members) + b"\x00" * 1024


def _ar(members):
    return b"!<arch>\n" + b"".join(_ar_member(n, b) for n, b in members)


def _cpio(members):
    return (b"".join(_cpio_newc(n, b) for n, b in members)
            + _cpio_newc("TRAILER!!!", b"", mode=0))


FORMATS = {
    "zip": (_zip, extract_zip_container),
    "tar": (_tar, extract_tar_container),
    "ar": (_ar, extract_ar_container),
    "cpio": (_cpio, extract_cpio_container),
    "cab-stored": (lambda m: build_cab(m, compression="none"), extract_cab),
    "cab-mszip": (lambda m: build_cab(m, compression="mszip"), extract_cab),
    "7z": (build_7z, extract_7z),
}


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_member_after_an_exactly_spent_budget_truncates(fmt):
    build, extract = FORMATS[fmt]
    data = build(MEMBERS)
    r = extract(data, max_chars=3)
    assert r.text == "abc"
    assert r.truncated
    assert r.entries == ["a.txt", "b.html"]
    doc = extract_document(f"x.{fmt}", None, data, ExtractConfig(max_chars=3))
    assert doc.text_extracted == "abc"
    assert doc.status == "truncated"


def test_zip_extracts_members_after_an_over_cap_entry():
    # an entry over the inflate cap is read as a prefix; it marks the
    # result truncated, and the members after it still extract
    blob = random.Random(0).randbytes(100_000)
    data = _zip([("blob.bin", blob), ("b.txt", b"tail text\n")])
    r = extract_zip_container(data, max_chars=1000)
    assert r.text == "tail text\n"
    assert r.truncated
    assert r.entries == ["blob.bin", "b.txt"]
