"""Debian .deb, RPM, and Windows .lnk kernel tests: member walks,
header structures, control-field rendering, StringData decode,
MIME gating, invariant-7 fuzz."""

import random
import struct

import pytest

from sparktika.kernels.deb import extract_deb, parse_control_fields
from sparktika.kernels.errors import InflateRatioError, KernelError
from sparktika.kernels.extract import extract_document
from sparktika.kernels.lnk import extract_lnk, is_lnk
from sparktika.kernels.mime import detect_mime
from sparktika.kernels.rpm import extract_rpm
from sparktika.synth import build_deb, build_lnk, build_rpm


def _md1(r, key):
    v = r.metadata.get(key)
    return v[0] if v else None


# ----------------------------------------------------------------- deb

def test_deb_members_and_fields():
    r = extract_deb(build_deb(7))
    assert r.members == ["debian-binary", "control.tar.gz", "data.tar.gz"]
    assert r.fields["Package"] == "pkg7"
    assert r.fields["Architecture"] == "arm64"
    assert r.description.startswith("Synthetic package 7\n")
    assert "\n\nFinal line 0." in r.description  # '.' -> paragraph break


def test_deb_control_continuation_parsing():
    f = parse_control_fields("A: one\n two\nB: x\n\nC: y\n")
    assert f == {"A": "one\ntwo", "B": "x", "C": "y"}


def test_deb_mime_beats_generic_ar():
    assert detect_mime(build_deb(1)) == "application/x-debian-package"
    plain_ar = b"!<arch>\n" + b"foo.o           0     0     0     100644  2         \x60\x0atx"
    assert detect_mime(plain_ar) == "application/x-archive"


def test_deb_bad_version_refuses():
    bad = build_deb(1).replace(b"2.0\n", b"9.9\n")
    with pytest.raises(KernelError, match="format version"):
        extract_deb(bad)


def test_deb_missing_control_refuses():
    from sparktika.synth import _ar_member

    raw = b"!<arch>\n" + _ar_member("debian-binary", b"2.0\n")
    with pytest.raises(KernelError, match="missing control.tar"):
        extract_deb(raw)


def test_deb_control_inflation_cap():
    import gzip
    import io

    from sparktika.synth import _ar_member

    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
        f.write(b"\x00" * (20 * 1024 * 1024))
    raw = (b"!<arch>\n" + _ar_member("debian-binary", b"2.0\n")
           + _ar_member("control.tar.gz", buf.getvalue()))
    with pytest.raises(InflateRatioError):
        extract_deb(raw)
    r = extract_document("u.deb", None, raw)
    assert r.status == "failed"


# ----------------------------------------------------------------- rpm

def test_rpm_fields():
    r = extract_rpm(build_rpm(6))
    assert r.fields["name"] == "pkg6"
    assert r.fields["version"] == "2.2"
    assert r.fields["arch"] == "x86_64"
    assert r.fields["size"] == "10006"
    assert r.binary_package
    assert not extract_rpm(build_rpm(5)).binary_package  # source pkg


def test_rpm_header_alignment():
    # the main header only parses if the 8-byte pad after the signature
    # store is honored — build one whose sig store size forces padding
    r = extract_rpm(build_rpm(3))
    assert r.fields["summary"] == "Synthetic rpm 3"


def test_rpm_caps_and_truncation():
    bad = bytearray(build_rpm(1))
    # blow up the signature header's index count
    struct.pack_into(">I", bad, 96 + 8, 10_001)
    with pytest.raises(KernelError, match="cap exceeded"):
        extract_rpm(bytes(bad))
    with pytest.raises(KernelError, match="lead"):
        extract_rpm(b"\xed\xab\xee\xdb" + b"\x00" * 10)


# ----------------------------------------------------------------- lnk

def test_lnk_unicode_and_ansi_stringdata():
    r0 = extract_lnk(build_lnk(12))  # unicode, args, linkinfo, idlist? 12%5!=0
    assert r0.name == "Shortcut to doc 12"
    assert r0.relative_path == ".\\docs\\doc12.txt"
    assert r0.working_dir == "C:\\docs"
    assert r0.arguments == "--mode0"
    assert r0.local_base_path == "C:\\files\\doc12.txt"
    r1 = extract_lnk(build_lnk(1))  # ANSI, no args/linkinfo/idlist
    assert r1.name == "Shortcut to doc 1"
    assert r1.arguments is None and r1.local_base_path is None


def test_lnk_clsid_gate():
    assert is_lnk(build_lnk(0))
    notlnk = b"\x4c\x00\x00\x00" + b"\x00" * 72
    assert not is_lnk(notlnk)
    assert detect_mime(notlnk) != "application/x-ms-shortcut"


def test_lnk_string_cap_and_bounds():
    base = bytearray(build_lnk(1))  # ANSI, strings right after header
    # corrupt the first StringData count to exceed the remaining bytes
    struct.pack_into("<H", base, 0x4C, 60_000)
    with pytest.raises(KernelError, match="truncated StringData"):
        extract_lnk(bytes(base))


def test_fuzz_never_raises():
    rng = random.Random(8324)
    builders = (build_deb, build_rpm, build_lnk)
    for i in range(240):
        base = builders[i % 3](i % 17)
        mut = bytearray(base[:rng.randrange(1, len(base))])
        for _ in range(rng.randrange(0, 5)):
            mut[rng.randrange(len(mut))] = rng.randrange(256)
        r = extract_document("u", None, bytes(mut))
        assert r.status in ("ok", "failed", "unsupported", "truncated")


def test_deb_truncated_control_tar_refuses():
    # control.tar cut mid-member: must refuse, never return a silently
    # truncated control file as if complete
    import gzip
    import io

    from sparktika.synth import _ar_member, _tar_entry

    ctar = _tar_entry("./control", b"Package: x\n" * 40)[:600]  # cut body
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
        f.write(ctar)
    raw = (b"!<arch>\n" + _ar_member("debian-binary", b"2.0\n")
           + _ar_member("control.tar.gz", buf.getvalue()))
    with pytest.raises(KernelError, match="out of bounds"):
        extract_deb(raw)
