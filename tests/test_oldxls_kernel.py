"""Old Excel (BIFF2/3/4/5) kernel — POI OldExcelExtractor parity.

Record layouts from the public OpenOffice.org "Microsoft Excel File
Format" documentation (the BIFF8 kernel's source). BIFF2-4 are raw
streams; BIFF5 rides an OLE2 ``Book`` stream through the existing
xls dispatch (BOF-version routing).
"""

from __future__ import annotations

import random
import struct

import pytest

from sparktika.kernels.errors import KernelError
from sparktika.kernels.extract import ExtractConfig, extract_document
from sparktika.kernels.mime import detect_mime
from sparktika.kernels.oldxls import (
    extract_biff5_book,
    extract_old_biff_raw,
    is_old_biff,
)
from sparktika.synth import _ole2_file, build_oldxls
from test_reference_fixtures import FIXTURES

XLS_SAMPLE = FIXTURES / "xls-sample.xls"
needs_xls_sample = pytest.mark.skipif(
    not XLS_SAMPLE.exists(),
    reason=f"reference fixture {XLS_SAMPLE.name} not available")


def rec(op: int, body: bytes) -> bytes:
    return struct.pack("<HH", op, len(body)) + body


def test_biff2_label_number_integer_boolerr():
    b = rec(0x0009, struct.pack("<HH", 0, 0x0010))
    b += rec(0x0004, struct.pack("<HH", 0, 0) + b"\x00\x00\x00"
             + bytes([5]) + b"Hello")
    b += rec(0x0003, struct.pack("<HH", 0, 1) + b"\x00\x00\x00"
             + struct.pack("<d", 2.5))
    b += rec(0x0002, struct.pack("<HH", 1, 0) + b"\x00\x00\x00"
             + struct.pack("<H", 42))
    b += rec(0x0005, struct.pack("<HH", 2, 0) + b"\x00\x00\x00"
             + bytes([1, 0]))
    b += rec(0x000A, b"")
    r = extract_old_biff_raw(b)
    assert r.text == "\tHello\t2.5\n\t42\n\tTRUE\n\n\n\n"
    assert r.biff_version == 2 and r.n_cells == 4


def test_biff3_number_and_formula_cached_value():
    b = rec(0x0209, struct.pack("<HHH", 0, 0x0010, 0))
    b += rec(0x0204, struct.pack("<HHH", 0, 0, 0)
             + struct.pack("<H", 4) + b"Four")
    b += rec(0x0203, struct.pack("<HHH", 0, 1, 0) + struct.pack("<d", 7.0))
    # FORMULA with cached numeric result 9.25
    b += rec(0x0206, struct.pack("<HHH", 1, 0, 0)
             + struct.pack("<d", 9.25) + b"\x00\x00")
    b += rec(0x000A, b"")
    r = extract_old_biff_raw(b)
    assert r.text == "\tFour\t7\n\t9.25\n\n\n\n"
    assert r.biff_version == 3


def test_biff4_rk_variants():
    # RK: f64-top30 / int / f64/100 / int/100 encodings
    def rk_rec(col: int, rk: int) -> bytes:
        return rec(0x027E, struct.pack("<HHHI", 0, col, 0, rk))

    b = rec(0x0409, struct.pack("<HHH", 0, 0x0010, 0))
    b += rk_rec(0, (30 << 2) | 2)                       # int 30
    top30 = struct.unpack("<I", struct.pack("<d", 2.5)[4:])[0] & ~3
    b += rk_rec(1, top30)                               # f64 2.5
    b += rk_rec(2, ((125 << 2) | 3))                    # 125/100 = 1.25
    b += rec(0x000A, b"")
    r = extract_old_biff_raw(b)
    assert r.text == "\t30\t2.5\t1.25\n\n\n\n"
    assert r.biff_version == 4


def test_biff5_book_sheets_and_records():
    sheet = rec(0x0809, struct.pack("<HH", 0x0500, 0x0010))
    sheet += rec(0x00D6, struct.pack("<HHH", 0, 0, 0)
                 + struct.pack("<H", 3) + b"Abc")
    sheet += rec(0x00BD, struct.pack("<HH", 0, 1)
                 + struct.pack("<HI", 0, (9 << 2) | 2)
                 + struct.pack("<H", 1))
    sheet += rec(0x0205, struct.pack("<HHHBB", 1, 0, 0, 0, 0))
    sheet += rec(0x000A, b"")
    name = b"S1"
    glob_hdr = rec(0x0809, struct.pack("<HH", 0x0500, 0x0005))
    probe = glob_hdr + rec(0x0085, struct.pack("<IH", 0, 0)
                           + bytes([2]) + name) + rec(0x000A, b"")
    globs = glob_hdr + rec(0x0085, struct.pack("<IH", len(probe), 0)
                           + bytes([2]) + name) + rec(0x000A, b"")
    r = extract_biff5_book(globs + sheet)
    assert r.text == "S1\n\tAbc\t9\n\tFALSE\n\n\n\n"
    assert r.sheet_names == ["S1"] and r.biff_version == 5


def test_detection_and_dispatch_all_versions():
    for i in range(8):
        blob = build_oldxls(i)
        r = extract_document(f"{i}.xls", None, blob)
        assert r.status == "ok"
        assert r.metadata["biff-version"] == [str((2, 3, 4, 5)[i % 4])]
        assert f"Old {i} alpha" in r.text_extracted
        assert r.content_type_detected == "application/vnd.ms-excel"


def test_raw_biff_mime_gated_by_validator():
    assert detect_mime(build_oldxls(0), None, "a.xls") == \
        "application/vnd.ms-excel"
    # 09 00 prefix but an implausible BOF: not misrouted
    junk = b"\x09\x00\xff\xff" + b"x" * 32
    assert detect_mime(junk, None, "a.xls") != "application/vnd.ms-excel"


@needs_xls_sample
def test_biff8_still_routes_to_the_new_kernel_path():
    # regression: the BOF-version probe must not reroute BIFF8 books
    data = XLS_SAMPLE.read_bytes()
    r = extract_document("n.xls", None, data)
    assert r.status == "ok"
    assert "biff-version" not in r.metadata
    assert len(r.text_extracted) == 4824  # BIFF8 kernel's exact rendering


def test_not_old_biff_raises():
    with pytest.raises(KernelError):
        extract_old_biff_raw(b"\x00\x01\x02\x03\x04\x05\x06\x07")


def test_truncated_tail_keeps_prior_cells():
    b = rec(0x0009, struct.pack("<HH", 0, 0x0010))
    b += rec(0x0004, struct.pack("<HH", 0, 0) + b"\x00\x00\x00"
             + bytes([2]) + b"ok")
    b += rec(0x0004, struct.pack("<HH", 1, 0) + b"\x00\x00\x00"
             + bytes([30]) + b"trunc")             # lies about length
    r = extract_old_biff_raw(b)
    assert "\tok\n" in r.text


def test_fuzz_never_raises_through_dispatcher():
    rng = random.Random(0x01D)
    seeds = [build_oldxls(i) for i in range(4)]
    for _ in range(250):
        base = bytearray(rng.choice(seeds))
        for _ in range(rng.randint(1, 6)):
            base[rng.randrange(len(base))] = rng.randrange(256)
        if rng.random() < 0.3:
            base = base[:rng.randrange(len(base))]
        r = extract_document("f.xls", None, bytes(base), ExtractConfig())
        assert r.status in ("ok", "failed", "truncated", "unsupported")
