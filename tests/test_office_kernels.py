"""OLE2/XLS/OOXML/zip-container kernel tests, including the analogs of the
reference's missing bomb fixtures (.MISSING_LARGE_BLOBS lists bomb.xls and
zip-bomb.zip; their behavioral contracts are pinned at
test/TikaProcessTest.java:178-230)."""

from __future__ import annotations

import io
import zipfile

import pytest

from sparktika.config import ExtractConfig
from sparktika.kernels.container import extract_zip_container
from sparktika.kernels.errors import InflateRatioError, KernelError
from sparktika.kernels.extract import extract_document
from sparktika.kernels.ole2 import Ole2File
from sparktika.kernels.ooxml import extract_docx, extract_pptx, extract_xlsx
from sparktika.kernels.xls import extract_xls
from test_reference_fixtures import FIXTURES

XLS_SAMPLE = FIXTURES / "xls-sample.xls"
needs_xls_sample = pytest.mark.skipif(
    not XLS_SAMPLE.exists(),
    reason=f"reference fixture {XLS_SAMPLE.name} not available")


def _zip_bytes(entries: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in entries.items():
            zf.writestr(name, data)
    return buf.getvalue()


def _xlsx_bytes() -> bytes:
    shared = (b'<?xml version="1.0"?><sst xmlns="x" count="3" uniqueCount="3">'
              b"<si><t>name</t></si><si><t>alice</t></si><si><t>bob</t></si></sst>")
    sheet1 = (b'<?xml version="1.0"?><worksheet><sheetData>'
              b'<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>42</v></c></row>'
              b'<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>3.5</v></c></row>'
              b'<row r="3"><c r="A3" t="inlineStr"><is><t>inline&amp;x</t></is></c>'
              b'<c r="B3" t="b"><v>1</v></c></row>'
              b"</sheetData></worksheet>")
    workbook = (b'<?xml version="1.0"?><workbook><sheets>'
                b'<sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>')
    rels = (b'<?xml version="1.0"?><Relationships>'
            b'<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>'
            b"</Relationships>")
    core = (b'<?xml version="1.0"?><cp:coreProperties>'
            b"<dc:title>My Spreadsheet</dc:title><dc:creator>tester</dc:creator>"
            b"</cp:coreProperties>")
    return _zip_bytes({
        "[Content_Types].xml": b"<Types/>",
        "xl/workbook.xml": workbook,
        "xl/_rels/workbook.xml.rels": rels,
        "xl/sharedStrings.xml": shared,
        "xl/worksheets/sheet1.xml": sheet1,
        "docProps/core.xml": core,
    })


def test_xlsx_extraction():
    r = extract_xlsx(_xlsx_bytes())
    assert r.text == ("Data\nname\t42\nalice\t3.5\ninline&x\tTRUE\n")
    assert r.metadata["dc:title"] == "My Spreadsheet"


def test_docx_extraction():
    doc = (b'<?xml version="1.0"?><w:document><w:body>'
           b"<w:p><w:r><w:t>Hello </w:t></w:r><w:r><w:t>world</w:t></w:r></w:p>"
           b"<w:p><w:r><w:t>Second para</w:t></w:r></w:p>"
           b"</w:body></w:document>")
    data = _zip_bytes({"[Content_Types].xml": b"<Types/>", "word/document.xml": doc})
    r = extract_docx(data)
    assert r.text == "Hello world\nSecond para\n"


def test_pptx_extraction():
    s1 = b'<p:sld><a:p><a:r><a:t>Slide one title</a:t></a:r></a:p></p:sld>'
    s2 = b'<p:sld><a:p><a:r><a:t>Slide two</a:t></a:r></a:p></p:sld>'
    data = _zip_bytes({
        "[Content_Types].xml": b"<Types/>",
        "ppt/slides/slide2.xml": s2,
        "ppt/slides/slide1.xml": s1,
    })
    r = extract_pptx(data)
    assert r.text == "Slide one title\nSlide two\n"


def test_docx_headers_and_footers():
    """Header parts -> body -> footer parts, numeric part order (POI
    XWPFWordExtractor order); absent parts change nothing."""
    def wp(t):
        return b"<w:x><w:p><w:r><w:t>" + t + b"</w:t></w:r></w:p></w:x>"

    doc = (b"<w:document><w:body><w:p><w:r><w:t>Body</w:t></w:r></w:p>"
           b"</w:body></w:document>")
    data = _zip_bytes({"[Content_Types].xml": b"<Types/>",
                       "word/document.xml": doc,
                       "word/footer1.xml": wp(b"F1"),
                       "word/header10.xml": wp(b"H10"),
                       "word/header2.xml": wp(b"H2")})
    r = extract_docx(data)
    assert r.text == "H2\nH10\nBody\nF1\n"  # numeric, not lexicographic


def test_pptx_notes_slides_after_slides():
    s1 = b"<p:sld><a:p><a:r><a:t>S1</a:t></a:r></a:p></p:sld>"
    n1 = b"<p:sld><a:p><a:r><a:t>N1</a:t></a:r></a:p></p:sld>"
    n2 = b"<p:sld><a:p><a:r><a:t>N2</a:t></a:r></a:p></p:sld>"
    data = _zip_bytes({
        "[Content_Types].xml": b"<Types/>",
        "ppt/notesSlides/notesSlide2.xml": n2,
        "ppt/slides/slide1.xml": s1,
        "ppt/notesSlides/notesSlide1.xml": n1,
    })
    assert extract_pptx(data).text == "S1\nN1\nN2\n"


def test_dispatch_routes_ooxml_through_zip():
    r = extract_document("u", None, _xlsx_bytes())
    assert r.status == "ok"
    assert r.content_type_detected.endswith("spreadsheetml.sheet")
    assert "alice" in r.text_extracted
    assert r.title == "My Spreadsheet"


def test_zip_of_text_files_concatenates():
    data = _zip_bytes({"a.txt": b"first file ", "b.csv": b"x,y\n1,2\n"})
    r = extract_zip_container(data)
    assert r.text == "first file x,y\n1,2\n"
    assert r.entries == ["a.txt", "b.csv"]


def test_zip_bomb_csv_streams_exactly_to_cap():
    """Analog of testExternalTikaBombZipWithCsvSingleThread: a zip of a huge
    CSV yields EXACTLY max_chars chars then stops
    (ref: test/TikaProcessTest.java:205-230, assert at 227)."""
    huge_csv = (b"col1,col2,col3\n" + b"aaaa,bbbb,cccc\n" * 800_000)  # ~12MB
    data = _zip_bytes({"huge.csv": huge_csv})
    assert len(data) < 200_000  # genuinely bomb-shaped (ratio > 60)
    cfg = ExtractConfig(max_chars=10_000)
    r = extract_document("u", None, data, cfg)
    assert r.status == "truncated"
    assert len(r.text_extracted) == 10_000
    assert r.text_extracted.startswith("col1,col2,col3\n")


def test_zip_bomb_unbounded_trips_ratio_guard():
    huge = b"\x00" * 50_000_000
    data = _zip_bytes({"zeros.bin": huge, "huge.csv": b"a,b\n" * 12_500_000})
    cfg = ExtractConfig(max_chars=-1)  # no output cap -> guard must trip
    r = extract_document("u", None, data, cfg)
    assert r.status == "failed"
    assert "InflateRatioError" in r.error


def test_nested_zip_depth_guard():
    inner = _zip_bytes({"leaf.txt": b"deep"})
    for _ in range(25):
        inner = _zip_bytes({"nest.zip": inner})
    with pytest.raises(KernelError):
        extract_zip_container(inner)
    r = extract_document("u", None, inner)
    assert r.status == "failed"


def test_ole2_rejects_junk():
    with pytest.raises(KernelError):
        Ole2File(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"junk" * 200)


@needs_xls_sample
def test_xls_reference_fixture_cells():
    data = XLS_SAMPLE.read_bytes()
    r = extract_xls(data)
    assert r.sheet_names == ["Sheet1", "Sheet2", "Sheet3"]
    assert r.n_cells > 200
    # byte parity with the reference golden (TikaProcessTest.java:127):
    # leading tab per <td>, blank cells rendered, per-sheet framing newlines
    assert len(r.text) == 4824
    lines = r.text.splitlines()
    assert lines[0] == "Sheet1"
    header = [l for l in lines if l.startswith("\tSTATE\t")]
    assert header and "DISPENSING FEE" in header[0]
    assert r.text.endswith("Sheet2\n\n\n\n\nSheet3\n\n\n\n")


def test_xlsx_self_closing_empty_cells_keep_columns():
    sheet = (b'<worksheet><sheetData>'
             b'<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c>'
             b'<c r="B1"/><c r="C1" t="inlineStr"><is><t>c</t></is></c></row>'
             b"</sheetData></worksheet>")
    data = _zip_bytes({"[Content_Types].xml": b"<Types/>",
                       "xl/workbook.xml": b"<workbook><sheets></sheets></workbook>",
                       "xl/worksheets/sheet1.xml": sheet})
    r = extract_xlsx(data)
    assert "a\t\tc" in r.text


@needs_xls_sample
def test_truncated_ole2_raises_kernel_error_not_struct_error():
    data = XLS_SAMPLE.read_bytes()
    with pytest.raises(KernelError):
        Ole2File(data[:1000])  # truncated mid-FAT


# --- minimal OLE2 writer (test-only) ----------------------------------------

def _build_ole2(streams: dict[str, bytes], storages: list[str] = ()) -> bytes:
    """Delegates to the single CFB writer in synth (one source of sector/
    FAT/directory layout truth)."""
    from sparktika.synth import _ole2_file

    return _ole2_file(streams, storages)


def _ppt_stream() -> bytes:
    import struct

    def atom(rec_type, payload, ver_inst=0):
        return struct.pack("<HHI", ver_inst, rec_type, len(payload)) + payload

    slide_text = atom(0x0FA0, "Title slide".encode("utf-16-le"))
    body_text = atom(0x0FA8, b"Body bullet one\rBody bullet two")
    container = atom(0x03E8, slide_text + body_text, ver_inst=0x000F)
    return container


def test_ppt_text_extraction():
    from sparktika.kernels.ppt import extract_ppt

    data = _build_ole2({"PowerPoint Document": _ppt_stream(),
                        "Current User": b"\x00" * 16})
    r = extract_ppt(data)
    assert r.text == "Title slide\nBody bullet one\nBody bullet two\n"
    assert r.n_atoms == 2


def test_dispatch_routes_ppt():
    data = _build_ole2({"PowerPoint Document": _ppt_stream()})
    r = extract_document("u", None, data)
    assert r.status == "ok"
    assert r.content_type_detected == "application/vnd.ms-powerpoint"
    assert "Title slide" in r.text_extracted


def test_ole2_roundtrip_via_xls_reader_rejects_missing_workbook():
    data = _build_ole2({"SomeStream": b"\x01" * 100})
    r = extract_document("u", None, data)
    assert r.status == "unsupported"


def _doc_streams(pieces):
    """Build WordDocument + 0Table streams for given (text, compressed)
    pieces using the MS-DOC piece-table layout."""
    import struct

    wd = bytearray(0x0600)
    struct.pack_into("<H", wd, 0, 0xA5EC)       # FIB magic
    struct.pack_into("<H", wd, 0x000A, 0x0000)  # flags: 0Table
    # lay piece texts into the WordDocument stream after the FIB area
    fc_cursor = 0x0800
    wd_body = bytearray()
    pcds = []
    cps = [0]
    for text, compressed in pieces:
        if compressed:
            raw = text.encode("cp1252")
            fc_raw = (fc_cursor + len(wd_body)) * 2 | 0x40000000
        else:
            raw = text.encode("utf-16-le")
            fc_raw = fc_cursor + len(wd_body)
        pcds.append(struct.pack("<HIH", 0, fc_raw, 0))
        wd_body += raw
        cps.append(cps[-1] + len(text))
    plc = struct.pack(f"<{len(cps)}I", *cps) + b"".join(pcds)
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    table = bytearray(0x80) + clx
    struct.pack_into("<II", wd, 0x01A2, 0x80, len(clx))  # fcClx, lcbClx
    full_wd = bytes(wd) + b"\x00" * (fc_cursor - len(wd)) + bytes(wd_body)
    return full_wd, bytes(table)


def test_doc_text_extraction_mixed_pieces():
    from sparktika.kernels.doc import extract_doc

    wd, table = _doc_streams([
        ("Hello compressed world.\r", True),
        ("Unicode – piece …\r", False),
        ("café latin\r", True),
    ])
    data = _build_ole2({"WordDocument": wd, "0Table": table})
    r = extract_doc(data)
    assert r.text == "Hello compressed world.\nUnicode – piece …\ncafé latin\n"
    assert r.n_pieces == 3


def test_dispatch_routes_doc():
    wd, table = _doc_streams([("Word body text\r", True)])
    data = _build_ole2({"WordDocument": wd, "0Table": table})
    r = extract_document("u", None, data)
    assert r.status == "ok"
    assert r.content_type_detected == "application/msword"
    assert r.text_extracted == "Word body text\n"


def test_doc_field_instruction_suppressed():
    """Text between field-begin (0x13) and separator (0x14) is the field
    instruction and must not leak into output; the cached result between
    0x14 and 0x15 is kept. Fields nest; instruction-only fields vanish."""
    from sparktika.kernels.doc import extract_doc

    wd, table = _doc_streams([
        ("A \x13HYPERLINK \"http://evil\"\x14visible link\x15 B\r", True),
        # nested: outer result contains an inner field
        ("\x13IF\x14out \x13DATE\x14in\x15 er\x15\r", True),
        # no separator: nothing emitted
        ("\x13PAGEREF bm1\x15tail\r", True),
    ])
    data = _build_ole2({"WordDocument": wd, "0Table": table})
    r = extract_doc(data)
    assert r.text == "A visible link B\nout in er\ntail\n"


def test_doc_line_break_char():
    from sparktika.kernels.doc import extract_doc

    wd, table = _doc_streams([("one\x0btwo\r", True)])
    data = _build_ole2({"WordDocument": wd, "0Table": table})
    assert extract_doc(data).text == "one\ntwo\n"


def test_doc_subdocument_segmentation():
    """FibRgLw97 ccp counts split the CP space; zeroed counts (legacy
    writers) degrade to everything-main."""
    from sparktika.kernels.doc import extract_doc
    from sparktika.synth import build_doc_full

    r = extract_doc(build_doc_full(42))
    assert r.text == "Doc body 42. link 42\nNote 42.\nHeader 42\n"
    assert (r.n_chars_main, r.n_chars_footnotes, r.n_chars_headers) == (21, 9, 10)
    assert r.n_embedded_objects == 2  # ObjectPool sub-storages
    # zeroed FIB ccps (the _doc_streams helper) -> all chars counted as main
    wd, table = _doc_streams([("plain\r", True)])
    r2 = extract_doc(_build_ole2({"WordDocument": wd, "0Table": table}))
    assert (r2.n_chars_main, r2.n_chars_footnotes, r2.n_chars_headers) == (6, 0, 0)


def test_doc_broken_clx_fails_softly():
    import struct

    wd = bytearray(0x0600)
    struct.pack_into("<H", wd, 0, 0xA5EC)
    struct.pack_into("<II", wd, 0x01A2, 0xFFFF, 64)  # out-of-range Clx
    data = _build_ole2({"WordDocument": bytes(wd), "0Table": b"\x00" * 128})
    r = extract_document("u", None, data)
    assert r.status == "failed"


def test_doc_negative_prc_cb_cannot_stall_clx_walk():
    """Regression: a Prc record with cb=0xFFFD (signed -3) used to make
    i += 3 + cb = 0 — an infinite loop pinning an executor core forever.
    Unsigned cb overshoots len(clx) and the walk exits with a soft failure."""
    import struct

    wd = bytearray(0x0600)
    struct.pack_into("<H", wd, 0, 0xA5EC)
    # Clx = one poisoned Prc record; no Pcdt follows
    clx = b"\x01" + struct.pack("<H", 0xFFFD) + b"\x00" * 16
    table = bytearray(0x80) + clx
    struct.pack_into("<II", wd, 0x01A2, 0x80, len(clx))
    data = _build_ole2({"WordDocument": bytes(wd), "0Table": bytes(table)})
    r = extract_document("u", None, data)  # must return, not hang
    assert r.status == "failed"


@needs_xls_sample
def test_office_kernels_honor_expired_deadline():
    """The per-doc cooperative deadline must reach the office/container
    kernels' scan loops (not just html/pdf)."""
    from sparktika.kernels.doc import extract_doc
    from sparktika.kernels.errors import DeadlineError
    from sparktika.kernels.ppt import extract_ppt

    past = 0.0  # any monotonic() is > 0

    xls = XLS_SAMPLE.read_bytes()
    with pytest.raises(DeadlineError):
        extract_xls(xls, deadline=past)

    wd, table = _doc_streams([("Word body text\r", True)])
    docd = _build_ole2({"WordDocument": wd, "0Table": table})
    with pytest.raises(DeadlineError):
        extract_doc(docd, deadline=past)

    pptd = _build_ole2({"PowerPoint Document": _ppt_stream()})
    with pytest.raises(DeadlineError):
        extract_ppt(pptd, deadline=past)

    zipd = _zip_bytes({"a.txt": b"hello"})
    with pytest.raises(DeadlineError):
        extract_zip_container(zipd, deadline=past)


# ---------------------------------------------------------------- msg kernel

def _msg_streams(subject="Quarterly report", body="Please find attached.",
                 unicode=True, sender="Ann A", sender_email="ann@example.com",
                 to="Bob B; Carol C", cc=None):
    def enc(s):
        return s.encode("utf-16-le") if unicode else s.encode("cp1252")

    suffix = "001F" if unicode else "001E"
    streams = {}
    for pid, val in ((0x0037, subject), (0x1000, body), (0x0C1A, sender),
                     (0x0C1F, sender_email), (0x0E04, to), (0x0E03, cc)):
        if val is not None:
            streams[f"__substg1.0_{pid:04X}{suffix}"] = enc(val)
    streams["__properties_version1.0"] = b"\x00" * 32
    return streams


def test_msg_text_and_metadata():
    from sparktika.kernels.msg import extract_msg

    data = _build_ole2(
        _msg_streams(),
        storages=["__recip_version1.0_#00000000",
                  "__recip_version1.0_#00000001",
                  "__attach_version1.0_#00000000"])
    r = extract_msg(Ole2File(data))
    assert r.subject == "Quarterly report"
    assert r.text == ("Quarterly report\n"
                      "From: Ann A <ann@example.com>\n"
                      "To: Bob B; Carol C\n\n"
                      "Please find attached.\n")
    assert r.metadata["Message-From"] == "Ann A <ann@example.com>"
    assert r.metadata["dc:title"] == "Quarterly report"
    assert (r.n_recipients, r.n_attachments) == (2, 1)


def test_msg_ansi_variant_and_cc():
    from sparktika.kernels.msg import extract_msg

    data = _build_ole2(_msg_streams(unicode=False, cc="Dan D",
                                    subject="caf\xe9 plans"))
    r = extract_msg(Ole2File(data))
    assert r.subject == "caf\xe9 plans"
    assert "Cc: Dan D" in r.text
    assert r.metadata["Message-Cc"] == "Dan D"


def test_dispatch_routes_msg():
    from sparktika.kernels.extract import extract_document

    data = _build_ole2(_msg_streams())
    r = extract_document("https://m.example.com/mail.msg", None, data)
    assert r.status == "ok"
    assert r.content_type_detected == "application/vnd.ms-outlook"
    assert r.title == "Quarterly report"
    assert "Please find attached." in r.text_extracted
    assert r.metadata["n-recipients"] == ["0"]


def test_msg_missing_fields_degrade():
    from sparktika.kernels.msg import extract_msg

    # body only, nothing else
    data = _build_ole2({"__substg1.0_1000001F": "just a body".encode("utf-16-le")})
    r = extract_msg(Ole2File(data))
    assert r.subject is None
    assert r.text == "just a body\n"
    # property stream marker only, no strings at all
    empty = _build_ole2({"__properties_version1.0": b"\x00" * 32})
    r2 = extract_msg(Ole2File(empty))
    assert r2.text == "" and r2.subject is None


def test_msg_attachment_substorages():
    """Attachment sub-storages: entry-scoped property reads (stream names
    repeat across attachments), text payloads decode inline, binary ones
    stay size-only, recipients are not misread as attachments."""
    from sparktika.kernels.msg import extract_msg
    from sparktika.synth import build_msg_attach
    from sparktika.kernels.ole2 import Ole2File

    r = extract_msg(Ole2File(build_msg_attach(5)))
    assert r.n_attachments == 2 and r.n_recipients == 1
    assert [a.filename for a in r.attachments] == ["notes1.txt", "img2.bin"]
    assert r.attachments[0].text == "Attachment note 5."
    assert r.attachments[1].text is None
    assert r.attachments[1].n_bytes == 16
    assert r.metadata["attachment-names"] == "notes1.txt; img2.bin"
    assert r.text.endswith(
        "[Attachment: notes1.txt]\nAttachment note 5.\n[Attachment: img2.bin]\n")


def test_msg_attachment_without_filename_and_83_fallback():
    from sparktika.kernels.msg import extract_msg
    from sparktika.synth import _ole2_file
    from sparktika.kernels.ole2 import Ole2File

    data = _ole2_file(
        {"__substg1.0_0037001F": "S".encode("utf-16-le"),
         "__properties_version1.0": b"\x00" * 32},
        storages=[
            # data but no filename: rendered as bare [Attachment]
            ("__attach_version1.0_#00000000",
             {"__substg1.0_37010102": b"\x01\x02\x03"}),
            # 8.3 ANSI name only (no long filename)
            ("__attach_version1.0_#00000001",
             {"__substg1.0_3704001E": b"OLD83.TXT",
              "__substg1.0_37010102": b"dos text"}),
        ])
    r = extract_msg(Ole2File(data))
    assert [a.filename for a in r.attachments] == [None, "OLD83.TXT"]
    assert r.attachments[0].text is None and r.attachments[0].n_bytes == 3
    assert r.attachments[1].text == "dos text"
    assert "[Attachment]\n[Attachment: OLD83.TXT]\ndos text\n" in r.text


def test_msg_embedded_message_attachment():
    """PidTagAttachDataObject sub-storage renders the inner message's
    subject and body inline (one level deep)."""
    from sparktika.kernels.msg import extract_msg
    from sparktika.synth import build_msg_nested
    from sparktika.kernels.ole2 import Ole2File

    r = extract_msg(Ole2File(build_msg_nested(13)))
    assert r.n_attachments == 1
    assert r.attachments[0].embedded_subject == "Inner 4"
    assert r.attachments[0].text == "Inner body 13."
    assert r.text.endswith("[Attachment message: Inner 4]\nInner body 13.\n")


def test_ole2_directory_tree_cycle_guard():
    """A crafted directory whose sibling pointers form a cycle terminates
    with an empty-or-bounded walk, never an infinite loop."""
    import struct as _s
    from sparktika.synth import _ole2_file
    from sparktika.kernels.ole2 import Ole2File

    data = bytearray(_ole2_file(
        {"A": b"x"}, storages=[("S", {"K1": b"y", "K2": b"z"})]))
    ole = Ole2File(bytes(data))
    k1 = next(e for e in ole.entries if e.name == "K1")
    # corrupt K1.right to point back at itself (slot offset 72 in its entry)
    dir_off = 512 + ole.sector_size * 1  # dir is sector 1 in the synth layout
    ent_off = dir_off + 128 * k1.index + 72
    data[ent_off : ent_off + 4] = _s.pack("<I", k1.index)
    ole2 = Ole2File(bytes(data))
    storage = next(e for e in ole2.entries if e.name == "S")
    kids = ole2.storage_children(storage)  # bounded, returns without spinning
    assert any(k.name == "K1" for k in kids)


# --------------------------------------------------- compressed RTF (LZFu)

def test_lzfu_literal_roundtrip():
    from sparktika.kernels.rtfcomp import compress_rtf_literal, decompress_rtf

    for raw in (b"", b"x", b"{\\rtf1 Hello}", b"{\\rtf1 " + b"abcdefgh" * 100 + b"}"):
        assert decompress_rtf(compress_rtf_literal(raw)) == raw


def test_lzfu_dictionary_reference():
    """Hand-built stream using the canonical preload dictionary: offset 0,
    length 10 copies '{\\rtf1\\ansi' from the prefix."""
    import struct
    from sparktika.kernels.rtfcomp import _crc, decompress_rtf

    token = (0 << 4) | (10 - 2)          # offset 0, length 10
    wpos_after = 207 + 10
    end = (wpos_after % 4096) << 4
    body = bytes([0b0000_0011,           # flags: ref, ref(end)
                  token >> 8, token & 0xFF,
                  end >> 8, end & 0xFF])
    hdr = struct.pack("<IIII", len(body) + 12, 10, 0x75465A4C, _crc(body))
    assert decompress_rtf(hdr + body) == b"{\\rtf1\\ansi"[:10]


def test_lzfu_mela_and_guards():
    import struct
    from sparktika.kernels.rtfcomp import decompress_rtf
    from sparktika.kernels.errors import KernelError

    raw = b"{\\rtf1 plain}"
    mela = struct.pack("<IIII", len(raw) + 12, len(raw), 0x414C454D, 0) + raw
    assert decompress_rtf(mela) == raw
    with pytest.raises(KernelError):
        decompress_rtf(b"short")
    with pytest.raises(KernelError):  # RAWSIZE bomb
        decompress_rtf(struct.pack("<IIII", 12, 1 << 30, 0x75465A4C, 0))
    bad_crc = bytearray(mela)
    bad_crc[8:12] = struct.pack("<I", 0x75465A4C)  # claim LZFu, wrong CRC
    with pytest.raises(KernelError):
        decompress_rtf(bytes(bad_crc))


def test_msg_compressed_rtf_body():
    from sparktika.kernels.msg import extract_msg
    from sparktika.kernels.rtfcomp import compress_rtf_literal

    rtf_body = b"{\\rtf1\\ansi Compressed body caf\\'e9 text.\\par}"
    streams = _msg_streams(body=None)  # no plain-text body
    streams["__substg1.0_10090102"] = compress_rtf_literal(rtf_body)
    r = extract_msg(Ole2File(_build_ole2(streams)))
    assert "Compressed body caf\xe9 text." in r.text
    assert r.metadata["body-source"] == "rtf-compressed"
    # corrupt compressed body degrades to headers-only, never raises
    streams["__substg1.0_10090102"] = b"\x00" * 40
    r2 = extract_msg(Ole2File(_build_ole2(streams)))
    assert r2.subject == "Quarterly report"
    assert "body-source" not in r2.metadata


# ---------------------------------------------------------------- tar

def test_tar_container_extraction_and_nesting():
    from sparktika.kernels.container import extract_tar_container, is_tar
    from sparktika.synth import _tar_entry, build_tar

    data = build_tar(3)
    assert is_tar(data)
    r = extract_tar_container(data)
    assert r.text == "Tar text one 3. Tar text two 3."
    assert r.entries == ["a3.txt", "b3.txt"]
    # tar inside zip and zip inside tar both route
    z = _zip_bytes({"inner.tar": build_tar(9), "x.txt": b" plus zip text"})
    zr = extract_zip_container(z)
    assert "Tar text one 9." in zr.text and "plus zip text" in zr.text
    t = _tar_entry("inner.zip", _zip_bytes({"y.txt": b"zip-in-tar"})) + b"\x00" * 1024
    tr = extract_tar_container(t)
    assert tr.text == "zip-in-tar"


def test_tar_guards_and_cap():
    import pytest as _pytest
    from sparktika.config import ExtractConfig
    from sparktika.kernels.container import extract_tar_container
    from sparktika.kernels.errors import KernelError
    from sparktika.kernels.extract import extract_document
    from sparktika.synth import _tar_entry, build_tar

    with _pytest.raises(KernelError):
        extract_tar_container(b"not a tar" + b"\x00" * 300)
    # size field overrunning the file
    bad = bytearray(build_tar(0))
    bad[124:136] = b"77777777777\x00"
    with _pytest.raises(KernelError):
        extract_tar_container(bytes(bad))
    # nesting bomb: tar-in-tar 25 deep
    inner = _tar_entry("leaf.txt", b"deep") + b"\x00" * 1024
    for k in range(25):
        inner = _tar_entry(f"n{k}.tar", inner) + b"\x00" * 1024
    r = extract_document("u.tar", None, inner)
    assert r.status == "failed" and "bomb" in r.error
    # char cap -> truncated
    big = _tar_entry("big.txt", b"x" * 5000) + b"\x00" * 1024
    t = extract_document("u.tar", None, big, ExtractConfig(max_chars=100))
    assert (t.status, len(t.text_extracted)) == ("truncated", 100)


def test_gzip_wrapper_dispatch():
    import gzip as _gz
    from sparktika.kernels.extract import extract_document
    from sparktika.synth import build_tar

    # .txt.gz
    r = extract_document("https://x/notes.txt.gz", None,
                         _gz.compress(b"gzipped plain text"))
    assert (r.status, r.text_extracted) == ("ok", "gzipped plain text")
    assert r.metadata["Content-Encoding-Outer"] == ["gzip"]
    # .tar.gz routes through the tar kernel
    r2 = extract_document("https://x/a.tar.gz", None, _gz.compress(build_tar(5)))
    assert r2.status == "ok"
    assert r2.text_extracted == "Tar text one 5. Tar text two 5."
    assert r2.content_type_detected == "application/x-tar"
    # html.gz keeps html semantics
    r3 = extract_document("https://x/p.html.gz", None,
                          _gz.compress(b"<html><body><div>hi</div></body></html>"))
    assert (r3.status, r3.text_extracted) == ("ok", "hi\n")
    # nested gzip refused
    r4 = extract_document("u.gz", None, _gz.compress(_gz.compress(b"x" * 100)))
    assert r4.status == "failed" and "nested gzip" in r4.error
    # gzip bomb: 100MB of zeros compresses tiny; ratio guard refuses
    bomb = _gz.compress(b"\x00" * 100_000_000)
    r5 = extract_document("u.gz", None, bomb)
    assert r5.status == "failed" and "InflateRatioError" in r5.error
    # corrupt gzip degrades
    r6 = extract_document("u.gz", None, b"\x1f\x8b" + b"garbage")
    assert r6.status == "failed"


def test_msg_property_lookup_is_root_scoped():
    """Regression (code-review): an outer message with NO plain body and an
    embedded-message attachment must NOT report the inner body/subject as
    its own (property stream names repeat in sub-storages)."""
    from sparktika.kernels.msg import extract_msg
    from sparktika.synth import _ole2_file
    from sparktika.kernels.ole2 import Ole2File

    u16 = lambda s: s.encode("utf-16-le")
    data = _ole2_file(
        {"__substg1.0_0037001F": u16("Outer subject"),
         "__properties_version1.0": b"\x00" * 32},  # no outer body
        storages=[("__attach_version1.0_#00000000",
                   {"__substg1.0_3701000D": {
                       "__substg1.0_0037001F": u16("Inner subject"),
                       "__substg1.0_1000001F": u16("Inner body.")}})])
    r = extract_msg(Ole2File(data))
    assert r.subject == "Outer subject"
    # inner body appears exactly ONCE (under the attachment), never as
    # the outer body
    assert r.text == ("Outer subject\n"
                      "[Attachment message: Inner subject]\nInner body.\n")
    assert r.metadata.get("body-source") is None


def test_doc_stray_field_begin_does_not_swallow_document():
    """Regression (code-review): a stray 0x13 with no terminator stops
    suppressing after the instruction-length cap instead of discarding
    every remaining character."""
    from sparktika.kernels.doc import extract_doc, _MAX_INSTRUCTION_CHARS

    filler = "x" * (_MAX_INSTRUCTION_CHARS + 10)
    wd, table = _doc_streams([(f"keep \x13{filler}tail text\r", True)])
    data = _build_ole2({"WordDocument": wd, "0Table": table})
    text = extract_doc(data).text
    assert text.startswith("keep ")
    assert text.endswith("tail text\n")


# --- recursive embedded-document extraction (round-3) -----------------------

def test_msg_deep_nesting_renders_three_levels():
    from sparktika.synth import build_msg_deep

    r = extract_document("https://m/10.msg", None, build_msg_deep(10))
    assert r.status == "ok"
    assert r.text_extracted == (
        "Deep 10\n\nDeep body 10.\n"
        "[Attachment message: Mid 0]\nMid body 10.\n"
        "[Attachment message: Leaf 1]\nLeaf body 10.\n")


def test_msg_nest_budget_degrades_not_crashes():
    """A nest deeper than max_embed_depth degrades to the one-level
    subject+body rendering at the budget floor — bounded output, never a
    crash or unbounded recursion (invariant 7)."""
    from sparktika.synth import _ole2_file

    u16 = lambda s: s.encode("utf-16-le")

    def level(i: int, inner: dict | None) -> dict:
        d = {
            "__substg1.0_0037001F": u16(f"L{i}"),
            "__substg1.0_1000001F": u16(f"Body {i}."),
        }
        if inner is not None:
            d["__attach_version1.0_#00000000"] = {
                "__substg1.0_3701000D": inner}
        return d

    nest = level(9, None)
    for i in range(8, -1, -1):
        nest = level(i, nest)
    data = _ole2_file(
        {k: v for k, v in nest.items() if isinstance(v, bytes)}
        | {"__properties_version1.0": b"\x00" * 32},
        storages=[(k, v) for k, v in nest.items() if isinstance(v, dict)])

    r = extract_document("u.msg", None, data,
                         ExtractConfig(max_embed_depth=3))
    assert r.status == "ok"
    # levels 0..3 render bodies; the budget floor still shows level 4's
    # subject+body via the one-level degrade, level 5+ stay opaque
    assert "Body 3." in r.text_extracted
    assert "Body 4." in r.text_extracted  # degrade floor: subject+body only
    assert "Body 5." not in r.text_extracted
    r0 = extract_document("u.msg", None, data,
                          ExtractConfig(max_embed_depth=0))
    assert r0.status == "ok"
    assert "Body 1." in r0.text_extracted      # old one-level behavior
    assert "Body 2." not in r0.text_extracted


def test_doc_objectpool_payload_extraction():
    from sparktika.synth import build_doc_embedded

    r = extract_document("https://d/7.doc", None, build_doc_embedded(7))
    assert r.status == "ok"
    assert r.content_type_detected == "application/msword"
    assert r.text_extracted == (
        "Host doc 7.\n"
        "[Embedded: note1.txt]\nEmbedded note 7.\n"
        "[Embedded: _1002]\nInner doc 7.\n"
        "[Embedded: _1003]\nEmbedded slide 7.\n")
    assert r.metadata["embedded-names"] == ["note1.txt", "_1002", "_1003"]
    # recursion off -> host text only, embeds stay counted
    r0 = extract_document("d.doc", None, build_doc_embedded(7),
                          ExtractConfig(max_embed_depth=0))
    assert r0.text_extracted == "Host doc 7.\n"
    assert r0.metadata["n-embedded-objects"] == ["3"]


def test_ole2_dispatch_is_root_scoped():
    """A .doc whose ObjectPool embeds a Workbook stream must dispatch as
    msword — root-level stream names drive routing, never the global set
    (tree-scoped lookups, CLAUDE.md invariant 12)."""
    from sparktika.synth import _ole2_file, _word_streams

    data = _ole2_file(
        _word_streams("Routed as word.\r"),
        storages=[("ObjectPool",
                   {"_1001": {"Workbook": b"\x00" * 32}})])
    r = extract_document("x.doc", None, data)
    assert r.content_type_detected == "application/msword"
    assert r.text_extracted.startswith("Routed as word.")


def test_msg_binary_attachment_recurses_through_dispatcher():
    """An attached .doc payload (raw bytes in PidTagAttachDataBinary)
    yields real extracted text through the guarded dispatcher re-entry."""
    from sparktika.synth import _ole2_file, _word_streams
    import io as _io

    inner_doc_streams = _word_streams("Attached doc text.\r")
    # serialize the inner .doc as a standalone OLE2 file
    inner_doc = _ole2_file(inner_doc_streams)
    u16 = lambda s: s.encode("utf-16-le")
    data = _ole2_file(
        {
            "__substg1.0_0037001F": u16("Carrier"),
            "__substg1.0_1000001F": u16("Carrier body."),
            "__properties_version1.0": b"\x00" * 32,
        },
        storages=[
            ("__attach_version1.0_#00000000",
             {"__substg1.0_3707001F": u16("report.doc"),
              "__substg1.0_37010102": inner_doc}),
        ])
    r = extract_document("c.msg", None, data)
    assert r.status == "ok"
    assert "[Attachment: report.doc]" in r.text_extracted
    assert "Attached doc text." in r.text_extracted
    # with recursion disabled the attachment stays size-only
    r0 = extract_document("c.msg", None, data,
                          ExtractConfig(max_embed_depth=0))
    assert "Attached doc text." not in r0.text_extracted


def test_embedded_word_doc_with_inner_workbook_routes_as_word():
    """Regression (review pass): classify embedded storages by DIRECT
    children — an embedded Word doc whose own ObjectPool carries a
    Workbook stream must extract as Word, not parse as a spreadsheet."""
    from sparktika.synth import _ole2_file, _word_streams

    inner = {**_word_streams("Inner word text.\r"),
             "ObjectPool": {"_2001": {"Workbook": b"\x00" * 64}}}
    data = _ole2_file(
        _word_streams("Host.\r"),
        storages=[("ObjectPool", {"_1001": inner})])
    r = extract_document("x.doc", None, data)
    assert r.status == "ok"
    assert "[Embedded: _1001]" in r.text_extracted
    assert "Inner word text." in r.text_extracted


def test_embedded_recursion_shares_outer_deadline():
    """Nested re-dispatch inherits the OUTER document's deadline: an
    expired shared deadline must cut embedded-payload parsing off even
    though each nested call would otherwise get a fresh timeout_ms
    budget (bomb posture)."""
    import time
    from sparktika.kernels.extract import extract_document as ed
    from sparktika.synth import _ole2_file

    expired = time.monotonic() - 1.0
    html = b"<html><body>" + b"<p>marker</p>" * 400 + b"</body></html>"
    # mechanism: an explicit _deadline overrides the per-call budget
    r = ed("u.html", "text/html", html,
           ExtractConfig(timeout_ms=60_000), _deadline=expired)
    assert r.status == "timeout"

    u16 = lambda s: s.encode("utf-16-le")
    data = _ole2_file(
        {"__substg1.0_0037001F": u16("S"),
         "__substg1.0_1000001F": u16("Body."),
         "__properties_version1.0": b"\x00" * 32},
        storages=[("__attach_version1.0_#00000000",
                   {"__substg1.0_3707001F": u16("a0.html"),
                    "__substg1.0_37010102": html})])
    # without threading, the attachment would parse under a fresh 60s
    # budget and its text would appear; with the shared expired deadline
    # the nested call times out and the attachment degrades to size-only
    r2 = ed("u.msg", None, data,
            ExtractConfig(timeout_ms=60_000), _deadline=expired)
    assert "marker" not in (r2.text_extracted or "")
    # sanity: same document with a live deadline DOES extract it
    r3 = ed("u.msg", None, data, ExtractConfig(timeout_ms=60_000))
    assert "marker" in r3.text_extracted


def test_bz2_xz_wrappers_and_bomb_posture():
    import bz2, lzma

    txt = b"Wrapped text body here.\n"
    r = extract_document("a.txt.bz2", None, bz2.compress(txt))
    assert (r.status, r.text_extracted) == ("ok", txt.decode())
    assert r.metadata["Content-Encoding-Outer"] == ["bzip2"]
    r = extract_document("a.txt.xz", None,
                         lzma.compress(txt, format=lzma.FORMAT_XZ))
    assert (r.status, r.text_extracted) == ("ok", txt.decode())
    assert r.metadata["Content-Encoding-Outer"] == ["xz"]
    # ratio bomb: tiny archive inflating past the cap fails closed
    bomb = bz2.compress(b"\x00" * 50_000_000)
    r = extract_document("b.bz2", None, bomb,
                         ExtractConfig(max_inflate_ratio=10.0,
                                       max_inflate_bytes=1_000_000))
    assert r.status == "failed" and "InflateRatioError" in r.error
    # nested compression refused (any codec combination)
    r = extract_document("n.xz", None,
                         lzma.compress(bz2.compress(b"x" * 100),
                                       format=lzma.FORMAT_XZ))
    assert r.status == "failed" and "nested bzip2" in r.error
    # truncated archive fails closed
    r = extract_document("t.bz2", None, bz2.compress(b"y" * 5000)[:15])
    assert r.status == "failed"


def test_truncated_gzip_fails_closed():
    """Regression (review pass 2): a truncated .gz must fail, never flow
    downstream as clean-but-corrupt partial text."""
    import gzip

    full = gzip.compress(b"Real text content here. " * 100)
    r = extract_document("a.txt.gz", None, full[: len(full) // 2])
    assert r.status == "failed" and "InflateRatioError" in r.error
    r2 = extract_document("a.txt.gz", None, full)
    assert r2.status == "ok" and "Real text content" in r2.text_extracted


def test_docx_embedded_object_recursed():
    from sparktika.synth import build_docx_embedded

    r = extract_document("x.docx", None, build_docx_embedded(9))
    assert r.status == "ok"
    assert r.text_extracted == ("Docx host 9.\n[Embedded: oleObject1.bin]\n"
                                "Embedded att 9.\n")
    assert r.metadata["embedded-names"] == ["oleObject1.bin"]
    r0 = extract_document("x.docx", None, build_docx_embedded(9),
                          ExtractConfig(max_embed_depth=0))
    assert r0.text_extracted == "Docx host 9.\n"


def test_bare_ole10native_wrapper_transparent():
    """A standalone oleObject-style OLE2 file (root-level Ole10Native,
    no office streams) re-dispatches its payload like a gzip wrapper."""
    from sparktika.synth import _ole10native, _ole2_file

    data = _ole2_file({
        "\x01Ole10Native": _ole10native("inner.txt", b"Wrapped words here."),
        "\x01Ole": b"\x00" * 8})
    r = extract_document("obj.bin", None, data)
    assert r.status == "ok"
    assert r.text_extracted == "Wrapped words here."
    assert r.metadata["Ole10Native-Wrapper"] == ["true"]
    assert r.metadata["embedded-filename"] == ["inner.txt"]
    # recursion off: stays the old unsupported compound-file fallback
    r0 = extract_document("obj.bin", None, data,
                          ExtractConfig(max_embed_depth=0))
    assert r0.status == "unsupported"


def test_docx_embeds_survive_nesting_in_plain_zip():
    """Regression (review pass 4): recursion threads through nested
    containers — a docx inside a plain zip keeps its embedded-object
    text instead of silently dropping it."""
    import io, zipfile
    from sparktika.synth import build_docx_embedded

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("inner.docx", build_docx_embedded(9))
    r = extract_document("outer.zip", None, buf.getvalue())
    assert r.status == "ok"
    assert "Embedded att 9." in r.text_extracted


def test_docx_multiple_embedded_names_is_a_real_list():
    """embedded-names must be a multi-element list like the .doc/.pdf
    paths, not one '; '-joined blob."""
    import io, zipfile
    from sparktika.synth import _ole2_file, _ole10native

    def obj(i):
        return _ole2_file({"\x01Ole10Native":
                           _ole10native(f"n{i}.txt", f"Part {i}.".encode())})

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", "<Types/>")
        z.writestr("word/document.xml",
                   "<w:document><w:body><w:p><w:r><w:t>Host.</w:t></w:r>"
                   "</w:p></w:body></w:document>")
        z.writestr("word/embeddings/oleObject1.bin", obj(1))
        z.writestr("word/embeddings/oleObject2.bin", obj(2))
    r = extract_document("m.docx", None, buf.getvalue())
    assert r.metadata["embedded-names"] == ["oleObject1.bin",
                                            "oleObject2.bin"]
    assert "Part 1." in r.text_extracted and "Part 2." in r.text_extracted


def test_embedded_ppt_storage_scoped_dispatch():
    """An embedded `PowerPoint Document` storage runs the PPT kernel over
    a ScopedOle view — and must NOT reroute the host .doc (invariant 12:
    dispatch stays root-scoped)."""
    from sparktika.kernels.ole2 import Ole2File, ScopedOle
    from sparktika.kernels.ppt import extract_ppt_ole
    from sparktika.synth import build_doc_embedded

    data = build_doc_embedded(11)
    r = extract_document("u/11.doc", None, data)
    assert r.content_type_detected == "application/msword"  # host wins
    assert "[Embedded: _1003]\nEmbedded slide 11.\n" in r.text_extracted
    # direct scoped-kernel run over the sub-storage
    ole = Ole2File(data)
    pool = next(e for e in ole.root_children()
                if e.obj_type == 1 and e.name == "ObjectPool")
    st = next(e for e in ole.storage_children(pool) if e.name == "_1003")
    pr = extract_ppt_ole(ScopedOle(ole, st))
    assert pr.text == "Embedded slide 11.\n"


def test_zip_html_member_parses_to_body_text():
    """r4 review finding: the zip member router's text/html branch was
    dead (shadowed by the text/ prefix test), so zip HTML members leaked
    raw markup. All three containers must agree via the shared router."""
    html = (b"<html><head><title>T</title></head>"
            b"<body><p>zip html body</p></body></html>")
    data = _zip_bytes({"page.html": html})
    r = extract_zip_container(data)
    assert "zip html body" in r.text
    assert "<html>" not in r.text and "<p>" not in r.text


def test_embedded_resource_path_and_limit_flag():
    """r5 (r4 verdict item 4): the reference-reserved metadata names
    (main/TikaConstants.java:20-27) are surfaced — hierarchical
    embedded_resource_path per child, and embedded_resource_limit_reached
    on the OUTER doc when the max_embed_depth budget trips."""
    import dataclasses

    from sparktika.config import DEFAULT_CONFIG
    from sparktika.kernels.extract import extract_document
    from sparktika.synth import build_doc_embedded, build_msg_deep

    r = extract_document("u/2.msg", None, build_msg_deep(2))
    assert r.metadata["embedded_resource_path"] == [
        "/embedded-1", "/embedded-1/embedded-1"]
    assert "embedded_resource_limit_reached" not in r.metadata

    r = extract_document("u/3.doc", None, build_doc_embedded(3))
    assert r.metadata["embedded_resource_path"] == [
        "/note3.txt", "/_1002", "/_1003"]

    floor = dataclasses.replace(DEFAULT_CONFIG, max_embed_depth=0)
    for url, payload in (("u/2.msg", build_msg_deep(2)),
                         ("u/3.doc", build_doc_embedded(3))):
        r = extract_document(url, None, payload, floor)
        assert r.status == "ok"
        assert r.metadata["embedded_resource_limit_reached"] == ["true"]
        assert "embedded_resource_path" not in r.metadata

    # depth 1: first level parses (paths recorded), deeper level trips
    one = dataclasses.replace(DEFAULT_CONFIG, max_embed_depth=1)
    r = extract_document("u/2.msg", None, build_msg_deep(2), one)
    assert r.metadata["embedded_resource_path"] == ["/embedded-1"]
    assert r.metadata["embedded_resource_limit_reached"] == ["true"]


def _xlsb_grid_as_xlsx(doc_id: int) -> bytes:
    """The build_xlsb grid re-expressed as .xlsx for cross-format
    parity (same sheets, same cell values, shared + inline strings)."""
    import io
    import zipfile

    sheet1 = (
        '<worksheet><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c>'
        f'<c r="B1" t="inlineStr"><is><t>Desc {doc_id}</t></is></c></row>'
        f'<row r="2"><c r="A2"><v>{doc_id}</v></c>'
        f'<c r="B2"><v>{doc_id + 0.5}</v></c>'
        f'<c r="C2"><v>{doc_id + 0.25}</v></c></row>'
        '</sheetData></worksheet>').encode()
    sheet2 = (
        '<worksheet><sheetData>'
        '<row r="1"><c r="A1" t="b"><v>1</v></c>'
        '<c r="B1" t="e"><v>#DIV/0!</v></c>'
        '<c r="C1"/>'
        f'<c r="D1" t="inlineStr"><is><t>Tail {doc_id}</t></is></c></row>'
        '</sheetData></worksheet>').encode()
    sst = (f'<sst><si><t>Item {doc_id}</t></si></sst>').encode()
    wb = (f'<workbook><sheets>'
          f'<sheet name="Data{doc_id % 3}" sheetId="1" r:id="rId1"/>'
          f'<sheet name="Extra" sheetId="2" r:id="rId2"/>'
          f'</sheets></workbook>').encode()
    rels = (b'<Relationships><Relationship Id="rId1" Type="t" '
            b'Target="worksheets/sheet1.xml"/>'
            b'<Relationship Id="rId2" Type="t" '
            b'Target="worksheets/sheet2.xml"/></Relationships>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, payload in (("[Content_Types].xml", b"<Types/>"),
                              ("xl/workbook.xml", wb),
                              ("xl/_rels/workbook.xml.rels", rels),
                              ("xl/sharedStrings.xml", sst),
                              ("xl/worksheets/sheet1.xml", sheet1),
                              ("xl/worksheets/sheet2.xml", sheet2)):
            z.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)),
                       payload)
    return buf.getvalue()


def test_xlsb_xlsx_cell_text_parity():
    """r4 verdict item 3 done-criterion: the binary and XML paths render
    the same grid to the same text."""
    from sparktika.kernels.extract import extract_document
    from sparktika.synth import build_xlsb

    for i in (0, 7, 123, 4567):
        rb = extract_document(f"u/{i}.xlsb", None, build_xlsb(i))
        rx = extract_document(f"u/{i}.xlsx", None, _xlsb_grid_as_xlsx(i))
        assert rb.status == rx.status == "ok"
        assert rb.text_extracted == rx.text_extracted, i


def test_xlsb_formula_result_twins_and_errors():
    """Formula cells contribute their cached VALUE; unknown error codes
    degrade to #ERR; a huge lying cch never slices past the record."""
    from sparktika.kernels.xlsb import _sheet_text
    from sparktika.synth import _xlsb_rec

    def cell(col, rid, body):
        return _xlsb_rec(rid, col.to_bytes(4, "little") + b"\x00" * 4 + body)

    import struct
    ws_lying = (0xFFFFFF).to_bytes(4, "little") + "hi".encode("utf-16-le")
    buf = (_xlsb_rec(0x00, b"\x00" * 17)
           + cell(0, 0x09, struct.pack("<d", 2.5) + b"\x00\x00")   # FmlaNum
           + cell(1, 0x0A, b"\x00")                                 # FmlaBool
           + cell(2, 0x0B, b"\x63")                                 # odd err
           + cell(3, 0x08, ws_lying))                               # lying cch
    rows = _sheet_text(buf, [])
    assert rows == ["2.5\tFALSE\t#ERR\thi"]


def test_xlsb_robustness_never_raises():
    """Truncated / corrupt record streams stop with what parsed."""
    import io
    import zipfile

    from sparktika.kernels.extract import extract_document
    from sparktika.synth import build_xlsb

    data = build_xlsb(3)
    r = extract_document("u/3.xlsb", None, data[:len(data) // 2])
    assert r.status in ("ok", "failed", "unsupported")  # never raises
    # valid zip, garbage record stream
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("[Content_Types].xml", b"<Types/>")
        z.writestr("xl/workbook.bin", b"\xff" * 500)
        z.writestr("xl/worksheets/sheet1.bin", b"\x81" * 300)
    r = extract_document("u/g.xlsb", None, buf.getvalue())
    assert r.status == "ok" and isinstance(r.text_extracted, str)


def test_xlsb_nan_inf_cells_degrade_not_fail():
    """r5 review: NaN/inf doubles (BrtCellReal) and inf RKs must render
    per-cell, never raise out of the sheet walk."""
    import struct

    from sparktika.kernels.xlsb import _sheet_text
    from sparktika.synth import _xlsb_rec

    def cell(col, rid, body):
        return _xlsb_rec(rid, col.to_bytes(4, "little") + b"\x00" * 4 + body)

    buf = (_xlsb_rec(0x00, b"\x00" * 17)
           + cell(0, 0x05, struct.pack("<d", float("nan")))
           + cell(1, 0x05, struct.pack("<d", float("inf")))
           + cell(2, 0x02, (0xFFFFFFF8).to_bytes(4, "little"))
           + cell(3, 0x06, (2).to_bytes(4, "little")
                  + "ok".encode("utf-16-le")))
    rows = _sheet_text(buf, [])
    assert len(rows) == 1 and rows[0].endswith("\tok")


def test_xlsx_absolute_opc_rel_target():
    """Absolute OPC targets ('/xl/worksheets/sheet1.xml') are legal and
    must resolve — the sheet silently vanished as 'xl//xl/...'
    (r5 third review)."""
    import io
    import zipfile

    from sparktika.kernels.ooxml import extract_xlsx

    sheet = (b'<worksheet><sheetData><row r="1">'
             b'<c r="A1" t="inlineStr"><is><t>abs target cell</t></is>'
             b"</c></row></sheetData></worksheet>")
    wb = (b'<workbook><sheets><sheet name="S" sheetId="1" r:id="rId1"/>'
          b"</sheets></workbook>")
    rels = (b'<Relationships><Relationship Id="rId1" Type="t" '
            b'Target="/xl/worksheets/sheet1.xml"/></Relationships>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("[Content_Types].xml", b"<Types/>")
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    r = extract_xlsx(buf.getvalue())
    assert "abs target cell" in r.text


# -- Word 6/95 legacy .doc (r6) --------------------------------------------

def test_doc_legacy_flat_text_both_vintages():
    from sparktika.synth import build_doc_legacy

    for doc_id in (0, 1):  # nFib 101 (Word 6) and 104 (Word 95)
        r = extract_document(f"u/{doc_id}.doc", None,
                             build_doc_legacy(doc_id))
        assert r.status == "ok"
        assert r.text_extracted == (f"Legacy doc {doc_id}.\n"
                                    f"Old body line {doc_id} caf\xe9.\n")
        assert r.content_type_detected == "application/msword"


def test_doc_legacy_fast_saved_and_encrypted_refuse():
    import struct

    from sparktika.synth import build_doc_legacy

    for bit, label in ((0x0004, "fComplex"), (0x0100, "fEncrypted")):
        data = bytearray(build_doc_legacy(2))
        # flip the FIB flag inside the WordDocument stream: find the old
        # magic in the raw OLE2 bytes (stream data is contiguous here)
        at = bytes(data).index(struct.pack("<H", 0xA5DC))
        flags = struct.unpack_from("<H", data, at + 0x0A)[0]
        struct.pack_into("<H", data, at + 0x0A, flags | bit)
        r = extract_document("u/x.doc", None, bytes(data))
        assert r.status == "failed", label
        assert "legacy .doc" in (r.error or "")


def test_doc_legacy_truncation_never_raises():
    from sparktika.synth import build_doc_legacy

    full = build_doc_legacy(4)
    for cut in range(64, len(full), 97):
        r = extract_document("u/t.doc", None, full[:cut])
        assert r.status in ("ok", "failed", "unsupported", "truncated")
