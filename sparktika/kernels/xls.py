"""BIFF8 (.xls) text extraction over an OLE2 `Workbook` stream.

From-scratch per the public MS-XLS spec; equivalent capability to the
reference's POI-backed XLS path (ref: Tika 1.20 parser set linked at
tika-fork-main/build.gradle; golden pinned at 23 metadata keys /
4,824 chars, test/TikaProcessTest.java:124-128).

Output spec (frozen in goldens) mirrors Tika's ExcelExtractor XHTML
through the reference handler stack, byte-for-byte on the fixture
(4,824 chars, test/TikaProcessTest.java:124-128):

  per sheet (BOUNDSHEET order):
    "\n" before sheets 2..n        (<div class="page"> writer DIV rule)
    sheet name + "\n"              (<h1> + XHTML-layer newline)
    per populated row, ascending:  one "\t" BEFORE each present cell
                                   (XHTML INDENT rule on <td>), so a row
                                   reads "\t" + cells joined by "\t";
                                   blank-but-styled cells (BLANK/MULBLANK
                                   records) render as empty cells, then
                                   "\n" (</tr> XHTML newline)
    "\n\n\n"                       (</table> newline + </div> writer rule
                                   + </div> XHTML newline)

Numbers render integer-exact when integral, shortest-repr otherwise, with
common number formats (currency/percent/grouping) applied.

Records handled: BOF/EOF, BOUNDSHEET, SST (with CONTINUE splits —
including mid-string grbit restatement), LABELSST, LABEL, NUMBER, RK,
MULRK, FORMULA+STRING, BOOLERR, RSTRING, BLANK, MULBLANK.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from .errors import KernelError, check_deadline
from .ole2 import Ole2File

_EOF = 0x000A
_BOUNDSHEET = 0x0085
_SST = 0x00FC
_CONTINUE = 0x003C
_LABELSST = 0x00FD
_LABEL = 0x0204
_RSTRING = 0x00D6
_NUMBER = 0x0203
_RK = 0x027E
_MULRK = 0x00BD
_FORMULA = 0x0006
_STRING = 0x0207
_BOOLERR = 0x0205
_BLANK = 0x0201
_MULBLANK = 0x00BE


_FORMAT = 0x041E
_XF = 0x00E0

# BIFF8 builtin number formats (MS-XLS 2.4.126); custom FORMAT records
# override/extend these.
_BUILTIN_FORMATS = {
    0: "General", 1: "0", 2: "0.00", 3: "#,##0", 4: "#,##0.00",
    5: '"$"#,##0_);("$"#,##0)', 6: '"$"#,##0_);[Red]("$"#,##0)',
    7: '"$"#,##0.00_);("$"#,##0.00)', 8: '"$"#,##0.00_);[Red]("$"#,##0.00)',
    9: "0%", 10: "0.00%", 11: "0.00E+00", 12: "# ?/?", 13: "# ??/??",
    37: "#,##0_);(#,##0)", 38: "#,##0_);[Red](#,##0)",
    39: "#,##0.00_);(#,##0.00)", 40: "#,##0.00_);[Red](#,##0.00)",
    48: "##0.0E+0", 49: "@",
}


def _fmt_number(v: float) -> str:
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _render_with_format(v: float, fmt: str | None) -> str:
    """Minimal Excel number-format rendering (the common shapes: currency,
    fixed decimals, thousands grouping, percent). Unknown/General patterns
    fall back to the plain rendering."""
    if not fmt or fmt == "General" or fmt == "@":
        return _fmt_number(v)
    section = fmt.split(";")[0]
    if "E+" in section or "E-" in section or "?/" in section:
        return _fmt_number(v)
    import re as _re

    pct = section.rstrip("_) ").endswith("%")
    currency = '"$"' in section or section.startswith("$")
    m = _re.search(r"[0#]\.(0+)", section)
    decimals = len(m.group(1)) if m else 0
    grouping = "#,##" in section or "0,00" in section
    val = v * 100.0 if pct else v
    body = f"{val:,.{decimals}f}" if grouping else f"{val:.{decimals}f}"
    out = ("$" if currency else "") + body + ("%" if pct else "")
    return out


def _decode_rk(rk: int) -> float:
    div100 = rk & 0x01
    is_int = rk & 0x02
    if is_int:
        # arithmetic shift of the signed 30-bit value (reinterpret as int32)
        v = float(struct.unpack("<i", struct.pack("<I", rk & 0xFFFFFFFF))[0] >> 2)
    else:
        v = struct.unpack("<d", b"\x00\x00\x00\x00" + struct.pack("<I", rk & 0xFFFFFFFC))[0]
    return v / 100.0 if div100 else v


class _RecordStream:
    """Iterate BIFF records, transparently merging data access across
    CONTINUE records for the SST reader."""

    def __init__(self, data: bytes):
        self.data = data

    def records(self):
        i, n = 0, len(self.data)
        while i + 4 <= n:
            op, ln = struct.unpack_from("<HH", self.data, i)
            payload = self.data[i + 4 : i + 4 + ln]
            yield op, payload, i
            i += 4 + ln
            if op == _EOF and i + 4 > n:
                break


def _parse_sst(first_payload: bytes, continues: list[bytes]) -> list[str]:
    """Parse the shared-string table. Strings may split across CONTINUE
    boundaries; at each boundary the encoding flag byte is restated."""
    strings: list[str] = []
    (total, unique) = struct.unpack_from("<II", first_payload, 0)
    buffers = [first_payload[8:]] + continues
    buf_idx, pos = 0, 0

    def remaining() -> int:
        return len(buffers[buf_idx]) - pos

    def advance_buffer():
        nonlocal buf_idx, pos
        buf_idx += 1
        pos = 0

    def read_exact(n: int) -> bytes:
        nonlocal pos
        out = b""
        while n > 0:
            if buf_idx >= len(buffers):
                raise KernelError("SST truncated")
            take = min(n, remaining())
            if take == 0:
                advance_buffer()
                continue
            out += buffers[buf_idx][pos : pos + take]
            pos += take
            n -= take
        return out

    def read_string_chars(n_chars: int, wide: bool) -> str:
        nonlocal pos
        out = []
        chars_left = n_chars
        while chars_left > 0:
            if buf_idx >= len(buffers):
                raise KernelError("SST truncated mid-string")
            if remaining() == 0:
                advance_buffer()
                # at a CONTINUE boundary mid-string, one flag byte restates
                # the width for the remainder
                flag = read_exact(1)[0]
                wide = bool(flag & 0x01)
                continue
            unit = 2 if wide else 1
            avail_chars = remaining() // unit
            if avail_chars == 0:
                # half a wide char at buffer end cannot happen per spec
                advance_buffer()
                flag = read_exact(1)[0]
                wide = bool(flag & 0x01)
                continue
            take = min(chars_left, avail_chars)
            raw = buffers[buf_idx][pos : pos + take * unit]
            pos += take * unit
            out.append(raw.decode("utf-16-le" if wide else "latin-1", "replace"))
            chars_left -= take
        return "".join(out)

    for _ in range(unique):
        if buf_idx >= len(buffers):
            break
        hdr = read_exact(3)
        n_chars = struct.unpack("<H", hdr[:2])[0]
        grbit = hdr[2]
        wide = bool(grbit & 0x01)
        ext = bool(grbit & 0x04)
        rich = bool(grbit & 0x08)
        n_rich = struct.unpack("<H", read_exact(2))[0] if rich else 0
        n_ext = struct.unpack("<I", read_exact(4))[0] if ext else 0
        strings.append(read_string_chars(n_chars, wide))
        if n_rich:
            read_exact(4 * n_rich)
        if n_ext:
            read_exact(n_ext)
    return strings


def _short_string(payload: bytes, off: int) -> str:
    """BIFF8 XLUnicodeString with 16-bit length at off."""
    (n_chars,) = struct.unpack_from("<H", payload, off)
    grbit = payload[off + 2]
    if grbit & 0x01:
        return payload[off + 3 : off + 3 + n_chars * 2].decode("utf-16-le", "replace")
    return payload[off + 3 : off + 3 + n_chars].decode("latin-1", "replace")


@dataclass
class XlsResult:
    text: str
    sheet_names: list[str] = field(default_factory=list)
    n_cells: int = 0
    biff_version: int = 8


def extract_xls(data: bytes, deadline: float | None = None) -> XlsResult:
    return extract_xls_ole(Ole2File(data), deadline)


def extract_xls_ole(ole, deadline: float | None = None) -> XlsResult:
    """BIFF8 extraction over an Ole2File-like (including a ScopedOle view
    of an embedded workbook inside another compound document)."""
    stream_name = next(
        (n for n in ("Workbook", "Book") if n in ole.stream_names()), None)
    if stream_name is None:
        raise KernelError("no Workbook stream in OLE2 file")
    wb = ole.read_stream(stream_name)

    # pre-BIFF8 routing: the BOF version word distinguishes a BIFF5/7
    # "Book" stream (0x0500) — and ancient BIFF2-4 BOF ids can appear
    # in an OLE2 wrapper too. POI parity: OldExcelExtractor handles
    # those; kernels/oldxls.py is its twin here.
    if len(wb) >= 6:
        bof_op, _bof_len = struct.unpack_from("<HH", wb, 0)
        if bof_op in (0x0009, 0x0209, 0x0409):
            from .oldxls import extract_old_biff_raw

            old = extract_old_biff_raw(wb, deadline)
            return XlsResult(text=old.text, sheet_names=old.sheet_names,
                             n_cells=old.n_cells,
                             biff_version=old.biff_version)
        if bof_op == 0x0809:
            vers, = struct.unpack_from("<H", wb, 4)
            if vers not in (0x0600,):
                from .oldxls import extract_biff5_book

                old = extract_biff5_book(wb, deadline)
                return XlsResult(text=old.text, sheet_names=old.sheet_names,
                                 n_cells=old.n_cells,
                                 biff_version=old.biff_version)
    rs = _RecordStream(wb)

    # pass 1: globals — SST (+CONTINUEs), sheet offsets, number formats
    sst: list[str] = []
    sheets: list[tuple[int, str]] = []  # (stream offset, name)
    custom_formats: dict[int, str] = {}
    xf_ifmts: list[int] = []
    recs = list(rs.records())
    i = 0
    while i < len(recs):
        if (i & 0xFF) == 0:
            check_deadline(deadline, "xls globals scan")
        op, payload, off = recs[i]
        if op == _FORMAT and len(payload) >= 5:
            (ifmt, n_chars) = struct.unpack_from("<HH", payload, 0)
            grbit = payload[4]
            if grbit & 0x01:
                custom_formats[ifmt] = payload[5 : 5 + n_chars * 2].decode(
                    "utf-16-le", "replace")
            else:
                custom_formats[ifmt] = payload[5 : 5 + n_chars].decode(
                    "latin-1", "replace")
        elif op == _XF and len(payload) >= 4:
            xf_ifmts.append(struct.unpack_from("<H", payload, 2)[0])
        if op == _SST:
            continues = []
            j = i + 1
            while j < len(recs) and recs[j][0] == _CONTINUE:
                continues.append(recs[j][1])
                j += 1
            sst = _parse_sst(payload, continues)
            i = j
            continue
        if op == _BOUNDSHEET:
            (pos_bof,) = struct.unpack_from("<I", payload, 0)
            # name here is a SHORT string: 8-bit length
            n_chars = payload[6]
            grbit = payload[7]
            if grbit & 0x01:
                name = payload[8 : 8 + n_chars * 2].decode("utf-16-le", "replace")
            else:
                name = payload[8 : 8 + n_chars].decode("latin-1", "replace")
            sheets.append((pos_bof, name))
        i += 1

    def fmt_for(xf: int) -> str | None:
        if 0 <= xf < len(xf_ifmts):
            ifmt = xf_ifmts[xf]
            return custom_formats.get(ifmt, _BUILTIN_FORMATS.get(ifmt))
        return None

    # pass 2: per-sheet cell records, in BOUNDSHEET order
    out_parts: list[str] = []
    n_cells = 0
    bounds = sorted([off for off, _ in sheets]) + [len(wb)]
    for pos_bof, name in sheets:
        end = next((b for b in bounds if b > pos_bof), len(wb))
        cells: dict[int, dict[int, str]] = {}

        def put(r: int, c: int, v: str):
            nonlocal n_cells
            cells.setdefault(r, {})[c] = v
            n_cells += 1

        sub = _RecordStream(wb[pos_bof:end])
        pending_formula: tuple[int, int] | None = None
        rec_i = 0
        for op, payload, _ in sub.records():
            rec_i += 1
            if (rec_i & 0xFF) == 1:  # poll on the first record too
                check_deadline(deadline, "xls cell scan")
            try:
                if op == _LABELSST:
                    r, c, _xf, idx = struct.unpack_from("<HHHI", payload, 0)
                    if idx < len(sst):
                        put(r, c, sst[idx])
                elif op in (_LABEL, _RSTRING):
                    r, c = struct.unpack_from("<HH", payload, 0)
                    put(r, c, _short_string(payload, 6))
                elif op == _NUMBER:
                    r, c, xf = struct.unpack_from("<HHH", payload, 0)
                    (v,) = struct.unpack_from("<d", payload, 6)
                    put(r, c, _render_with_format(v, fmt_for(xf)))
                elif op == _RK:
                    r, c, xf, rk = struct.unpack_from("<HHHI", payload, 0)
                    put(r, c, _render_with_format(_decode_rk(rk), fmt_for(xf)))
                elif op == _MULRK:
                    r, c0 = struct.unpack_from("<HH", payload, 0)
                    (c_last,) = struct.unpack_from("<H", payload, len(payload) - 2)
                    for k in range(c_last - c0 + 1):
                        (xf, rk) = struct.unpack_from("<HI", payload, 4 + k * 6)
                        put(r, c0 + k, _render_with_format(_decode_rk(rk), fmt_for(xf)))
                elif op == _FORMULA:
                    r, c, xf = struct.unpack_from("<HHH", payload, 0)
                    result = payload[6:14]
                    if result[6:8] == b"\xff\xff":
                        if result[0] == 0:  # string result follows in STRING
                            pending_formula = (r, c)
                        elif result[0] == 1:  # boolean
                            put(r, c, "TRUE" if result[2] else "FALSE")
                    else:
                        (v,) = struct.unpack_from("<d", payload, 6)
                        put(r, c, _render_with_format(v, fmt_for(xf)))
                elif op == _STRING and pending_formula is not None:
                    r, c = pending_formula
                    put(r, c, _short_string(payload, 0))
                    pending_formula = None
                elif op == _BOOLERR:
                    r, c, _xf, bval, is_err = struct.unpack_from("<HHHBB", payload, 0)
                    if not is_err:
                        put(r, c, "TRUE" if bval else "FALSE")
                elif op == _BLANK:
                    r, c = struct.unpack_from("<HH", payload, 0)
                    put(r, c, "")
                elif op == _MULBLANK:
                    r, c0 = struct.unpack_from("<HH", payload, 0)
                    (c_last,) = struct.unpack_from("<H", payload, len(payload) - 2)
                    for k in range(c_last - c0 + 1):
                        put(r, c0 + k, "")
            except (struct.error, IndexError):
                continue  # malformed record: skip cell, keep the sheet alive
        if out_parts:
            out_parts.append("\n")  # <div class="page"> of sheets 2..n
        out_parts.append(name)
        out_parts.append("\n")      # XHTML-layer newline after </h1>
        for r in sorted(cells):
            row = cells[r]
            # XHTML INDENT rule: one "\t" BEFORE each <td>
            out_parts.append("".join("\t" + row[c] for c in sorted(row)))
            out_parts.append("\n")  # XHTML-layer newline after </tr>
        out_parts.append("\n\n\n")  # </table> + </div> writer + </div> XHTML
    text = "".join(out_parts)
    return XlsResult(text=text, sheet_names=[n for _, n in sheets], n_cells=n_cells)
