"""XLSB (MS-XLSB binary workbook) text extraction, from scratch.

Excel's binary OOXML hybrid: the zip layout of .xlsx, but the workbook,
shared-strings, and worksheet parts are binary record streams
(xl/workbook.bin, xl/sharedStrings.bin, xl/worksheets/sheetN.bin)
rather than XML. Tika 1.20 reaches it through POI's XSSFB path
(tika-parsers, linked by the reference's build.gradle); this module is
a from-spec implementation of the record grammar ([MS-XLSB] §2.1.4:
7-bit-continued record ids and sizes) covering the records text
extraction needs:

  workbook.bin     BrtBundleSh (sheet order, names, rel ids)
  sharedStrings.bin BrtSSTItem  (rich-string payloads, runs skipped)
  sheetN.bin       BrtRowHdr + cell records (blank/RK/error/bool/real/
                   inline-string/isst and their formula-result twins —
                   values only, formulas themselves skipped)

Rendering matches extract_xlsx EXACTLY (sheet-name line, rows as
tab-joined cells, RK/real numbers through the same integer-collapse
formatting, TRUE/FALSE bools) — pinned by a cross-format parity pytest
building the same grid as .xlsx and .xlsb.

Robustness (invariant 7): record-count cap, sizes clamped to the
stream, malformed records stop the walk with what parsed; the zip layer
reuses the shared ratio/size guards from kernels/ooxml.py.
"""

from __future__ import annotations

import struct

from .ooxml import OoxmlResult, _REL_RE, _core_props, open_zip, read_entry

_MAX_RECORDS = 4_000_000

# record ids ([MS-XLSB] §2.3)
_BRT_ROW_HDR = 0x00
_BRT_CELL_BLANK = 0x01
_BRT_CELL_RK = 0x02
_BRT_CELL_ERROR = 0x03
_BRT_CELL_BOOL = 0x04
_BRT_CELL_REAL = 0x05
_BRT_CELL_ST = 0x06
_BRT_CELL_ISST = 0x07
_BRT_FMLA_STRING = 0x08
_BRT_FMLA_NUM = 0x09
_BRT_FMLA_BOOL = 0x0A
_BRT_FMLA_ERROR = 0x0B
_BRT_SST_ITEM = 0x13
_BRT_BUNDLE_SH = 0x9C

_ERR_NAMES = {0x00: "#NULL!", 0x07: "#DIV/0!", 0x0F: "#VALUE!",
              0x17: "#REF!", 0x1D: "#NAME?", 0x24: "#NUM!", 0x2A: "#N/A"}


def iter_records(buf: bytes):
    """Yield (record_id, payload) per the 7-bit-continued framing."""
    pos = 0
    n = len(buf)
    for _ in range(_MAX_RECORDS):
        if pos >= n:
            return
        b = buf[pos]
        pos += 1
        if b & 0x80:
            if pos >= n:
                return
            rid = (b & 0x7F) | ((buf[pos] & 0x7F) << 7)
            pos += 1
        else:
            rid = b
        size = 0
        for shift in (0, 7, 14, 21):
            if pos >= n:
                return
            s = buf[pos]
            pos += 1
            size |= (s & 0x7F) << shift
            if not s & 0x80:
                break
        payload = buf[pos: pos + size]
        if len(payload) != size:
            return  # truncated final record: stop with what parsed
        pos += size
        yield rid, payload


def _wide_str(payload: bytes, pos: int) -> tuple[str, int]:
    """XLWideString: cch(4) + utf-16le chars."""
    cch = int.from_bytes(payload[pos: pos + 4], "little")
    pos += 4
    end = min(pos + 2 * cch, len(payload))
    return payload[pos:end].decode("utf-16-le", "replace"), end


def _rk_value(raw: int) -> float:
    """RkNumber ([MS-XLSB] §2.5.122): 30-bit int or truncated double,
    optionally scaled by 1/100."""
    if raw & 2:  # fInt: signed 30-bit
        v = raw >> 2
        if v & 0x20000000:
            v -= 0x40000000
        val = float(v)
    else:  # high 30 bits of an IEEE double
        val = struct.unpack("<d", b"\0\0\0\0"
                            + (raw & 0xFFFFFFFC).to_bytes(4, "little"))[0]
    return val / 100.0 if raw & 1 else val


def _fmt_num(val: float) -> str:
    # same collapse as ooxml._fmt_xlsx_number, starting from a float;
    # NaN/inf render as repr (int(nan) would raise — r5 review)
    if val == val and abs(val) != float("inf") \
            and val == int(val) and abs(val) < 1e15:
        return str(int(val))
    return repr(val)


def _sheet_text(buf: bytes, shared: list[str]) -> list[str]:
    """Rows of one worksheet part, rendered like the xlsx walker: cells
    in record order, tab-joined, all-empty rows dropped."""
    rows: list[str] = []
    cells: list[str] = []

    def flush():
        if any(c for c in cells):
            rows.append("\t".join(cells))
        cells.clear()

    for rid, p in iter_records(buf):
        if rid == _BRT_ROW_HDR:
            flush()
            continue
        if not _BRT_CELL_BLANK <= rid <= _BRT_FMLA_ERROR:
            continue
        if len(p) < 8:
            continue  # cell struct: col(4) + iStyleRef/flags(4)
        body = p[8:]
        try:
            if rid == _BRT_CELL_BLANK:
                cells.append("")
            elif rid == _BRT_CELL_RK:
                cells.append(_fmt_num(_rk_value(
                    int.from_bytes(body[:4], "little"))))
            elif rid in (_BRT_CELL_ERROR, _BRT_FMLA_ERROR):
                cells.append(_ERR_NAMES.get(body[0], "#ERR"))
            elif rid in (_BRT_CELL_BOOL, _BRT_FMLA_BOOL):
                cells.append("TRUE" if body[0] else "FALSE")
            elif rid in (_BRT_CELL_REAL, _BRT_FMLA_NUM):
                cells.append(_fmt_num(struct.unpack("<d", body[:8])[0]))
            elif rid in (_BRT_CELL_ST, _BRT_FMLA_STRING):
                s, _ = _wide_str(body, 0)
                cells.append(s)
            elif rid == _BRT_CELL_ISST:
                idx = int.from_bytes(body[:4], "little")
                cells.append(shared[idx] if idx < len(shared) else "")
        except (IndexError, struct.error, ValueError, OverflowError):
            cells.append("")  # one malformed cell never fails the sheet
    flush()
    return rows


def extract_xlsb(data: bytes, max_ratio: float = 200.0,
                 max_bytes: int = 256_000_000) -> OoxmlResult:
    zf = open_zip(data)
    names = set(zf.namelist())
    shared: list[str] = []
    if "xl/sharedStrings.bin" in names:
        raw = read_entry(zf, "xl/sharedStrings.bin", max_ratio, max_bytes)
        for rid, p in iter_records(raw):
            if rid == _BRT_SST_ITEM and len(p) >= 5:
                # rich string: flags(1) + cch(4) + chars (+runs, skipped)
                cch = int.from_bytes(p[1:5], "little")
                shared.append(p[5:5 + 2 * cch].decode("utf-16-le",
                                                      "replace"))

    # workbook part: sheet order/names via BrtBundleSh; rel targets stay
    # XML even in the binary package
    rels: dict[str, str] = {}
    if "xl/_rels/workbook.bin.rels" in names:
        rr = read_entry(zf, "xl/_rels/workbook.bin.rels", max_ratio,
                        max_bytes).decode("utf-8", "replace")
        for m in _REL_RE.finditer(rr):
            rid_ = m.group(1) or m.group(4)
            target = m.group(2) or m.group(3)
            if rid_ and target:
                if target.startswith("/"):  # absolute OPC target
                    rels[rid_] = target.lstrip("/")
                else:
                    rels[rid_] = (target if target.startswith("xl/")
                                  else f"xl/{target}")
    sheets: list[tuple[str, str]] = []
    if "xl/workbook.bin" in names:
        wb = read_entry(zf, "xl/workbook.bin", max_ratio, max_bytes)
        for rid, p in iter_records(wb):
            if rid == _BRT_BUNDLE_SH and len(p) >= 12:
                pos = 8  # hsState(4) + iTabID(4)
                cch = int.from_bytes(p[pos:pos + 4], "little")
                pos += 4
                if cch != 0xFFFFFFFF:  # nullable rel id
                    rel_id = p[pos:pos + 2 * cch].decode("utf-16-le",
                                                         "replace")
                    pos += 2 * cch
                else:
                    rel_id = ""
                name, _ = _wide_str(p, pos)
                target = rels.get(rel_id, "")
                if target:
                    sheets.append((name or target, target))
    if not sheets:  # fallback: positional (mirrors the xlsx path)
        sheets = [(f"Sheet{i + 1}", n) for i, n in enumerate(sorted(
            x for x in names if x.startswith("xl/worksheets/sheet")
            and x.endswith(".bin")))]

    parts: list[str] = []
    for name, target in sheets:
        if target not in names:
            continue
        parts.append(name)
        parts.extend(_sheet_text(
            read_entry(zf, target, max_ratio, max_bytes), shared))
    text = "\n".join(parts) + ("\n" if parts else "")
    return OoxmlResult(text=text, kind="xlsb",
                       metadata=_core_props(zf, max_ratio, max_bytes))
