"""Deterministic synthetic `pages` corpus (no external data, north rule).

Builds a Common-Crawl-shaped pages table — (url, warc_ts, html binary,
text, lang) per BASELINE.json input_hint — from the driver's `documents`
parquet, entirely as a function of (doc_id, text). The SAME construction
is expressed twice and kept in lockstep:

  1. `synth_pages(spark, sf_dir)` — Spark DataFrame (payload bytes via an
     Arrow row UDF; url/ts/skew columns via built-ins)
  2. `PAGES_CTE` — a DuckDB SQL CTE computing the page attributes AND the
     expected extraction results, used as the driver's oracle

Document kind = doc_id % 20 (row mix mirrors FIXTURES.md):
  0-9   simple HTML  <div>{text}</div>                  -> text + "\\n"
  10,11 link-rich HTML, (doc_id%3)+1 anchors            -> links golden
  12    iso-8859-1 HTML with meta + non-ASCII token     -> text + " café\\n"
  13    span/div separator torture                      -> text + "  x \\n"
  14    PDF, uncompressed content stream                -> text
  15    PDF, FlateDecode content stream                 -> text
  16,17 plain text                                      -> text
  18    unknown binary (OLE2 magic + junk)              -> unsupported
  19    poison: doc_id%40==19 deep-nest (failed),
                doc_id%40==39 oversize (skipped_oversize)

Host skew (north rule requires explicit skew handling): host 0 owns 50%
of all urls, hosts 1-3 own 30%, the tail spreads over ~40 hosts — a
Zipf-ish head-heavy layout that punishes naive per-host partitioning.

~2% duplicate urls: doc_id % 50 == 1 re-crawls the previous doc's url
one second later (newest-per-url dedup exercise).
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import BinaryType

from .config import ExtractConfig

# Extraction config used by all synth-corpus queries/tests (oversize cap is
# small so poison rows stay cheap to generate).
SYNTH_CONFIG = ExtractConfig(max_bytes=65536, timeout_ms=60_000)

LATIN1_TOKEN = " caf\xe9"  # ' café', encodable in iso-8859-1


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def build_pdf(text: str, flate: bool) -> bytes:
    stream = f"BT /F1 12 Tf 72 720 Td ({_pdf_escape(text)}) Tj ET".encode("latin-1", "replace")
    head = b"<< /Length %d >>" % len(stream)
    if flate:
        stream = zlib.compress(stream)
        head = b"<< /Length %d /Filter /FlateDecode >>" % len(stream)
    return (
        b"%PDF-1.3\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n" + head + b"\nstream\n" + stream + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )


# ---------------------------------------------------------------------------
# Deterministic image synthesis (media_features oracle): dimensions and fill
# color are pure functions of media_id, so DuckDB can predict width/height.
#   width  = 16 + media_id % 48
#   height = 16 + (media_id // 7) % 48
#   color  = (media_id*37 % 256, media_id*59 % 256, media_id*83 % 256)
# Even media_id -> PNG (RGB8, filter 0), odd -> BMP (24bpp bottom-up).
# ---------------------------------------------------------------------------

def media_dims(media_id: int) -> tuple[int, int]:
    return 16 + media_id % 48, 16 + (media_id // 7) % 48


def _media_color(media_id: int) -> tuple[int, int, int]:
    return (media_id * 37 % 256, media_id * 59 % 256, media_id * 83 % 256)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (len(body).to_bytes(4, "big") + ctype + body
            + zlib.crc32(ctype + body).to_bytes(4, "big"))


def build_png(media_id: int) -> bytes:
    import struct as _s

    w, h = media_dims(media_id)
    r, g, b = _media_color(media_id)
    row = b"\x00" + bytes([r, g, b]) * w  # filter 0 + solid RGB row
    ihdr = _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(row * h))
            + _png_chunk(b"IEND", b""))


def build_bmp(media_id: int) -> bytes:
    import struct as _s

    w, h = media_dims(media_id)
    r, g, b = _media_color(media_id)
    stride = (w * 3 + 3) & ~3
    row = (bytes([b, g, r]) * w).ljust(stride, b"\x00")
    pixels = row * h
    header = b"BM" + _s.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
    info = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + info + pixels


# ---------------------------------------------------------------------------
# Deterministic Outlook .msg synthesis (extract_msg_text oracle): every field
# is a pure function of msg_id, so DuckDB can predict the kernel's exact text
# rendering (see kernels/msg.py):
#   "Report {id}\nFrom: Sender {id%7} <s{id%7}@example.com>\n"
#   "To: User {id%11}\n\nMessage body {id}.\n"
# ---------------------------------------------------------------------------

def _ole2_file(streams: dict[str, bytes], storages: list = ()) -> bytes:
    """Minimal MS-CFB writer (512B sectors, one FAT sector, no miniFAT) —
    enough capacity for the small synthetic .msg payloads (<64KB).
    `storages` items are either a plain name (empty type-1 storage entry)
    or a (name, {stream: bytes}) pair (storage with child streams). The
    directory tree pointers (root.child -> top chain, storage.child ->
    child chain, siblings via right pointers) are emitted for real, so the
    reader's subtree walk is exercised by every synthetic payload. The
    test suite delegates here (single source of CFB layout truth)."""
    import struct as _s

    SEC = 512
    FREE, EOC, FATSECT = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD
    pad = lambda b: b + b"\x00" * (-len(b) % SEC)

    # normalize into a tree: node = [name, typ, payload_or_children,
    # slot, start]; a dict-valued child is a nested sub-storage
    def norm_kids(kids: dict) -> list:
        return [[cn, 1, norm_kids(v), -1, EOC] if isinstance(v, dict)
                else [cn, 2, v, -1, EOC]
                for cn, v in kids.items()]

    top: list = [[n, 2, p, -1, EOC] for n, p in streams.items()]
    for s in storages:
        if isinstance(s, str):
            top.append([s, 1, [], -1, EOC])
        else:
            sname, kids = s
            top.append([sname, 1, norm_kids(kids), -1, EOC])
    root = ["Root Entry", 5, top, 0, EOC]

    # pre-order slot assignment + flat node list
    nodes: list = []

    def assign(node):
        node[3] = len(nodes)
        nodes.append(node)
        if node[1] != 2:
            for ch in node[2]:
                assign(ch)

    assign(root)
    dir_sectors = (len(nodes) * 128 + SEC - 1) // SEC
    fat = [FATSECT]
    for i in range(dir_sectors):
        fat.append(2 + i if i < dir_sectors - 1 else EOC)
    chunks = []
    nxt = 1 + dir_sectors
    for node in nodes:
        if node[1] != 2:
            continue
        payload = node[2]
        n = max(1, (len(payload) + SEC - 1) // SEC)
        node[4] = nxt
        for k in range(n):
            fat.append(nxt + k + 1 if k < n - 1 else EOC)
        chunks.append(pad(payload))
        nxt += n
    if len(fat) > SEC // 4:
        raise ValueError("synthetic OLE2 payload exceeds one FAT sector")
    fat += [FREE] * (SEC // 4 - len(fat))

    def entry(name: str, typ: int, start: int, size: int,
              right: int = -1, child: int = -1) -> bytes:
        nm = name.encode("utf-16-le") + b"\x00\x00"
        return (nm + b"\x00" * (64 - len(nm)) + _s.pack("<H", len(nm))
                + bytes([typ, 0]) + _s.pack("<iii", -1, right, child)
                + b"\x00" * 36 + _s.pack("<IQ", start, size))

    ents = []
    for node in nodes:
        name, typ, body, _slot, start = node
        if typ == 2:
            size, child = len(body), -1
        else:
            size = 0
            start = EOC
            child = body[0][3] if body else -1
        right = -1
        ents.append([name, typ, start, size, right, child])
    # sibling chains: each child points right to the next sibling's slot
    for node in nodes:
        if node[1] == 2:
            continue
        kids = node[2]
        for a, b in zip(kids, kids[1:]):
            ents[a[3]][4] = b[3]
    directory = b"".join(entry(*e) for e in ents)
    header = (b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 16
              + _s.pack("<HHHHHHIIIIIIIII", 0x003E, 0x0003, 0xFFFE, 9, 6,
                        0, 0, 0, 1, 1, 0, 4096, EOC, 0, EOC)
              + _s.pack("<II", 0, 0) + b"\xff" * 4 * 108)
    return header + _s.pack(f"<{SEC // 4}I", *fat) + pad(directory) + b"".join(chunks)


def build_gif(media_id: int) -> bytes:
    """Solid-color GIF89a. LZW stream uses a CLEAR code before every pixel
    code so the code width stays fixed (spec-valid, trivially correct)."""
    import struct as _s

    w, h = media_dims(media_id)
    r, g, b = _media_color(media_id)
    pal = (bytes([r, g, b]) * 1).ljust(768, b"\x00")
    head = b"GIF89a" + _s.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0) + pal
    desc = b"\x2c" + _s.pack("<HHHHB", 0, 0, w, h, 0)
    clear, end = 256, 257  # min code size 8 -> 9-bit codes
    codes = []
    for _ in range(w * h):
        codes += [clear, 0]  # reset, then palette index 0
    codes.append(end)
    acc = bits = 0
    data = bytearray()
    for code in codes:
        acc |= code << bits
        bits += 9
        while bits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            bits -= 8
    if bits:
        data.append(acc & 0xFF)
    blocks = bytearray()
    for off in range(0, len(data), 255):
        chunk = data[off : off + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return head + desc + b"\x08" + bytes(blocks) + b"\x3b"


# ---------------------------------------------------------------------------
# Deterministic baseline-JPEG synthesis (media_jpeg_features oracle).
# The encoder writes DC-only blocks against an all-ones quant table, so the
# decode is PIXEL-EXACT (invariant 10): a solid block of value v quantizes to
# DC = 8*(v-128) with zero loss, and the orthonormal IDCT reproduces v; for
# color variants the chroma is neutral (Cb=Cr=128), so R=G=B=Y exactly.
#   gray value = media_id*37 % 256 (same channel the PNG/BMP builders use)
#   variant    = media_id % 3: 0 grayscale, 1 YCbCr 4:4:4, 2 YCbCr 4:2:0
# ---------------------------------------------------------------------------

_JDC_BITS = bytes([0, 0, 0, 12] + [0] * 12)   # DC cats 0..11, all 4-bit codes
_JDC_VALS = bytes(range(12))
_JAC_SYMS = ([0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
             + [r << 4 for r in range(1, 15)])  # EOBn runs (progressive)
_JAC_BITS = bytes([0] * 7 + [len(_JAC_SYMS)] + [0] * 8)  # all 8-bit codes
_JAC_VALS = bytes(_JAC_SYMS)

_JZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


def _jhuff_codes(bits: bytes, vals: bytes) -> dict:
    code, k, out = 0, 0, {}
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _JBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.buf.append(0)
                self.acc = 0
                self.n = 0

    def pad(self) -> None:
        while self.n:
            self.put(1, 1)  # pad with 1-bits per T.81 F.1.2.3

    def marker(self, m: int) -> None:
        self.pad()
        self.buf += bytes([0xFF, m])

    def flush(self) -> bytes:
        self.pad()
        return bytes(self.buf)


def encode_jpeg(w: int, h: int, comps: list, restart_interval: int = 0) -> bytes:
    """Minimal baseline-sequential JPEG encoder (quant table = all ones).

    `comps` is a list of (comp_id, hs, vs, blocks) where `blocks` holds the
    QUANTIZED coefficient blocks (natural 8x8 order, length-64 int lists) in
    block-grid raster order, grid size (mcus_y*vs) x (mcus_x*hs). Coefficient
    magnitudes must fit category <=11 for DC / <=10 for AC, AC zero-runs are
    split with ZRL. Test-support + oracle-synthesis code, not a pipeline op.
    """
    import struct as _s

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    dc_map = _jhuff_codes(_JDC_BITS, _JDC_VALS)
    ac_map = _jhuff_codes(_JAC_BITS, _JAC_VALS)
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + _s.pack(">HB", 67, 0) + b"\x01" * 64  # DQT id0 = 1s
    sof = _s.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, _blocks in comps:
        sof += bytes([cid, (hs << 4) | vs, 0])
    out += b"\xff\xc0" + _s.pack(">H", 2 + len(sof)) + sof
    out += (b"\xff\xc4" + _s.pack(">HB", 19 + len(_JDC_VALS), 0x00)
            + _JDC_BITS + _JDC_VALS)
    out += (b"\xff\xc4" + _s.pack(">HB", 19 + len(_JAC_VALS), 0x10)
            + _JAC_BITS + _JAC_VALS)
    if restart_interval:
        out += b"\xff\xdd" + _s.pack(">HH", 4, restart_interval)
    sos = bytes([len(comps)])
    for cid, *_ in comps:
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + _s.pack(">H", 2 + len(sos)) + sos
    wtr = _JBitWriter()
    preds = [0] * len(comps)

    def put_mag(hmap: dict, sym: int, v: int, size: int) -> None:
        code, ln = hmap[sym]
        wtr.put(code, ln)
        if size:
            if v < 0:
                v += (1 << size) - 1
            wtr.put(v, size)

    rst = 0
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            wtr.marker(0xD0 + rst)
            rst = (rst + 1) & 7
            preds = [0] * len(comps)
        my, mx = divmod(m, mcus_x)
        for ci, (cid, hs, vs, blocks) in enumerate(comps):
            bw = mcus_x * hs
            for by in range(vs):
                for bx in range(hs):
                    blk = blocks[(my * vs + by) * bw + mx * hs + bx]
                    diff = blk[0] - preds[ci]
                    preds[ci] = blk[0]
                    size = abs(diff).bit_length()
                    put_mag(dc_map, size, diff, size)
                    k = 1
                    run = 0
                    while k < 64:
                        v = blk[_JZIGZAG[k]]
                        if v == 0:
                            run += 1
                        else:
                            while run > 15:
                                put_mag(ac_map, 0xF0, 0, 0)  # ZRL
                                run -= 16
                            size = abs(v).bit_length()
                            put_mag(ac_map, (run << 4) | size, v, size)
                            run = 0
                        k += 1
                    if run:
                        put_mag(ac_map, 0x00, 0, 0)  # EOB
    out += wtr.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_progressive(w: int, h: int, comps: list) -> bytes:
    """Progressive (SOF2) encoder over the same quantized-coefficient input
    as encode_jpeg, emitting a 6-stage scan script: DC first pass at Al=1,
    per-component AC bands 1-5 and 6-63 at Al=1 (spectral selection +
    successive approximation, EOBn run coding), then DC refinement and
    per-component AC refinement scans at Al=0 (libjpeg jcphuff algorithm:
    correction bits buffered across EOB runs). Test-support code — its
    whole purpose is the invariant that progressive and baseline encodings
    of identical coefficients decode to identical pixels."""
    import struct as _s

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    dc_map = _jhuff_codes(_JDC_BITS, _JDC_VALS)
    ac_map = _jhuff_codes(_JAC_BITS, _JAC_VALS)
    ceil_div = lambda a, b: -(-a // b)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + _s.pack(">HB", 67, 0) + b"\x01" * 64
    sof = _s.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, _blocks in comps:
        sof += bytes([cid, (hs << 4) | vs, 0])
    out += b"\xff\xc2" + _s.pack(">H", 2 + len(sof)) + sof  # SOF2
    out += (b"\xff\xc4" + _s.pack(">HB", 19 + len(_JDC_VALS), 0x00)
            + _JDC_BITS + _JDC_VALS)
    out += (b"\xff\xc4" + _s.pack(">HB", 19 + len(_JAC_VALS), 0x10)
            + _JAC_BITS + _JAC_VALS)

    def sos_header(comp_idx: list, ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_idx)])
        for ci in comp_idx:
            body += bytes([comps[ci][0], 0x00])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + _s.pack(">H", 2 + len(body)) + body

    def put_mag(wtr, hmap, sym, v, size):
        code, ln = hmap[sym]
        wtr.put(code, ln)
        if size:
            if v < 0:
                v += (1 << size) - 1
            wtr.put(v, size)

    def dc_scan(al: int, refine: bool) -> bytes:
        wtr = _JBitWriter()
        preds = [0] * len(comps)
        for m in range(mcus_x * mcus_y):
            my, mx = divmod(m, mcus_x)
            for ci, (cid, hs, vs, blocks) in enumerate(comps):
                bw = mcus_x * hs
                for by in range(vs):
                    for bx in range(hs):
                        c0 = blocks[(my * vs + by) * bw + mx * hs + bx][0]
                        if refine:
                            wtr.put((c0 >> al) & 1, 1)
                        else:
                            v = c0 >> al  # arithmetic shift (T.81 pt xform)
                            diff = v - preds[ci]
                            preds[ci] = v
                            size = abs(diff).bit_length()
                            put_mag(wtr, dc_map, size, diff, size)
        return wtr.flush()

    def ac_first_scan(ci: int, ss: int, se: int, al: int) -> bytes:
        cid, hs, vs, blocks = comps[ci]
        bw = mcus_x * hs
        nbx = ceil_div(ceil_div(w * hs, hmax), 8)
        nby = ceil_div(ceil_div(h * vs, vmax), 8)
        wtr = _JBitWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                rbits = eobrun.bit_length() - 1
                put_mag(wtr, ac_map, rbits << 4, 0, 0)
                if rbits:
                    wtr.put(eobrun - (1 << rbits), rbits)
                eobrun = 0

        for u in range(nbx * nby):
            by, bx = divmod(u, nbx)
            blk = blocks[by * bw + bx]
            r = 0
            wrote = False
            for k in range(ss, se + 1):
                v = blk[_JZIGZAG[k]]
                t = abs(v) >> al
                if t == 0:
                    r += 1
                    continue
                flush_eob()
                while r > 15:
                    put_mag(wtr, ac_map, 0xF0, 0, 0)
                    r -= 16
                size = t.bit_length()
                put_mag(wtr, ac_map, (r << 4) | size,
                        t if v > 0 else -t, size)
                r = 0
                wrote = True
            if r > 0 or not wrote:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()
        return wtr.flush()

    def ac_refine_scan(ci: int, ss: int, se: int, al: int) -> bytes:
        cid, hs, vs, blocks = comps[ci]
        bw = mcus_x * hs
        nbx = ceil_div(ceil_div(w * hs, hmax), 8)
        nby = ceil_div(ceil_div(h * vs, vmax), 8)
        wtr = _JBitWriter()
        eobrun = 0
        pending: list[int] = []  # correction bits carried with the EOB run

        def flush_eob():
            nonlocal eobrun, pending
            if eobrun:
                rbits = eobrun.bit_length() - 1
                put_mag(wtr, ac_map, rbits << 4, 0, 0)
                if rbits:
                    wtr.put(eobrun - (1 << rbits), rbits)
                eobrun = 0
            for b in pending:
                wtr.put(b, 1)
            pending = []

        for u in range(nbx * nby):
            by, bx = divmod(u, nbx)
            blk = blocks[by * bw + bx]
            ab = [abs(blk[_JZIGZAG[k]]) >> al for k in range(ss, se + 1)]
            eob = -1  # index (relative) of last newly-significant coef
            for idx, t in enumerate(ab):
                if t == 1:
                    eob = idx
            r = 0
            br: list[int] = []
            for idx, t in enumerate(ab):
                if t == 0:
                    r += 1
                    continue
                # flush ZRLs at ANY nonzero (incl. history coefs) — beyond
                # the last new significance they fold into the EOB instead
                # (libjpeg jcphuff encode_mcu_AC_refine ordering invariant)
                while r > 15 and idx <= eob:
                    flush_eob()
                    put_mag(wtr, ac_map, 0xF0, 0, 0)
                    r -= 16
                    for b in br:
                        wtr.put(b, 1)
                    br = []
                if t > 1:  # history coefficient: buffered correction bit
                    br.append(t & 1)
                    continue
                flush_eob()
                v = blk[_JZIGZAG[ss + idx]]
                put_mag(wtr, ac_map, (r << 4) | 1, 0, 0)
                wtr.put(1 if v > 0 else 0, 1)
                r = 0
                for b in br:
                    wtr.put(b, 1)
                br = []
            if r > 0 or br:
                eobrun += 1
                pending.extend(br)
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()
        return wtr.flush()

    all_idx = list(range(len(comps)))
    out += sos_header(all_idx, 0, 0, 0, 1) + dc_scan(1, refine=False)
    for ci in all_idx:
        out += sos_header([ci], 1, 5, 0, 1) + ac_first_scan(ci, 1, 5, 1)
    for ci in all_idx:
        out += sos_header([ci], 6, 63, 0, 1) + ac_first_scan(ci, 6, 63, 1)
    out += sos_header(all_idx, 0, 0, 1, 0) + dc_scan(0, refine=True)
    for ci in all_idx:
        out += sos_header([ci], 1, 5, 1, 0) + ac_refine_scan(ci, 1, 5, 0)
    for ci in all_idx:
        out += sos_header([ci], 6, 63, 1, 0) + ac_refine_scan(ci, 6, 63, 0)
    out += b"\xff\xd9"
    return bytes(out)


def _solid_blocks(value: int, bw: int, bh: int) -> list:
    blk = [0] * 64
    blk[0] = 8 * (value - 128)
    return [list(blk) for _ in range(bw * bh)]


def build_jpeg(media_id: int) -> bytes:
    """Solid image of gray level media_id*37 % 256; variant rotates through
    grayscale / YCbCr 4:4:4 / YCbCr 4:2:0 so every decoder path is covered.
    Neutral chroma keeps decoded RGB == (g, g, g) exactly."""
    w, h = media_dims(media_id)
    g = media_id * 37 % 256
    variant = media_id % 3
    if variant == 0:
        bw, bh = -(-w // 8), -(-h // 8)
        return encode_jpeg(w, h, [(1, 1, 1, _solid_blocks(g, bw, bh))])
    if variant == 1:
        bw, bh = -(-w // 8), -(-h // 8)
        return encode_jpeg(w, h, [
            (1, 1, 1, _solid_blocks(g, bw, bh)),
            (2, 1, 1, _solid_blocks(128, bw, bh)),
            (3, 1, 1, _solid_blocks(128, bw, bh)),
        ])
    mcus_x, mcus_y = -(-w // 16), -(-h // 16)
    return encode_jpeg(w, h, [
        (1, 2, 2, _solid_blocks(g, mcus_x * 2, mcus_y * 2)),
        (2, 1, 1, _solid_blocks(128, mcus_x, mcus_y)),
        (3, 1, 1, _solid_blocks(128, mcus_x, mcus_y)),
    ])


def build_tiff(media_id: int) -> bytes:
    """Deterministic uncompressed TIFF (media_tiff_features oracle): solid
    _media_color fill; variants rotate II single-strip RGB / MM multi-strip
    RGB (RowsPerStrip=4) / II palette-color (ColorMap value*257 divides
    back exactly), so decoded means are exact color/255 rationals."""
    import struct as _s

    w, h = media_dims(media_id)
    r, g, b = _media_color(media_id)
    variant = media_id % 3
    endian = ">" if variant == 1 else "<"
    magic = b"MM\x00*" if variant == 1 else b"II*\x00"

    if variant == 2:  # palette: every pixel indexes entry 5
        raster = bytes([5]) * (w * h)
        spp, photometric = 1, 3
    else:
        raster = bytes([r, g, b]) * (w * h)
        spp, photometric = 3, 2
    rows_per_strip = 4 if variant == 1 else h
    strips = []
    row_bytes = w * spp
    for y0 in range(0, h, rows_per_strip):
        y1 = min(y0 + rows_per_strip, h)
        strips.append(raster[y0 * row_bytes : y1 * row_bytes])

    # layout: header(8) | strip data | external values | IFD
    pos = 8
    strip_offsets = []
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    extra = bytearray()

    def ext(values: list[int], fmt: str) -> int:
        nonlocal extra
        off = pos + len(extra)
        extra += _s.pack(endian + fmt * len(values), *values)
        return off

    entries = []  # (tag, type, count, packed-4-byte value field)

    def short_entry(tag: int, values: list[int]) -> None:
        if len(values) <= 2:
            field = _s.pack(endian + "H" * len(values), *values).ljust(4, b"\x00")
        else:
            field = _s.pack(endian + "I", ext(values, "H"))
        entries.append((tag, 3, len(values), field))

    def long_entry(tag: int, values: list[int]) -> None:
        if len(values) == 1:
            field = _s.pack(endian + "I", values[0])
        else:
            field = _s.pack(endian + "I", ext(values, "I"))
        entries.append((tag, 4, len(values), field))

    short_entry(256, [w])
    short_entry(257, [h])
    short_entry(258, [8] * spp)
    short_entry(259, [1])                      # uncompressed
    short_entry(262, [photometric])
    long_entry(273, strip_offsets)
    short_entry(277, [spp])
    short_entry(278, [rows_per_strip])
    long_entry(279, [len(s) for s in strips])
    if variant == 2:
        reds = [0] * 256
        greens = [0] * 256
        blues = [0] * 256
        reds[5], greens[5], blues[5] = r * 257, g * 257, b * 257
        short_entry(320, reds + greens + blues)
    entries.sort(key=lambda e: e[0])
    ifd_off = pos + len(extra)
    ifd = _s.pack(endian + "H", len(entries))
    for tag, ttype, count, field in entries:
        ifd += _s.pack(endian + "HHI", tag, ttype, count) + field
    ifd += _s.pack(endian + "I", 0)  # no next IFD
    header = magic + _s.pack(endian + "I", ifd_off)
    return header + b"".join(strips) + bytes(extra) + ifd


def build_jpeg_exif(media_id: int) -> bytes:
    """build_jpeg payload with an EXIF APP1 segment spliced after SOI
    (extract_exif oracle): Make/Model/Orientation/DateTimeOriginal are
    pure functions of media_id."""
    import struct as _s

    e = "<"
    make = f"Cam{media_id % 5}".encode() + b"\x00"
    model = f"Model {media_id % 7}".encode() + b"\x00"
    dto = f"2026:01:{(media_id % 27) + 1:02d} 10:00:00".encode() + b"\x00"
    orientation = 1 + media_id % 8

    # IFD0: Make, Model, Orientation, ExifIFD pointer; ExifIFD: DateTimeOriginal
    ifd0_off = 8
    n0 = 4
    ifd0_size = 2 + 12 * n0 + 4
    sub_off = ifd0_off + ifd0_size
    n1 = 1
    sub_size = 2 + 12 * n1 + 4
    data_off = sub_off + sub_size

    def ent(tag, ttype, count, field4):
        return _s.pack(e + "HHI", tag, ttype, count) + field4

    blobs = bytearray()

    def ascii_field(v: bytes) -> bytes:
        nonlocal blobs
        if len(v) <= 4:
            return v.ljust(4, b"\x00")
        off = data_off + len(blobs)
        blobs += v
        return _s.pack(e + "I", off)

    make_f = ascii_field(make)
    model_f = ascii_field(model)
    dto_f = ascii_field(dto)
    ifd0 = (_s.pack(e + "H", n0)
            + ent(271, 2, len(make), make_f)
            + ent(272, 2, len(model), model_f)
            + ent(274, 3, 1, _s.pack(e + "H", orientation).ljust(4, b"\x00"))
            + ent(0x8769, 4, 1, _s.pack(e + "I", sub_off))
            + _s.pack(e + "I", 0))
    sub = (_s.pack(e + "H", n1)
           + ent(0x9003, 2, len(dto), dto_f)
           + _s.pack(e + "I", 0))
    tiff = b"II*\x00" + _s.pack(e + "I", ifd0_off) + ifd0 + sub + bytes(blobs)
    app1_body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + _s.pack(">H", 2 + len(app1_body)) + app1_body
    base = build_jpeg(media_id)
    return base[:2] + app1 + base[2:]


def build_jpeg_progressive(media_id: int) -> bytes:
    """Progressive twin of build_jpeg: same solid gray, same variant
    rotation (gray / 4:4:4 / 4:2:0), encoded with the 6-scan progressive
    script — decodes to the identical exact pixels."""
    w, h = media_dims(media_id)
    g = media_id * 37 % 256
    variant = media_id % 3
    if variant == 0:
        bw, bh = -(-w // 8), -(-h // 8)
        return encode_jpeg_progressive(w, h, [(1, 1, 1, _solid_blocks(g, bw, bh))])
    if variant == 1:
        bw, bh = -(-w // 8), -(-h // 8)
        return encode_jpeg_progressive(w, h, [
            (1, 1, 1, _solid_blocks(g, bw, bh)),
            (2, 1, 1, _solid_blocks(128, bw, bh)),
            (3, 1, 1, _solid_blocks(128, bw, bh)),
        ])
    mcus_x, mcus_y = -(-w // 16), -(-h // 16)
    return encode_jpeg_progressive(w, h, [
        (1, 2, 2, _solid_blocks(g, mcus_x * 2, mcus_y * 2)),
        (2, 1, 1, _solid_blocks(128, mcus_x, mcus_y)),
        (3, 1, 1, _solid_blocks(128, mcus_x, mcus_y)),
    ])


def build_wav(media_id: int) -> bytes:
    """Deterministic mono 16-bit PCM WAV (media_audio_features oracle): a
    full-scale square wave, so RMS*32768 recovers the amplitude EXACTLY
    (every sample magnitude is the same binary-exact rational):
      rate   = 8000 if even else 16000
      frames = 800 + (media_id % 50) * 160   (always divisible by 16)
      amp    = 1000 + (media_id % 100) * 300
    """
    import struct as _s

    rate = 8000 if media_id % 2 == 0 else 16000
    n_frames = 800 + (media_id % 50) * 160
    amp = 1000 + (media_id % 100) * 300
    pcm = _s.pack("<hh", amp, -amp) * (n_frames // 2)
    fmt = _s.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (b"RIFF" + _s.pack("<I", 36 + len(pcm)) + b"WAVE"
            + b"fmt " + _s.pack("<I", 16) + fmt
            + b"data" + _s.pack("<I", len(pcm)) + pcm)


def build_mp4(media_id: int) -> bytes:
    """Deterministic minimal MP4 (media_video_meta oracle): ftyp + moov
    with mvhd (timescale 1000, duration_ms = 2000 + (id%60)*500) and one
    video trak (tkhd dims = media_dims scaled x16, hdlr 'vide')."""
    import struct as _s

    def box(btype: bytes, body: bytes) -> bytes:
        return _s.pack(">I", 8 + len(body)) + btype + body

    w, h = media_dims(media_id)
    w, h = w * 16, h * 16
    duration = 2000 + (media_id % 60) * 500  # ms; timescale 1000 -> exact
    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
               + _s.pack(">II", 1000, duration) + b"\x00" * 80)
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 72
               + _s.pack(">II", w << 16, h << 16))
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    mdia = box(b"mdia", hdlr)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    return ftyp + moov


def build_mjpeg_mp4(media_id: int) -> bytes:
    """Deterministic Motion-JPEG MP4 (media_frame_sample oracle): one video
    track whose samples are DC-only solid 16x16 JPEGs, so every sampled
    frame's mean is an exact gray/255 rational:
      n_frames     = 4 + media_id % 5
      frame f gray = (media_id*37 + f*11) % 256
    Layout: ftyp + mdat(frames) + moov(mvhd, trak(tkhd, mdia(hdlr vide,
    minf(stbl(stsd 'jpeg', stsz, stsc, stco))))). stco points into mdat
    (single chunk holding all samples)."""
    import struct as _s

    def box(btype: bytes, body: bytes) -> bytes:
        return _s.pack(">I", 8 + len(body)) + btype + body

    n_frames = 4 + media_id % 5
    frames = []
    for f in range(n_frames):
        g = (media_id * 37 + f * 11) % 256
        frames.append(encode_jpeg(16, 16, [(1, 1, 1, _solid_blocks(g, 2, 2))]))
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat = box(b"mdat", b"".join(frames))
    first_off = len(ftyp) + 8  # first sample starts right after mdat header
    duration = n_frames * 100  # ms at timescale 1000
    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
               + _s.pack(">II", 1000, duration) + b"\x00" * 80)
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 72
               + _s.pack(">II", 16 << 16, 16 << 16))
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    sample_entry = _s.pack(">I", 16) + b"jpeg" + b"\x00" * 6 + _s.pack(">H", 1)
    stsd = box(b"stsd", b"\x00" * 4 + _s.pack(">I", 1) + sample_entry)
    stsz = box(b"stsz", b"\x00" * 4 + _s.pack(">II", 0, n_frames)
               + b"".join(_s.pack(">I", len(fr)) for fr in frames))
    stsc = box(b"stsc", b"\x00" * 4 + _s.pack(">I", 1)
               + _s.pack(">III", 1, n_frames, 1))
    stco = box(b"stco", b"\x00" * 4 + _s.pack(">II", 1, first_off))
    stbl = box(b"stbl", stsd + stsz + stsc + stco)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def build_warc_gz(doc_id: int) -> bytes:
    """Deterministic gzipped WARC archive (source_warc_ingest oracle):
    warcinfo + request (both skipped by the reader) + two response records
    per doc — one identity-encoded text/html, one CHUNKED text/plain —
    every field a pure function of doc_id. Gzip with mtime=0 + fixed
    compresslevel so the bytes themselves are deterministic."""
    import gzip as _gz

    def rec(wtype: str, uri: str | None, payload: bytes) -> bytes:
        headers = ["WARC/1.0", f"WARC-Type: {wtype}",
                   "WARC-Date: 2026-02-03T04:05:06Z"]
        if uri:
            headers.append(f"WARC-Target-URI: {uri}")
        headers.append(f"Content-Length: {len(payload)}")
        return ("\r\n".join(headers) + "\r\n\r\n").encode() + payload + b"\r\n\r\n"

    def http(body: bytes, ct: str, chunked: bool = False) -> bytes:
        if chunked:
            chunks = b""
            for i in range(0, len(body), 16):
                part = body[i : i + 16]
                chunks += f"{len(part):x}\r\n".encode() + part + b"\r\n"
            chunks += b"0\r\n\r\n"
            return (f"HTTP/1.1 200 OK\r\nContent-Type: {ct}\r\n"
                    "Transfer-Encoding: chunked\r\n\r\n").encode() + chunks
        return (f"HTTP/1.1 200 OK\r\nContent-Type: {ct}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n").encode() + body

    base = f"https://warc.example.com/{doc_id}"
    html_body = f"<html><body><p>Warc page {doc_id}.</p></body></html>".encode()
    text_body = (f"Warc chunk {doc_id} alpha. Warc chunk {doc_id} beta."
                 .encode())
    raw = (rec("warcinfo", None, b"software: sparktika-synth\r\n")
           + rec("request", f"{base}/a",
                 b"GET /a HTTP/1.1\r\nHost: warc.example.com\r\n\r\n")
           + rec("response", f"{base}/a", http(html_body, "text/html"))
           + rec("response", f"{base}/b",
                 http(text_body, "text/plain", chunked=True)))
    return _gz.compress(raw, compresslevel=6, mtime=0)


def _tar_entry(name: str, body: bytes) -> bytes:
    h = bytearray(512)
    nb = name.encode()
    h[0 : len(nb)] = nb
    h[100:108] = b"0000644\x00"
    h[108:116] = b"0000000\x00"
    h[116:124] = b"0000000\x00"
    h[124:136] = (b"%011o" % len(body)) + b"\x00"
    h[136:148] = b"00000000000\x00"
    h[148:156] = b"        "  # checksum computed over spaces, per spec
    h[156] = ord("0")
    h[257:263] = b"ustar\x00"
    h[263:265] = b"00"
    h[148:156] = (b"%06o" % sum(h)) + b"\x00 "
    return bytes(h) + body + b"\x00" * (-len(body) % 512)


def build_tar(doc_id: int) -> bytes:
    """Deterministic ustar archive of two text entries (extract_tar_text
    oracle): kernel text is exactly
    'Tar text one {id}. Tar text two {id}.'"""
    return (_tar_entry(f"a{doc_id}.txt", f"Tar text one {doc_id}. ".encode())
            + _tar_entry(f"b{doc_id}.txt", f"Tar text two {doc_id}.".encode())
            + b"\x00" * 1024)


def build_msg(msg_id: int) -> bytes:
    u16 = lambda s: s.encode("utf-16-le")
    return _ole2_file({
        "__substg1.0_0037001F": u16(f"Report {msg_id}"),
        "__substg1.0_0C1A001F": u16(f"Sender {msg_id % 7}"),
        "__substg1.0_0C1F001F": u16(f"s{msg_id % 7}@example.com"),
        "__substg1.0_0E04001F": u16(f"User {msg_id % 11}"),
        "__substg1.0_1000001F": u16(f"Message body {msg_id}."),
        "__properties_version1.0": b"\x00" * 32,
    })


def build_msg_attach(msg_id: int) -> bytes:
    """Deterministic .msg with attachment sub-storages (extract_msg_attachments
    oracle): two attachments — a text one (decoded inline) and a binary one
    (size only) — plus a recipient sub-storage, all fields pure functions of
    msg_id. Kernel text rendering (see kernels/msg.py):
      base message text, then per name-sorted attachment storage:
      "[Attachment: {name}]\\n" + decoded text for .txt payloads.
    """
    u16 = lambda s: s.encode("utf-16-le")
    return _ole2_file(
        {
            "__substg1.0_0037001F": u16(f"Attach report {msg_id}"),
            "__substg1.0_0C1A001F": u16(f"Sender {msg_id % 7}"),
            "__substg1.0_0C1F001F": u16(f"s{msg_id % 7}@example.com"),
            "__substg1.0_0E04001F": u16(f"User {msg_id % 11}"),
            "__substg1.0_1000001F": u16(f"Attach body {msg_id}."),
            "__properties_version1.0": b"\x00" * 32,
        },
        storages=[
            ("__recip_version1.0_#00000000",
             {"__substg1.0_3001001F": u16(f"User {msg_id % 11}")}),
            ("__attach_version1.0_#00000000",
             {"__substg1.0_3707001F": u16(f"notes{msg_id % 4}.txt"),
              "__substg1.0_37010102":
                  f"Attachment note {msg_id}.".encode()}),
            ("__attach_version1.0_#00000001",
             {"__substg1.0_3704001E": f"img{msg_id % 3}.bin".encode("cp1252"),
              "__substg1.0_37010102": bytes(range(16))}),
        ])


def build_doc_full(doc_id: int) -> bytes:
    """Deterministic Word97 .doc exercising fields + subdocuments
    (extract_doc_subdocs oracle). One compressed piece laid out as
      main:   'Doc body {id}. ' + field(begin 0x13, instruction
              'HYPERLINK ...', sep 0x14, result 'link {id}', end 0x15) + \\r
      ftn:    'Note {id}.\\r'
      hdd:    'Header {id}\\r'
    with FibRgLw97 ccpText/ccpFtn/ccpHdd set to the segment lengths, so the
    kernel must suppress the field instruction (keep only the cached
    result) and segment the CP space correctly:
      text = 'Doc body {id}. link {id}\\nNote {id}.\\nHeader {id}\\n'
    """
    import struct as _s

    main = (f"Doc body {doc_id}. "
            f"\x13HYPERLINK \"http://x{doc_id}\"\x14link {doc_id}\x15\r")
    ftn = f"Note {doc_id}.\r"
    hdd = f"Header {doc_id}\r"
    full = main + ftn + hdd
    raw = full.encode("cp1252")
    wd = bytearray(0x0600)
    _s.pack_into("<H", wd, 0, 0xA5EC)                 # FIB magic
    _s.pack_into("<H", wd, 0x000A, 0x0000)            # flags: 0Table
    _s.pack_into("<III", wd, 0x004C,
                 len(main), len(ftn), len(hdd))       # ccpText/ccpFtn/ccpHdd
    fc_cursor = 0x0800
    pcd = _s.pack("<HIH", 0, (fc_cursor * 2) | 0x40000000, 0)
    plc = _s.pack("<2I", 0, len(full)) + pcd
    clx = b"\x02" + _s.pack("<I", len(plc)) + plc
    table = b"\x00" * 0x80 + clx
    _s.pack_into("<II", wd, 0x01A2, 0x80, len(clx))   # fcClx, lcbClx
    full_wd = bytes(wd) + b"\x00" * (fc_cursor - len(wd)) + raw
    # two embedded OLE objects in the ObjectPool (n-embedded-objects = 2)
    return _ole2_file(
        {"WordDocument": full_wd, "0Table": table},
        storages=[("ObjectPool",
                   {"_1001": {"\x01Ole": b"\x00" * 8},
                    "_1002": {"\x01Ole": b"\x00" * 8}})])


def build_msg_nested(msg_id: int) -> bytes:
    """.msg whose single attachment is an EMBEDDED MESSAGE (PidTagAttach-
    DataObject sub-storage holding its own MAPI property streams) —
    extract_msg_nested oracle; all fields pure functions of msg_id."""
    u16 = lambda s: s.encode("utf-16-le")
    return _ole2_file(
        {
            "__substg1.0_0037001F": u16(f"Outer {msg_id}"),
            "__substg1.0_1000001F": u16(f"Outer body {msg_id}."),
            "__properties_version1.0": b"\x00" * 32,
        },
        storages=[
            ("__attach_version1.0_#00000000",
             {"__substg1.0_3701000D": {
                 "__substg1.0_0037001F": u16(f"Inner {msg_id % 9}"),
                 "__substg1.0_1000001F": u16(f"Inner body {msg_id}."),
             }}),
        ])


def build_rtf(doc_id: int) -> bytes:
    """Deterministic RTF payload (extract_rtf_text oracle): kernel output is
    exactly "Document {id} body café.\\nLine two for {id}.\\n" with title
    "Report {id}"."""
    return (
        "{\\rtf1\\ansi\\ansicpg1252{\\fonttbl{\\f0 Helvetica;}}"
        "{\\*\\generator sparktika synth;}"
        f"{{\\info{{\\title Report {doc_id}}}}}"
        f"\\f0 Document {doc_id} body caf\\'e9.\\par "
        f"Line two for {doc_id}.\\par}}"
    ).encode("ascii")


def build_eml(doc_id: int) -> bytes:
    """Deterministic RFC 822 multipart email (extract_eml_text oracle):
    kernel output is exactly
    "Mail {id}\\nFrom: sender{id%7}@example.com\\nTo: user{id%11}@example.com
    \\n\\nFirst part {id}.\\nSecond part {id}.\\n" with 3 MIME parts."""
    import base64 as _b64

    part2 = _b64.b64encode(f"Second part {doc_id}.".encode()).decode()
    return (
        f"From: sender{doc_id % 7}@example.com\r\n"
        f"To: user{doc_id % 11}@example.com\r\n"
        f"Subject: Mail {doc_id}\r\n"
        "MIME-Version: 1.0\r\n"
        'Content-Type: multipart/mixed; boundary="B42"\r\n\r\n'
        "--B42\r\n"
        "Content-Type: text/plain; charset=utf-8\r\n\r\n"
        f"First part {doc_id}.\r\n"
        "--B42\r\n"
        "Content-Type: text/plain; charset=utf-8\r\n"
        "Content-Transfer-Encoding: base64\r\n\r\n"
        f"{part2}\r\n"
        "--B42--\r\n").encode()


def build_mbox(doc_id: int) -> bytes:
    """Deterministic 3-message mbox (extract_mbox_text oracle). Message j
    (j in 0..2) renders through the eml kernel as
    "Mbox {id} msg {j}\\nFrom: sender{(id+j)%7}@example.com\\n
    To: list{id%5}@example.com\\n\\nBody {j} of mailbox {id}.\\n>From
    quoted line {j}.\\n" (the >From line tests mboxo unquoting: it
    arrives quoted in the file and must extract unquoted)."""
    msgs = []
    for j in range(3):
        msgs.append(
            f"From sender{(doc_id + j) % 7}@example.com Thu Jan  1 "
            f"0{j}:00:00 1970\n"
            f"From: sender{(doc_id + j) % 7}@example.com\n"
            f"To: list{doc_id % 5}@example.com\n"
            f"Subject: Mbox {doc_id} msg {j}\n"
            "Content-Type: text/plain; charset=utf-8\n"
            "\n"
            f"Body {j} of mailbox {doc_id}.\n"
            f">>From quoted line {j}.\n")
    return "\n".join(msgs).encode()


def _7z_number(n: int) -> bytes:
    """7z variable-length number (7zFormat.txt REAL_UINT64): value bits
    split between the first byte's low bits and little-endian extra
    bytes signalled by the first byte's high bits."""
    if n < 0x80:
        return bytes([n])
    extra = b""
    mask = 0x80
    first_high = 0
    for i in range(8):
        extra += bytes([(n >> (8 * i)) & 0xFF])
        first_high |= mask
        mask >>= 1
        rest = n >> (8 * (i + 1))
        if rest < (mask if mask else 1):
            if mask:
                first_high |= rest
            return bytes([first_high]) + extra
    return bytes([0xFF]) + extra


def build_7z(members: list[tuple[str, bytes]], lzma2_from: int = 1 << 30,
             encode_header: bool = False) -> bytes:
    """Minimal valid 7z archive: one folder per member; member index >=
    lzma2_from uses a raw-LZMA2 folder (props byte 22 == the 8 MiB dict
    of preset 6), the rest Copy folders; header plain by default or
    LZMA2-encoded (kEncodedHeader) when encode_header is set; correct
    start/next-header CRCs either way."""
    import binascii as _crc
    import lzma as _lzma

    packed_parts: list[bytes] = []
    pack_sizes: list[int] = []
    folder_descs: list[bytes] = []
    unpack_sizes: list[int] = []
    for i, (_, body) in enumerate(members):
        if i >= lzma2_from:
            comp = _lzma.compress(
                body, format=_lzma.FORMAT_RAW,
                filters=[{"id": _lzma.FILTER_LZMA2, "preset": 6}])
            packed_parts.append(comp)
            pack_sizes.append(len(comp))
            # flag: id size 1 + has-attrs; id 0x21 (LZMA2); props = dict byte
            folder_descs.append(b"\x01\x21\x21\x01\x16")
        else:
            packed_parts.append(body)
            pack_sizes.append(len(body))
            folder_descs.append(b"\x01\x01\x00")  # 1 coder, id 0x00 Copy
        unpack_sizes.append(len(body))

    hdr = bytearray()
    hdr += bytes([0x01])  # kHeader
    hdr += bytes([0x04])  # kMainStreamsInfo
    hdr += bytes([0x06]) + _7z_number(0) + _7z_number(len(members))  # kPackInfo
    hdr += bytes([0x09])
    for s in pack_sizes:
        hdr += _7z_number(s)
    hdr += bytes([0x00])  # end PackInfo
    hdr += bytes([0x07, 0x0B]) + _7z_number(len(members)) + b"\x00"  # kUnpackInfo/kFolder/external
    for d in folder_descs:
        hdr += d
    hdr += bytes([0x0C])
    for s in unpack_sizes:
        hdr += _7z_number(s)
    hdr += bytes([0x00])  # end UnpackInfo
    hdr += bytes([0x00])  # end MainStreamsInfo
    hdr += bytes([0x05]) + _7z_number(len(members))  # kFilesInfo
    names = b"\x00" + b"".join(
        (name + "\x00").encode("utf-16-le") for name, _ in members)
    hdr += bytes([0x11]) + _7z_number(len(names)) + names  # kName
    hdr += bytes([0x00])  # end FilesInfo
    hdr += bytes([0x00])  # end Header
    hdr = bytes(hdr)

    packed = b"".join(packed_parts)
    if encode_header:
        comp_hdr = _lzma.compress(
            hdr, format=_lzma.FORMAT_RAW,
            filters=[{"id": _lzma.FILTER_LZMA2, "preset": 6}])
        enc = bytearray()
        enc += bytes([0x17])  # kEncodedHeader + StreamsInfo for the header
        enc += bytes([0x06]) + _7z_number(len(packed)) + _7z_number(1)
        enc += bytes([0x09]) + _7z_number(len(comp_hdr)) + bytes([0x00])
        enc += bytes([0x07, 0x0B]) + _7z_number(1) + b"\x00"
        enc += b"\x01\x21\x21\x01\x16"  # LZMA2 folder, props byte 22
        enc += bytes([0x0C]) + _7z_number(len(hdr)) + bytes([0x00])
        enc += bytes([0x00])  # end StreamsInfo
        packed += comp_hdr
        hdr = bytes(enc)
    start = (len(packed).to_bytes(8, "little")
             + len(hdr).to_bytes(8, "little")
             + (_crc.crc32(hdr) & 0xFFFFFFFF).to_bytes(4, "little"))
    return (b"7z\xbc\xaf\x27\x1c\x00\x04"
            + (_crc.crc32(start) & 0xFFFFFFFF).to_bytes(4, "little")
            + start + packed + hdr)


def build_7z_doc(doc_id: int) -> bytes:
    """Deterministic .7z (extract_7z_text oracle): two text members —
    member 0 stored (Copy), member 1 LZMA2-compressed. Kernel output:
      "Stored note {id}.\\nPacked note {id}. (line repeats)\\n" x3
    """
    m0 = f"Stored note {doc_id}.\n".encode()
    m1 = ("".join(f"Packed note {doc_id}. (line repeats)\n"
                  for _ in range(3))).encode()
    return build_7z([(f"a{doc_id}.txt", m0), (f"b{doc_id}.txt", m1)],
                    lzma2_from=1)


def _bmff_box(btype: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + btype + body


def build_heif(media_id: int) -> bytes:
    """Deterministic AVIF/HEIC header (media_heif_meta oracle): ftyp
    (even ids avif, odd heic) + meta box with pitm -> ipma -> ipco/ispe.
    Primary item dims = media_dims(media_id); a second thumbnail ispe
    (8x8) exercises primary-item resolution. Header-only — no coded
    payload (the kernel never decodes tiles)."""
    import struct as _struct

    w, h = media_dims(media_id)
    brand = b"avif" if media_id % 2 == 0 else b"heic"
    ftyp = _bmff_box(b"ftyp", brand + b"\x00\x00\x00\x00" + brand + b"mif1")
    pitm = _bmff_box(b"pitm", b"\x00\x00\x00\x00" + _struct.pack(">H", 1))
    ispe1 = _bmff_box(b"ispe", b"\x00\x00\x00\x00" + _struct.pack(">II", w, h))
    ispe2 = _bmff_box(b"ispe", b"\x00\x00\x00\x00" + _struct.pack(">II", 8, 8))
    ipco = _bmff_box(b"ipco", ispe1 + ispe2)
    # ipma v0 flags0: 1 entry: item 1 -> property index 1 (the primary ispe)
    ipma = _bmff_box(b"ipma", b"\x00\x00\x00\x00"
                     + _struct.pack(">I", 1) + _struct.pack(">H", 1)
                     + bytes([1, 1]))
    iprp = _bmff_box(b"iprp", ipco + ipma)
    meta = _bmff_box(b"meta", b"\x00\x00\x00\x00" + pitm + iprp)
    return ftyp + meta


def _tnef_attr(level: int, att_id: int, raw: bytes) -> bytes:
    import struct as _struct

    return (bytes([level]) + _struct.pack("<II", att_id, len(raw)) + raw
            + _struct.pack("<H", sum(raw) & 0xFFFF))


def build_tnef(doc_id: int) -> bytes:
    """Deterministic winmail.dat (extract_tnef_text oracle): subject +
    CRLF body + one titled text attachment that the dispatcher recurses.
    Kernel output:
      "Tnef mail {id}\\nTnef body {id}.\\nSecond line.\\n
       [Attachment: memo{id%4}.txt]\\nAttached memo {id}.\\n"
    """
    subject = f"Tnef mail {doc_id}\x00".encode("cp1252")
    body = f"Tnef body {doc_id}.\r\nSecond line.\r\n\x00".encode("cp1252")
    title = f"memo{doc_id % 4}.txt\x00".encode("cp1252")
    payload = f"Attached memo {doc_id}.".encode()
    return (b"\x78\x9f\x3e\x22" + b"\x01\x00"
            + _tnef_attr(1, 0x00018004, subject)
            + _tnef_attr(1, 0x0002800C, body)
            + _tnef_attr(2, 0x00018010, title)
            + _tnef_attr(2, 0x0006800F, payload))


def build_vcf(doc_id: int) -> bytes:
    """Deterministic 2-card vCard file (extract_vcf_text oracle): folded
    NOTE line + escaped comma + structured N. Kernel output:
      "Person {id}\\nExample Person{id}\\np{id}@example.com\\n
       +1-555-0{id%100:02d}\\nNote line {id}, with comma\\n
       Org {id%9}\\nCard two {id}\\n"
    (N is family-then-given: components join in written order.)"""
    return (
        "BEGIN:VCARD\r\n"
        "VERSION:4.0\r\n"
        f"FN:Person {doc_id}\r\n"
        f"N:Example;Person{doc_id};;;\r\n"
        f"EMAIL;TYPE=work:p{doc_id}@example.com\r\n"
        f"TEL:+1-555-0{doc_id % 100:02d}\r\n"
        f"NOTE:Note line {doc_id}\\,\r\n"
        "  with comma\r\n"
        "PHOTO:data-skipped\r\n"
        "END:VCARD\r\n"
        "BEGIN:VCARD\r\n"
        f"ORG:Org {doc_id % 9}\r\n"
        f"FN:Card two {doc_id}\r\n"
        "END:VCARD\r\n"
        # card 3 (r5): legacy vCard 2.1 writer — QUOTED-PRINTABLE NOTE
        # with an inline =C3=A9 escape and a trailing-'=' soft line
        # break (RFC 2045 §6.7 semantics; the one encoding 3.0/4.0
        # dropped). Kernel output appends:
        #   "Legacy {id}\nCafé note one continued {id}\n"
        "BEGIN:VCARD\r\n"
        "VERSION:2.1\r\n"
        f"FN:Legacy {doc_id}\r\n"
        "NOTE;ENCODING=QUOTED-PRINTABLE;CHARSET=UTF-8:"
        "Caf=C3=A9 note one =\r\n"
        f"continued {doc_id}\r\n"
        "END:VCARD\r\n").encode()


def build_ics(doc_id: int) -> bytes:
    """Deterministic iCalendar file (extract_ics_text oracle): 2 VEVENTs
    + a VTODO that must NOT contribute. Kernel output:
      "Meeting {id}\\n20240(1+id%9)01T090000Z\\nRoom {id%20}\\n
       Agenda line {id}\\nFollowup {id}\\n2024060(1+id%9)T100000Z\\n"
    """
    m = 1 + doc_id % 9
    return (
        "BEGIN:VCALENDAR\r\n"
        "VERSION:2.0\r\n"
        "PRODID:-//synth//EN\r\n"
        "BEGIN:VEVENT\r\n"
        f"SUMMARY:Meeting {doc_id}\r\n"
        f"DTSTART:2024{m:02d}01T090000Z\r\n"
        f"LOCATION:Room {doc_id % 20}\r\n"
        f"DESCRIPTION:Agenda\\n line {doc_id}\r\n"
        "END:VEVENT\r\n"
        "BEGIN:VTODO\r\n"
        "SUMMARY:Hidden todo\r\n"
        "END:VTODO\r\n"
        "BEGIN:VEVENT\r\n"
        f"SUMMARY:Followup {doc_id}\r\n"
        f"DTSTART:202406{m:02d}T100000Z\r\n"
        "END:VEVENT\r\n"
        "END:VCALENDAR\r\n").encode()


def build_payload(doc_id: int, text: str) -> bytes:
    kind = doc_id % 20
    if kind <= 9:
        return (
            f"<html><head><title>Doc {doc_id}</title></head>"
            f"<body><div>{text}</div></body></html>"
        ).encode("utf-8")
    if kind in (10, 11):
        n = doc_id % 3 + 1
        anchors = "".join(
            f'<div><a href="/l/{k}" title="t{k}" rel="nofollow">anchor {k} of {doc_id}</a></div>'
            for k in range(n)
        )
        return (
            f"<html><head><title>Doc {doc_id}</title></head>"
            f"<body><div>{text}</div>{anchors}</body></html>"
        ).encode("utf-8")
    if kind == 12:
        return (
            '<html><head><meta http-equiv="Content-Type" '
            'content="text/html; charset=iso-8859-1">'
            f"<title>Doc {doc_id}</title></head>"
            f"<body><div>{text}{LATIN1_TOKEN}</div></body></html>"
        ).encode("iso-8859-1")
    if kind == 13:
        return (
            f"<html><head><title>Doc {doc_id}</title></head>"
            f"<body><div><span>{text}</span><span>x</span></div></body></html>"
        ).encode("utf-8")
    if kind == 14:
        return build_pdf(text, flate=False)
    if kind == 15:
        return build_pdf(text, flate=True)
    if kind in (16, 17):
        return text.encode("utf-8")
    if kind == 18:
        import hashlib

        junk = hashlib.blake2b(str(doc_id).encode(), digest_size=32).digest()
        return b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + junk * 8
    # kind == 19: poison
    if doc_id % 40 == 19:
        depth = 300  # > default max_depth 200
        return ("<body>" + "<div>" * depth + text).encode("utf-8")
    reps = SYNTH_CONFIG.max_bytes // (len(text) + 1) + 1
    return ((text + " ") * reps).encode("utf-8")


def synth_pages(spark: SparkSession, sf_dir: str, with_meta: bool = False) -> DataFrame:
    """The synthetic pages table. with_meta=True keeps doc_id/kind columns
    for tests; the canonical shape is exactly the input_hint's 5 columns."""
    kind = F.col("doc_id") % 20
    url_key = F.col("doc_id") - F.when(
        (F.col("doc_id") % 50 == 1) & (F.col("doc_id") > 0), F.lit(1)
    ).otherwise(F.lit(0))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = (
        docs.select("doc_id", "text", "lang")
        .withColumn("kind", kind)
        .withColumn("url_key", url_key)
        .withColumn(
            "host_id",
            F.when(F.col("url_key") % 10 < 5, F.lit(0))
            .when(F.col("url_key") % 10 < 8, F.col("url_key") % 3 + 1)
            .otherwise(F.col("url_key") % 50 + 10),
        )
        .withColumn(
            "url",
            F.format_string("https://host%03d.example.com/p/%08d", "host_id", "url_key"),
        )
        .withColumn(
            "warc_ts",
            F.expr("timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"),
        )
        .withColumn("html", F.udf(build_payload, BinaryType(),
                                  useArrow=True)("doc_id", "text"))
    )
    cols = ["url", "warc_ts", "html", "text", "lang"]
    if with_meta:
        cols += ["doc_id", "kind", "url_key", "host_id"]
    return base.select(*cols)


def build_heavy_payload(doc_id: int, text: str, body_repeat: int = 20) -> bytes:
    """Bench-only realistic page (~10KB): nav/footer link boilerplate around
    `body_repeat` paragraph blocks — the size and shape of a typical
    Common-Crawl page, so extraction throughput is measured on real work.
    NOT oracle-checked (the canonical build_payload corpus is); correctness
    of the kernels on this shape is covered by the html kernel tests."""
    nav = "".join(
        f'<div class="nav"><a href="/nav/{k}">section {k}</a></div>' for k in range(6))
    paras = "".join(
        f"<p>{text} block {i} of doc {doc_id}</p>"
        + (f'<div><a href="/rel/{doc_id}/{i}">related {i}</a></div>' if i % 4 == 0 else "")
        for i in range(body_repeat)
    )
    footer = "".join(f'<span><a href="/foot/{k}">footer {k}</a></span>' for k in range(8))
    return (
        f"<html><head><title>Doc {doc_id}</title>"
        f'<meta charset="utf-8"><style>.nav{{color:red}}</style>'
        f"<script>var page={doc_id};</script></head>"
        f"<body><header>{nav}</header><article>{paras}</article>"
        f"<footer>{footer}</footer></body></html>"
    ).encode("utf-8")


def synth_pages_heavy(
    spark: SparkSession, sf_dir: str, body_repeat: int = 20
) -> DataFrame:
    """Heavy-page variant of synth_pages for throughput benchmarking."""

    def fn(doc_id: int, text: str) -> bytes:
        return build_heavy_payload(doc_id, text, body_repeat)

    udf = F.udf(fn, BinaryType(), useArrow=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select("doc_id", "text", "lang")
        .withColumn("url", F.format_string(
            "https://host%03d.example.com/h/%08d",
            (F.col("doc_id") % 40).cast("int"), F.col("doc_id").cast("int")))
        .withColumn("warc_ts", F.expr(
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"))
        .withColumn("html", udf("doc_id", "text"))
        .select("url", "warc_ts", "html", "text", "lang")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle side: the same construction + expected extraction results,
# computed purely in SQL over the pre-registered `documents` view.
# MUST stay in lockstep with build_payload() and the kernel spec.
# ---------------------------------------------------------------------------

PAGES_CTE = """
pages AS (
  SELECT
    doc_id,
    text,
    lang,
    doc_id % 20 AS kind,
    doc_id - CASE WHEN doc_id % 50 = 1 AND doc_id > 0 THEN 1 ELSE 0 END AS url_key,
    CASE
      WHEN (doc_id - CASE WHEN doc_id % 50 = 1 AND doc_id > 0 THEN 1 ELSE 0 END) % 10 < 5 THEN 0
      WHEN (doc_id - CASE WHEN doc_id % 50 = 1 AND doc_id > 0 THEN 1 ELSE 0 END) % 10 < 8
        THEN (doc_id - CASE WHEN doc_id % 50 = 1 AND doc_id > 0 THEN 1 ELSE 0 END) % 3 + 1
      ELSE (doc_id - CASE WHEN doc_id % 50 = 1 AND doc_id > 0 THEN 1 ELSE 0 END) % 50 + 10
    END AS host_id,
    TIMESTAMP '2026-01-01 00:00:00' + INTERVAL (doc_id) SECOND AS warc_ts
  FROM documents
),
pages2 AS (
  SELECT *,
    printf('https://host%03d.example.com/p/%08d', host_id::INT, url_key::INT) AS url,
    CASE
      -- kind 18 is OLE2 magic + junk: the OLE2 kernel rejects the bogus
      -- header -> 'failed' (a poisoned-but-recognized container, matching
      -- the reference's empty-result soft landing for broken OLE2 docs)
      WHEN kind = 18 THEN 'failed'
      WHEN kind = 19 AND doc_id % 40 = 19 THEN 'failed'
      WHEN kind = 19 THEN 'skipped_oversize'
      ELSE 'ok'
    END AS status_expected,
    CASE
      WHEN kind <= 9  THEN text || chr(10)
      WHEN kind = 12  THEN text || ' caf' || chr(233) || chr(10)
      WHEN kind = 13  THEN text || '  x ' || chr(10)
      -- PDF kernel framing (kernels/pdf.py render_pages): single-paragraph
      -- single-page doc = text + linesep + </p> newline + endPage empty <p/>
      -- + </div> writer newline + </div> XHTML newline = 5 trailing newlines
      WHEN kind IN (14, 15) THEN text || repeat(chr(10), 5)
      WHEN kind IN (16, 17) THEN text
      ELSE NULL
    END AS text_expected,
    CASE
      WHEN kind <= 13 THEN 'text/html'
      WHEN kind IN (14, 15) THEN 'application/pdf'
      WHEN kind IN (16, 17) THEN 'text/plain'
      WHEN kind = 18 THEN 'application/x-tika-msoffice'
      WHEN kind = 19 AND doc_id % 40 = 19 THEN 'text/html'
      WHEN kind = 19 THEN 'text/plain'
      ELSE NULL
    END AS mime_expected
  FROM pages
)
"""


def _word_streams(main_text: str, fc_cursor: int = 0x0800) -> dict[str, bytes]:
    """Minimal Word97 stream pair (WordDocument + 0Table) holding one
    compressed piece of `main_text` (all main-text CP space) — reused for
    EMBEDDED documents inside ObjectPool storages; build_doc_full keeps
    its own richer layout (fields + subdocuments) byte-stable."""
    import struct as _s

    raw = main_text.encode("cp1252")
    wd = bytearray(0x0600)
    _s.pack_into("<H", wd, 0, 0xA5EC)                 # FIB magic
    _s.pack_into("<H", wd, 0x000A, 0x0000)            # flags: 0Table
    _s.pack_into("<III", wd, 0x004C, len(main_text), 0, 0)
    pcd = _s.pack("<HIH", 0, (fc_cursor * 2) | 0x40000000, 0)
    plc = _s.pack("<2I", 0, len(main_text)) + pcd
    clx = b"\x02" + _s.pack("<I", len(plc)) + plc
    table = b"\x00" * 0x80 + clx
    _s.pack_into("<II", wd, 0x01A2, 0x80, len(clx))   # fcClx, lcbClx
    return {"WordDocument": bytes(wd) + b"\x00" * (fc_cursor - len(wd)) + raw,
            "0Table": table}


def _ole10native(filename: str, data: bytes) -> bytes:
    """\\x01Ole10Native packager record (MS-OLEDS 2.3.6): u32 total size,
    u16 type, ASCIIZ label, ASCIIZ path, u32 format, u32 temp-path len +
    ASCIIZ temp path, u32 data size, data."""
    import struct as _s

    label = path = filename.encode("cp1252") + b"\x00"
    tmp = b"C:\\tmp\\e.bin\x00"
    body = (_s.pack("<H", 0x0002) + label + path + _s.pack("<I", 0)
            + _s.pack("<I", len(tmp)) + tmp
            + _s.pack("<I", len(data)) + data)
    return _s.pack("<I", len(body)) + body


def build_msg_deep(msg_id: int) -> bytes:
    """3-level .msg nesting (outer -> mid -> leaf embedded messages) for
    the extract_embedded_recursive oracle: recursion renders the mid
    message's OWN embedded message, which round-2's one-level walk could
    not reach. All fields pure functions of msg_id."""
    u16 = lambda s: s.encode("utf-16-le")
    leaf = {
        "__substg1.0_0037001F": u16(f"Leaf {msg_id % 3}"),
        "__substg1.0_1000001F": u16(f"Leaf body {msg_id}."),
    }
    mid = {
        "__substg1.0_0037001F": u16(f"Mid {msg_id % 5}"),
        "__substg1.0_1000001F": u16(f"Mid body {msg_id}."),
        "__attach_version1.0_#00000000": {"__substg1.0_3701000D": leaf},
    }
    return _ole2_file(
        {
            "__substg1.0_0037001F": u16(f"Deep {msg_id}"),
            "__substg1.0_1000001F": u16(f"Deep body {msg_id}."),
            "__properties_version1.0": b"\x00" * 32,
        },
        storages=[
            ("__attach_version1.0_#00000000",
             {"__substg1.0_3701000D": mid}),
        ])


def _ppt_streams(text: str) -> dict[str, bytes]:
    """Minimal `PowerPoint Document` stream: one container record with a
    latin-1 TextBytesAtom (MS-PPT record header: verAndInstance u16,
    recType u16, recLen u32)."""
    import struct as _struct

    atom = _struct.pack("<HHI", 0, 0x0FA8, len(text)) + text.encode("latin-1")
    container = _struct.pack("<HHI", 0x000F, 0x03E8, len(atom)) + atom
    return {"PowerPoint Document": container}


def build_doc_embedded(doc_id: int) -> bytes:
    """Word97 .doc whose ObjectPool carries extractable payloads (the
    extract_embedded_recursive oracle, odd doc_ids): a packaged text file
    (\\x01Ole10Native), an embedded Word sub-document, and (round 4) an
    embedded PowerPoint presentation storage — all routed back through
    the dispatcher / tree-scoped office kernels."""
    streams = _word_streams(f"Host doc {doc_id}.\r")
    return _ole2_file(
        streams,
        storages=[("ObjectPool", {
            "_1001": {"\x01Ole10Native":
                      _ole10native(f"note{doc_id % 6}.txt",
                                   f"Embedded note {doc_id}.".encode())},
            "_1002": {**_word_streams(f"Inner doc {doc_id}.\r"),
                      "\x01Ole": b"\x00" * 8},
            "_1003": {**_ppt_streams(f"Embedded slide {doc_id}."),
                      "\x01Ole": b"\x00" * 8},
        })])


def _h264_params(media_id: int) -> dict:
    """Deterministic H.264 stream parameters (media_h264_meta oracle):
    every value a pure function of media_id, crop exercised on id%3==0."""
    crop = media_id % 3 == 0
    mbs_w = 1 + media_id % 20
    map_h = 1 + (media_id // 3) % 15
    return {
        "profile_idc": [66, 77, 100][media_id % 3],
        "level_idc": 30 + media_id % 21,
        "mbs_w": mbs_w,
        "map_h": map_h,
        "crop_r": 1 if crop else 0,
        "crop_b": 2 if crop else 0,
        "width": mbs_w * 16 - (2 if crop else 0),
        "height": map_h * 16 - (4 if crop else 0),
    }


class _BW:
    """MSB-first bit writer with Exp-Golomb, for hand-assembled H.264/
    H.265 parameter sets."""

    def __init__(self):
        self.bits: list[int] = []

    def u(self, v: int, n: int) -> None:
        self.bits += [(v >> (n - 1 - i)) & 1 for i in range(n)]

    def ue(self, v: int) -> None:
        c = v + 1
        n = c.bit_length()
        self.u(0, n - 1)
        self.u(c, n)

    def rbsp(self) -> bytes:
        bits = self.bits + [1]
        bits += [0] * (-len(bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            out.append(int("".join(map(str, bits[i : i + 8])), 2))
        return bytes(out)


def _ep_escape(rbsp: bytes) -> bytes:
    """Insert emulation-prevention bytes: 00 00 0x -> 00 00 03 0x."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _sps_nal(p: dict) -> bytes:
    """Hand-assembled SPS NAL (ITU-T H.264 §7.3.2.1.1) with
    emulation-prevention insertion."""
    w = _BW()
    w.u(p["profile_idc"], 8)
    w.u(0, 8)                      # constraint flags + reserved
    w.u(p["level_idc"], 8)
    w.ue(0)                        # seq_parameter_set_id
    if p["profile_idc"] >= 100:
        w.ue(1)                    # chroma_format_idc 4:2:0
        w.ue(0); w.ue(0)           # bit depths
        w.u(0, 1)                  # qpprime_y_zero
        w.u(0, 1)                  # seq_scaling_matrix_present
    w.ue(0)                        # log2_max_frame_num_minus4
    w.ue(0)                        # pic_order_cnt_type
    w.ue(0)                        # log2_max_pic_order_cnt_lsb_minus4
    w.ue(1)                        # max_num_ref_frames
    w.u(0, 1)                      # gaps_in_frame_num
    w.ue(p["mbs_w"] - 1)           # pic_width_in_mbs_minus1
    w.ue(p["map_h"] - 1)           # pic_height_in_map_units_minus1
    w.u(1, 1)                      # frame_mbs_only_flag
    w.u(1, 1)                      # direct_8x8_inference
    if p["crop_r"] or p["crop_b"]:
        w.u(1, 1)
        w.ue(0); w.ue(p["crop_r"]); w.ue(0); w.ue(p["crop_b"])
    else:
        w.u(0, 1)
    w.u(0, 1)                      # vui_parameters_present
    return b"\x67" + _ep_escape(w.rbsp())


def build_h264_mp4(media_id: int) -> bytes:
    """MP4 with an H.264 (avc1) video track: real avcC + synthesized SPS,
    so the kernel's header-level codec metadata path (profile/level/
    cropped dims) is exercised without any frame payloads — the shape a
    real crawl's videos take (media_h264_meta oracle)."""
    import struct as _s

    def box(btype: bytes, body: bytes) -> bytes:
        return _s.pack(">I", 8 + len(body)) + btype + body

    p = _h264_params(media_id)
    nal = _sps_nal(p)
    avcc = box(b"avcC", bytes([1, p["profile_idc"], 0, p["level_idc"],
                               0xFF, 0xE1])
               + _s.pack(">H", len(nal)) + nal + b"\x00")
    entry_body = (b"\x00" * 6 + _s.pack(">H", 1) + b"\x00" * 16
                  + _s.pack(">HH", p["width"], p["height"])
                  + _s.pack(">II", 0x00480000, 0x00480000)
                  + b"\x00" * 4 + _s.pack(">H", 1) + b"\x00" * 32
                  + _s.pack(">H", 24) + _s.pack(">h", -1) + avcc)
    entry = _s.pack(">I", 8 + len(entry_body)) + b"avc1" + entry_body
    stsd = box(b"stsd", b"\x00" * 4 + _s.pack(">I", 1) + entry)
    stbl = box(b"stbl", stsd)
    minf = box(b"minf", stbl)
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    mdia = box(b"mdia", hdlr + minf)
    duration = 1000 + (media_id % 90) * 250
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 72
               + _s.pack(">II", p["width"] << 16, p["height"] << 16))
    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
               + _s.pack(">II", 1000, duration) + b"\x00" * 80)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2avc1")
    return ftyp + moov


def build_xml(doc_id: int) -> bytes:
    """Deterministic generic XML (extract_xml_text oracle). Kernel output
    (kernels/xmlparse.py): each non-whitespace text node on its own line,
    entity-decoded + whitespace-collapsed; dc:title local name -> title:
      "Feed {id}\\nEntry one {id}\\nBody & text {id}.\\nCafé two {id}.\\n"
    """
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<feed xmlns:dc="http://purl.org/dc/elements/1.1/">\n'
        f"  <dc:title>Feed {doc_id}</dc:title>\n"
        f'  <entry n="1"><heading>Entry one {doc_id}</heading>'
        f"<content>Body &amp; text {doc_id}.</content></entry>\n"
        f"  <entry><content>Café two {doc_id}.</content></entry>\n"
        "</feed>\n"
    ).encode("utf-8")


def _odf_zip(mimetype: str, content_xml: bytes) -> bytes:
    """ODF package: `mimetype` STORED first (per spec — also what makes
    the cheap prefix sniff work), content.xml deflated."""
    import io as _io
    import zipfile as _zf

    buf = _io.BytesIO()
    with _zf.ZipFile(buf, "w") as z:
        z.writestr(_zf.ZipInfo("mimetype", (1980, 1, 1, 0, 0, 0)),
                   mimetype, compress_type=_zf.ZIP_STORED)
        z.writestr(_zf.ZipInfo("content.xml", (1980, 1, 1, 0, 0, 0)),
                   content_xml, compress_type=_zf.ZIP_DEFLATED)
    return buf.getvalue()


def build_odt(doc_id: int) -> bytes:
    """Deterministic .odt (extract_odt_text oracle): heading + paragraph
    (entities, accents) + a tab run. Kernel output:
      "Heading {id}\\nPara one {id} café & co.\\nA\\tB {id}.\\n"
    """
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content '
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        "<office:body><office:text>"
        f'<text:h text:outline-level="1">Heading {doc_id}</text:h>'
        f"<text:p>Para one {doc_id} café &amp; co.</text:p>"
        f"<text:p>A<text:tab/>B {doc_id}.</text:p>"
        "</office:text></office:body></office:document-content>"
    ).encode("utf-8")
    return _odf_zip("application/vnd.oasis.opendocument.text", content)


def build_odp(doc_id: int) -> bytes:
    """Deterministic .odp (extract_odp_text oracle): 2 slides (title +
    body frames) + presenter notes on slide 1. Kernel output:
      "Slide one {id}\\nPoint A {id}.\\nNote for slide one {id}.\\n
       Slide two {id}\\nPoint B & C {id}.\\n"
    """
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content '
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
        'xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0" '
        'xmlns:presentation="urn:oasis:names:tc:opendocument:'
        'xmlns:presentation:1.0">'
        "<office:body><office:presentation>"
        '<draw:page draw:name="page1">'
        '<draw:frame presentation:class="title"><draw:text-box>'
        f"<text:p>Slide one {doc_id}</text:p>"
        "</draw:text-box></draw:frame>"
        '<draw:frame presentation:class="outline"><draw:text-box>'
        f"<text:p>Point A {doc_id}.</text:p>"
        "</draw:text-box></draw:frame>"
        "<presentation:notes><draw:frame><draw:text-box>"
        f"<text:p>Note for slide one {doc_id}.</text:p>"
        "</draw:text-box></draw:frame></presentation:notes>"
        "</draw:page>"
        '<draw:page draw:name="page2">'
        '<draw:frame presentation:class="title"><draw:text-box>'
        f"<text:p>Slide two {doc_id}</text:p>"
        "</draw:text-box></draw:frame>"
        '<draw:frame presentation:class="outline"><draw:text-box>'
        f"<text:p>Point B &amp; C {doc_id}.</text:p>"
        "</draw:text-box></draw:frame>"
        "</draw:page>"
        "</office:presentation></office:body></office:document-content>"
    ).encode("utf-8")
    return _odf_zip("application/vnd.oasis.opendocument.presentation",
                    content)


def build_ods(doc_id: int) -> bytes:
    """Deterministic .ods (extract_ods_text oracle): one sheet, 2 rows.
    Kernel output (xlsx-kernel rendering shape):
      "Data{id%3}\\nA{id}\\tB{id}\\n{id}\\n"
    """
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content '
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        "<office:body><office:spreadsheet>"
        f'<table:table table:name="Data{doc_id % 3}">'
        "<table:table-row>"
        f"<table:table-cell><text:p>A{doc_id}</text:p></table:table-cell>"
        f"<table:table-cell><text:p>B{doc_id}</text:p></table:table-cell>"
        "</table:table-row>"
        "<table:table-row>"
        f'<table:table-cell office:value-type="float" '
        f'office:value="{doc_id}"><text:p>{doc_id}</text:p>'
        "</table:table-cell>"
        '<table:table-cell table:number-columns-repeated="3"/>'
        "</table:table-row>"
        "</table:table>"
        "</office:spreadsheet></office:body></office:document-content>"
    ).encode("utf-8")
    return _odf_zip("application/vnd.oasis.opendocument.spreadsheet", content)


def build_epub(doc_id: int) -> bytes:
    """Deterministic EPUB (extract_epub_text oracle): OCF mimetype +
    container.xml -> OPF (dc:title, 2-chapter spine whose MANIFEST order
    differs from the SPINE order, so reading order is exercised) ->
    XHTML chapters through the HTML walker. Kernel output:
      "Chapter one {id}.\\nChapter two {id}.\\n", title "Book {id}"
    """
    import io as _io
    import zipfile as _zf

    def chap(text: str) -> bytes:
        return (f"<html><head><title>x</title></head>"
                f"<body><p>{text}</p></body></html>").encode()

    opf = (
        '<?xml version="1.0"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="2.0">'
        '<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">'
        f"<dc:title>Book {doc_id}</dc:title></metadata>"
        "<manifest>"
        '<item id="c2" href="ch2.xhtml" media-type="application/xhtml+xml"/>'
        '<item id="c1" href="ch1.xhtml" media-type="application/xhtml+xml"/>'
        "</manifest>"
        '<spine><itemref idref="c1"/><itemref idref="c2"/></spine>'
        "</package>").encode()
    container = (
        '<?xml version="1.0"?>'
        '<container version="1.0" '
        'xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
        '<rootfiles><rootfile full-path="OEBPS/content.opf" '
        'media-type="application/oebps-package+xml"/></rootfiles>'
        "</container>").encode()
    buf = _io.BytesIO()
    with _zf.ZipFile(buf, "w") as z:
        z.writestr(_zf.ZipInfo("mimetype", (1980, 1, 1, 0, 0, 0)),
                   "application/epub+zip", compress_type=_zf.ZIP_STORED)
        z.writestr(_zf.ZipInfo("META-INF/container.xml",
                               (1980, 1, 1, 0, 0, 0)), container,
                   compress_type=_zf.ZIP_DEFLATED)
        z.writestr(_zf.ZipInfo("OEBPS/content.opf", (1980, 1, 1, 0, 0, 0)),
                   opf, compress_type=_zf.ZIP_DEFLATED)
        z.writestr(_zf.ZipInfo("OEBPS/ch1.xhtml", (1980, 1, 1, 0, 0, 0)),
                   chap(f"Chapter one {doc_id}."),
                   compress_type=_zf.ZIP_DEFLATED)
        z.writestr(_zf.ZipInfo("OEBPS/ch2.xhtml", (1980, 1, 1, 0, 0, 0)),
                   chap(f"Chapter two {doc_id}."),
                   compress_type=_zf.ZIP_DEFLATED)
    return buf.getvalue()


def _h265_params(media_id: int) -> dict:
    """Deterministic H.265 stream parameters (media_hevc_meta oracle)."""
    crop = media_id % 3 == 0
    w0 = 64 + (media_id % 30) * 8
    h0 = 64 + ((media_id // 4) % 20) * 8
    return {
        "profile_idc": 1 + media_id % 2,          # Main / Main 10
        "level_idc": 90 + (media_id % 4) * 3,     # 3.0 / 3.1 / 3.2 / 3.3
        "w0": w0,
        "h0": h0,
        "crop": crop,
        "width": w0 - (2 if crop else 0),
        "height": h0 - (4 if crop else 0),
    }


def _h265_sps_nal(p: dict) -> bytes:
    """Hand-assembled H.265 SPS NAL (ITU-T H.265 §7.3.2.2.1) through the
    conformance window, with 2-byte NAL header (type 33)."""
    w = _BW()
    w.u(0, 4)                  # sps_video_parameter_set_id
    w.u(0, 3)                  # sps_max_sub_layers_minus1
    w.u(1, 1)                  # sps_temporal_id_nesting_flag
    w.u(0, 2)                  # general_profile_space
    w.u(0, 1)                  # general_tier_flag
    w.u(p["profile_idc"], 5)
    w.u(0, 32)                 # compatibility flags
    w.u(0, 48)                 # constraint flags
    w.u(p["level_idc"], 8)
    w.ue(0)                    # sps_seq_parameter_set_id
    w.ue(1)                    # chroma_format_idc 4:2:0
    w.ue(p["w0"])              # pic_width_in_luma_samples
    w.ue(p["h0"])              # pic_height_in_luma_samples
    if p["crop"]:
        w.u(1, 1)              # conformance_window_flag
        w.ue(0); w.ue(1); w.ue(0); w.ue(2)
    else:
        w.u(0, 1)
    # NAL header: type 33 (SPS), layer 0, tid 1
    return bytes([33 << 1, 1]) + _ep_escape(w.rbsp())


def build_hevc_mp4(media_id: int) -> bytes:
    """MP4 with an H.265 (hvc1) video track: hvcC record carrying a
    synthesized SPS — profile/level/cropped-dims metadata without frame
    payloads (media_hevc_meta oracle)."""
    import struct as _s

    def box(btype: bytes, body: bytes) -> bytes:
        return _s.pack(">I", 8 + len(body)) + btype + body

    p = _h265_params(media_id)
    nal = _h265_sps_nal(p)
    hvcc = box(b"hvcC", bytes([1]) + b"\x00" * 21 + bytes([1])  # num_arrays
               + bytes([0x80 | 33]) + _s.pack(">H", 1)
               + _s.pack(">H", len(nal)) + nal)
    entry_body = (b"\x00" * 6 + _s.pack(">H", 1) + b"\x00" * 16
                  + _s.pack(">HH", p["width"], p["height"])
                  + _s.pack(">II", 0x00480000, 0x00480000)
                  + b"\x00" * 4 + _s.pack(">H", 1) + b"\x00" * 32
                  + _s.pack(">H", 24) + _s.pack(">h", -1) + hvcc)
    entry = _s.pack(">I", 8 + len(entry_body)) + b"hvc1" + entry_body
    stsd = box(b"stsd", b"\x00" * 4 + _s.pack(">I", 1) + entry)
    minf = box(b"minf", box(b"stbl", stsd))
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    mdia = box(b"mdia", hdlr + minf)
    duration = 1500 + (media_id % 80) * 250
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 72
               + _s.pack(">II", p["width"] << 16, p["height"] << 16))
    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
               + _s.pack(">II", 1000, duration) + b"\x00" * 80)
    moov = box(b"moov", mvhd + box(b"trak", tkhd + mdia))
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomhvc1")
    return ftyp + moov


def _av1_params(media_id: int) -> dict:
    """Deterministic AV1 stream parameters (media_av1_meta oracle)."""
    return {
        "profile": media_id % 3,                  # Main / High / Professional
        "level_idx": media_id % 14,               # 2.0 .. 5.1
        "width": 320 + (media_id % 25) * 16,
        "height": 180 + ((media_id // 5) % 20) * 16,
    }


def build_av1_mp4(media_id: int) -> bytes:
    """MP4 with an AV1 (av01) video track: av1C record carrying a
    synthesized sequence-header OBU (media_av1_meta oracle)."""
    import struct as _s

    def box(btype: bytes, body: bytes) -> bytes:
        return _s.pack(">I", 8 + len(body)) + btype + body

    p = _av1_params(media_id)
    w = _BW()
    w.u(p["profile"], 3)
    w.u(0, 1)                 # still_picture
    w.u(0, 1)                 # reduced_still_picture_header
    w.u(0, 1)                 # timing_info_present_flag
    w.u(0, 1)                 # initial_display_delay_present_flag
    w.u(0, 5)                 # operating_points_cnt_minus_1
    w.u(0, 12)                # operating_point_idc[0]
    w.u(p["level_idx"], 5)    # seq_level_idx[0]
    if p["level_idx"] > 7:
        w.u(0, 1)             # seq_tier[0]
    w.u(15, 4)                # frame_width_bits_minus_1
    w.u(15, 4)                # frame_height_bits_minus_1
    w.u(p["width"] - 1, 16)   # max_frame_width_minus_1
    w.u(p["height"] - 1, 16)  # max_frame_height_minus_1
    bits = w.bits + [0] * (-len(w.bits) % 8)  # byte-align (no rbsp stop bit)
    obu_payload = bytes(int("".join(map(str, bits[i:i+8])), 2)
                        for i in range(0, len(bits), 8))
    # OBU header: type 1 (sequence header), has_size_field, then leb128 size
    obu = bytes([0b0000_1010, len(obu_payload)]) + obu_payload
    av1c = box(b"av1C",
               bytes([0x81,                       # marker|version
                      (p["profile"] << 5) | p["level_idx"],
                      0b0000_1100,                # 4:2:0, 8-bit
                      0]) + obu)
    entry_body = (b"\x00" * 6 + _s.pack(">H", 1) + b"\x00" * 16
                  + _s.pack(">HH", p["width"], p["height"])
                  + _s.pack(">II", 0x00480000, 0x00480000)
                  + b"\x00" * 4 + _s.pack(">H", 1) + b"\x00" * 32
                  + _s.pack(">H", 24) + _s.pack(">h", -1) + av1c)
    entry = _s.pack(">I", 8 + len(entry_body)) + b"av01" + entry_body
    stsd = box(b"stsd", b"\x00" * 4 + _s.pack(">I", 1) + entry)
    minf = box(b"minf", box(b"stbl", stsd))
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    mdia = box(b"mdia", hdlr + minf)
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 72
               + _s.pack(">II", p["width"] << 16, p["height"] << 16))
    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
               + _s.pack(">II", 1000, 2000 + (media_id % 50) * 200)
               + b"\x00" * 80)
    moov = box(b"moov", mvhd + box(b"trak", tkhd + mdia))
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomav01")
    return ftyp + moov


def build_bz2_txt(doc_id: int) -> bytes:
    """bzip2-wrapped text (extract_compressed_text oracle, even ids)."""
    import bz2 as _bz2

    return _bz2.compress(f"Compressed note {doc_id} body.\n".encode())


def build_xz_txt(doc_id: int) -> bytes:
    """xz-wrapped text (extract_compressed_text oracle, odd ids)."""
    import lzma as _lzma

    return _lzma.compress(f"Compressed note {doc_id} body.\n".encode(),
                          format=_lzma.FORMAT_XZ)


def build_pdf_embedded(doc_id: int) -> bytes:
    """PDF with an /EmbeddedFiles attachment (extract_pdf_embedded
    oracle): host page text + a filespec-referenced embedded text file
    that the dispatcher recurses (PDF 32000 §7.11.4)."""
    host = f"Pdf host {doc_id}."
    stream = (f"BT /F1 12 Tf 72 720 Td ({_pdf_escape(host)}) Tj ET"
              .encode("latin-1"))
    payload = f"Embedded note {doc_id}.".encode()
    fname = f"note{doc_id % 6}.txt"
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R /Names "
        b"<< /EmbeddedFiles << /Names [(" + fname.encode() + b") 5 0 R] "
        b">> >> >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length %d >>\nstream\n" % len(stream) + stream
        + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Filespec /F (" + fname.encode() + b") /EF "
        b"<< /F 6 0 R >> >>\nendobj\n"
        b"6 0 obj\n<< /Type /EmbeddedFile /Length %d >>\nstream\n"
        % len(payload) + payload + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )


def build_pdf_images(doc_id: int) -> bytes:
    """PDF with two image XObjects (extract_pdf_images oracle):
      obj 5: FlateDecode DeviceRGB 8x6 solid _media_color(doc_id)
      obj 6: DCTDecode grayscale JPEG build_jpeg(3*doc_id) — always the
             grayscale variant (3*doc_id % 3 == 0), solid gray
             (111*doc_id) % 256, dims media_dims(3*doc_id)
    Solid fills make every channel mean the exact rational color/255
    (invariant 10)."""
    host = f"Pdf with images {doc_id}."
    content = (f"BT /F1 12 Tf 72 720 Td ({_pdf_escape(host)}) Tj ET "
               "q 8 0 0 6 72 600 cm /Im0 Do Q "
               "q 32 0 0 32 72 500 cm /Im1 Do Q").encode("latin-1")
    r, g, b = _media_color(doc_id)
    rgb = bytes((r, g, b)) * (8 * 6)
    rgb_z = zlib.compress(rgb)
    jpg = build_jpeg(3 * doc_id)
    jw, jh = media_dims(3 * doc_id)
    return b"".join([
        b"%PDF-1.4\n",
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /XObject << /Im0 5 0 R /Im1 6 0 R >> >> >>\nendobj\n",
        b"4 0 obj\n<< /Length %d >>\nstream\n" % len(content), content,
        b"\nendstream\nendobj\n",
        b"5 0 obj\n<< /Type /XObject /Subtype /Image /Width 8 /Height 6 "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode "
        b"/Length %d >>\nstream\n" % len(rgb_z), rgb_z,
        b"\nendstream\nendobj\n",
        b"6 0 obj\n<< /Type /XObject /Subtype /Image /Width %d /Height %d "
        % (jw, jh),
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /DCTDecode "
        b"/Length %d >>\nstream\n" % len(jpg), jpg,
        b"\nendstream\nendobj\n",
        b"%%EOF\n",
    ])


def build_docx_embedded(doc_id: int) -> bytes:
    """docx whose word/embeddings/ carries an Ole10Native-wrapped text
    payload (the shape Word gives embedded objects) — the OOXML leg of
    embedded-document recursion (extract_docx_embedded oracle)."""
    import io as _io
    import zipfile as _zf

    body = (b"<w:document><w:body><w:p><w:r><w:t>"
            + f"Docx host {doc_id}.".encode()
            + b"</w:t></w:r></w:p></w:body></w:document>")
    ole_bin = _ole2_file({
        "\x01Ole10Native": _ole10native(f"att{doc_id % 4}.txt",
                                        f"Embedded att {doc_id}.".encode()),
        "\x01Ole": b"\x00" * 8,
    })
    buf = _io.BytesIO()
    with _zf.ZipFile(buf, "w", _zf.ZIP_DEFLATED) as z:
        for name, payload in (("[Content_Types].xml", b"<Types/>"),
                              ("word/document.xml", body),
                              ("word/embeddings/oleObject1.bin", ole_bin)):
            z.writestr(_zf.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), payload)
    return buf.getvalue()


def build_html_meta(doc_id: int) -> bytes:
    """HTML with named meta tags (extract_html_meta_tags oracle):
    description / keywords / author / og:title, all pure functions of
    doc_id; a dup meta pins first-occurrence-wins."""
    return (
        "<html><head>"
        f"<title>Meta page {doc_id}</title>"
        f'<meta name="description" content="Summary of page {doc_id} '
        'with &amp; entity.">'
        f'<meta name="keywords" content="k{doc_id % 5},k{doc_id % 7}">'
        f'<meta name="author" content="Writer {doc_id % 9}">'
        f'<meta property="og:type" content="article">'
        f'<meta name="og:title" content="OG {doc_id}">'
        f'<meta name="description" content="DUPLICATE ignored">'
        "</head><body>"
        f"<p>Body of meta page {doc_id}.</p>"
        "</body></html>"
    ).encode()


def build_flac(media_id: int) -> bytes:
    """Minimal FLAC: STREAMINFO only (media_audio_headers oracle).
    sample_rate/channels/bps/total are pure functions of media_id."""
    sr = (44100, 48000, 32000, 22050)[media_id % 4]
    ch = 1 + media_id % 2
    bps = (16, 24)[media_id % 2]
    total = sr * (1 + media_id % 5)  # whole seconds -> exact duration_ms
    b = bytearray(34)
    b[10] = (sr >> 12) & 0xFF
    b[11] = (sr >> 4) & 0xFF
    b[12] = ((sr & 0xF) << 4) | ((ch - 1) << 1) | ((bps - 1) >> 4)
    b[13] = (((bps - 1) & 0xF) << 4) | ((total >> 32) & 0x0F)
    b[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
    return b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + bytes(b)


def build_flac_tags(media_id: int) -> bytes:
    """FLAC with STREAMINFO + VORBIS_COMMENT block (extract_flac_tags
    oracle): TITLE "Flac {id}", ARTIST "Artist {id%5}", ALBUM
    "Album {id%7}". NEW corpus per invariant 2 — build_flac (STREAMINFO
    only) stays frozen for media_audio_headers."""
    base = build_flac(media_id)
    # clear the STREAMINFO last-block flag, append the comment block
    si = bytes([base[4] & 0x7F]) + base[5:]
    comments = [f"TITLE=Flac {media_id}",
                f"ARTIST=Artist {media_id % 5}",
                f"ALBUM=Album {media_id % 7}"]
    vendor = b"sparktika"
    body = (len(vendor).to_bytes(4, "little") + vendor
            + len(comments).to_bytes(4, "little"))
    for c in comments:
        cb = c.encode()
        body += len(cb).to_bytes(4, "little") + cb
    block = bytes([0x80 | 4]) + len(body).to_bytes(3, "big") + body
    return base[:4] + si + block


def build_mp3(media_id: int) -> bytes:
    """ID3v2-prefixed MPEG-1 Layer III header + CBR payload sized for an
    exact 200ms-multiple duration (media_audio_headers oracle)."""
    br_idx = 9 + media_id % 6          # 128..320 kbps region of the table
    bitrate = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
               160, 192, 224, 256, 320)[br_idx]
    sr_idx = media_id % 3
    secs = 1 + media_id % 4
    frame = bytes([0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0x00])
    # bitrate*25 bytes <=> exactly 200 ms per unit (25*8/bitrate kbps);
    # max payload 320*25*4 = 32 KB, inside SYNTH_CONFIG's 64 KB size cap
    payload_len = bitrate * 25 * secs
    return (b"ID3" + bytes([4, 0, 0, 0, 0, 0, 0])
            + frame + b"\x00" * (payload_len - len(frame)))


def build_mp3_id3(media_id: int) -> bytes:
    """MP3 with real ID3v2.3 TIT2/TPE1/TALB text frames (extract_mp3_tags
    oracle): title "Track {id}", artist "Artist {id%5}", album
    "Album {id%7}"; audio frame identical to build_mp3's shape. NEW
    corpus per invariant 2 — build_mp3 (empty tag) stays frozen for
    media_audio_headers."""
    import struct as _struct

    def frame(fid: bytes, text: str) -> bytes:
        body = b"\x00" + text.encode("latin-1")
        return fid + _struct.pack(">I", len(body)) + b"\x00\x00" + body

    frames = (frame(b"TIT2", f"Track {media_id}")
              + frame(b"TPE1", f"Artist {media_id % 5}")
              + frame(b"TALB", f"Album {media_id % 7}"))
    sz = len(frames)
    hdr = (b"ID3" + bytes([3, 0, 0])
           + bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                    (sz >> 7) & 0x7F, sz & 0x7F]))
    br_idx = 9 + media_id % 6
    bitrate = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
               160, 192, 224, 256, 320)[br_idx]
    mpeg = bytes([0xFF, 0xFB, (br_idx << 4) | ((media_id % 3) << 2), 0x00])
    return hdr + frames + mpeg + b"\x00" * (bitrate * 25 - len(mpeg))


def build_ogg(media_id: int) -> bytes:
    """Single Ogg page with a Vorbis (even id) or Opus (odd id)
    identification header (media_audio_headers oracle)."""
    sr = (44100, 48000, 32000, 22050)[media_id % 4]
    ch = 1 + media_id % 2
    if media_id % 2 == 0:
        packet = (b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([ch])
                  + sr.to_bytes(4, "little") + b"\x00" * 13)
    else:
        packet = (b"OpusHead" + bytes([1, ch]) + (312).to_bytes(2, "little")
                  + sr.to_bytes(4, "little") + b"\x00" * 3)
    return (b"OggS\x00\x02" + b"\x00" * 8 + b"\x01\x00\x00\x00"
            + b"\x00\x00\x00\x00" + b"\x00\x00\x00\x00"
            + bytes([1, len(packet)]) + packet)


def _ogg_page(packets: list[bytes], seq: int) -> bytes:
    lacing = bytearray()
    body = bytearray()
    for p in packets:
        n = len(p)
        while n >= 255:
            lacing.append(255)
            n -= 255
        lacing.append(n)
        body += p
    return (b"OggS\x00\x02" + b"\x00" * 8 + b"\x01\x00\x00\x00"
            + seq.to_bytes(4, "little") + b"\x00\x00\x00\x00"
            + bytes([len(lacing)]) + bytes(lacing) + bytes(body))


def build_ogg_tags(media_id: int) -> bytes:
    """Ogg with identification + comment headers (extract_ogg_tags
    oracle): Vorbis (even id) / OpusTags (odd id) comment packets carry
    TITLE "Ogg {id}", ARTIST "Artist {id%5}". The comment packet rides a
    SECOND page so page/packet reassembly is actually exercised. NEW
    corpus per invariant 2 — build_ogg stays frozen."""
    sr = (44100, 48000, 32000, 22050)[media_id % 4]
    ch = 1 + media_id % 2
    comments = [f"TITLE=Ogg {media_id}", f"ARTIST=Artist {media_id % 5}"]
    vendor = b"sparktika"
    fields = (len(vendor).to_bytes(4, "little") + vendor
              + len(comments).to_bytes(4, "little"))
    for c in comments:
        cb = c.encode()
        fields += len(cb).to_bytes(4, "little") + cb
    if media_id % 2 == 0:
        ident = (b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([ch])
                 + sr.to_bytes(4, "little") + b"\x00" * 13)
        comment = b"\x03vorbis" + fields + b"\x01"  # framing bit
    else:
        ident = (b"OpusHead" + bytes([1, ch]) + (312).to_bytes(2, "little")
                 + sr.to_bytes(4, "little") + b"\x00" * 3)
        comment = b"OpusTags" + fields
    return _ogg_page([ident], 0) + _ogg_page([comment], 1)


def build_webp(media_id: int) -> bytes:
    """WebP with deterministic dims; variant rotates lossy/lossless/VP8X
    by media_id % 3 (media_webp_meta oracle)."""
    import struct as _s

    w, h = 16 + media_id % 300, 16 + (media_id // 3) % 200
    v = media_id % 3
    if v == 0:
        body = (b"\x00\x00\x00" + b"\x9d\x01\x2a"
                + _s.pack("<HH", w, h) + b"\x00" * 8)
        chunk = b"VP8 " + _s.pack("<I", len(body)) + body
    elif v == 1:
        bits = (w - 1) | ((h - 1) << 14)
        body = bytes([0x2F]) + _s.pack("<I", bits)
        chunk = b"VP8L" + _s.pack("<I", len(body)) + body
    else:
        body = (bytes(4) + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little"))
        chunk = b"VP8X" + _s.pack("<I", len(body)) + body
    return b"RIFF" + _s.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def build_svg(doc_id: int) -> bytes:
    """Deterministic SVG (extract_svg_text oracle): title + two labels,
    width/height pure functions of doc_id."""
    w, h = 100 + doc_id % 400, 50 + (doc_id // 2) % 300
    return (
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{w}" '
        f'height="{h}"><title>Figure {doc_id}</title>'
        f"<text>Label one {doc_id}</text>"
        f"<g><text>Label two {doc_id}.</text></g></svg>"
    ).encode()


def build_zstd_frame(payload: bytes, block_size: int = 1 << 16) -> bytes:
    """Store-mode zstd frame (RFC 8878): raw blocks, single-segment,
    frame-content-size + XXH64 content checksum. Valid for any decoder
    (round-trips through the CLI in pytest); used for deterministic
    oracle corpora — the compressed paths (FSE/Huffman) are pinned
    against CLI-generated goldens instead."""
    from .kernels.zstd import xxh64

    out = bytearray((0xFD2FB528).to_bytes(4, "little"))
    n = len(payload)
    if n <= 255:
        out.append(0x24)          # FCS flag 0 + single-segment + checksum
        out.append(n)
    else:
        out.append((2 << 6) | 0x24)  # 4-byte FCS
        out += n.to_bytes(4, "little")
    pos = 0
    while True:
        chunk = payload[pos:pos + block_size]
        pos += len(chunk)
        last = 1 if pos >= n else 0
        out += ((len(chunk) << 3) | last).to_bytes(3, "little")
        out += chunk
        if last:
            break
    out += (xxh64(payload) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(out)


def build_zstd_txt(doc_id: int) -> bytes:
    """zstd-wrapped text (extract_zstd_text oracle). Odd ids carry a
    leading skippable frame (magic 0x184D2A5x) that must be ignored;
    ids % 3 == 0 get a multi-block body (payload longer than the
    64-byte block size forces 3+ raw blocks)."""
    body = f"Zstd note {doc_id} body.\n".encode()
    if doc_id % 3 == 0:
        body += b"Filler line for multiple blocks.\n" * 8
    frame = build_zstd_frame(body, block_size=64 if doc_id % 3 == 0
                             else 1 << 16)
    if doc_id % 2 == 1:
        skip = ((0x184D2A50 + doc_id % 16).to_bytes(4, "little")
                + (8).to_bytes(4, "little") + b"\xaa" * 8)
        frame = skip + frame
    return frame


def _xlsb_rec(rid: int, payload: bytes = b"") -> bytes:
    """[MS-XLSB] §2.1.4 framing: 7-bit-continued record id + size."""
    out = bytearray()
    if rid < 0x80:
        out.append(rid)
    else:
        out += bytes([(rid & 0x7F) | 0x80, rid >> 7])
    size = len(payload)
    while True:
        b = size & 0x7F
        size >>= 7
        out.append(b | (0x80 if size else 0))
        if not size:
            break
    return bytes(out) + payload


def build_xlsb(doc_id: int) -> bytes:
    """Deterministic .xlsb (extract_xlsb_text oracle): two sheets
    covering shared-string / inline-string / RK-int / RK-x100 / real /
    bool / blank / error cells. Kernel output (xlsx rendering shape;
    .5/.25 are binary-exact per invariant 10):
      "Data{id%3}\\nItem {id}\\tDesc {id}\\n{id}\\t{id}.5\\t{id}.25\\n
       Extra\\nTRUE\\t#DIV/0!\\t\\tTail {id}\\n"
    """
    import io as _io
    import struct as _struct
    import zipfile as _zf

    def ws(s: str) -> bytes:  # XLWideString
        return len(s).to_bytes(4, "little") + s.encode("utf-16-le")

    def cell(col: int, rid: int, body: bytes) -> bytes:
        return _xlsb_rec(rid, col.to_bytes(4, "little") + b"\x00" * 4
                         + body)

    def row(rw: int) -> bytes:
        return _xlsb_rec(0x00, rw.to_bytes(4, "little") + b"\x00" * 13)

    sst = (_xlsb_rec(0x19F, (1).to_bytes(4, "little") * 2)
           + _xlsb_rec(0x13, b"\x00" + ws(f"Item {doc_id}")))
    sheet1 = (
        _xlsb_rec(0x91)                                    # BeginSheetData
        + row(0)
        + cell(0, 0x07, (0).to_bytes(4, "little"))         # isst -> Item
        + cell(1, 0x06, ws(f"Desc {doc_id}"))              # inline string
        + row(1)
        + cell(0, 0x02, (((doc_id << 2) | 2)               # RK int
                         .to_bytes(4, "little")))
        + cell(1, 0x05, _struct.pack("<d", doc_id + 0.5))  # real
        + cell(2, 0x02, ((((doc_id * 100 + 25) << 2) | 3)  # RK int /100
                         .to_bytes(4, "little")))
        + _xlsb_rec(0x92))                                 # EndSheetData
    sheet2 = (
        _xlsb_rec(0x91)
        + row(0)
        + cell(0, 0x04, b"\x01")                           # TRUE
        + cell(1, 0x03, b"\x07")                           # #DIV/0!
        + cell(2, 0x01, b"")                               # blank
        + cell(3, 0x06, ws(f"Tail {doc_id}"))
        + _xlsb_rec(0x92))
    wb = (_xlsb_rec(0x9C, b"\x00" * 8 + ws("rId1")
                    + ws(f"Data{doc_id % 3}"))
          + _xlsb_rec(0x9C, b"\x00" * 8 + ws("rId2") + ws("Extra")))
    rels = (b'<Relationships><Relationship Id="rId1" Type="t" '
            b'Target="worksheets/sheet1.bin"/>'
            b'<Relationship Id="rId2" Type="t" '
            b'Target="worksheets/sheet2.bin"/></Relationships>')
    buf = _io.BytesIO()
    with _zf.ZipFile(buf, "w", _zf.ZIP_DEFLATED) as z:
        for name, payload in (
                ("[Content_Types].xml", b"<Types/>"),
                ("xl/workbook.bin", wb),
                ("xl/_rels/workbook.bin.rels", rels),
                ("xl/sharedStrings.bin", sst),
                ("xl/worksheets/sheet1.bin", sheet1),
                ("xl/worksheets/sheet2.bin", sheet2)):
            z.writestr(_zf.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), payload)
    return buf.getvalue()


def _pst_pc_block(props: list[tuple[int, int, object]]) -> bytes:
    """Heap-on-node block holding one property context ([MS-PST] LTP):
    HNHDR + BTH header + sorted 8-byte records + variable values, with
    the HNPAGEMAP trailer. props: (propid, ptype, value) where value is
    int (inline) or bytes (heap item)."""
    items: list[bytes] = []
    recs: list[bytes] = []
    # item 1 = BTH header, item 2 = record array; values from item 3
    next_idx = 3
    for pid, ptype, val in sorted(props):
        if isinstance(val, int):
            dw = val & 0xFFFFFFFF
        else:
            dw = next_idx << 5  # HID of the value item
            items.append(val)
            next_idx += 1
        recs.append(pid.to_bytes(2, "little") + ptype.to_bytes(2, "little")
                    + dw.to_bytes(4, "little"))
    bth = bytes([0xB5, 2, 6, 0]) + (2 << 5).to_bytes(4, "little")
    all_items = [bth, b"".join(recs)] + items
    body = bytearray()
    offsets = [12]
    for it in all_items:
        body += it
        offsets.append(12 + len(body))
    ib_hnpm = 12 + len(body)
    hdr = (ib_hnpm.to_bytes(2, "little") + bytes([0xEC, 0xBC])
           + (1 << 5).to_bytes(4, "little") + bytes(4))
    pagemap = (len(all_items).to_bytes(2, "little") + bytes(2)
               + b"".join(o.to_bytes(2, "little") for o in offsets))
    return hdr + bytes(body) + pagemap


def _pst_tc_recipients(recips: list[tuple[str, int]],
                       string8: bool = False) -> bytes:
    """Heap block holding a recipient TABLE CONTEXT ([MS-PST] §2.3.4):
    TCINFO (2 columns: PidTagDisplayName PT_UNICODE, PidTagRecipientType
    PT_LONG) + fixed-width rows (rowid + 2x4-byte cells + CEB byte);
    display strings are further heap items."""
    c_cols = 2
    rgib = (12, 12, 12, 13)   # 4-byte end, 2-byte end, 1-byte end, width
    name_tag = 0x3001001E if string8 else 0x3001001F
    cols = (name_tag.to_bytes(4, "little") + (4).to_bytes(2, "little")
            + bytes([4, 0])
            + (0x0C150003).to_bytes(4, "little") + (8).to_bytes(2, "little")
            + bytes([4, 1]))
    rows = bytearray()
    names: list[bytes] = []
    for i, (name, rtype) in enumerate(recips):
        hnid = (3 + i) << 5    # heap items 3..N hold the names
        names.append(name.encode("cp1252" if string8 else "utf-16-le"))
        rows += (i.to_bytes(4, "little") + hnid.to_bytes(4, "little")
                 + rtype.to_bytes(4, "little") + b"\xc0")  # CEB bits 0,1
    tcinfo = (bytes([0x7C, c_cols])
              + b"".join(x.to_bytes(2, "little") for x in rgib)
              + (0).to_bytes(4, "little")        # hidRowIndex (unused)
              + (2 << 5).to_bytes(4, "little")   # hnidRows -> item 2
              + (0).to_bytes(4, "little")        # hidIndex
              + cols)
    items = [tcinfo, bytes(rows)] + names
    body = bytearray()
    offsets = [12]
    for it in items:
        body += it
        offsets.append(12 + len(body))
    ib_hnpm = 12 + len(body)
    hdr = (ib_hnpm.to_bytes(2, "little") + bytes([0xEC, 0x7C])
           + (1 << 5).to_bytes(4, "little") + bytes(4))
    pagemap = (len(items).to_bytes(2, "little") + bytes(2)
               + b"".join(o.to_bytes(2, "little") for o in offsets))
    return hdr + bytes(body) + pagemap


def _pst_file(folder_name: str, messages: list[dict],
              fmt: str = "unicode") -> bytes:
    """Minimal valid PST (bCryptMethod none) in either on-disk format
    (fmt='unicode' 8-byte BIDs / 'ansi' 4-byte): blocks with 64-aligned
    trailers, multi-level NBT/BBT pages when needed. messages: dicts
    with subject/sender/to/body and optional attachment=(fname,
    payload)."""
    PT_UNI, PT_BIN, PT_LONG = 0x001F, 0x0102, 0x0003
    W = 8 if fmt == "unicode" else 4          # BID/IB width
    TLEN = 16 if fmt == "unicode" else 12     # block trailer length
    AREA = 488 if fmt == "unicode" else 496   # page entry area

    blocks: list[tuple[int, bytes]] = []     # (bid, raw)
    next_bid = [4]

    def add_block(raw: bytes) -> int:
        bid = next_bid[0]
        next_bid[0] += 4
        blocks.append((bid, raw))
        return bid

    def add_xblock(raw: bytes) -> int:
        """internal-bit bid pointing at child leaf blocks."""
        bid = next_bid[0] + 2                # set the internal bit
        next_bid[0] += 4
        blocks.append((bid, raw))
        return bid

    nodes: list[tuple[int, int, int, int]] = []  # (nid,bidData,bidSub,parent)
    folder_nid = (8 << 5) | 0x02
    nodes.append((folder_nid,
                  add_block(_pst_pc_block(
                      [(0x3001, PT_UNI, folder_name.encode("utf-16-le"))])),
                  0, folder_nid))
    for k, m in enumerate(messages):
        props = [(0x0037, PT_UNI, m["subject"].encode("utf-16-le")),
                 (0x0C1A, PT_UNI, m["sender"].encode("utf-16-le")),
                 (0x1000, PT_UNI, m["body"].encode("utf-16-le"))]
        if m.get("to") is not None:
            props.append((0x0E04, PT_UNI, m["to"].encode("utf-16-le")))
        if m.get("cc") is not None:
            props.append((0x0E03, PT_UNI, m["cc"].encode("utf-16-le")))
        if m.get("bcc") is not None:
            props.append((0x0E02, PT_UNI, m["bcc"].encode("utf-16-le")))
        if m.get("raw_pages"):
            # pre-built heap pages (multi-block HN test shape): leaf
            # blocks chained by an XBLOCK
            leaf_bids = [add_block(p) for p in m["raw_pages"]]
            xb = (bytes([1, 1]) + len(leaf_bids).to_bytes(2, "little")
                  + sum(len(p) for p in m["raw_pages"]).to_bytes(4, "little")
                  + b"".join(b.to_bytes(W, "little") for b in leaf_bids))
            bid_data = add_xblock(xb)
        else:
            bid_data = add_block(_pst_pc_block(props))
        bid_sub = 0
        sl_entries: list[tuple[int, int]] = []
        if m.get("recipients"):
            sl_entries.append(((0x12 | (0x34 << 5)),
                               add_block(_pst_tc_recipients(
                                   m["recipients"],
                                   string8=m.get("recip_string8", False)))))
        if m.get("attachment"):
            fname, payload = m["attachment"]
            apc = _pst_pc_block(
                [(0x3705, PT_LONG, 1),
                 (0x3707, PT_UNI, fname.encode("utf-16-le")),
                 (0x3701, PT_BIN, payload)])
            sl_entries.append(((1 << 5) | 0x08, add_block(apc)))
        if sl_entries:
            sl = (bytes([2, 0]) + len(sl_entries).to_bytes(2, "little")
                  + bytes(4 if fmt == "unicode" else 0)
                  + b"".join(nid_.to_bytes(W, "little")
                             + bid_.to_bytes(W, "little")
                             + (0).to_bytes(W, "little")
                             for nid_, bid_ in sorted(sl_entries)))
            # SLBLOCKs are INTERNAL blocks ([MS-PST] §2.2.2.8.3): the bid
            # carries the internal bit, and §5.1 encryption skips them
            bid_sub = add_xblock(sl)
        nid = ((16 + k) << 5) | 0x04
        nodes.append((nid, bid_data, bid_sub, folder_nid))

    # ---- serialize: header | blocks (64-aligned) | pages (512-aligned)
    out = bytearray(1024)                     # header zone
    bbt_entries: list[tuple[int, int, int]] = []  # (bid, ib, cb)
    for bid, raw in blocks:
        ib = (len(out) + 63) & ~63
        out += bytes(ib - len(out))
        env = (len(raw) + TLEN + 63) & ~63
        blk = bytearray(env)
        blk[:len(raw)] = raw
        if fmt == "unicode":   # {cb(2) wSig(2) dwCRC(4) bid(8)}
            tr = (len(raw).to_bytes(2, "little") + bytes(6)
                  + bid.to_bytes(8, "little"))
        else:                  # ANSI {cb(2) wSig(2) bid(4) dwCRC(4)}
            tr = (len(raw).to_bytes(2, "little") + bytes(2)
                  + bid.to_bytes(4, "little") + bytes(4))
        blk[env - TLEN:env] = tr
        out += blk
        bbt_entries.append((bid, ib, len(raw)))

    next_pbid = [1 << 20]

    def write_page(entries: list[bytes], cb_ent: int, level: int,
                   ptype: int) -> tuple[int, int, int]:
        """-> (first_key, bid, ib) of the written page."""
        ib = (len(out) + 511) & ~511
        out.extend(bytes(ib - len(out)))
        bid = next_pbid[0]
        next_pbid[0] += 4
        page = bytearray(512)
        joined = b"".join(entries)
        page[:len(joined)] = joined
        page[AREA] = len(entries)
        page[AREA + 1] = AREA // cb_ent
        page[AREA + 2] = cb_ent
        page[AREA + 3] = level
        if fmt == "unicode":
            page[496] = page[497] = ptype
            page[504:512] = bid.to_bytes(8, "little")
        else:
            page[500] = page[501] = ptype
            page[504:508] = bid.to_bytes(4, "little")
        out.extend(page)
        first_key = int.from_bytes(entries[0][:W], "little")
        return first_key, bid, ib

    def write_btree(leaf_entries: list[bytes], cb_ent: int,
                    ptype: int) -> tuple[int, int]:
        """Chunk leaves into pages; add intermediate levels as needed."""
        per = AREA // cb_ent
        level = 0
        entries = leaf_entries
        while True:
            pages = []
            for i in range(0, len(entries), per):
                pages.append(write_page(entries[i:i + per], cb_ent,
                                        level, ptype))
            if len(pages) == 1:
                return pages[0][1], pages[0][2]
            entries = [key.to_bytes(W, "little")
                       + bid.to_bytes(W, "little") + ib.to_bytes(W, "little")
                       for key, bid, ib in pages]
            cb_ent = 3 * W
            per = AREA // cb_ent
            level += 1

    bbt_leaves = [bid.to_bytes(W, "little") + ib.to_bytes(W, "little")
                  + cb.to_bytes(2, "little") + (1).to_bytes(2, "little")
                  + (bytes(4) if fmt == "unicode" else b"")
                  for bid, ib, cb in sorted(bbt_entries)]
    nbt_leaves = [nid.to_bytes(W, "little") + bd.to_bytes(W, "little")
                  + bs.to_bytes(W, "little") + parent.to_bytes(4, "little")
                  + (bytes(4) if fmt == "unicode" else b"")
                  for nid, bd, bs, parent in sorted(nodes)]
    bbt_bid, bbt_ib = write_btree(
        bbt_leaves, 2 * W + 4 + (4 if fmt == "unicode" else 0), 0x80)
    nbt_bid, nbt_ib = write_btree(nbt_leaves, 3 * W + (8 if fmt == "unicode"
                                                      else 4), 0x81)

    hdr = bytearray(564)
    hdr[0:4] = b"!BDN"
    hdr[8:10] = b"SM"
    hdr[12:14] = (19).to_bytes(2, "little")   # wVerClient
    if fmt == "unicode":
        hdr[10:12] = (23).to_bytes(2, "little")
        root = 180
        hdr[root + 4:root + 12] = len(out).to_bytes(8, "little")
        hdr[root + 36:root + 44] = nbt_bid.to_bytes(8, "little")
        hdr[root + 44:root + 52] = nbt_ib.to_bytes(8, "little")
        hdr[root + 52:root + 60] = bbt_bid.to_bytes(8, "little")
        hdr[root + 60:root + 68] = bbt_ib.to_bytes(8, "little")
        hdr[512] = 0x80                       # bSentinel
        hdr[513] = 0                          # bCryptMethod: none
    else:
        hdr[10:12] = (14).to_bytes(2, "little")
        root = 164
        hdr[root + 4:root + 8] = len(out).to_bytes(4, "little")
        hdr[root + 20:root + 24] = nbt_bid.to_bytes(4, "little")
        hdr[root + 24:root + 28] = nbt_ib.to_bytes(4, "little")
        hdr[root + 28:root + 32] = bbt_bid.to_bytes(4, "little")
        hdr[root + 32:root + 36] = bbt_ib.to_bytes(4, "little")
        hdr[460] = 0x80                       # bSentinel
        hdr[461] = 0                          # bCryptMethod: none
    out[:564] = hdr
    return bytes(out)


def build_pst(doc_id: int) -> bytes:
    """Deterministic Unicode .pst (extract_pst_text oracle): an Inbox
    folder with 2 + doc_id % 3 messages; even doc_ids attach a .txt to
    message 0. Kernel output per message k:
      "Pst subject {id}-{k}\\nFrom: Sender {k}\\n
       To: rcpt{k}@example.com\\n\\nPst body {id} message {k}.\\n"
    with "[Attachment: att{id}.txt]\\nAttached note {id}.\\n" appended
    to message 0 on even ids."""
    n = 2 + doc_id % 3
    msgs = []
    for k in range(n):
        m = {"subject": f"Pst subject {doc_id}-{k}",
             "sender": f"Sender {k}",
             "to": f"rcpt{k}@example.com",
             "body": f"Pst body {doc_id} message {k}."}
        if k == 0 and doc_id % 2 == 0:
            m["attachment"] = (f"att{doc_id}.txt",
                               f"Attached note {doc_id}.\n".encode())
        msgs.append(m)
    return _pst_file(f"Inbox {doc_id % 5}", msgs)


def build_sqlite(doc_id: int) -> bytes:
    """Deterministic SQLite database (extract_sqlite_text oracle),
    serialized in-memory (stdlib sqlite3, no temp files). Kernel output
    (spreadsheet rendering shape; .5 floats binary-exact):
      "notes\\n{k}\\tNote {id}-{k}\\t{id+k}.5  (k < 2 + id%3)\\n
       tags\\nalpha {id%7}\\nbeta {id%5}\\n"
    """
    import sqlite3 as _sq

    con = _sq.connect(":memory:")
    con.execute("CREATE TABLE notes (k INTEGER, label TEXT, score REAL)")
    for k in range(2 + doc_id % 3):
        con.execute("INSERT INTO notes VALUES (?,?,?)",
                    (k, f"Note {doc_id}-{k}", doc_id + k + 0.5))
    con.execute("CREATE TABLE tags (name TEXT)")
    con.execute("INSERT INTO tags VALUES (?), (?)",
                (f"alpha {doc_id % 7}", f"beta {doc_id % 5}"))
    con.commit()
    data = con.serialize()
    con.close()
    return bytes(data)


def build_lz4_frame(payload: bytes, block_size: int = 1 << 16) -> bytes:
    """Store-mode LZ4 frame: uncompressed blocks (high-bit sizes),
    content size + content checksum; CLI-validated in pytest."""
    from .kernels.lz4 import xxh32

    flg = (1 << 6) | 0x08 | 0x04          # v1 + content size + checksum
    bd = 4 << 4                            # 64 KB max block
    desc = bytes([flg, bd]) + len(payload).to_bytes(8, "little")
    out = bytearray((0x184D2204).to_bytes(4, "little"))
    out += desc + bytes([(xxh32(desc) >> 8) & 0xFF])
    pos = 0
    while pos < len(payload) or (pos == 0 and not payload):
        chunk = payload[pos:pos + block_size]
        pos += len(chunk)
        if not chunk:
            break
        out += (len(chunk) | 0x80000000).to_bytes(4, "little") + chunk
    out += (0).to_bytes(4, "little")       # EndMark
    out += xxh32(payload).to_bytes(4, "little")
    return bytes(out)


def build_lz4_txt(doc_id: int) -> bytes:
    """lz4-wrapped text (extract_lz4_text oracle); ids % 3 == 0 get a
    multi-block body, odd ids a leading skippable frame."""
    body = f"Lz4 note {doc_id} body.\n".encode()
    if doc_id % 3 == 0:
        body += b"Filler line for multiple blocks.\n" * 8
    frame = build_lz4_frame(body, block_size=64 if doc_id % 3 == 0
                            else 1 << 16)
    if doc_id % 2 == 1:
        frame = ((0x184D2A50 + doc_id % 16).to_bytes(4, "little")
                 + (8).to_bytes(4, "little") + b"\xbb" * 8) + frame
    return frame


def build_pdf_encrypted(doc_id: int) -> bytes:
    """Standard-security-handler encrypted PDF (extract_pdf_encrypted
    oracle): user password EMPTY (the owner-password-only wild-corpus
    common case PDFBox/Tika decrypt transparently), owner password set.
    Variant = doc_id % 4 walks the whole handler matrix:
      0 -> V1/R2  RC4-40       1 -> V2/R3  RC4-128
      2 -> V4/R4  AESV2 (128)  3 -> V5/R6  AESV3 (256)
    All four decrypt to the same layout as build_pdf, plus an encrypted
    /Info /Title string ("Secret {doc_id}"). Everything (salts, IVs, file
    key) is a deterministic function of doc_id.
    """
    import hashlib
    import struct as _s

    from .kernels import pdfcrypt as pc

    variant = doc_id % 4
    text = f"Secret note {doc_id}."
    stream = (f"BT /F1 12 Tf 72 720 Td ({_pdf_escape(text)}) Tj ET"
              .encode("latin-1"))
    title = f"Secret {doc_id}".encode("latin-1")
    id0 = hashlib.md5(f"encpdf-{doc_id}".encode()).digest()
    owner_pw = f"owner-{doc_id}".encode()
    P = -3904  # typical owner-only permission bits

    def _iv(num: int) -> bytes:
        return hashlib.md5(f"iv-{doc_id}-{num}".encode()).digest()

    if variant < 3:
        R = (2, 3, 4)[variant]
        V = (1, 2, 4)[variant]
        n = 5 if variant == 0 else 16
        O = pc.compute_O(owner_pw, b"", R, n)
        key = pc.derive_key_classic(b"", O, P, id0, R, n)
        U = pc.compute_U(key, R, id0)

        def enc(data: bytes, num: int) -> bytes:
            ext = _s.pack("<I", num)[:3] + b"\x00\x00"
            if variant == 2:  # AESV2
                k = hashlib.md5(key + ext + b"sAlT").digest()[:16]
                iv = _iv(num)
                return iv + pc.aes_cbc_encrypt(k, iv, pc._pad_pkcs5(data))
            k = hashlib.md5(key + ext).digest()[: min(n + 5, 16)]
            return pc.rc4(k, data)

        cf = ("/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
              "/Length 16 >> >> /StmF /StdCF /StrF /StdCF "
              if variant == 2 else "")
        encdict = (f"<< /Filter /Standard /V {V} /R {R} /Length {n * 8} "
                   f"/P {P} {cf}/O <{O.hex()}> /U <{U.hex()}> >>")
    else:  # V5 / R6, AES-256
        # salts + owner pw are CORPUS-SHARED (file key, IVs, content stay
        # per-doc): hash_r6 runs its ~9k-AES-block hardened loop once per
        # worker instead of twice per doc — same algorithm coverage, the
        # corpus cost drops from ~2 s/doc to ~1 s total (memoized)
        filekey = hashlib.sha256(f"fk-{doc_id}".encode()).digest()
        shared_owner = b"owner-shared"
        vs = hashlib.md5(b"vs-shared").digest()[:8]
        ks = hashlib.md5(b"ks-shared").digest()[:8]
        U = pc.hash_r6(b"", vs, b"", 6) + vs + ks
        UE = pc.aes_cbc_encrypt(pc.hash_r6(b"", ks, b"", 6),
                                b"\x00" * 16, filekey)
        ovs = hashlib.md5(b"ovs-shared").digest()[:8]
        oks = hashlib.md5(b"oks-shared").digest()[:8]
        O = pc.hash_r6(shared_owner, ovs, U[:48], 6) + ovs + oks
        OE = pc.aes_cbc_encrypt(pc.hash_r6(shared_owner, oks, U[:48], 6),
                                b"\x00" * 16, filekey)
        # /Perms: P + 0xFFFFFFFF + 'T' (EncryptMetadata) + 'adb' + 4 pad,
        # AES-256-ECB with the file key (single block == CBC w/ zero IV)
        perms_plain = (_s.pack("<i", P) + b"\xff\xff\xff\xff" + b"Tadb"
                       + _iv(0)[:4])
        perms = pc.aes_cbc_encrypt(filekey, b"\x00" * 16, perms_plain)

        def enc(data: bytes, num: int) -> bytes:
            iv = _iv(num)
            return iv + pc.aes_cbc_encrypt(filekey, iv,
                                           pc._pad_pkcs5(data))

        encdict = ("<< /Filter /Standard /V 5 /R 6 /Length 256 "
                   "/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
                   "/Length 32 >> >> /StmF /StdCF /StrF /StdCF "
                   f"/P {P} /O <{O.hex()}> /U <{U.hex()}> "
                   f"/OE <{OE.hex()}> /UE <{UE.hex()}> "
                   f"/Perms <{perms.hex()}> >>")

    enc_stream = enc(stream, 4)
    enc_title = enc(title, 6)
    obj4 = (b"4 0 obj\n<< /Length " + str(len(enc_stream)).encode("ascii")
            + b" >>\nstream\n" + enc_stream + b"\nendstream\nendobj\n")
    return (
        b"%PDF-1.6\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        + obj4 +
        b"5 0 obj\n" + encdict.encode("ascii") + b"\nendobj\n"
        b"6 0 obj\n<< /Title <" + enc_title.hex().encode("ascii")
        + b"> >>\nendobj\n"
        b"trailer\n<< /Size 7 /Root 1 0 R /Info 6 0 R /Encrypt 5 0 R "
        b"/ID [<" + id0.hex().encode("ascii") + b"> <"
        + id0.hex().encode("ascii") + b">] >>\n"
        b"startxref\n0\n%%EOF\n"
    )


def build_doc_legacy(doc_id: int) -> bytes:
    """Word 6/95 .doc (extract_doc_legacy oracle): old FIB magic 0xA5DC,
    nFib 101 (Word 6) on even ids / 104 (Word 95) on odd, flat cp1252
    text at [fcMin, fcMac) with \\r paragraph marks, no table stream —
    the normally-saved layout the legacy kernel path reads. One
    ObjectPool embed on ids % 5 == 0. Kernel output:
      'Legacy doc {id}.\\nOld body line {id} caf\\xe9.\\n'
    """
    import struct as _s

    text = f"Legacy doc {doc_id}.\rOld body line {doc_id} caf\xe9.\r"
    raw = text.encode("cp1252")
    fc_min = 0x300
    wd = bytearray(fc_min)
    _s.pack_into("<H", wd, 0, 0xA5DC)                   # old FIB magic
    _s.pack_into("<H", wd, 2, 101 if doc_id % 2 == 0 else 104)  # nFib
    _s.pack_into("<H", wd, 0x000A, 0x0000)              # not complex/enc
    _s.pack_into("<II", wd, 0x18, fc_min, fc_min + len(raw))
    streams = {"WordDocument": bytes(wd) + raw}
    storages = ([("ObjectPool", {"_0101": {"\x01Ole": b"\x00" * 8}})]
                if doc_id % 5 == 0 else [])
    return _ole2_file(streams, storages=storages)


def _ar_member(name: str, body: bytes) -> bytes:
    """One common-format ar entry (60-byte header, 2-byte aligned)."""
    hdr = (name.ljust(16) + "0".ljust(12) + "0".ljust(6) + "0".ljust(6)
           + "100644".ljust(8) + str(len(body)).ljust(10)).encode("ascii")
    return hdr + b"\x60\x0a" + body + (b"\n" if len(body) % 2 else b"")


def _cpio_newc(name: str, body: bytes, mode: int = 0o100644,
               crc: bool = False) -> bytes:
    nb = name.encode() + b"\x00"
    hdr = (b"070702" if crc else b"070701") + b"".join(
        f"{v:08x}".encode() for v in
        [1, mode, 0, 0, 1, 0, len(body), 0, 0, 0, 0, len(nb),
         sum(body) & 0xFFFFFFFF if crc else 0])
    out = hdr + nb
    out += b"\x00" * ((-len(out)) % 4)
    out += body
    out += b"\x00" * ((-len(out)) % 4)
    return out


def _cpio_odc(name: str, body: bytes, mode: int = 0o100644) -> bytes:
    nb = name.encode() + b"\x00"
    return (b"070707" + b"0" * 12 + f"{mode:06o}".encode() + b"0" * 24
            + b"0" * 11 + f"{len(nb):06o}".encode()
            + f"{len(body):011o}".encode() + nb + body)


def build_archive(doc_id: int) -> bytes:
    """Unix ar / cpio corpus (extract_ar_cpio_text oracle; r5 VERDICT
    item 6 — Tika 1.20 routes both via commons-compress, reference
    build.gradle -> tika-parsers:1.20). Even ids -> ar (ids % 6 == 0
    additionally exercise the GNU "//" long-name table, % 6 == 2 the BSD
    "#1/N" inline name); odd ids -> cpio (ids % 4 == 1 newc — % 8 == 5
    as the 070702 crc variant — and % 4 == 3 portable-ASCII odc). Every
    variant holds one .txt and one .html member, so the extracted text
    is a pure function of doc_id % 2.
    """
    if doc_id % 2 == 0:
        note = f"Ar note {doc_id} alpha.\n".encode()
        page = (f"<html><body><p>Ar page {doc_id} beta.</p></body></html>"
                .encode())
        if doc_id % 6 == 0:
            long_name = f"very-long-archive-note-{doc_id}.txt"
            table = (long_name + "/\n").encode()
            out = (b"!<arch>\n" + _ar_member("//", table)
                   + _ar_member("/0", note))
        elif doc_id % 6 == 2:
            name = f"bsd-note-{doc_id}.txt".encode()
            body = name + note
            hdr = (f"#1/{len(name)}".ljust(16) + "0".ljust(12)
                   + "0".ljust(6) + "0".ljust(6) + "100644".ljust(8)
                   + str(len(body)).ljust(10)).encode("ascii")
            out = (b"!<arch>\n" + hdr + b"\x60\x0a" + body
                   + (b"\n" if len(body) % 2 else b""))
        else:
            out = b"!<arch>\n" + _ar_member(f"n{doc_id}.txt/", note)
        return out + _ar_member("page.html/", page)
    note = f"Cpio note {doc_id} gamma.\n".encode()
    page = (f"<html><body><p>Cpio page {doc_id} delta.</p></body></html>"
            .encode())
    if doc_id % 4 == 1:
        crc = doc_id % 8 == 5
        return (_cpio_newc(f"n{doc_id}.txt", note, crc=crc)
                + _cpio_newc("sub/page.html", page, crc=crc)
                + _cpio_newc("sub", b"", mode=0o040755, crc=crc)
                + _cpio_newc("TRAILER!!!", b"", mode=0, crc=crc))
    return (_cpio_odc(f"n{doc_id}.txt", note)
            + _cpio_odc("sub/page.html", page)
            + _cpio_odc("sub", b"", mode=0o040755)
            + _cpio_odc("TRAILER!!!", b"", mode=0))


def build_arj(doc_id: int) -> bytes:
    """ARJ archive (extract_arj_text oracle). Tika 1.20 routes .arj via
    commons-compress ArjArchiveInputStream, which reads STORED entries
    only — this corpus holds a main header, one stored .txt, one stored
    .html, and (ids % 3 == 0) one method-1 compressed member the kernel
    must refuse with compression-refused metadata, exactly as the
    reference stack would. Kernel text:
    'Arj note {id} epsilon.\\nArj page {id} zeta.\\n'.
    """
    import struct as _s
    import zlib as _z

    def block(method: int, ftype: int, name: bytes, payload: bytes,
              osize: int | None = None, fcrc: int | None = None) -> bytes:
        hdr = (bytes([30, 11, 1, 0, 0, method, ftype, 0])
               + _s.pack("<IIII", 0x2B6A2B6A, len(payload),
                         len(payload) if osize is None else osize,
                         _z.crc32(payload) if fcrc is None else fcrc)
               + _s.pack("<HHH", 0, 0o644, 0)
               + name + b"\x00" + b"\x00")
        return (b"\x60\xea" + _s.pack("<H", len(hdr)) + hdr
                + _s.pack("<I", _z.crc32(hdr)) + _s.pack("<H", 0)
                + payload)

    note = f"Arj note {doc_id} epsilon.\n".encode()
    page = (f"<html><body><p>Arj page {doc_id} zeta.</p></body></html>"
            .encode())
    out = (block(0, 2, f"synth{doc_id}.arj".encode(), b"")
           + block(0, 0, f"note{doc_id}.txt".encode(), note)
           + block(0, 0, b"page.html", page))
    if doc_id % 3 == 0:
        junk = bytes((doc_id * 37 + i) % 256 for i in range(24))
        out += block(1, 0, b"packed.bin", junk, osize=99, fcrc=0)
    return out + b"\x60\xea\x00\x00"


def _chm_encint(v: int) -> bytes:
    """Big-endian 7-bit ENCINT (ITSS directory integers)."""
    out = bytearray([v & 0x7F])
    v >>= 7
    while v:
        out.insert(0, 0x80 | (v & 0x7F))
        v >>= 7
    return bytes(out)


def build_chm(doc_id: int) -> bytes:
    """ITSF v3 CHM (extract_chm_text oracle; r5 VERDICT item 7 + the r6
    LZX decoder). One PMGL directory chunk; #SYSTEM carries the title
    (code 3) and generator (code 9); two HTML topics live in the
    UNCOMPRESSED content section 0; ids % 3 == 0 additionally carry a
    REAL MSCompressed (LZXC v2, window 0x10000, reset interval 2)
    section with two more HTML topics, compressed with the from-scratch
    encoder in kernels/lzx.py, plus ControlData/ResetTable/Content
    machinery streams — the kernel decodes them. Kernel text:
    'Chm topic {id} one.\\nChm topic {id} two.\\n' plus, for %3==0 ids,
    'Chm packed {id} alpha.\\nChm packed {id} beta.\\n'.
    """
    import struct as _s

    from .kernels.lzx import LzxEncoder

    title = f"Chm manual {doc_id}"
    system = (_s.pack("<I", 3)
              + _s.pack("<HH", 3, len(title) + 1) + title.encode() + b"\x00"
              + _s.pack("<HH", 9, 14) + b"synth-hhc 1.0\x00")
    t1 = (f"<html><body><p>Chm topic {doc_id} one.</p></body></html>"
          .encode())
    t2 = (f"<html><body><p>Chm topic {doc_id} two.</p></body></html>"
          .encode())
    # (name, section, body). Section-0 offsets are assigned in order.
    files = [("/#SYSTEM", 0, system),
             (f"/topic{doc_id}a.html", 0, t1),
             ("/topicb.html", 0, t2)]
    if doc_id % 3 == 0:
        pa = (f"<html><body><p>Chm packed {doc_id} alpha.</p></body></html>"
              .encode())
        pb = (f"<html><body><p>Chm packed {doc_id} beta.</p></body></html>"
              .encode())
        sec1_raw = pa + pb
        comp, offs = LzxEncoder().compress_stream(sec1_raw, reset_frames=2)
        control = (_s.pack("<I", 6) + b"LZXC"
                   + _s.pack("<IIIII", 2, 2, 2, 2, 0))
        reset_tbl = (_s.pack("<IIII", 2, len(offs), 8, 0x28)
                     + _s.pack("<QQQ", len(sec1_raw), len(comp), 0x8000)
                     + b"".join(_s.pack("<Q", o) for o in offs))
        files.append(("/zpackA.html", 1, pa))
        files.append(("/zpackB.html", 1, pb))
        files.append(("::DataSpace/Storage/MSCompressed/ControlData", 0,
                      control))
        files.append(("::DataSpace/Storage/MSCompressed/Transform/"
                      "{7FC28940-9D31-11D0-9B27-00A0C91E9C7C}/"
                      "InstanceData/ResetTable", 0, reset_tbl))
        files.append(("::DataSpace/Storage/MSCompressed/Content", 0,
                      comp))
    content = bytearray()
    dir_entries = bytearray()
    sec1_off = 0
    for name, sec, body in sorted(files, key=lambda f: f[0].lower()):
        nb = name.encode()
        if sec == 0:
            off = len(content)
            content += body
        else:
            off = sec1_off
            sec1_off += len(body)
        dir_entries += (_chm_encint(len(nb)) + nb + _chm_encint(sec)
                        + _chm_encint(off) + _chm_encint(len(body)))
    chunk_size = 0x1000
    free = chunk_size - 20 - len(dir_entries)
    pmgl = (b"PMGL" + _s.pack("<IIii", free, 0, -1, -1) + dir_entries
            + b"\x00" * (free - 2) + _s.pack("<H", len(files)))
    hs1 = (b"ITSP" + _s.pack("<III", 1, 0x54, 0x0A)
           + _s.pack("<IIIiII", chunk_size, 2, 1, -1, 0, 0)
           + _s.pack("<iI", -1, 1) + _s.pack("<I", 0x409)
           + b"\x00" * 16 + _s.pack("<Iiii", 0x54, -1, -1, -1))
    assert len(hs1) == 0x54
    hs0_off, hs1_off = 0x60, 0x78
    content_off = hs1_off + len(hs1) + chunk_size
    file_size = content_off + len(content)
    hs0 = _s.pack("<IIQII", 0x01FE, 0, file_size, 0, 0)
    hdr = (b"ITSF" + _s.pack("<III", 3, 0x60, 1)
           + _s.pack("<II", 0, 0x409) + b"\x00" * 32
           + _s.pack("<QQQQ", hs0_off, 0x18, hs1_off, len(hs1) + chunk_size)
           + _s.pack("<Q", content_off))
    assert len(hdr) == 0x60
    return bytes(hdr + hs0 + hs1 + pmgl + content)


def build_legacy_codec_txt(doc_id: int) -> bytes:
    """Unix compress (.Z) / LZMA_Alone wrapped text, alternating by
    parity (extract_legacy_codec_text oracle). Even ids: .Z — %3 == 0
    additionally gets a long body compressed with a forced CLEAR so the
    decoder's reset + group-alignment path runs in the driver gate (the
    encoder is CLI-validated against `uncompress` in pytest). Odd ids:
    stdlib LZMA_Alone (the pre-xz .lzma container)."""
    body = f"Legacy codec note {doc_id} body.\n".encode()
    if doc_id % 3 == 0:
        body += b"Grouped filler line for the clear path.\n" * 40
    if doc_id % 2 == 0:
        from .kernels.zcompress import compress_z

        return compress_z(body, clear_every=80 if doc_id % 3 == 0
                          else None)
    import lzma as _lzma

    return _lzma.compress(body, format=_lzma.FORMAT_ALONE)


def build_executable(doc_id: int) -> bytes:
    """Minimal valid executable headers (extract_executable_meta
    oracle), cycling the three families by doc_id % 3:
      0 -> ELF64 little x86_64 dynamic executable (linux OSABI)
      1 -> PE32+ x86_64 console binary, 3 sections, timestamp doc_id
      2 -> Mach-O 64 aarch64 executable (little-endian host)
    Header facts only — ExecutableParser parity, no code bytes.
    """
    import struct as _s

    v = doc_id % 3
    if v == 0:
        ident = b"\x7fELF" + bytes([2, 1, 1, 3]) + b"\x00" * 8
        hdr = ident + _s.pack("<HHIQQQIHHHHHH", 2, 62, 1, 0x401000, 64,
                              0, 0, 64, 56, 1, 64, 0, 0)
        return hdr
    if v == 1:
        e_lfanew = 0x40
        dos = b"MZ" + b"\x00" * 0x3A + _s.pack("<I", e_lfanew)
        coff = b"PE\x00\x00" + _s.pack("<HHIIIHH", 0x8664, 3,
                                       doc_id & 0xFFFFFFFF, 0, 0, 112,
                                       0x0022)
        opt = _s.pack("<H", 0x20B) + b"\x00" * 66 + _s.pack("<H", 3)
        opt += b"\x00" * (112 - len(opt))
        return dos + coff + opt
    hdr = b"\xcf\xfa\xed\xfe" + _s.pack("<iIIIII", 12 | 0x01000000, 0,
                                        2, 0, 0, 0)
    return hdr


def build_feed(doc_id: int) -> bytes:
    """RSS 2.0 / Atom / RSS 1.0 (RDF) feed cycling by doc_id % 3
    (extract_feed_text oracle). Two entries for rss/atom, one for rdf;
    entry titles/bodies are pure functions of doc_id."""
    v = doc_id % 3
    t = f"Feed {doc_id}"
    d = f"Feed {doc_id} description."
    a_t, a_b = f"Item {doc_id} alpha", f"Alpha body {doc_id}."
    b_t, b_b = f"Item {doc_id} beta", f"Beta body {doc_id}."
    if v == 0:
        return (f'<?xml version="1.0" encoding="utf-8"?>\n'
                f'<rss version="2.0"><channel><title>{t}</title>'
                f'<description>{d}</description>'
                f'<item><title>{a_t}</title>'
                f'<link>https://feeds.example.com/{doc_id}/a</link>'
                f'<description>{a_b}</description></item>'
                f'<item><title>{b_t}</title>'
                f'<link>https://feeds.example.com/{doc_id}/b</link>'
                f'<description>{b_b}</description></item>'
                f'</channel></rss>').encode()
    if v == 1:
        return (f'<?xml version="1.0"?>\n'
                f'<feed xmlns="http://www.w3.org/2005/Atom">'
                f'<title>{t}</title><subtitle>{d}</subtitle>'
                f'<entry><title>{a_t}</title>'
                f'<link rel="alternate" '
                f'href="https://feeds.example.com/{doc_id}/a"/>'
                f'<summary>{a_b}</summary></entry>'
                f'<entry><title>{b_t}</title>'
                f'<link href="https://feeds.example.com/{doc_id}/b"/>'
                f'<summary>{b_b}</summary></entry></feed>').encode()
    return (f'<?xml version="1.0"?>\n'
            f'<rdf:RDF xmlns:rdf='
            f'"http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            f'xmlns="http://purl.org/rss/1.0/">'
            f'<channel rdf:about="https://feeds.example.com/{doc_id}">'
            f'<title>{t}</title><description>{d}</description></channel>'
            f'<item rdf:about="https://feeds.example.com/{doc_id}/a">'
            f'<title>{a_t}</title>'
            f'<link>https://feeds.example.com/{doc_id}/a</link>'
            f'<description>{a_b}</description></item></rdf:RDF>').encode()


def build_dbf_table(doc_id: int) -> bytes:
    """dBASE III table (extract_dbf_text oracle): three rows per doc,
    the middle one DELETED when doc_id % 4 == 0 (the skip path must run
    in the gate). Values are pure functions of doc_id."""
    from .kernels.dbf import build_dbf

    fields = [("NAME", "C", 14), ("QTY", "N", 6), ("WHEN", "D", 8)]
    rows = [[f"Part {doc_id} a", str(doc_id % 90 + 1), "20260101"],
            [f"Part {doc_id} b", str(doc_id % 7 + 2), "20260102"],
            [f"Part {doc_id} c", str(doc_id % 11 + 3), "20260103"]]
    deleted = {1} if doc_id % 4 == 0 else None
    return build_dbf(fields, rows, deleted_rows=deleted)


def build_design_asset(doc_id: int) -> bytes:
    """TTF / OTF / PSD cycling by doc_id % 3 (extract_font_psd_meta
    oracle); every 9th doc wraps its font in a 2-member TTC so the
    collection path runs in the gate."""
    import struct as _s

    from .kernels.font import build_font, build_ttc

    v = doc_id % 3
    if v == 2:
        w, h = 100 + doc_id % 900, 50 + doc_id % 500
        return (b"8BPS" + _s.pack(">H", 1) + b"\x00" * 6
                + _s.pack(">HIIHH", 3, h, w, 8, 3) + b"\x00" * 8)
    names = {1: f"Font {doc_id}", 2: "Regular",
             4: f"Font {doc_id} Full", 6: f"Font-{doc_id}"}
    f = build_font(names, n_glyphs=doc_id % 500 + 10,
                   flavor=b"OTTO" if v == 1 else b"\x00\x01\x00\x00")
    if doc_id % 9 == 0:
        sibling = build_font({1: "Sibling", 4: "Sibling Full"})
        return build_ttc([f, sibling])
    return f


def build_midi_song(doc_id: int) -> bytes:
    """Two-track SMF (extract_midi_text oracle): a named instrument
    track with real channel events (incl. running status) and a vocal
    track whose lyric arrives sliced per note, karaoke-style."""
    from .kernels.midi import build_midi

    lyric = f"Midi lyric {doc_id} line."
    cut = 4 + doc_id % 5
    return build_midi([
        {"name": f"Melody {doc_id}", "notes": doc_id % 8 + 1,
         "copyright": "(c) synth corpus" if doc_id % 6 == 0 else None},
        {"name": f"Words {doc_id}",
         "lyrics": [lyric[:cut], lyric[cut:]], "notes": 2},
    ])


def build_mat_file(doc_id: int) -> bytes:
    """MATLAB 5.0 MAT-file (extract_mat_meta oracle): a scalar, a 1xN
    string and a matrix per doc; the string rides a miCOMPRESSED
    element (builder wraps every second variable)."""
    from .kernels.matfile import build_mat

    return build_mat([
        (f"alpha_{doc_id}", float(doc_id % 97)),
        (f"label_{doc_id}", f"Sensor run {doc_id} complete."),
        (f"grid_{doc_id}", [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]]),
    ], header_note=f"doc {doc_id}")


def build_modern_codec_txt(doc_id: int) -> bytes:
    """Framed-snappy / zlib-deflate wrapped text, alternating by parity
    (extract_snappy_deflate_text oracle). Even ids: snappy framing —
    %3 == 0 uses uncompressed chunks, the rest compressed chunks
    (greedy copy-2 matcher); odd ids: RFC 1950 zlib."""
    body = f"Modern codec note {doc_id} body.\n".encode()
    if doc_id % 3 == 0:
        body += b"Chunky filler line repeating itself. " * 30
    if doc_id % 2 == 0:
        from .kernels.snappy import compress_framed

        return compress_framed(body, chunk_size=256,
                               uncompressed_chunks=doc_id % 3 == 0)
    import zlib as _zlib

    return _zlib.compress(body, 6)


def build_sitemap(doc_id: int) -> bytes:
    """sitemaps.org document (extract_sitemap_urls oracle): %4 == 0
    docs are a 2-entry sitemapindex, the rest 3-URL urlsets with a
    lastmod on the first entry only; %2 == 1 docs arrive gzip-wrapped
    (the common wild form)."""
    if doc_id % 4 == 0:
        body = (f'<?xml version="1.0" encoding="UTF-8"?>\n'
                f'<sitemapindex '
                f'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                f'<sitemap><loc>https://site{doc_id}.example.com/s1.xml'
                f'</loc></sitemap>'
                f'<sitemap><loc>https://site{doc_id}.example.com/s2.xml'
                f'</loc></sitemap></sitemapindex>').encode()
    else:
        urls = "".join(
            f'<url><loc>https://site{doc_id}.example.com/p/{k}</loc>'
            + (f'<lastmod>2026-0{doc_id % 9 + 1}-15</lastmod>'
               if k == 0 else '')
            + '</url>' for k in range(3))
        body = (f'<?xml version="1.0" encoding="UTF-8"?>\n'
                f'<urlset '
                f'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                f'{urls}</urlset>').encode()
    if doc_id % 2 == 1:
        import gzip as _gzip

        return _gzip.compress(body, 6, mtime=0)
    return body


def build_jsonld_page(doc_id: int) -> bytes:
    """HTML page with schema.org JSON-LD (text_jsonld oracle): an
    Article block on every doc (author as a nested Person), plus an
    @graph Organization block on %3 == 0 docs and a deliberately
    BROKEN block on %5 == 0 docs (the bad-block counter must move)."""
    art = ('{"@context":"https://schema.org","@type":"Article",'
           f'"headline":"Post {doc_id} headline",'
           f'"datePublished":"2026-0{doc_id % 9 + 1}-02",'
           f'"author":{{"@type":"Person","name":"Writer {doc_id % 17}"}}}}')
    blocks = [f'<script type="application/ld+json">{art}</script>']
    if doc_id % 3 == 0:
        org = ('{"@graph":[{"@type":"Organization",'
               f'"name":"Org {doc_id}",'
               f'"url":"https://org{doc_id}.example.com"}}]}}')
        blocks.append(f"<script type='application/ld+json'>{org}</script>")
    if doc_id % 5 == 0:
        blocks.append('<script type="application/ld+json">{broken'
                      '</script>')
    body = "".join(blocks)
    return (f"<html><head><title>Page {doc_id}</title>{body}</head>"
            f"<body><p>Visible text {doc_id}.</p></body></html>").encode()


def build_iwork(doc_id: int) -> bytes:
    """iWork '09 package (extract_iwork_text oracle) cycling by
    doc_id % 3: Pages (sl:document, two body paragraphs, gz index on
    %2 == 1), Numbers (ls:document, two ct cells), Keynote
    (key:presentation, one slide paragraph, index.apxl)."""
    import gzip as _gzip
    import io as _io
    import zipfile as _zf

    v = doc_id % 3
    if v == 0:
        root, idx = "sl:document", "index.xml"
        body = (f'<sf:text-body><sf:p>Pages body {doc_id} one.</sf:p>'
                f'<sf:p>Pages <sf:span>body {doc_id}</sf:span> two.'
                f'</sf:p></sf:text-body>')
    elif v == 1:
        root, idx = "ls:document", "index.xml"
        body = (f'<sf:ct sfa:s="Cell {doc_id} alpha"/>'
                f'<sf:ct sfa:s="Cell {doc_id} beta"/>')
    else:
        root, idx = "key:presentation", "index.apxl"
        body = (f'<key:slide><sf:text-body><sf:p>Slide {doc_id} title.'
                f'</sf:p></sf:text-body></key:slide>')
    xml = (f'<?xml version="1.0"?><{root} '
           f'xmlns:sf="http://developer.apple.com/namespaces/sf" '
           f'xmlns:sfa="http://developer.apple.com/namespaces/sfa">'
           f'{body}</{root.split(" ")[0]}>').encode()
    gz = v == 0 and doc_id % 2 == 1
    members = {
        "buildVersionHistory.plist":
            b"<plist><array><string>synth</string></array></plist>",
        idx + (".gz" if gz else ""):
            _gzip.compress(xml, 6, mtime=0) if gz else xml,
        "QuickLook/Thumbnail.jpg": b"\xff\xd8\xff\xdb",
    }
    buf = _io.BytesIO()
    with _zf.ZipFile(buf, "w") as z:
        for name, data in members.items():
            # fixed member timestamps: the same doc_id gives the same bytes
            z.writestr(_zf.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), data,
                       _zf.ZIP_DEFLATED)
    return buf.getvalue()


def build_media_container(doc_id: int) -> bytes:
    """WebM (even ids: VP9/VP8 video + Opus audio, Matroska doctype on
    %4 == 2) or AVI (odd ids: mjpg video, audio on %3 != 0) —
    media_container_meta oracle."""
    from .kernels.video import build_avi, build_webm

    if doc_id % 2 == 0:
        doctype = "matroska" if doc_id % 4 == 2 else "webm"
        vcodec = "V_VP8" if doc_id % 3 == 0 else "V_VP9"
        return build_webm(doctype,
                          (vcodec, 320 + doc_id % 64 * 16,
                           240 + doc_id % 48 * 16),
                          ("A_OPUS", 48000, 2),
                          duration_ms=1000 + doc_id % 600 * 100)
    return build_avi(160 + doc_id % 32 * 8, 120 + doc_id % 24 * 8,
                     100 + doc_id % 400, 10 + doc_id % 4 * 5,
                     with_audio=doc_id % 3 != 0)


def build_robots(doc_id: int) -> bytes:
    """robots.txt (web_robots_rules oracle): a '*' group with
    doc_id % 5 + 1 disallows (+ crawl-delay on %3 == 0), a named-bot
    group, a global sitemap line, and a disallow-all variant on
    %7 == 0."""
    lines = [f"# synth robots {doc_id}", "User-agent: *"]
    if doc_id % 7 == 0:
        lines.append("Disallow: /")
    else:
        lines += [f"Disallow: /private/{k}/" for k in range(doc_id % 5 + 1)]
        lines.append("Allow: /private/0/public/")
    if doc_id % 3 == 0:
        lines.append(f"Crawl-delay: {doc_id % 9 + 1}")
    lines += ["", "User-agent: examplebot",
              "Disallow: /no-example/",
              f"Sitemap: https://site{doc_id}.example.com/sitemap.xml"]
    return "\n".join(lines).encode()

def build_cab_file(doc_id: int) -> bytes:
    """Microsoft Cabinet (extract_cab_text oracle): a stored .txt, an
    .html member, and (ids % 4 == 0) an extra .txt in a deep path.
    Compression cycles MSZIP / LZX / NONE by id % 3 and ids % 5 == 0
    pack one folder per member — both invisible to the oracle (the
    decoded text is codec-independent), so the single SQL covers every
    codec and folder layout. Kernel text:
    'Cab note {id} alpha.\\nCab page {id} beta.\\n' (+ extra)."""
    from .kernels.cab import build_cab

    members = [
        (f"note{doc_id}.txt", f"Cab note {doc_id} alpha.\n".encode()),
        ("page.html",
         (f"<html><body><p>Cab page {doc_id} beta.</p></body></html>"
          ).encode()),
    ]
    if doc_id % 4 == 0:
        members.append(
            ("deep/extra.txt", f"Cab extra {doc_id} gamma.\n".encode()))
    comp = ("mszip", "lzx", "none")[doc_id % 3]
    return build_cab(members, compression=comp,
                     one_folder_per_member=(doc_id % 5 == 0))


def build_oldxls(doc_id: int) -> bytes:
    """Pre-BIFF8 Excel (extract_oldxls_text oracle): versions cycle by
    id % 4 — BIFF2/3/4 as RAW streams (no OLE2), BIFF5 as an OLE2
    ``Book`` stream with a BOUNDSHEET-named sheet. Same cell content
    through each era's own record ids (LABEL/NUMBER/INTEGER vs RK vs
    RSTRING/MULRK), so one oracle pins all four record families.
    Kernel text: '\\tOld {id} alpha\\t{n}\\n\\t{TRUE|FALSE}\\n\\n\\n\\n'
    (+ 'Old5\\n' heading for BIFF5)."""
    import struct as _s

    def rec(op: int, body: bytes) -> bytes:
        return _s.pack("<HH", op, len(body)) + body

    label = f"Old {doc_id} alpha".encode("cp1252")
    n = 5 + doc_id % 90
    bval = 1 if doc_id % 2 == 0 else 0
    v = doc_id % 4
    if v == 0:  # BIFF2: 3-byte cell attributes, 8-bit label length
        out = rec(0x0009, _s.pack("<HH", 0, 0x0010))
        out += rec(0x0004, _s.pack("<HH", 0, 0) + b"\x00\x00\x00"
                   + bytes([len(label)]) + label)
        out += rec(0x0003, _s.pack("<HH", 0, 1) + b"\x00\x00\x00"
                   + _s.pack("<d", float(n)))
        out += rec(0x0005, _s.pack("<HH", 1, 0) + b"\x00\x00\x00"
                   + bytes([bval, 0]))
        return out + rec(0x000A, b"")
    if v in (1, 2):  # BIFF3 (NUMBER) / BIFF4 (RK)
        out = rec(0x0209 if v == 1 else 0x0409,
                  _s.pack("<HHH", 0, 0x0010, 0))
        out += rec(0x0204, _s.pack("<HHH", 0, 0, 0)
                   + _s.pack("<H", len(label)) + label)
        if v == 1:
            out += rec(0x0203, _s.pack("<HHH", 0, 1, 0)
                       + _s.pack("<d", float(n)))
        else:
            out += rec(0x027E, _s.pack("<HHHI", 0, 1, 0, (n << 2) | 2))
        out += rec(0x0205, _s.pack("<HHHBB", 1, 0, 0, bval, 0))
        return out + rec(0x000A, b"")
    # BIFF5: OLE2 Book stream, RSTRING + single-cell MULRK + BOOLERR
    sheet = rec(0x0809, _s.pack("<HH", 0x0500, 0x0010))
    sheet += rec(0x00D6, _s.pack("<HHH", 0, 0, 0)
                 + _s.pack("<H", len(label)) + label)
    sheet += rec(0x00BD, _s.pack("<HH", 0, 1)
                 + _s.pack("<HI", 0, (n << 2) | 2) + _s.pack("<H", 1))
    sheet += rec(0x0205, _s.pack("<HHHBB", 1, 0, 0, bval, 0))
    sheet += rec(0x000A, b"")
    name = b"Old5"
    glob_hdr = rec(0x0809, _s.pack("<HH", 0x0500, 0x0005))
    bs = lambda off: rec(0x0085, _s.pack("<IH", off, 0)
                         + bytes([len(name)]) + name)
    globs = glob_hdr + bs(0) + rec(0x000A, b"")
    globs = glob_hdr + bs(len(globs)) + rec(0x000A, b"")
    return _ole2_file({"Book": globs + sheet})


def build_metafile(doc_id: int) -> bytes:
    """Windows metafile corpus (extract_metafile_text oracle): kind
    cycles by id % 4 — placeable-WMF EXTTEXTOUT, bare-WMF TEXTOUT,
    EMF EXTTEXTOUTW, EMF SMALLTEXTOUT — so one oracle pins every text
    record family. Kernel text:
    'Meta line one {id}.\\nMeta line two {id}.\\n'."""
    from .kernels.metafile import build_emf, build_wmf

    texts = [f"Meta line one {doc_id}.", f"Meta line two {doc_id}."]
    kind = doc_id % 4
    if kind == 0:
        return build_wmf(texts, placeable=True, extended=True)
    if kind == 1:
        return build_wmf(texts, placeable=False, extended=False)
    if kind == 2:
        return build_emf(texts, wide=True)
    return build_emf(texts, small=True)


def build_xps_doc(doc_id: int) -> bytes:
    """XPS corpus (extract_xps_text oracle): 1 + id % 3 pages, two
    Glyphs runs on the first page, one on each later page. Kernel
    text: runs joined by newline within a page, blank line between
    pages, trailing newline."""
    from .kernels.xps import build_xps

    pages = [[f"Xps heading {doc_id}", f"Xps body {doc_id} page 1."]]
    for p in range(2, 2 + doc_id % 3):
        pages.append([f"Xps body {doc_id} page {p}."])
    return build_xps(pages)


def build_woff_doc(doc_id: int) -> bytes:
    """WOFF corpus (extract_woff_meta oracle): WOFF1 wrapping the synth
    sfnt name/maxp tables (zlib-compressed for even ids, stored for
    odd); every 5th doc a WOFF2 stub (flavor-only refusal row)."""
    from .kernels.font import build_woff

    if doc_id % 5 == 4:
        flavor = b"OTTO" if doc_id % 2 == 0 else b"\x00\x01\x00\x00"
        return b"wOF2" + flavor + bytes(44)
    return build_woff(
        {1: f"Synth Family {doc_id % 7}",
         4: f"Synth Font {doc_id}"},
        n_glyphs=10 + doc_id % 50,
        compress_name=(doc_id % 2 == 0))


def build_torrent_doc(doc_id: int) -> bytes:
    """Torrent corpus (extract_torrent_meta oracle): even ids single-
    file, odd ids multi-file with 1 + id % 3 entries."""
    from .kernels.torrent import build_torrent

    announce = f"http://tracker{doc_id % 5}.example.com/announce"
    if doc_id % 2 == 0:
        return build_torrent(f"pack{doc_id}.iso", announce,
                             length=1000 + doc_id)
    files = [(f"dir{doc_id}/part{k}.bin", 100 * (k + 1) + doc_id)
             for k in range(1 + doc_id % 3)]
    return build_torrent(f"bundle{doc_id}", announce, files=files)


def build_orc_doc(doc_id: int) -> bytes:
    """ORC corpus (extract_orc_meta oracle): 3 columns (kind of the
    third cycles long/string/double/int by id % 4), 3 + id % 6 rows,
    1 + id % 3 stripes; footer codec cycles none/zlib/snappy."""
    from .kernels.orc import build_orc

    third = [(4, "long"), (7, "string"), (6, "double"), (3, "int")]
    return build_orc(
        [("id", 4), ("name", 7), (f"v{doc_id % 4}", third[doc_id % 4][0])],
        n_rows=3 + doc_id % 6,
        n_stripes=1 + doc_id % 3,
        compression=doc_id % 3)


def build_parquet_doc(doc_id: int) -> bytes:
    """Parquet corpus (extract_parquet_meta oracle): a 3-column file
    (id int64, name utf8, v{id%4} double) with 2 + id % 5 rows,
    written by pyarrow (the repo's parquet engine); only footer facts
    are oracle-pinned, so writer bytes need not be reproducible."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 2 + doc_id % 5
    t = pa.table({
        "id": pa.array(range(n), pa.int64()),
        "name": pa.array([f"r{k}" for k in range(n)], pa.string()),
        f"v{doc_id % 4}": pa.array([float(k) for k in range(n)],
                                   pa.float64()),
    })
    buf = io.BytesIO()
    pq.write_table(t, buf)
    return buf.getvalue()


def build_avro_doc(doc_id: int) -> bytes:
    """Avro container corpus (extract_avro_meta oracle): a two-field
    record schema named Event{id%5} and 1 + id%4 (long, string) rows,
    two per block."""
    from .kernels.avro import build_avro

    schema = {"type": "record", "name": f"Event{doc_id % 5}",
              "fields": [{"name": "id", "type": "long"},
                         {"name": "msg",
                          "type": ["null", "string"]}]}
    rows = [(doc_id + k, f"m{k}") for k in range(1 + doc_id % 4)]
    return build_avro(schema, rows)


def build_applefile_doc(doc_id: int) -> bytes:
    """AppleSingle/AppleDouble corpus (extract_applefile_text oracle):
    even ids AppleSingle wrapping a plain-text data fork (re-dispatched
    under the real name), odd ids AppleDouble resource-fork halves
    (metadata row, empty text)."""
    from .kernels.applefile import build_applefile

    if doc_id % 2 == 0:
        body = f"Apple fork text {doc_id}.".encode()
        return build_applefile("applesingle",
                               real_name=f"note{doc_id}.txt",
                               data_fork=body)
    return build_applefile("appledouble",
                           real_name=f"note{doc_id}.txt",
                           resource_fork=b"\x00" * (16 + doc_id % 17))


def build_bplist_doc(doc_id: int) -> bytes:
    """Binary plist corpus (extract_bplist_text oracle): a dict with a
    title, an int (no text), a tag array, and for ids % 2 == 0 a
    nested dict. Kernel text = string leaves in walk order (dict
    entries in insertion order), one per line."""
    from .kernels.bplist import build_bplist

    top = {
        "Title": f"Plist doc {doc_id}",
        "Count": doc_id % 100,
        "Tags": [f"tag{doc_id % 5}", f"tag{doc_id % 3}"],
    }
    if doc_id % 2 == 0:
        top["Meta"] = {"Author": f"Author {doc_id % 7}"}
    return build_bplist(top)


def build_javaclass(doc_id: int) -> bytes:
    """Java class corpus (extract_class_meta oracle): deterministic
    package/class/super/interface/field/method identifiers, major
    version cycling 49-60 (Java 5-16). Kernel text is the javap-style
    listing in kernels/javaclass.py's contract."""
    from .kernels.javaclass import build_class

    ifaces = (["java/io/Serializable"] if doc_id % 3 == 0 else
              ["java/io/Serializable", "java/lang/Runnable"]
              if doc_id % 3 == 1 else [])
    return build_class(
        f"com/synth/p{doc_id % 7}/Widget{doc_id}",
        "java/lang/Object" if doc_id % 2 == 0 else "java/lang/Thread",
        ifaces,
        [("count", "I"), (f"tag{doc_id % 5}", "Ljava/lang/String;")],
        [("<init>", "()V"), (f"run{doc_id % 4}", "(I)V")],
        major=49 + doc_id % 12)


def build_flv_file(doc_id: int) -> bytes:
    """FLV container (extract_flv_meta oracle): onMetaData AMF0 ECMA
    array with binary-exact rational scalars (quarter-second durations,
    integral dims/rates — invariant 10), audio present for ids % 3 != 0,
    and a few dummy a/v tags with correct PreviousTagSize chaining."""
    from .kernels.flv import build_flv

    has_audio = doc_id % 3 != 0
    meta: dict[str, object] = {
        "duration": (30 + doc_id % 90) + (doc_id % 4) * 0.25,
        "width": float(320 + (doc_id % 8) * 80),
        "height": float(240 + (doc_id % 6) * 60),
        "framerate": float((24, 25, 30, 50)[doc_id % 4]),
        "videocodecid": float((2, 4, 7)[doc_id % 3]),
        "encoder": f"synthflv {doc_id}",
        "canSeekToEnd": doc_id % 2 == 0,
    }
    if has_audio:
        meta["audiocodecid"] = float((2, 10)[doc_id % 2])
    return build_flv(meta, has_audio=has_audio, has_video=True,
                     n_av_tags=1 + doc_id % 3)


def build_netcdf_file(doc_id: int) -> bytes:
    """NetCDF classic store (extract_netcdf_meta oracle): CDF-1 for
    even ids / CDF-2 for odd, record dim + fixed dim, three global
    attrs, a char and a float variable — data written at the declared
    begin offsets so the file is fully valid."""
    from .kernels.netcdf import build_netcdf

    return build_netcdf(doc_id)

def _propset_stream(fmtid: bytes, props: dict[int, object]) -> bytes:
    """[MS-OLEPS] PropertySetStream writer (one section): VT_I2
    codepage 1252 first, then VT_LPSTR strings / VT_I4 ints / VT_BOOL
    by Python type. Shared by the VSD corpus (and any future synth
    needing SummaryInformation streams)."""
    import struct as _s

    entries: list[tuple[int, bytes]] = [(1, _s.pack("<IhH", 2, 1252, 0))]
    for pid, v in sorted(props.items()):
        if isinstance(v, bool):
            entries.append((pid, _s.pack("<IhH", 11, -1 if v else 0, 0)))
        elif isinstance(v, int):
            entries.append((pid, _s.pack("<Ii", 3, v)))
        else:
            b = str(v).encode("cp1252") + b"\x00"
            enc = _s.pack("<II", 0x1E, len(b)) + b
            enc += b"\x00" * ((-len(enc)) % 4)
            entries.append((pid, enc))
    head = 8 + 8 * len(entries)
    offs, blob = [], b""
    for pid, enc in entries:
        offs.append((pid, head + len(blob)))
        blob += enc
    section = (_s.pack("<II", head + len(blob), len(entries))
               + b"".join(_s.pack("<II", p, o) for p, o in offs) + blob)
    return (_s.pack("<HHI", 0xFFFE, 0, 0) + b"\x00" * 16
            + _s.pack("<I", 1) + fmtid + _s.pack("<I", 48) + section)


def build_vsd(doc_id: int) -> bytes:
    """Visio binary drawing (extract_vsd_meta oracle): VisioDocument
    stream led by the public 'Visio (TM) Drawing' signature + a
    deterministic pseudo-compressed body (64 + doc_id%4 * 32 bytes the
    kernel must NOT attempt to decode), plus real SummaryInformation /
    DocumentSummaryInformation property sets."""
    import hashlib as _h

    from .kernels.olemeta import _FMTID_DOCSUMMARY, _FMTID_SUMMARY

    n_junk = 64 + (doc_id % 4) * 32
    junk = b"".join(
        _h.blake2b(f"vsd{doc_id}:{k}".encode(), digest_size=32).digest()
        for k in range((n_junk + 31) // 32))[:n_junk]
    vd = b"Visio (TM) Drawing\r\n" + junk
    summary = _propset_stream(_FMTID_SUMMARY, {
        2: f"Diagram {doc_id}",          # title
        3: "Network layout",             # subject
        4: f"Drafter {doc_id % 7}",      # author
        18: "Microsoft Visio",           # app_name
    })
    docsum = _propset_stream(_FMTID_DOCSUMMARY, {
        15: "Example Corp",              # company
        14: f"Manager {doc_id % 3}",     # manager
    })
    return _ole2_file({
        "VisioDocument": vd,
        "\x05SummaryInformation": summary,
        "\x05DocumentSummaryInformation": docsum,
    })


def build_hdf5_file(doc_id: int) -> bytes:
    """extract_hdf5_meta corpus: delegates to the kernel-module builder
    (one source of on-disk-layout truth, the build_netcdf pattern)."""
    from .kernels.hdf5 import build_hdf5

    return build_hdf5(doc_id)


def build_wpd(doc_id: int) -> bytes:
    """WordPerfect file (extract_wpd_meta oracle): the public 16-byte
    WPFF prefix + deterministic junk standing in for the function-code
    body the kernel must NOT attempt to decode. doc_id % 10 == 0 gets a
    nonzero encryption key (refusal path); others alternate WP5.x
    (major 0, doc_id % 3 == 0) and WP6+ (major 2)."""
    import hashlib as _h
    import struct as _s

    enc_key = (1 + doc_id % 7) if doc_id % 10 == 0 else 0
    major = 0 if doc_id % 3 == 0 else 2
    minor = doc_id % 4
    doc_ptr = 16 + (doc_id % 5) * 4
    body_len = (doc_ptr - 16) + 40
    junk = _h.blake2b(f"wpd{doc_id}".encode(),
                      digest_size=64).digest()[:body_len]
    return (b"\xffWPC"
            + _s.pack("<IBBBBHH", doc_ptr, 1, 0x0A, major, minor,
                      enc_key, 16)
            + junk)


def build_deb(doc_id: int) -> bytes:
    """Debian package (extract_deb_meta oracle): common-format ar with
    debian-binary, a gzip control.tar carrying deb-control(5) fields
    (gzip mtime pinned to 0 for determinism), and an opaque data.tar.gz
    the kernel must list but never decompress."""
    import gzip as _gz
    import io as _io

    control = (f"Package: pkg{doc_id % 20}\n"
               f"Version: 1.{doc_id % 5}.{doc_id % 3}\n"
               f"Architecture: {'amd64' if doc_id % 2 == 0 else 'arm64'}\n"
               f"Maintainer: Synth <synth@example.com>\n"
               f"Installed-Size: {10 + doc_id % 50}\n"
               f"Description: Synthetic package {doc_id}\n"
               f" Long description line for {doc_id}.\n"
               f" .\n"
               f" Final line {doc_id % 7}.\n").encode()
    ctar = _tar_entry("./control", control) + b"\x00" * 1024

    def gz(payload: bytes) -> bytes:
        buf = _io.BytesIO()
        with _gz.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(payload)
        return buf.getvalue()

    dtar = _tar_entry("./usr/share/doc/x", b"payload\n") + b"\x00" * 1024
    return (b"!<arch>\n"
            + _ar_member("debian-binary", b"2.0\n")
            + _ar_member("control.tar.gz", gz(ctar))
            + _ar_member("data.tar.gz", gz(dtar)))


def build_rpm(doc_id: int) -> bytes:
    """RPM package (extract_rpm_meta oracle): 96-byte lead + signature
    header + main header with string/I18N/int32 tags; no payload.
    doc_id % 5 == 0 marks a source package (lead type 1)."""
    import struct as _s

    def header(entries: list[tuple[int, int, bytes, int]]) -> bytes:
        # entries: (tag, type, raw store bytes, count); int32 values are
        # 4-aligned by construction order (ints first)
        store = b""
        idx = b""
        for tag, typ, raw, count in entries:
            off = len(store)
            idx += _s.pack(">IIII", tag, typ, off, count)
            store += raw
        return (b"\x8e\xad\xe8\x01" + b"\x00" * 4
                + _s.pack(">II", len(entries), len(store)) + idx + store)

    is_src = doc_id % 5 == 0
    name66 = f"pkg{doc_id}-1.0".encode().ljust(66, b"\x00")[:66]
    lead = (b"\xed\xab\xee\xdb" + bytes((3, 0))
            + _s.pack(">HH", 1 if is_src else 0, 1)
            + name66 + _s.pack(">HH", 1, 5) + b"\x00" * 16)
    sig = header([(1000, 4, _s.pack(">I", 4096 + doc_id), 1)])
    pad = (8 - (len(lead) + len(sig)) % 8) % 8
    st = lambda s: s.encode() + b"\x00"
    main = header([
        (1009, 4, _s.pack(">I", 10_000 + doc_id), 1),       # size (int32 first: aligned)
        (1000, 6, st(f"pkg{doc_id % 20}"), 1),              # name
        (1001, 6, st(f"2.{doc_id % 4}"), 1),                # version
        (1002, 6, st(f"{1 + doc_id % 3}.el9"), 1),          # release
        (1004, 9, st(f"Synthetic rpm {doc_id}"), 1),        # summary
        (1005, 9, st(f"Description body {doc_id % 11}."), 1),
        (1014, 6, st("MIT" if doc_id % 2 == 0 else "GPL-2.0"), 1),
        (1022, 6, st("x86_64" if doc_id % 2 == 0 else "aarch64"), 1),
    ])
    return lead + sig + b"\x00" * pad + main


def build_lnk(doc_id: int) -> bytes:
    """Windows shortcut (extract_lnk_meta oracle): [MS-SHLLNK] header +
    optional IDList (doc_id % 5 == 0) + optional LinkInfo with a local
    base path (doc_id % 4 == 0) + StringData; unicode when doc_id % 2
    == 0, ANSI otherwise; arguments present when doc_id % 3 == 0."""
    import struct as _s

    from sparktika.kernels.lnk import LNK_CLSID

    uni = doc_id % 2 == 0
    flags = 0x04 | 0x08 | 0x10  # name, relpath, workdir
    if uni:
        flags |= 0x80
    if doc_id % 3 == 0:
        flags |= 0x20
    if doc_id % 4 == 0:
        flags |= 0x02
    if doc_id % 5 == 0:
        flags |= 0x01
    hdr = (b"\x4c\x00\x00\x00" + LNK_CLSID
           + _s.pack("<II", flags, 0x20)          # flags, attrs
           + b"\x00" * 24                          # 3 FILETIMEs
           + _s.pack("<IiI", 1000 + doc_id, 0, 1)  # size, icon, show
           + _s.pack("<H", 0) + b"\x00" * 10)      # hotkey + reserved
    out = bytearray(hdr)
    if flags & 0x01:
        out += _s.pack("<H", 2) + b"\x00\x00"      # empty IDList
    if flags & 0x02:
        path = f"C:\\files\\doc{doc_id}.txt".encode("cp1252")
        # (LinkInfoSize, HeaderSize, Flags=VolumeIDAndLocalBasePath,
        #  VolumeIDOffset (0: no VolumeID in this synth), LocalBasePath-
        #  Offset, CommonNetworkRelativeLinkOffset, CommonPathSuffix-
        #  Offset) + path NUL + empty common suffix NUL
        li_size = 28 + len(path) + 1 + 1
        out += _s.pack("<7I", li_size, 28, 1, 0, 28, 0, 28 + len(path) + 1)
        out += path + b"\x00" + b"\x00"

    def sd(s: str) -> bytes:
        if uni:
            return _s.pack("<H", len(s)) + s.encode("utf-16-le")
        return _s.pack("<H", len(s)) + s.encode("cp1252")

    out += sd(f"Shortcut to doc {doc_id}")
    out += sd(f".\\docs\\doc{doc_id}.txt")
    out += sd("C:\\docs")
    if flags & 0x20:
        out += sd(f"--mode{doc_id % 3}")
    return bytes(out)


def build_abw_gpx(doc_id: int) -> bytes:
    """AbiWord / GPX (extract_abw_gpx oracle), rotating on doc_id % 2:
    .abw with a dc.title and 1 + doc_id % 3 paragraphs; .gpx with
    doc_id % 4 waypoints and a 2-point track."""
    if doc_id % 2 == 0:
        paras = "".join(f"<p>Abi para {doc_id} {j}.</p>"
                        for j in range(1 + doc_id % 3))
        return (f'<?xml version="1.0"?>'
                f'<abiword xmlns="http://www.abisource.com/awml.dtd">'
                f'<metadata><m key="dc.title">Abi {doc_id}</m>'
                f'<m key="dc.creator">synth</m></metadata>'
                f"<section>{paras}</section></abiword>").encode()
    wpts = "".join(
        f'<wpt lat="{j}.5" lon="2.5"><name>W{doc_id}_{j}</name></wpt>'
        for j in range(doc_id % 4))
    return (f'<?xml version="1.0"?>'
            f'<gpx version="1.1" creator="synth">'
            f"<metadata><name>Ride {doc_id}</name></metadata>{wpts}"
            f'<trk><name>Trk {doc_id}</name><trkseg>'
            f'<trkpt lat="1" lon="2"/><trkpt lat="1.1" lon="2.1"/>'
            f"</trkseg></trk></gpx>").encode()


def build_lha(doc_id: int) -> bytes:
    """LHA/LZH archive (extract_lha_text oracle): a stored (-lh0-) text
    member + a compressed (-lh5-) member the kernel lists but refuses +
    a directory entry; header level alternates 0/1 on doc_id % 2."""
    import hashlib as _h
    import struct as _s

    level = doc_id % 2

    def member(method: bytes, name: bytes, body: bytes) -> bytes:
        hdr = (method + _s.pack("<III", len(body), len(body), 0)
               + bytes((0x20, level, len(name))) + name
               + _s.pack("<H", 0))
        if level == 1:
            hdr += bytes((0x4D,)) + _s.pack("<H", 0)  # os 'M', no ext
        return bytes((len(hdr), sum(hdr) & 0xFF)) + hdr + body

    text = f"lha text {doc_id}.\n".encode()
    blob = _h.blake2b(f"lha{doc_id}".encode(), digest_size=48).digest()
    return (member(b"-lhd-", b"DOCS", b"")
            + member(b"-lh0-", b"A.TXT", text)
            + member(b"-lh5-", b"B.BIN", blob)
            + b"\x00")


def build_iso(doc_id: int) -> bytes:
    """ISO 9660 image (extract_iso_text oracle): PVD + terminator at
    sectors 16/17, root directory at 18 with a text file, an HTML file,
    and a subdirectory holding another text file."""
    import struct as _s

    S = 2048

    def rec(name: bytes, extent: int, size: int, flags: int) -> bytes:
        ln = 33 + len(name)
        ln += ln & 1
        r = bytearray(ln)
        r[0] = ln
        r[2:6] = _s.pack("<I", extent)
        r[6:10] = _s.pack(">I", extent)
        r[10:14] = _s.pack("<I", size)
        r[14:18] = _s.pack(">I", size)
        r[25] = flags
        r[28:30] = _s.pack("<H", 1)
        r[30:32] = _s.pack(">H", 1)
        r[32] = len(name)
        r[33:33 + len(name)] = name
        return bytes(r)

    readme = f"iso text {doc_id} line.\n".encode()
    page = (f"<html><body><p>iso page {doc_id}</p></body></html>"
            ).encode()
    note = f"note {doc_id % 7}\n".encode()
    # sectors: 16 PVD, 17 terminator, 18 root dir, 19 subdir,
    #          20 README.TXT, 21 PAGE.HTM, 22 NOTE.TXT
    rootdir = (rec(b"\x00", 18, S, 2) + rec(b"\x01", 18, S, 2)
               + rec(b"DOCS", 19, S, 2)
               + rec(b"PAGE.HTM;1", 21, len(page), 0)
               + rec(b"README.TXT;1", 20, len(readme), 0))
    subdir = (rec(b"\x00", 19, S, 2) + rec(b"\x01", 18, S, 2)
              + rec(b"NOTE.TXT;1", 22, len(note), 0))
    pvd = bytearray(S)
    pvd[0] = 1
    pvd[1:6] = b"CD001"
    pvd[6] = 1
    vol = f"SYNTHVOL{doc_id}".encode().ljust(32)[:32]
    pvd[40:72] = vol
    pvd[156:156 + 34] = rec(b"\x00", 18, S, 2)
    term = bytearray(S)
    term[0] = 255
    term[1:6] = b"CD001"
    term[6] = 1

    def sect(b: bytes) -> bytes:
        return b + b"\x00" * (S - len(b) % S if len(b) % S else 0)

    return (b"\x00" * (16 * S) + bytes(pvd) + bytes(term)
            + sect(rootdir) + sect(subdir) + sect(readme) + sect(page)
            + sect(note))


def build_djvu_tga(doc_id: int) -> bytes:
    """DjVu / Targa (extract_djvu_tga_meta oracle), rotating on
    doc_id % 3: single-page DjVu (INFO dims/dpi), bundled DjVu (DIRM
    page count), TGA v2 (footer-gated dims)."""
    import struct as _s

    kind = doc_id % 3
    w = 64 * (1 + doc_id % 4)
    h = 48 * (1 + doc_id % 5)
    if kind == 0:  # single-page DjVu
        info = (_s.pack(">HH", w, h) + bytes((24, 0))
                + _s.pack("<H", 300) + bytes((22, 1)))
        inner = b"DJVU" + b"INFO" + _s.pack(">I", len(info)) + info
        return b"AT&T" + b"FORM" + _s.pack(">I", len(inner)) + inner
    if kind == 1:  # bundled DjVu
        nfiles = 2 + doc_id % 7
        dirm = bytes((0x81,)) + _s.pack(">H", nfiles) + b"\x00" * 8
        inner = b"DJVM" + b"DIRM" + _s.pack(">I", len(dirm)) + dirm
        return b"AT&T" + b"FORM" + _s.pack(">I", len(inner)) + inner
    # TGA v2: uncompressed truecolor header + footer
    hdr = bytes((0, 0, 2)) + b"\x00" * 9 + _s.pack("<HH", w, h) \
        + bytes((24, 0))
    footer = _s.pack("<II", 0, 0) + b"TRUEVISION-XFILE.\x00"
    return hdr + b"\x00" * 32 + footer


def build_tensor_artifact(doc_id: int) -> bytes:
    """Model/tensor artifacts (extract_tensor_meta oracle): .npy /
    SafeTensors / GGUF rotating on doc_id % 3; weight payloads are
    token zeros the kernel never reads."""
    import json as _j
    import struct as _s

    kind = doc_id % 3
    if kind == 0:  # NumPy NEP v1.0
        dtype = "<f4" if doc_id % 2 == 0 else "<i8"
        shape = (1 + doc_id % 5, 2 + doc_id % 7)
        hdr = ("{'descr': '%s', 'fortran_order': False, 'shape': %r, }"
               % (dtype, shape))
        pad = 64 - (10 + len(hdr) + 1) % 64
        hdr = hdr + " " * pad + "\n"
        return (b"\x93NUMPY\x01\x00" + _s.pack("<H", len(hdr))
                + hdr.encode() + b"\x00" * 16)
    if kind == 1:  # SafeTensors
        n = 1 + doc_id % 3
        dim = 8 + doc_id % 4
        hdr = {"__metadata__": {"name": f"model {doc_id}"}}
        off = 0
        for j in range(n):
            size = 4 * 4 * dim
            hdr[f"t{j}"] = {"dtype": "F32", "shape": [4, dim],
                            "data_offsets": [off, off + size]}
            off += size
        js = _j.dumps(hdr, sort_keys=True).encode()
        return _s.pack("<Q", len(js)) + js + b"\x00" * min(off, 64)
    # GGUF v3
    def gs(s: str) -> bytes:
        b = s.encode()
        return _s.pack("<Q", len(b)) + b

    kvs = (gs("general.architecture") + _s.pack("<I", 8)
           + gs("llama" if doc_id % 2 == 0 else "gpt2")
           + gs("general.name") + _s.pack("<I", 8)
           + gs(f"model {doc_id}")
           + gs("general.quantization_version") + _s.pack("<II", 4, 2)
           + gs("tokenizer.ggml.tokens") + _s.pack("<I", 9)
           + _s.pack("<IQ", 8, 3) + gs("<s>") + gs("</s>") + gs("tok"))
    return (b"GGUF" + _s.pack("<I", 3)
            + _s.pack("<QQ", doc_id % 9, 4) + kvs)


def build_ps(doc_id: int) -> bytes:
    """PostScript / EPS (extract_ps_meta oracle): DSC header comments;
    doc_id % 2 == 0 is EPSF, doc_id % 5 == 0 wraps in a DOS EPS binary
    preview header."""
    eps = " EPSF-3.0" if doc_id % 2 == 0 else ""
    ps = (f"%!PS-Adobe-3.0{eps}\n"
          f"%%Title: PS Doc {doc_id}\n"
          f"%%Creator: synth-writer\n"
          f"%%Pages: {1 + doc_id % 9}\n"
          f"%%BoundingBox: 0 0 {100 + doc_id % 500} {200 + doc_id % 300}\n"
          f"%%LanguageLevel: {1 + doc_id % 3}\n"
          f"%%EndComments\n"
          f"/Helvetica findfont 12 scalefont setfont\n"
          f"72 720 moveto (never extracted {doc_id}) show\nshowpage\n"
          ).encode()
    if doc_id % 5 == 0:
        import struct as _s

        hdr = (b"\xc5\xd0\xd3\xc6" + _s.pack("<II", 32, len(ps))
               + _s.pack("<IIII", 0, 0, 0, 0) + b"\x00" * 4)
        return hdr + ps
    return ps


def build_fb2(doc_id: int) -> bytes:
    """FictionBook 2 e-book (extract_fb2_text oracle): title-info
    metadata + 1 + doc_id % 3 body sections."""
    secs = "".join(
        f"<section><p>Sec {doc_id} part {j}.</p></section>"
        for j in range(doc_id % 3))
    return (f'<?xml version="1.0" encoding="utf-8"?>\n'
            f'<FictionBook xmlns="http://www.gribuser.ru/xml/'
            f'fictionbook/2.0">'
            f"<description><title-info>"
            f"<genre>{['sf', 'novel', 'prose'][doc_id % 3]}</genre>"
            f"<author><first-name>First{doc_id % 5}</first-name>"
            f"<last-name>Last{doc_id % 7}</last-name></author>"
            f"<book-title>Book {doc_id}</book-title>"
            f"<lang>{'en' if doc_id % 2 == 0 else 'ru'}</lang>"
            f"</title-info></description>"
            f"<body><section><p>Intro {doc_id}.</p></section>{secs}</body>"
            f"</FictionBook>").encode()


def build_fodt(doc_id: int) -> bytes:
    """Flat ODF text (extract_fodt_text oracle): office:document with
    office:mimetype, 1 + doc_id % 4 text:p paragraphs."""
    paras = "".join(f"<text:p>Fodt {doc_id} line {j}.</text:p>"
                    for j in range(1 + doc_id % 4))
    return (f'<?xml version="1.0" encoding="UTF-8"?>\n'
            f'<office:document xmlns:office="urn:oasis:names:tc:'
            f'opendocument:xmlns:office:1.0" xmlns:text="urn:oasis:'
            f'names:tc:opendocument:xmlns:text:1.0" office:mimetype='
            f'"application/vnd.oasis.opendocument.text">'
            f"<office:body><office:text>{paras}</office:text>"
            f"</office:body></office:document>").encode()


def build_simple_image(doc_id: int) -> bytes:
    """Netpbm P1-P6 / PCX (extract_pnm_pcx_dims oracle): header-only
    dims, width 32*(1+id%5) x height 24*(1+id%3), kind on doc_id % 7."""
    import struct as _s

    kind = doc_id % 7
    w = 32 * (1 + doc_id % 5)
    h = 24 * (1 + doc_id % 3)
    if kind < 6:
        magic = f"P{kind + 1}".encode()
        maxval = b"" if kind in (0, 3) else b"255\n"  # P1/P4 carry none
        body = b"0 1 0 1\n" if kind < 3 else b"\x00" * 8
        return magic + b"\n# synth\n" + f"{w} {h}\n".encode() + maxval + body
    return (bytes([0x0A, 5, 1, 8])
            + _s.pack("<4H", 0, 0, w - 1, h - 1)
            + _s.pack("<HH", 72, 72) + b"\x00" * 116)


def build_swf(doc_id: int) -> bytes:
    """SWF (extract_swf_meta oracle): FWS/CWS/ZWS rotating on
    doc_id % 3, exact-integer stage dims and frame rate (rate*256 is
    the raw 8.8 field, so rate is binary-exact)."""
    import struct as _s
    import zlib as _z

    kind = doc_id % 3
    version = 6 + doc_id % 10
    w = 100 * (1 + doc_id % 5)
    h = 50 * (1 + doc_id % 4)
    rate = 12 + doc_id % 5
    frames = 10 + doc_id % 100
    nbits = 16
    acc = nbits
    for v in (0, w * 20, 0, h * 20):
        acc = (acc << 16) | v
    acc <<= 3  # pad 69 bits to 9 bytes
    body = (acc.to_bytes(9, "big")
            + _s.pack("<HH", rate * 256, frames) + b"\x00" * 16)
    total = 8 + len(body)
    if kind == 0:
        return b"FWS" + bytes([version]) + _s.pack("<I", total) + body
    if kind == 1:
        return (b"CWS" + bytes([version]) + _s.pack("<I", total)
                + _z.compress(body, 9))
    import lzma as _l

    alone = _l.compress(body, format=_l.FORMAT_ALONE)
    stream = alone[13:]  # strip 13-byte ALONE header, keep raw LZMA1
    return (b"ZWS" + bytes([version]) + _s.pack("<I", total)
            + _s.pack("<I", len(stream)) + alone[:5] + stream)


def build_mhtml(doc_id: int) -> bytes:
    """RFC 2557 saved web page (extract_mhtml_text oracle): browser-style
    multipart/related with a quoted-printable HTML root part (pure ASCII,
    so QP decode is identity and the oracle stays exact) plus
    1 + doc_id % 3 resource parts (css + base64 images)."""
    import base64 as _b64
    import hashlib as _h

    sid = str(doc_id)
    bnd = f"----MultipartBoundary--{sid}----"
    loc = f"https://pages.example.com/p{sid}"
    html = (f"<html><head><title>Page {sid}</title></head>"
            f"<body><p>Saved page {sid} body.</p>"
            f"<p>Tokens {doc_id % 7}.</p></body></html>")
    parts = [
        f"Content-Type: text/html; charset=utf-8\r\n"
        f"Content-Transfer-Encoding: quoted-printable\r\n"
        f"Content-Location: {loc}\r\n\r\n{html}\r\n"
    ]
    parts.append(
        "Content-Type: text/css\r\n"
        "Content-Transfer-Encoding: quoted-printable\r\n"
        f"Content-Location: https://pages.example.com/style{sid}.css\r\n"
        "\r\nbody { margin: 0; }\r\n")
    for j in range(doc_id % 3):
        png = _h.blake2b(f"mhtimg{sid}:{j}".encode(),
                         digest_size=48).digest()
        parts.append(
            "Content-Type: image/png\r\n"
            "Content-Transfer-Encoding: base64\r\n"
            f"Content-Location: https://pages.example.com/i{sid}_{j}.png"
            f"\r\n\r\n{_b64.b64encode(png).decode()}\r\n")
    head = (f"From: <Saved by sparktika>\r\n"
            f"Snapshot-Content-Location: {loc}\r\n"
            f"Subject: Page {sid}\r\n"
            f"MIME-Version: 1.0\r\n"
            f"Content-Type: multipart/related; type=\"text/html\"; "
            f"boundary=\"{bnd}\"\r\n\r\n")
    body = "".join(f"--{bnd}\r\n{p}" for p in parts) + f"--{bnd}--\r\n"
    return (head + body).encode()


def _f80_encode(x: float) -> bytes:
    """80-bit IEEE 754 extended float (AIFF sampleRate)."""
    import math as _m
    import struct as _s

    if x == 0:
        return b"\x00" * 10
    m, e = _m.frexp(x)  # m in [0.5, 1)
    mant = int(m * (1 << 64))
    return _s.pack(">H", e - 1 + 16383) + mant.to_bytes(8, "big")


def build_audio_header(doc_id: int) -> bytes:
    """AIFF / AIFF-C / Sun .au / WAV (extract_audio_meta oracle),
    rotating on doc_id % 4. Exact-rational design (invariant 10):
    rate 8000 Hz, 16-bit, frames = 800*(1 + doc_id % 3), so
    duration_ms = 100*(1 + doc_id % 3) is exact integer arithmetic in
    both engines."""
    import struct as _s

    kind = doc_id % 4
    ch = 1 + doc_id % 2
    frames = 800 * (1 + doc_id % 3)
    if kind in (0, 1):  # AIFF / AIFC
        comm = _s.pack(">HIH", ch, frames, 16) + _f80_encode(8000.0)
        if kind == 1:
            comm += b"NONE" + bytes([14]) + b"not compressed" + b"\x00"
        name = f"Track {doc_id}".encode()
        if len(name) & 1:
            name += b"\x00"
        ssnd = _s.pack(">II", 0, 0)
        chunks = (b"COMM" + _s.pack(">I", len(comm)) + comm
                  + b"NAME" + _s.pack(">I", len(name)) + name
                  + b"SSND" + _s.pack(">I", len(ssnd)) + ssnd)
        form = (b"AIFC" if kind == 1 else b"AIFF") + chunks
        return b"FORM" + _s.pack(">I", len(form)) + form
    if kind == 2:  # Sun .au, encoding 3 = 16-bit linear PCM
        info = f"au {doc_id}".encode() + b"\x00"
        if len(info) & 1:
            info += b"\x00"
        dsize = frames * ch * 2
        hdr = b".snd" + _s.pack(">5I", 24 + len(info), dsize, 3, 8000, ch)
        return hdr + info + b"\x00" * dsize
    # WAV, PCM 16-bit
    dsize = frames * ch * 2
    fmt = _s.pack("<HHIIHH", 1, ch, 8000, 8000 * ch * 2, ch * 2, 16)
    body = (b"WAVE"
            + b"fmt " + _s.pack("<I", len(fmt)) + fmt
            + b"data" + _s.pack("<I", dsize) + b"\x00" * dsize)
    return b"RIFF" + _s.pack("<I", len(body)) + body


def build_dwg(doc_id: int) -> bytes:
    """AutoCAD DWG (extract_dwg_meta oracle): one of the ten public
    version signatures + deterministic junk standing in for the
    header sections the kernel must NOT attempt to decode
    (kernels/dwg.py is detection-first by design)."""
    import hashlib as _h

    versions = (b"AC1006", b"AC1009", b"AC1012", b"AC1014", b"AC1015",
                b"AC1018", b"AC1021", b"AC1024", b"AC1027", b"AC1032")
    body = _h.blake2b(f"dwg{doc_id}".encode(), digest_size=64).digest()
    return versions[doc_id % 10] + body


def build_ppt_old(doc_id: int) -> bytes:
    """Pre-97 PowerPoint (extract_ppt95_meta oracle): even ids a
    PowerPoint-95-style store (PowerPoint Document + Current User whose
    docFileVersion 1000 != 0x03F4), odd ids a PowerPoint-4.x-style
    store (PP40 root stream). Both must refuse with structured
    metadata, never scan the old-format records."""
    import hashlib as _h

    body = _h.blake2b(f"oldppt{doc_id}".encode(), digest_size=64).digest()
    if doc_id % 2 == 0:
        cu = bytearray(32)
        import struct as _s
        _s.pack_into("<HHI", cu, 0, 0, 0x0FF6, 24)   # record header
        _s.pack_into("<I", cu, 8, 0x14)              # size
        _s.pack_into("<H", cu, 22, 1000)             # docFileVersion
        return _ole2_file({"Current User": bytes(cu),
                           "PowerPoint Document": body})
    return _ole2_file({"PP40": body})
