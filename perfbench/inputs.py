"""Seeded input generation for the workloads and the traced layers.

Each workload's inputs are a pure function of (workload, seed): the same
seed writes byte-identical rows and the same content digest. Inputs are
generated once per seed into parquet under the benchmark checkout's work
directory, not under the source tree being measured, so every tree run
from one checkout reads the same files. The digest (sha256 over the
rows, the committed slice and the expectations, not the parquet bytes)
is recomputed from the files on every reuse, and the inputs are
generated again when it does not match the manifest. It is recorded in
every result so runs over different inputs are never compared.

Payloads come from the `sparktika.synth` builders of the benchmark's own
checkout, imported in a child process, so the tree under test never
shapes its inputs. The generator also writes, per document, what the
benchmark expects the program to produce (status, title or cluster),
which the correctness checks read back.

    python3 perfbench/inputs.py WORKLOAD SEED OUT_DIR   # what materialize runs
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import zlib
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. One pass of each workload takes ~0.5-3 s at local[4], so a
# run holds several passes to take the median of.
HTML_DOCS = 2400
MIXED_DOCS = 12000
RECRAWL_URLS = 3000
WORDS = (300, 600)  # words of text in the mixed formats that carry text
RECRAWL_COMMITTED_SHARE = 0.3
NEAR_DUP_DOCS = 1200
NEAR_DUP_PAIRS = 40
NEAR_DUP_CHAINS = 12
NEAR_DUP_CHAIN_LEN = 4
N_FILES = 8

# the checkout the benchmark lives in; its sparktika.synth builds inputs
SRC = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKLOADS = ("html_extract", "mixed_formats", "recrawl_job", "near_dup")


@dataclass
class Inputs:
    """Where a workload's generated inputs live, with their digest."""

    workload: str
    seed: int
    root: str
    digest: str
    n_docs: int
    expected: dict = field(default_factory=dict)

    @property
    def pages(self) -> str:
        return os.path.join(self.root, "pages")

    @property
    def committed(self) -> str:
        """recrawl_job only: the input slice whose output is pre-committed."""
        return os.path.join(self.root, "committed_input")


class _Words:
    """Seeded synthetic vocabulary, so no external text is read."""

    def __init__(self, rng: random.Random, size: int = 6000):
        letters = "abcdefghijklmnopqrstuvwxyz"
        vocab = set()
        while len(vocab) < size:
            vocab.add("".join(rng.choice(letters)
                              for _ in range(rng.randint(3, 9))))
        self.vocab = sorted(vocab)
        self.rng = rng

    def words(self, n: int) -> list[str]:
        return self.rng.choices(self.vocab, k=n)

    def text(self, n: int) -> str:
        return " ".join(self.words(n))


def _rng(workload: str, seed: int) -> random.Random:
    salt = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "big")
    return random.Random((seed << 32) ^ salt)


def rows_digest(table: pa.Table) -> str:
    """sha256 over every value of every row, column order fixed."""
    h = hashlib.sha256()
    h.update(",".join(table.column_names).encode())
    for col in table.columns:
        for v in col.to_pylist():
            b = v if isinstance(v, bytes) else repr(v).encode()
            h.update(len(b).to_bytes(8, "big"))
            h.update(b)
    return h.hexdigest()


def input_digest(pages: pa.Table, expected: dict,
                 committed: pa.Table | None = None) -> str:
    """sha256 over the pages, the committed slice and the expectations."""
    h = hashlib.sha256(rows_digest(pages).encode())
    if committed is not None:
        h.update(rows_digest(committed).encode())
    h.update(json.dumps(expected, sort_keys=True).encode())
    return h.hexdigest()


def _write_pages(table: pa.Table, out_dir: str) -> None:
    os.makedirs(out_dir)
    n = table.num_rows
    for i in range(N_FILES):
        lo, hi = n * i // N_FILES, n * (i + 1) // N_FILES
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"),
                       row_group_size=128)


def _ts(i: int) -> int:
    # microseconds since epoch, from 2026-01-01, one second apart
    return (1_767_225_600 + i) * 1_000_000


def _pages_table(urls: list[str], ts: list[int], html: list[bytes]) -> pa.Table:
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
    })


def _distinct_ids(rng: random.Random, n: int, top: int = 50_000_000) -> list[int]:
    return rng.sample(range(1, top), n)


# ------------------------------------------------------------------ html

def _gen_html(rng: random.Random) -> tuple[pa.Table, dict, None]:
    from sparktika.synth import build_heavy_payload

    w = _Words(rng)
    urls, ts, html, expect = [], [], [], {}
    for i, d in enumerate(_distinct_ids(rng, HTML_DOCS)):
        url = f"https://host{d % 40:03d}.example.com/h/{d:08d}"
        urls.append(url)
        ts.append(_ts(i))
        html.append(build_heavy_payload(d, w.text(rng.randint(30, 50))))
        expect[url] = {"status": "ok", "title": f"Doc {d}"}
    return _pages_table(urls, ts, html), expect, None


# --------------------------------------------------------- mixed formats

def _inflate_bomb(doc_id: int) -> bytes:
    bomb = zlib.compress(b"\0" * (1_000_000 + doc_id % 1000))
    head = b"<< /Length %d /Filter /FlateDecode >>" % len(bomb)
    return (b"%PDF-1.3\n4 0 obj\n" + head + b"\nstream\n" + bomb
            + b"\nendstream\nendobj\n%%EOF\n")


def _payload_kind(kind: int, variant: int = 0):
    """A builder over build_payload's doc_id % 20 layout: kind 0-13 html,
    14/15 pdf, 16/17 text, 18 junk OLE2, 19 depth bomb or oversize."""
    from sparktika.synth import build_payload

    def build(d: int, text: str) -> bytes:
        return build_payload((d // 40) * 40 + kind + 20 * variant, text)

    return build


def _mixed_table() -> list[tuple[str, int, str, object]]:
    """(category, weight, expected status, builder(doc_id, text))."""
    import sparktika.synth as s

    def b(fn):
        return lambda d, _text: fn(d)

    html = [_payload_kind(k) for k in (0, 3, 10, 12, 13)]
    return [
        ("html", 20, "ok", lambda d, t: html[d % len(html)](d, t)),
        ("pdf", 6, "ok", _payload_kind(14)),
        ("pdf_flate", 6, "ok", _payload_kind(15)),
        ("pdf_embedded", 2, "ok", b(s.build_pdf_embedded)),
        ("docx", 4, "ok", b(s.build_docx_embedded)),
        ("xlsb", 2, "ok", b(s.build_xlsb)),
        ("odt", 2, "ok", b(s.build_odt)),
        ("ods", 2, "ok", b(s.build_ods)),
        ("odp", 1, "ok", b(s.build_odp)),
        ("doc", 3, "ok", b(s.build_doc_full)),
        ("xls", 2, "ok", b(s.build_oldxls)),
        ("msg", 3, "ok", b(s.build_msg_attach)),
        ("zip_epub", 2, "ok", b(s.build_epub)),
        ("tar", 2, "ok", b(s.build_tar)),
        ("7z", 1, "ok", b(s.build_7z_doc)),
        ("gzip", 2, "ok", lambda _d, t: gzip.compress(t.encode(), mtime=0)),
        ("eml", 3, "ok", b(s.build_eml)),
        ("mbox", 2, "ok", b(s.build_mbox)),
        ("feed", 3, "ok", b(s.build_feed)),
        ("xml", 2, "ok", b(s.build_xml)),
        ("sitemap", 1, "ok", b(s.build_sitemap)),
        ("png", 2, "ok", b(s.build_png)),
        ("jpeg", 2, "ok", b(s.build_jpeg_exif)),
        ("mp3", 1, "ok", b(s.build_mp3_id3)),
        ("wav", 1, "ok", b(s.build_wav)),
        ("text", 8, "ok", _payload_kind(16)),
        # guard cases: fixed shares with the status the guard must give
        ("oversize", 2, "skipped_oversize", _payload_kind(19, 1)),
        ("depth_bomb", 2, "failed", _payload_kind(19)),
        ("junk_ole2", 2, "failed", _payload_kind(18)),
        ("inflate_bomb", 2, "failed", lambda d, _t: _inflate_bomb(d)),
    ]


def _stratified(rng: random.Random, n: int) -> list[tuple]:
    """n rows of the mixed-format table in a seeded order. Every seed gets
    the same number of documents per format, so seeds differ in content,
    not in work."""
    table = _mixed_table()
    total = sum(t[1] for t in table)
    kinds = [t for t in table for _ in range(t[1] * n // total)]
    kinds += [table[0]] * (n - len(kinds))
    rng.shuffle(kinds)
    return kinds


def _gen_mixed(rng: random.Random) -> tuple[pa.Table, dict, None]:
    """The mixed-format corpus: one snapshot per url."""
    w = _Words(rng)
    kinds = _stratified(rng, MIXED_DOCS)
    # some builders pack the id into narrow binary fields: keep it small
    ids = _distinct_ids(rng, MIXED_DOCS, top=60_000)
    urls, ts, data, expect = [], [], [], {}
    for i, ((cat, _w, status, build), d) in enumerate(zip(kinds, ids)):
        url = f"https://host{i % 40:03d}.example.com/m/{cat}/{rng.getrandbits(40):010x}"
        payload = build(d, w.text(rng.randint(*WORDS)))
        urls.append(url)
        ts.append(_ts(i))
        data.append(payload)
        expect[url] = {"status": status, "n_bytes_in": len(payload),
                       "category": cat}
    return _pages_table(urls, ts, data), expect, None


# --------------------------------------------------------------- recrawl

def _gen_recrawl(rng: random.Random) -> tuple[pa.Table, dict, pa.Table]:
    """The mixed-format corpus, re-crawled: one to three snapshots per url,
    one format per url. Snapshots of a url differ in length, so the
    committed row's n_bytes_in shows which snapshot won; where a format's
    builder gives equal lengths, the url keeps its newest snapshot only."""
    w = _Words(rng)
    # the same number of snapshots per url for every seed, too
    kinds = _stratified(rng, RECRAWL_URLS)
    n_snaps = [1 + u % 3 for u in range(RECRAWL_URLS)]
    rng.shuffle(n_snaps)
    ids = iter(_distinct_ids(rng, RECRAWL_URLS * 3, top=60_000))
    rows, expect, committed_urls = [], {}, set()
    for u, (cat, _w, status, build) in enumerate(kinds):
        url = f"https://host{u % 40:03d}.example.com/r/{cat}/{rng.getrandbits(40):010x}"
        snaps = sorted(rng.sample(range(1, 10_000_000), n_snaps[u]))
        payloads = [build(next(ids), w.text(rng.randint(*WORDS))) for _ in snaps]
        if len({len(p) for p in payloads}) < len(payloads):
            snaps, payloads = snaps[-1:], payloads[-1:]
        rows += [(url, _ts(t), p) for t, p in zip(snaps, payloads)]
        expect[url] = {"status": status, "n_bytes_in": len(payloads[-1]),
                       "category": cat}
        if u % 10 < RECRAWL_COMMITTED_SHARE * 10:
            committed_urls.add(url)
    rng.shuffle(rows)
    pages = _pages_table(*map(list, zip(*rows)))
    committed = pages.filter(pa.array(
        [u in committed_urls for u in pages.column("url").to_pylist()]))
    return pages, expect, committed


# -------------------------------------------------------------- near_dup

def _gen_near_dup(rng: random.Random) -> tuple[pa.Table, dict, None]:
    """Random-word documents plus planted near-copy pairs (two words
    substituted: word-3-shingle Jaccard ~0.9) and planted chains whose
    neighbours share one unique 12-word passage (one duplicate cluster,
    but no near-duplicate pair)."""
    w = _Words(rng)
    texts: list[str] = []
    pairs, clusters = [], []

    def add(text: str) -> int:
        texts.append(text)
        return len(texts) - 1

    for _ in range(NEAR_DUP_PAIRS):
        words = w.words(rng.randint(100, 140))
        a = add(" ".join(words))
        for pos in (rng.randrange(10, 40), rng.randrange(60, 90)):
            words[pos] = w.words(1)[0] + "x"
        b = add(" ".join(words))
        pairs.append((a, b))
        clusters.append([a, b])
    for _ in range(NEAR_DUP_CHAINS):
        links = [w.text(12) for _ in range(NEAR_DUP_CHAIN_LEN - 1)]
        chain = []
        for j in range(NEAR_DUP_CHAIN_LEN):
            parts = [w.text(40)]
            if j > 0:
                parts.append(links[j - 1])
            parts.append(w.text(40))
            if j < NEAR_DUP_CHAIN_LEN - 1:
                parts.append(links[j])
            parts.append(w.text(40))
            chain.append(add(" ".join(parts)))
        clusters.append(chain)
    while len(texts) < NEAR_DUP_DOCS:
        add(w.text(rng.randint(80, 160)))
    # doc ids are a seeded permutation, so planted docs are spread out
    ids = _distinct_ids(rng, len(texts))
    table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string())})
    expect = {
        "pairs": sorted(tuple(sorted((ids[a], ids[b]))) for a, b in pairs),
        "clusters": sorted(sorted(ids[i] for i in c) for c in clusters),
    }
    return table, expect, None


_GENERATORS = {
    "html_extract": _gen_html,
    "mixed_formats": _gen_mixed,
    "recrawl_job": _gen_recrawl,
    "near_dup": _gen_near_dup,
}


def generate(workload: str, seed: int) -> tuple[pa.Table, dict, pa.Table | None]:
    """The workload's rows, expectations and (recrawl_job) committed slice."""
    if workload not in _GENERATORS:
        raise ValueError(f"unknown workload {workload!r}; one of {_WORKLOADS}")
    return _GENERATORS[workload](_rng(workload, seed))


def _load(workload: str, seed: int, root: str) -> Inputs | None:
    """The inputs under `root` if their rows still give the manifest's
    digest; None when absent, partial or changed."""
    try:
        with open(os.path.join(root, "manifest.json")) as f:
            m = json.load(f)
        inp = Inputs(workload, seed, root, m["digest"], m["n_docs"], m["expected"])
        pages = pq.read_table(inp.pages)
        committed = (pq.read_table(inp.committed)
                     if os.path.isdir(inp.committed) else None)
    except (OSError, ValueError, KeyError, pa.ArrowException):
        return None
    if input_digest(pages, inp.expected, committed) != inp.digest:
        return None
    return inp


def _generate_into(workload: str, seed: int, root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
    table, expected, committed = generate(workload, seed)
    _write_pages(table, os.path.join(root, "pages"))
    if committed is not None:
        _write_pages(committed, os.path.join(root, "committed_input"))
    manifest = os.path.join(root, "manifest.json")
    with open(manifest + ".tmp", "w") as f:
        json.dump({"digest": input_digest(table, expected, committed),
                   "n_docs": table.num_rows, "expected": expected}, f)
    os.replace(manifest + ".tmp", manifest)  # written last


def materialize(workload: str, seed: int, work_dir: str) -> Inputs:
    """The workload's inputs for `seed` under `work_dir`/inputs: reused
    when their digest checks out, else generated in a child process that
    imports only this checkout's sparktika."""
    root = os.path.join(work_dir, "inputs", f"{workload}-s{seed}")
    inp = _load(workload, seed, root)
    if inp is None:
        env = dict(os.environ, PYTHONPATH=SRC)
        subprocess.run([sys.executable, os.path.abspath(__file__), workload,
                        str(seed), root], env=env, check=True, timeout=600)
        inp = _load(workload, seed, root)
    if inp is None:
        raise RuntimeError(f"inputs under {root} do not match their manifest")
    return inp


if __name__ == "__main__":
    sys.path.insert(0, SRC)
    _generate_into(sys.argv[1], int(sys.argv[2]), sys.argv[3])
