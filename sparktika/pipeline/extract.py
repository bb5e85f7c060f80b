"""The extraction stage: pages -> pages_extracted via mapInArrow.

Spark-first re-architecture of the reference's process pool
(ref: client/TikaProcessPool.java:110-135): executor task slots replace
pooled JVMs, Arrow batches replace the three-socket protocol, per-row
status columns replace fork-kill isolation.

Physical policy (SURVEY.md §4.2 — the two things Catalyst cannot infer):
1. salted repartition before the kernel: extraction cost is driven by
   sum(bytes) per task, not row count; hashing the unique url spreads
   heavy-tailed hosts uniformly.
2. per-document failure containment inside the vectorized batch: the
   kernel catches per doc, so Spark's unit of retry (the task) never
   trips on a poisoned row.

Oversize rows are short-circuited BEFORE the kernel with a single-scan
JVM-side conditional projection: rows over the size cap ship only a 1KB
sniff head + their true byte count through Arrow and the kernel emits
the skipped_oversize status row — one pass over `html`, no union, no
second scan.

r9 boundary optimization (guide §4.1/§4.2): the stage runs on
`mapInArrow`, not `mapInPandas`. The kernel is row-oriented Python
either way, but the batch envelope matters: the pandas path pays an
Arrow->pandas object-block conversion on input and a per-column
`Array.from_pandas` with type-inference/safe-cast on output — for this
schema the nested `links` (array<struct<..,map>>) and `metadata`
(map<string,array<string>>) columns made that the dominant cost at
~0.4 ms/doc kernels. Building `pa.RecordBatch` directly against the
pinned Arrow schema removed ~0.8 s of a 4.2 s 32-core wall
(OPTIMIZATION_r09.md, interleaved A/B). Null true-size handling is also
simpler: Arrow `to_pylist` yields honest `None`, no NaN reinterpretation.

Warm reused workers (`_reread_zips_only_when_changed`): the reference
keeps forked JVMs warm between documents; a reused Spark Python worker
was not warm. Before every task PySpark's worker calls
`importlib.invalidate_caches()` (pyspark/worker_util.py), and below
Python 3.13 `zipimporter.invalidate_caches` re-reads its archive's whole
directory, once per importer. A reused extraction worker holds 16 of
them (12 on pyspark.zip, 2 on the spark-core jar, 2 on py4j) over
26,672 entries: 120-145 ms of re-parsing per task before the first row
reached the kernel. The batch function now patches `zipimporter` once
per worker so an archive is re-read only when its (st_mtime_ns,
st_size) changed (0.1 ms for the 16). Measured at local[4] on a 4-vCPU
host, ten alternating pairs per workload: `html_extract` 2,114 -> 2,706
docs/s and 1.58 -> 1.25 CPU s/kdoc; `mixed_formats` 7,207 -> 8,649
docs/s and 0.48 -> 0.40 CPU s/kdoc; a one-row mapInArrow job at
local[1] 0.23-0.35 -> 0.11-0.15 s. Delete the helper once the workers
run Python >= 3.13, whose zipimporter reads its directory lazily (the
helper is a no-op there already).
"""

from __future__ import annotations

import os
import sys
import zipimport
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG, ExtractConfig
from ..kernels.extract import extract_document
from .schema import EXTRACTED_SCHEMA


_OUT_COLS = [
    "url", "content_type_declared", "content_type_detected", "charset_detected",
    "text_extracted", "main_text", "title", "links", "metadata", "status",
    "error", "parse_ms", "n_bytes_in", "n_chars_out", "write_limit_reached",
]


def _reread_zips_only_when_changed() -> None:
    """Make `importlib.invalidate_caches()` re-read a zip archive only when
    its (st_mtime_ns, st_size) changed since that importer last read it.

    Patches `zipimport.zipimporter` once per process; a changed, new or
    vanished archive still gets CPython's re-read (and, if it vanished,
    CPython's emptied directory). A no-op on Python >= 3.13, whose
    zipimporter already re-reads lazily."""
    current = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(current, "reread"):
        return

    def invalidate_caches(self):
        # stat BEFORE reading: a change racing the read leaves the older
        # stamp behind, so the next call reads again instead of missing it
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            current(self)
            self._read_stamp = stamp

    invalidate_caches.reread = current
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _arrow_schema() -> "pa.Schema":
    # derived from the one canonical schema so the two can never drift
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(EXTRACTED_SCHEMA)


def make_extract_fn(cfg: ExtractConfig):
    """Batch-iterator kernel for mapInArrow (the Spark analog of the
    reference's one-doc-per-accept server loop, ref: TikaForkMain.java:118-170,
    but batch-vectorized and cluster-parallel). Output batches are built
    column-wise straight into typed pyarrow arrays — per-row dict assembly
    and the pandas object-block round-trip both measurably cost throughput
    at 256-row Arrow batches."""
    arrow_schema = _arrow_schema()

    def extract_batches(
        batches: Iterator["pa.RecordBatch"],
    ) -> Iterator["pa.RecordBatch"]:
        _reread_zips_only_when_changed()
        for batch in batches:
            names = batch.schema.names
            n = batch.num_rows
            urls = batch.column(names.index("url")).to_pylist()
            htmls = batch.column(names.index("html")).to_pylist()
            declared = (
                batch.column(names.index("content_type")).to_pylist()
                if "content_type" in names else [None] * n
            )
            true_sizes = (
                batch.column(names.index("__n_bytes_full")).to_pylist()
                if "__n_bytes_full" in names else [None] * n
            )
            cols: dict[str, list] = {c: [] for c in _OUT_COLS}
            ap = {c: cols[c].append for c in _OUT_COLS}
            for u, ct, d, ts in zip(urls, declared, htmls, true_sizes):
                r = extract_document(u, ct, d, cfg,
                                     true_size=None if ts is None else int(ts))
                ap["url"](r.url)
                ap["content_type_declared"](r.content_type_declared)
                ap["content_type_detected"](r.content_type_detected)
                ap["charset_detected"](r.charset_detected)
                ap["text_extracted"](r.text_extracted)
                ap["main_text"](r.main_text)
                ap["title"](r.title)
                ap["links"]([
                    {"type": l.type, "source_uri": l.source_uri,
                     "target_uri": l.target_uri, "title": l.title,
                     "anchor": l.anchor, "rel": l.rel, "params": l.params}
                    for l in r.links
                ])
                ap["metadata"](r.metadata)
                ap["status"](r.status)
                ap["error"](r.error)
                ap["parse_ms"](r.parse_ms)
                ap["n_bytes_in"](r.n_bytes_in)
                ap["n_chars_out"](r.n_chars_out)
                ap["write_limit_reached"](r.write_limit_reached)
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], type=f.type) for f in arrow_schema],
                schema=arrow_schema)

    return extract_batches


def extract_pages(
    df: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
) -> DataFrame:
    """pages DataFrame -> pages_extracted DataFrame.

    Column-prunes to (url, html[, content_type]) before the kernel so the
    scan never reads `text`/`lang` (check ReadSchema in .explain).

    Oversize short-circuit is built in, single-scan: a JVM-side conditional
    projection ships the full payload for rows within the size cap but only
    a 1KB sniff head (plus the true byte count) for oversize rows — so the
    100-TB plan reads `html` exactly once, oversize payloads never cross
    Arrow, and the kernel emits the same skipped_oversize status row it
    would for a full payload (ref semantics: skipped before parse, O19).
    """
    cols = ["url", "html"] + (["content_type"] if "content_type" in df.columns else [])
    slim = df.select(*cols)
    if cfg.max_bytes > 0:
        slim = slim.withColumns({
            "__n_bytes_full": F.length("html").cast("long"),
            "html": F.when(F.length("html") <= cfg.max_bytes, F.col("html"))
                     .otherwise(F.expr("substring(html, 1, 1024)")),
        })
    if num_partitions:
        # salt by unique url: defuses host-level byte skew (SURVEY.md §4.2)
        slim = slim.repartition(num_partitions, F.xxhash64("url"))
    return slim.mapInArrow(make_extract_fn(cfg), EXTRACTED_SCHEMA)

