"""The two workloads: register inputs, warm up, run one pass, check the
outputs, and (traced run) force each layer on its own, including the
layers downstream of extraction that no timed pass runs: near-duplicate
detection after `html_extract`, the resumable extraction job after
`mixed_formats`.

Every call into the program goes through its public functions
(`sparktika.pipeline.*`, `sparktika.kernels.*`); nothing is patched.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import zlib
from collections import Counter

import pyarrow.parquet as pq

from inputs import Inputs, materialize
from sparkstats import StageWindow, Tracer, rdd_storage_mb, run_with_python_metrics

ROUTES = ("html", "pdf", "ooxml", "odf", "ole2", "archive", "mail", "xml",
          "media", "text", "other")
STATUSES = ("ok", "truncated", "failed", "skipped_oversize", "unsupported",
            "timeout")
_OLE2 = ("msword", "ms-excel", "ms-outlook", "x-tika-msoffice", "visio",
         "ms-powerpoint", "ms-works")
_ARCHIVE = ("zip", "tar", "7z", "gzip", "cpio", "bzip", "xz", "compress",
            "archive", "rar", "arj", "lha", "cab")
DEDUP_THRESHOLD = 0.8
# sample of documents timed kernel by kernel in the driver (traced run)
KERNEL_SAMPLE = 400
# documents per extraction workload compared field by field against a
# direct extract_document call
ROW_SAMPLE = 64


def route_of(content_type: str | None) -> str:
    """Route family of a detected MIME type."""
    ct = (content_type or "").lower()
    if "html" in ct or ct == "multipart/related":
        return "html"
    if "pdf" in ct:
        return "pdf"
    if "openxmlformats" in ct or "sheet.binary" in ct:
        return "ooxml"
    if "opendocument" in ct:
        return "odf"
    if any(k in ct for k in _OLE2):
        return "ole2"
    if any(k in ct for k in _ARCHIVE):
        return "archive"
    if ct in ("message/rfc822", "application/mbox"):
        return "mail"
    if "xml" in ct or "rss" in ct or "atom" in ct:
        return "xml"
    if ct.startswith(("image/", "audio/", "video/")):
        return "media"
    if ct.startswith("text/"):
        return "text"
    return "other"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _result_row(r) -> dict:
    """An ExtractResult as the Spark output row carries it, minus timing."""
    md = {k: list(v) for k, v in r.metadata.items() if k != "parsing_time"}
    return {
        "url": r.url, "content_type_declared": r.content_type_declared,
        "content_type_detected": r.content_type_detected,
        "charset_detected": r.charset_detected,
        "text_extracted": r.text_extracted, "main_text": r.main_text,
        "title": r.title,
        "links": [{"type": l.type, "source_uri": l.source_uri,
                   "target_uri": l.target_uri, "title": l.title,
                   "anchor": l.anchor, "rel": l.rel,
                   "params": dict(l.params or {})} for l in r.links],
        "metadata": md, "status": r.status, "error": r.error,
        "n_bytes_in": r.n_bytes_in, "n_chars_out": r.n_chars_out,
        "write_limit_reached": r.write_limit_reached,
    }


def spark_row(row) -> dict:
    """A Spark output row in `_result_row`'s shape."""
    d = row.asDict(recursive=True)
    d.pop("parse_ms", None)
    d["metadata"] = {k: list(v) for k, v in (d["metadata"] or {}).items()
                     if k != "parsing_time"}
    d["links"] = [dict(l, params=dict(l["params"] or {}))
                  for l in (d["links"] or [])]
    return d


def full_row_failures(rows, payload: dict, cfg) -> set[str]:
    """Urls whose full Spark output row differs from a direct
    extract_document call on the same bytes (timing columns aside)."""
    from sparktika.kernels.extract import extract_document

    return {row.url for row in rows if spark_row(row) != _result_row(
        extract_document(row.url, None, payload[row.url], cfg))}


def check_rows(expected: dict, got: list[dict]) -> list[str]:
    """Failed urls: missing, duplicated, unexpected, or with an output
    column (status, title, n_bytes_in) other than the generator planted."""
    seen = Counter(r["url"] for r in got)
    failed = {u for u in expected if seen[u] != 1}
    failed |= {u for u in seen if u not in expected}
    for r in got:
        want = expected.get(r["url"], {})
        if any(r[k] != v for k, v in want.items() if k != "category"):
            failed.add(r["url"])
    return sorted(failed)


def _in_sample(url: str, n: int) -> bool:
    return zlib.crc32(url.encode()) % 1000 < n


# --------------------------------------------------------- extraction

class Extraction:
    """extract_pages over the generated pages into a noop sink."""

    name = ""

    def __init__(self, inp: Inputs, work_dir: str):
        from sparktika.synth import SYNTH_CONFIG

        self.inp = inp
        self.work_dir = work_dir
        self.n_docs = inp.n_docs
        self.cfg = SYNTH_CONFIG

    def register(self, spark) -> None:
        """Input registration: read the generated table and count it."""
        self.spark = spark
        self.pages = spark.read.parquet(self.inp.pages)
        if self.pages.count() != self.n_docs:
            raise RuntimeError("input row count differs from manifest")

    def _extracted(self, pages=None):
        from sparktika.pipeline.extract import extract_pages

        pages = self.spark.read.parquet(self.inp.pages) if pages is None else pages
        return extract_pages(pages, self.cfg)

    def warm(self) -> None:
        from pyspark.sql import functions as F

        # one in eight rows, over every input split: starts a Python
        # worker per task slot and imports the kernels in each
        _noop(self._extracted(self.pages.filter(
            F.xxhash64("url") % 8 == 0)))

    def run_pass(self) -> None:
        _noop(self._extracted())

    def check(self) -> tuple[int, list[str]]:
        """(documents checked, failed document ids) for one more pass."""
        from pyspark.sql import functions as F

        # a fixed sample carries full rows, checked against the kernel
        # called directly; one extraction pass serves both checks
        sample = {u for u in self.inp.expected if _in_sample(u, ROW_SAMPLE)}
        out = self._extracted()
        rows = out.select(
            "url", "status", "title", "n_bytes_in", "content_type_detected",
            F.when(F.col("url").isin(sorted(sample)),
                   F.struct(*out.columns)).alias("full")).collect()
        self.outcome = [r.asDict() for r in rows]
        failed = set(check_rows(self.inp.expected, self.outcome))
        table = pq.read_table(self.inp.pages, columns=["url", "html"])
        payload = dict(zip(table.column("url").to_pylist(),
                           table.column("html").to_pylist()))
        full = [r.full for r in rows if r.full is not None]
        failed |= full_row_failures(full, payload, self.cfg)
        failed |= sample - {r.url for r in full}
        return len(self.inp.expected), sorted(failed)

    def trace(self, tr: Tracer, layer: dict) -> list[str]:
        """Force each layer on its own; returns failures found on the way."""
        with tr.span("io.scan"):
            _noop(self.spark.read.parquet(self.inp.pages).select("url", "html"))
        layer["io.scan_s"] = tr.dur("io.scan")
        layer["io.scan_mb"] = _du_mb(self.inp.pages)
        extract_layers(tr, self._extracted(), "io.scan", self.n_docs, layer)
        kernel_layers(self.inp.pages, self.cfg, layer)
        route_status_counts(self.outcome, layer)
        _envelope(layer, self.n_docs)
        return self.downstream(tr, layer)

    def downstream(self, tr: Tracer, layer: dict) -> list[str]:
        """Trace the layers that run after extraction in a crawl pipeline."""
        raise NotImplementedError


def extract_layers(tr: Tracer, extracted, child: str, n_docs: int,
                   layer: dict) -> None:
    """Force the mapInArrow stage on its own; read its SQL metrics and
    its stage and task metrics from the status store."""
    spark = extracted.sparkSession
    win = StageWindow(spark)
    with tr.span("extract", children=(child,)):
        pm = run_with_python_metrics(extracted)
    stages = win.close().where("extract")
    layer["extract.stage_task_s"] = sum(s.run_ms for s in stages) / 1e3
    layer["extract.python_total_s"] = pm["pythonTotalTime"] / 1e3
    layer["extract.python_boot_s"] = pm["pythonBootTime"] / 1e3
    layer["extract.python_init_s"] = pm["pythonInitTime"] / 1e3
    layer["extract.to_python_mb"] = pm["pythonDataSent"] / 2**20
    layer["extract.from_python_mb"] = pm["pythonDataReceived"] / 2**20
    rows_per_batch = int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    layer["extract.batches"] = sum(
        -(-r // rows_per_batch) for r in task_records(spark, stages) if r)
    layer["extract.docs"] = n_docs


def _envelope(layer: dict, n_docs: int) -> None:
    # stage task time per document not spent in the kernel: scan, Arrow
    # in and out, worker IPC (kernel time measured in the driver)
    layer["extract.envelope_us_per_doc"] = (
        layer["extract.stage_task_s"] * 1e6 / n_docs
        - layer["dispatch.us_per_doc_mean"])


def route_status_counts(rows: list[dict], layer: dict) -> None:
    for route in ROUTES:
        layer[f"dispatch.route_docs.{route}"] = 0
    for status in STATUSES:
        layer[f"dispatch.status_docs.{status}"] = 0
    for r in rows:
        layer[f"dispatch.route_docs.{route_of(r['content_type_detected'])}"] += 1
        if r["status"] in STATUSES:
            layer[f"dispatch.status_docs.{r['status']}"] += 1


def kernel_layers(pages: str, cfg, layer: dict) -> None:
    """Kernel µs/doc in this process over a fixed sample of the inputs."""
    from sparktika.kernels import boilerplate, charset, htmlparse, mime
    from sparktika.kernels.extract import extract_document

    table = pq.read_table(pages, columns=["url", "html"])
    urls = table.column("url").to_pylist()[:KERNEL_SAMPLE]
    datas = table.column("html").to_pylist()[:KERNEL_SAMPLE]
    clock = time.perf_counter
    for u, d in zip(urls[:20], datas[:20]):  # imports, caches
        extract_document(u, None, d, cfg)
    disp, mimes, route_us = [], [], {r: [] for r in ROUTES}
    html_docs = []
    for u, d in zip(urls, datas):
        t0 = clock()
        r = extract_document(u, None, d, cfg)
        t1 = clock()
        mime.detect_mime(d, None, u)
        t2 = clock()
        disp.append((t1 - t0) * 1e6)
        mimes.append((t2 - t1) * 1e6)
        route = route_of(r.content_type_detected)
        route_us[route].append((t1 - t0) * 1e6)
        if route == "html" and r.status == "ok" and len(d) <= cfg.max_bytes:
            html_docs.append((u, d))
    cs, hp_us, hp_kb, bp = [], 0.0, 0.0, []
    for u, d in html_docs:
        t0 = clock()
        text, _cs = charset.decode(d, None, True)
        t1 = clock()
        res = htmlparse.parse_html(text, base_uri=u, max_depth=cfg.max_depth)
        t2 = clock()
        boilerplate.main_text(res.blocks)
        t3 = clock()
        cs.append((t1 - t0) * 1e6)
        hp_us += (t2 - t1) * 1e6
        hp_kb += len(d) / 1024
        bp.append((t3 - t2) * 1e6)
    disp.sort()
    layer["dispatch.us_per_doc_mean"] = statistics.fmean(disp)
    layer["dispatch.us_per_doc_p50"] = statistics.median(disp)
    layer["dispatch.us_per_doc_p99"] = disp[min(len(disp) - 1, int(len(disp) * 0.99))]
    layer["mime.us_per_doc"] = statistics.fmean(mimes)
    layer["charset.us_per_doc"] = statistics.fmean(cs) if cs else 0.0
    layer["htmlparse.us_per_kb"] = hp_us / hp_kb if hp_kb else 0.0
    layer["boilerplate.us_per_doc"] = statistics.fmean(bp) if bp else 0.0
    for route, us in route_us.items():
        layer[f"route.{route}.us_per_doc"] = statistics.fmean(us) if us else 0.0


def task_records(spark, stage_rows) -> list[int]:
    """Rows each task read, from input files or from a shuffle."""
    store = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
    out = []
    for s in stage_rows:
        it = store.taskList(s.stage_id, s.attempt, 100_000).iterator()
        while it.hasNext():
            m = it.next().taskMetrics()
            if m.isDefined():
                m = m.get()
                out.append(int(m.inputMetrics().recordsRead())
                           + int(m.shuffleReadMetrics().recordsRead()))
    return out


class HtmlExtract(Extraction):
    name = "html_extract"

    def downstream(self, tr: Tracer, layer: dict) -> list[str]:
        # near-duplicate detection, over a seeded documents table
        dedup_inp = materialize("near_dup", self.inp.seed, self.work_dir)
        layer["dedup.input_digest"] = dedup_inp.digest
        return dedup_layers(self.spark, dedup_inp, tr, layer)


class MixedFormats(Extraction):
    name = "mixed_formats"

    def downstream(self, tr: Tracer, layer: dict) -> list[str]:
        # the production job, over the same formats re-crawled
        job = RecrawlJob(self.spark, materialize("recrawl_job", self.inp.seed,
                                                 self.work_dir), self.work_dir, self.cfg)
        layer["job.input_digest"] = job.inp.digest
        return job.trace(tr, layer)


# -------------------------------------------------------------- recrawl

class RecrawlJob:
    """run_extraction_job on the parquet fallback over re-crawled mixed
    formats, resuming over a committed slice: traced once, then checked."""

    def __init__(self, spark, inp: Inputs, work_dir: str, cfg):
        self.spark = spark
        self.inp = inp
        self.cfg = cfg
        work = os.path.join(work_dir, "run", inp.workload)
        self.snapshot = os.path.join(work, "committed")
        self.out = os.path.join(work, "out")
        self.metrics = os.path.join(work, "metrics")
        self.probe = os.path.join(work, "append_probe")

    def _job(self, out: str | None = None, inp: str | None = None) -> dict:
        from sparktika.pipeline.job import run_extraction_job

        return run_extraction_job(self.spark, inp or self.inp.pages,
                                  out or self.out, self.metrics, self.cfg)

    def commit(self) -> None:
        """The earlier job that committed a slice, and the output reset to
        hold only that slice."""
        for d in (self.snapshot, self.out, self.metrics, self.probe):
            shutil.rmtree(d, ignore_errors=True)
        self._job(self.snapshot, self.inp.committed)
        shutil.rmtree(self.metrics, ignore_errors=True)
        shutil.copytree(self.snapshot, self.out)

    def check(self, manifest: dict) -> list[str]:
        """Failed urls: the job's output rows against the generator's
        expectations, its manifest, and a repeat job that must append
        nothing."""
        expected = self.inp.expected
        got = pq.read_table(self.out, columns=[
            "url", "status", "n_bytes_in", "content_type_detected"]).to_pylist()
        failed = set(check_rows(expected, got))
        committed = set(pq.read_table(self.snapshot, columns=["url"])
                        .column("url").to_pylist())
        summary = Counter(w["status"] for u, w in expected.items()
                          if u not in committed)
        if manifest["status_summary"] != summary or (
                manifest["docs_extracted"] != len(expected) - len(committed)):
            failed.add(f"manifest:{manifest['run_id']}")
        again = self._job()
        if again["docs_extracted"] != 0 or pq.read_table(
                self.out, columns=["url"]).num_rows != len(got):
            failed.add("repeat-job")
        return [f"recrawl:{u}" for u in sorted(failed)]

    def trace(self, tr: Tracer, layer: dict) -> list[str]:
        from sparktika.pipeline import io as tio
        from sparktika.pipeline.resume import newest_per_url, pending_pages
        from sparktika.pipeline.metrics import partition_metrics, status_summary

        spark = self.spark
        self.commit()
        pages = self.inp.pages
        with tr.span("job.io.scan"):
            _noop(tio.read_table(spark, pages))
        with tr.span("resume.newest_per_url", children=("job.io.scan",)):
            _noop(newest_per_url(tio.read_table(spark, pages)))
        with tr.span("resume.pending_pages", children=("resume.newest_per_url",)):
            pending = pending_pages(
                newest_per_url(tio.read_table(spark, pages)),
                tio.read_table(spark, self.out).select("url")).count()
        with tr.span("job", children=("resume.pending_pages",)):
            manifest = self._job()
        with tr.span("io.append"):
            tio.append_table(tio.read_table(spark, self.out), self.probe)
        with tr.span("metrics.partition_metrics"):
            _noop(partition_metrics(tio.read_table(spark, self.out), "trace"))
        with tr.span("metrics.status_summary"):
            status_summary(tio.read_table(spark, self.out)).collect()
        layer["io.append_s"] = tr.dur("io.append")
        layer["io.append_mb"] = _du_mb(self.probe)
        layer["resume.newest_per_url_s"] = tr.dur("resume.newest_per_url")
        layer["resume.pending_pages_s"] = tr.dur("resume.pending_pages")
        layer["resume.rows_in"] = self.inp.n_docs
        layer["resume.rows_pending"] = pending
        layer["resume.pending_share"] = pending / self.inp.n_docs
        layer["metrics.partition_metrics_s"] = tr.dur("metrics.partition_metrics")
        layer["metrics.status_summary_s"] = tr.dur("metrics.status_summary")
        layer["job.wall_s"] = tr.dur("job")
        layer["job.checkpoint_mb"], layer["job.checkpoint_rdds"] = rdd_storage_mb(spark)
        return self.check(manifest)


def _du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


# ---------------------------------------------------------------- dedup

def dedup_layers(spark, inp: Inputs, tr: Tracer, layer: dict) -> list[str]:
    """Force the near-duplicate layers over the seeded documents table:
    MinHash signatures, LSH pairs, n-gram duplicate clusters. Returns the
    planted pairs and clusters the program missed or got wrong."""
    from sparktika.pipeline import dedup

    docs = spark.read.parquet(inp.pages)
    with tr.span("dedup.scan"):
        _noop(docs)
    with tr.span("dedup.signatures", children=("dedup.scan",)):
        sig_rows = dedup.minhash_signatures(docs, "text", "doc_id").collect()
    with tr.span("dedup.lsh_pairs", children=("dedup.signatures",)):
        pairs = dedup.minhash_lsh_pairs(
            dedup.minhash_signatures(docs, "text", "doc_id"),
            threshold=DEDUP_THRESHOLD).collect()
    cc = StageWindow(spark)
    with tr.span("dedup.clusters", children=("dedup.scan",)):
        clusters = dedup.duplicate_clusters(docs, "text", "doc_id").collect()
    layer["dedup.cc_jobs"] = cc.close().jobs
    layer["dedup.signatures_s"] = tr.dur("dedup.signatures")
    layer["dedup.lsh_pairs_s"] = tr.dur("dedup.lsh_pairs")
    layer["dedup.clusters_s"] = tr.dur("dedup.clusters")
    cand = _candidate_pairs(sig_rows)
    layer["dedup.candidate_pairs"] = cand
    layer["dedup.pairs_out"] = len(pairs)
    layer["dedup.pair_yield"] = len(pairs) / cand if cand else 0.0

    found = {(r.key_a, r.key_b) for r in pairs}
    want = {tuple(p) for p in inp.expected["pairs"]}
    groups: dict[int, list[int]] = {}
    for r in clusters:
        groups.setdefault(r.cluster, []).append(r.key)
    got_clusters = {tuple(sorted(g)) for g in groups.values()}
    want_clusters = {tuple(c) for c in inp.expected["clusters"]}
    layer["dedup.planted_recall"] = (
        len(want & found) + len(want_clusters & got_clusters)) / (
        len(want) + len(want_clusters))
    return ([f"pair:{a}-{b}" for a, b in sorted(want ^ found)]
            + [f"cluster:{c[0]}" for c in sorted(want_clusters ^ got_clusters)])


def _candidate_pairs(sig_rows, bands: int = 32) -> int:
    """Distinct key pairs sharing an LSH band bucket, from the signatures
    the program computed, banded by its own kernel."""
    import numpy as np

    from sparktika.kernels.textstats import minhash_bands

    buckets: dict[int, list[int]] = {}
    for r in sig_rows:
        arr = np.asarray(r.sig, dtype=np.int64).view(np.uint64)
        for b in minhash_bands(arr, bands):
            buckets.setdefault(b, []).append(r.key)
    pairs = set()
    for keys in buckets.values():
        keys.sort()
        for i, a in enumerate(keys):
            pairs.update((a, b) for b in keys[i + 1:])
    return len(pairs)


WORKLOADS = {w.name: w for w in (HtmlExtract, MixedFormats)}
