"""End-to-end extraction job orchestration: the `spark-submit --py-files`
entry a production deployment runs.

    spark-submit --py-files sparktika.zip -m sparktika.pipeline.job \\
        --input <pages location> --output <extracted location>

One run = resume anti-join → newest-per-url dedup (optional) → salted
repartition → extraction → append results + per-partition lineage +
status summary, all under a run_id. Re-running after a failure extracts
only pages whose url is not yet committed (snapshot-style resume; the
driver's Iceberg deployment gets this transactionally, the parquet
fallback gets it at directory granularity).
"""

from __future__ import annotations

import argparse
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DEFAULT_CONFIG, ExtractConfig
from . import io as tio
from .extract import extract_pages
from .metrics import partition_metrics, status_summary
from .resume import newest_per_url, pending_pages


def run_extraction_job(
    spark: SparkSession,
    input_location: str,
    output_location: str,
    metrics_location: str | None = None,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    dedup_recrawls: bool = True,
    num_partitions: int | None = None,
    run_id: str | None = None,
) -> dict:
    """Returns a run manifest dict (counts, wall time, run_id)."""
    run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
    t0 = time.monotonic()
    pages = tio.read_table(spark, input_location)
    if dedup_recrawls:
        pages = newest_per_url(pages)
    # existence is checked explicitly (not inferred from a read failure):
    # a transient read error against committed output must fail the run,
    # not silently skip the anti-join and re-append duplicate rows
    if tio.table_exists(spark, output_location):
        done = tio.read_table(spark, output_location).select("url")
        pages = pending_pages(pages, done)
        resumed = True
    else:
        resumed = False  # first run: no committed output yet

    extracted = extract_pages(pages, cfg, num_partitions=num_partitions)
    # The resume anti-join reads output_location while we append to it: a
    # read-your-own-writes hazard on the parquet fallback (Spark refreshes
    # the path cache after the write, so any recompute would see the new
    # files and find zero pending rows). localCheckpoint materializes the
    # batch and CUTS the lineage before the write — needed ONLY on the
    # parquet path; an Iceberg deployment gets the same guarantee from
    # snapshot isolation, and materializing 100 TB to executor storage
    # there would be a storage cliff.
    if not tio.is_iceberg_location(spark, output_location):
        extracted = extracted.localCheckpoint(eager=True)
    tio.append_table(extracted, output_location)
    lineage = partition_metrics(extracted, run_id)
    if metrics_location:
        tio.append_table(lineage, metrics_location)
    summary = {r["status"]: r["n_docs"]
               for r in status_summary(extracted).collect()}
    n_out = sum(summary.values())
    return {
        "run_id": run_id,
        "resumed": resumed,
        "docs_extracted": n_out,
        "status_summary": summary,
        "wall_sec": round(time.monotonic() - t0, 3),
        "input": input_location,
        "output": output_location,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="sparktika extraction job")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", default=None)
    ap.add_argument("--max-bytes", type=int, default=DEFAULT_CONFIG.max_bytes)
    ap.add_argument("--max-chars", type=int, default=DEFAULT_CONFIG.max_chars)
    ap.add_argument("--timeout-ms", type=int, default=DEFAULT_CONFIG.timeout_ms)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--no-dedup", action="store_true")
    args = ap.parse_args()

    from .session import build_session

    spark = build_session(app_name="sparktika-extract")
    cfg = ExtractConfig(max_bytes=args.max_bytes, max_chars=args.max_chars,
                        timeout_ms=args.timeout_ms)
    manifest = run_extraction_job(
        spark, args.input, args.output, args.metrics, cfg,
        dedup_recrawls=not args.no_dedup, num_partitions=args.partitions)
    import json

    print(json.dumps(manifest))
    spark.stop()


if __name__ == "__main__":
    main()
