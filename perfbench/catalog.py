"""Every metric the benchmark reports: name, unit, direction.

BENCHMARK.json lists the same names; a test keeps the two equal.
"""

from __future__ import annotations

from workloads import ROUTES, STATUSES

END_TO_END = [
    # (name, unit, better, bound: share of the parent's median it may worsen)
    # on a shared 4-vCPU host, throughput and CPU per document were seen
    # to drift by a quarter within an hour with no steal reported, so the
    # time and CPU bounds are the widest allowed
    ("setup_s", "s", "lower", 0.25),
    ("docs_per_s", "docs/s", "higher", 0.25),
    ("cpu_s_per_kdoc", "s/kdoc", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("io.scan_s", "s", "lower"),
    ("io.scan_mb", "MB", "lower"),
    ("io.append_s", "s", "lower"),
    ("io.append_mb", "MB", "lower"),
    ("resume.newest_per_url_s", "s", "lower"),
    ("resume.pending_pages_s", "s", "lower"),
    ("resume.rows_in", "count", "higher"),
    ("resume.rows_pending", "count", "higher"),
    ("resume.pending_share", "ratio", "higher"),
    ("extract.stage_task_s", "s", "lower"),
    ("extract.python_total_s", "s", "lower"),
    ("extract.python_boot_s", "s", "lower"),
    ("extract.python_init_s", "s", "lower"),
    ("extract.to_python_mb", "MB", "lower"),
    ("extract.from_python_mb", "MB", "lower"),
    ("extract.batches", "count", "lower"),
    ("extract.envelope_us_per_doc", "us", "lower"),
    ("dispatch.us_per_doc_p50", "us", "lower"),
    ("dispatch.us_per_doc_p99", "us", "lower"),
    *[(f"dispatch.route_docs.{r}", "count", "higher") for r in ROUTES],
    *[(f"dispatch.status_docs.{s}", "count", "higher") for s in STATUSES],
    ("mime.us_per_doc", "us", "lower"),
    ("charset.us_per_doc", "us", "lower"),
    ("htmlparse.us_per_kb", "us/KB", "lower"),
    ("boilerplate.us_per_doc", "us", "lower"),
    *[(f"route.{r}.us_per_doc", "us", "lower") for r in ROUTES],
    ("dedup.signatures_s", "s", "lower"),
    ("dedup.lsh_pairs_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.pairs_out", "count", "higher"),
    ("dedup.pair_yield", "ratio", "higher"),
    ("dedup.clusters_s", "s", "lower"),
    ("dedup.cc_jobs", "count", "lower"),
    ("dedup.planted_recall", "ratio", "higher"),
    ("metrics.partition_metrics_s", "s", "lower"),
    ("metrics.status_summary_s", "s", "lower"),
    ("job.wall_s", "s", "lower"),
    ("job.checkpoint_mb", "MB", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_failures", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.jvm_cpu_s", "s", "lower"),
    ("spark.python_cpu_s", "s", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
