"""Tests of the benchmark itself (no Spark session is started).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import catalog  # noqa: E402
import inputs  # noqa: E402
import procfs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


@pytest.mark.parametrize("workload", ["html_extract", "mixed_formats",
                                      "recrawl_job", "near_dup"])
def test_same_seed_same_digest_other_seed_other_digest(workload):
    a = inputs.input_digest(*inputs.generate(workload, 7))
    b = inputs.input_digest(*inputs.generate(workload, 7))
    c = inputs.input_digest(*inputs.generate(workload, 8))
    assert a == b
    assert a != c


def test_materialize_reuses_checks_and_regenerates(tmp_path):
    first = inputs.materialize("near_dup", 3, str(tmp_path))
    assert first.n_docs == inputs.NEAR_DUP_DOCS
    table, expected, _ = inputs.generate("near_dup", 3)
    assert first.digest == inputs.input_digest(table, expected)
    # a changed input file no longer gives the manifest's digest: the
    # inputs are generated again, to the same rows
    part = os.path.join(first.pages, "part-00000.parquet")
    rows = pq.read_table(part).num_rows
    pq.write_table(pq.read_table(part).slice(1), part)
    assert inputs._load("near_dup", 3, first.root) is None
    again = inputs.materialize("near_dup", 3, str(tmp_path))
    assert again.digest == first.digest
    assert pq.read_table(part).num_rows == rows


def _outputs(expected: dict) -> list[dict]:
    return [{"url": u, "content_type_detected": "text/html", **{
        k: v for k, v in want.items() if k != "category"}}
        for u, want in expected.items()]


@pytest.mark.parametrize("workload", ["html_extract", "mixed_formats", "recrawl_job"])
def test_check_accepts_exact_and_rejects_corrupted_or_dropped_rows(workload):
    _, expected, _ = inputs.generate(workload, 5)
    rows = _outputs(expected)
    assert workloads.check_rows(expected, rows) == []

    corrupted = [dict(r) for r in rows]
    corrupted[3]["status"] = "failed" if corrupted[3]["status"] == "ok" else "ok"
    assert workloads.check_rows(expected, corrupted) == [corrupted[3]["url"]]

    dropped = rows[:10] + rows[11:]
    assert workloads.check_rows(expected, dropped) == [rows[10]["url"]]

    duplicated = rows + rows[:1]
    assert workloads.check_rows(expected, duplicated) == [rows[0]["url"]]


def _collected(batch: pa.RecordBatch) -> list[Row]:
    """An output batch as `collect()` returns it: structs as Rows, maps
    as dicts, columns in schema order."""
    rows = []
    for rec in batch.to_pylist():
        rec["metadata"] = dict(rec["metadata"])
        rec["links"] = [Row(**dict(l, params=dict(l["params"] or [])))
                        for l in rec["links"]]
        rows.append(Row(**rec))
    return rows


def _with(row: Row, **changes) -> Row:
    return Row(**dict(row.asDict(), **changes))


def test_full_row_check_compares_spark_rows_with_the_kernel():
    from sparktika.pipeline.extract import make_extract_fn
    from sparktika.synth import SYNTH_CONFIG, build_heavy_payload

    payload = {f"https://h/{d}": build_heavy_payload(d, "alpha beta gamma")
               for d in (1, 2, 3)}
    pages = pa.record_batch({"url": list(payload), "html": list(payload.values())})
    out = next(make_extract_fn(SYNTH_CONFIG)(iter([pages])))
    rows = _collected(out)
    assert rows[0].links and rows[0].metadata  # nested columns are compared
    assert workloads.full_row_failures(rows, payload, SYNTH_CONFIG) == set()

    link = rows[1].links[0]
    bad = [_with(rows[0], text_extracted=rows[0].text_extracted + "x"),
           _with(rows[1], links=[Row(**dict(link.asDict(), anchor="changed"))]
                 + rows[1].links[1:]),
           _with(rows[2], metadata=dict(rows[2].metadata, extra=["1"]))]
    assert workloads.full_row_failures(bad, payload, SYNTH_CONFIG) == set(payload)


@pytest.mark.parametrize("workload", ["mixed_formats", "recrawl_job"])
def test_planted_statuses_match_the_kernel(workload):
    """Every generated mixed-format document (the newest snapshot of each
    url) gets the status planted for it."""
    from sparktika.kernels.extract import extract_document
    from sparktika.synth import SYNTH_CONFIG

    table, expected, _ = inputs.generate(workload, 9)
    newest = {}
    for u, t, d in zip(*(table.column(c).to_pylist()
                         for c in ("url", "warc_ts", "html"))):
        if u not in newest or t > newest[u][0]:
            newest[u] = (t, d)
    for u, (_t, d) in newest.items():
        r = extract_document(u, None, d, SYNTH_CONFIG)
        assert (r.status, r.n_bytes_in) == (
            expected[u]["status"], expected[u]["n_bytes_in"]), expected[u]


def test_proc_cpu_is_non_negative_and_monotone():
    readings = []
    t_end = time.perf_counter() + 0.3
    while time.perf_counter() < t_end:
        sum(i * i for i in range(20_000))
        readings.append(procfs.tree_cpu_s())
    assert readings[0] >= 0
    assert all(b >= a for a, b in zip(readings, readings[1:]))
    assert readings[-1] > readings[0]
    assert procfs.tree_rss_mb() > 0
    assert os.getpid() in procfs.tree_pids()


def test_pass_clock_and_rss_sampler():
    with procfs.RssSampler(interval_s=0.01) as rss, procfs.PassClock() as clock:
        sum(i * i for i in range(200_000))
    assert clock.wall_s > 0 and clock.cpu_s >= 0 and clock.steal_s >= 0
    assert rss.peak_mb > 0 and rss.samples >= 2


def test_benchmark_json_names_match_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in bench["end_to_end"]] == catalog.END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == catalog.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def test_every_end_to_end_metric_is_emitted():
    samples = [{"wall_s": 1.0 + i / 10, "cpu_s": 2.0, "ok": True,
                "task_failures": 0, "warm": i == 0, "peak_rss_mb": 500.0 + i}
               for i in range(4)]
    m = run.end_to_end_metrics([3.0, 1.0, 1.2], samples, 1000)
    assert list(m) == [name for name, *_ in catalog.END_TO_END]
    assert all(v > 0 for v in m.values())
    assert m["docs_per_s"] == pytest.approx(1000 / 1.2)
    assert m["peak_rss_mb"] == pytest.approx(501.5)


def test_every_per_layer_metric_is_set_by_some_workload():
    """Each name in PER_LAYER is assigned in the harness source, literally
    or through one of its f-string families."""
    src = "".join(open(os.path.join(BENCH, f)).read()
                  for f in ("run.py", "workloads.py"))
    families = [r"dispatch\.route_docs\.", r"dispatch\.status_docs\.",
                r"route\.\w+\.us_per_doc", r"spark\.(?!python_cpu_s)"]
    for name, *_ in catalog.PER_LAYER:
        assert (f'"{name}"' in src
                or any(re.match(f, name) for f in families)), name


def test_refuses_a_tree_without_the_program(tmp_path):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--workload", "html_extract", "--seed", "1",
                        "--seconds", "1", "--trace", "0", "--tree", str(tmp_path)],
                       capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert "{" not in p.stdout


def test_compare_refuses_different_inputs(tmp_path):
    def record(digest):
        return {"context": {"workload": "html_extract", "input_digest": digest,
                            "trace": 0, "master": "local[4]"},
                "metrics": {"docs_per_s": 1.0}}

    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(record("x")))
    b.write_text(json.dumps(record("y")))
    assert run.compare(str(a), str(b)) == 2
    b.write_text(json.dumps(record("x")))
    assert run.compare(str(a), str(b)) == 0


def test_route_families():
    assert workloads.route_of("text/html") == "html"
    assert workloads.route_of(
        "application/vnd.openxmlformats-officedocument.wordprocessingml.document") == "ooxml"
    assert workloads.route_of("application/vnd.oasis.opendocument.text") == "odf"
    assert workloads.route_of("application/msword") == "ole2"
    assert workloads.route_of("application/x-7z-compressed") == "archive"
    assert workloads.route_of("message/rfc822") == "mail"
    assert workloads.route_of("application/rss+xml") == "xml"
    assert workloads.route_of("image/png") == "media"
    assert workloads.route_of(None) == "other"
