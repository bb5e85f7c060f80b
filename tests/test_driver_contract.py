"""Self-check of the driver contract: run every queries() entry on Spark
and its oracle_sql() on DuckDB over the same parquet, compare row count,
column names, and an order-insensitive value multiset — mimicking the
driver's CORRECTNESS gate so mismatches surface locally first.

Runs at sf0.001 for speed (the driver uses sf0.01).
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def spark():
    from sparktika.pipeline.session import build_session

    s = build_session(master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def _multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)


ORACLED = sorted(entrymod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entrymod.queries()) - set(ORACLED))


def test_gate_priority_names_fill_the_window():
    """The correctness gate reads only the first 50 queries() entries.
    _gate_order drops a _GATE_PRIORITY name that is not registered without
    a word, so a query re-keyed by a bad edit would leave the window
    unseen. No JVM needed."""
    from sparktika.queries import _GATE_PRIORITY

    names = list(entrymod.queries())
    assert [n for n in _GATE_PRIORITY if n not in names] == []
    assert len(set(_GATE_PRIORITY)) == len(_GATE_PRIORITY)
    assert len(_GATE_PRIORITY) <= 50
    assert names[:len(_GATE_PRIORITY)] == _GATE_PRIORITY


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ducks, name):
    qfn = entrymod.queries()[name]
    sdf = qfn(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    odf = ducks.execute(entrymod.oracle_sql()[name]).fetchall()
    ocols = [d[0] for d in ducks.description]

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(odf), f"{name}: row count {len(srows)} != {len(odf)}"
    sset = _multiset(srows, scols)
    oset = _multiset(odf, ocols)
    if sset != oset:
        diffs = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
    # r5: EVERY oracle-backed query must prove a nonzero result so a
    # 0 == 0 match can never pass silently (r3 verdict: Q22 compared
    # empty sets at every scale; r5 found text_contamination had done
    # the same since r3). Add a query here ONLY with a comment saying
    # why empty is the correct answer at sf0.001.
    _MAY_BE_EMPTY: set = set()
    if name not in _MAY_BE_EMPTY:
        assert len(srows) > 0, f"{name}: vacuous — oracle comparison on 0 rows"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    sdf = entrymod.queries()[name](spark, SF_DIR)
    rows = sdf.collect()
    assert rows is not None
    # rows-only entries must still be non-degenerate where dups were planted
    if name in ("dedup_minhash_lsh", "dedup_simhash"):
        assert len(rows) > 0, f"{name}: planted exact duplicates must be found"
    if name == "text_winnowing":
        assert len(rows) > 0 and all(r["n_fingerprints"] > 0 for r in rows)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "url", "content_type_detected", "charset_detected", "status",
        "n_bytes_in", "n_chars_out", "text_sha"}
    statuses = {r["status"] for r in rows}
    assert "ok" in statuses
