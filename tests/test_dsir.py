"""DSIR importance resampling (pipeline/dsir.py): the Python page twin
stays in lockstep with the column-expression corpus in
queries.corpus_dsir_sample, weights and acceptance are exact integer
arithmetic both engines reproduce (CLAUDE.md invariant 10), selection
is repartition-invariant, and the acceptance ramp is actually
exercised (per-kind rates are neither 0 nor 1)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from sparktika.pipeline.dsir import (
    LOG_RATIO_SCALED,
    RAMP_HALF,
    dsir_page_text,
    dsir_resample,
    dsir_weights,
)
from sparktika.pipeline.quality_model import N_BUCKETS, _score_text

SF = "/root/testdata/sf0.001"


def py_weight(text: str) -> int:
    toks = [x for x in text.split(" ") if x]
    if len(toks) < 2:
        return 0
    f = [7 * len(x) + ord(x[0]) for x in toks]
    return sum(LOG_RATIO_SCALED[(f[i] * 31 + f[i + 1]) % N_BUCKETS]
               for i in range(len(f) - 1))


def py_accept(doc_id: int, weight: int) -> bool:
    t = min(max(RAMP_HALF + weight, 0), 2 * RAMP_HALF - 1)
    u = int(hashlib.md5(f"{doc_id}:dsir".encode()).hexdigest()[:5], 16)
    return u < t


@pytest.fixture(scope="module")
def spark():
    from sparktika.pipeline.session import build_session

    s = build_session(master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_table_shape_and_scorer_reuse():
    assert len(LOG_RATIO_SCALED) == N_BUCKETS
    texts = [dsir_page_text(i) for i in range(30)] + ["", "one", "a  b"]
    ratios = np.asarray(LOG_RATIO_SCALED, dtype=np.int64)
    for t in texts:
        assert _score_text(t, ratios, 0) == py_weight(t), t


def test_ramp_is_exercised_per_kind():
    """Held-out ids: every kind must land strictly inside (0, 1)
    acceptance — the resampling is probabilistic, not a hard filter."""
    for kind in (0, 1, 2):
        ids = [i for i in range(330_000, 336_000) if i % 3 == kind]
        acc = sum(py_accept(i, py_weight(dsir_page_text(i)))
                  for i in ids)
        assert 0 < acc < len(ids), (kind, acc, len(ids))
    # and the target (prose) is preferentially kept
    rates = {}
    for kind in (0, 1, 2):
        ids = [i for i in range(330_000, 336_000) if i % 3 == kind]
        rates[kind] = sum(py_accept(i, py_weight(dsir_page_text(i)))
                          for i in ids) / len(ids)
    assert rates[0] > 2 * rates[1] and rates[0] > 2 * rates[2], rates


def test_spark_corpus_twin_lockstep(spark):
    """corpus_dsir_sample's column-expression text must equal
    dsir_page_text(doc_id) verbatim and its weights/acceptance must
    match the Python twin — the pin that lets the trainer run offline
    and the DuckDB oracle replay selection bit-for-bit."""
    from sparktika.queries import corpus_dsir_sample

    rows = corpus_dsir_sample(spark, SF).collect()
    assert rows
    for r in rows:
        w = py_weight(dsir_page_text(r.doc_id))
        assert r.weight_scaled == w, (r.doc_id, r.weight_scaled, w)
        assert r.accepted == py_accept(r.doc_id, w), r.doc_id


def test_selection_is_repartition_invariant(spark):
    """The accepted set is a pure function of (doc_id, text): any
    partitioning of the input yields the identical sample."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def sample(df):
        pages = df.selectExpr(
            "doc_id",
            "repeat('win free prize now click here buy cheap pills "
            "fast ', 1 + doc_id % 4) || 'visit casino site today' "
            "AS text")
        out = dsir_resample(dsir_weights(pages))
        return {r.doc_id for r in out.where("accepted").collect()}

    a = sample(docs.repartition(1))
    b = sample(docs.repartition(13, "lang"))
    assert a == b and a
