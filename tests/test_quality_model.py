"""Learned quality model (pipeline/quality_model.py): the Python page
twin stays in lockstep with the column-expression corpus in
queries.corpus_quality_model, the quantized weights generalize to a
held-out id range, and scoring is exact integer arithmetic the DuckDB
oracle can reproduce (CLAUDE.md invariant 10)."""

from __future__ import annotations

import numpy as np
import pytest

from sparktika.pipeline.quality_model import (
    BIAS_PPM,
    N_BUCKETS,
    WEIGHTS_PPM,
    _score_text,
    quality_page_text,
    score_quality,
)

SF = "/root/testdata/sf0.001"


def py_score(text: str) -> int:
    toks = [x for x in text.split(" ") if x]
    if len(toks) < 2:
        return BIAS_PPM
    f = [7 * len(x) + ord(x[0]) for x in toks]
    return BIAS_PPM + sum(
        WEIGHTS_PPM[(f[i] * 31 + f[i + 1]) % N_BUCKETS]
        for i in range(len(f) - 1))


@pytest.fixture(scope="module")
def spark():
    from sparktika.pipeline.session import build_session

    s = build_session(master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_weight_vector_shape():
    assert len(WEIGHTS_PPM) == N_BUCKETS
    assert BIAS_PPM != 0 and any(w != 0 for w in WEIGHTS_PPM)


def test_held_out_accuracy_is_perfect():
    """Ids 200000..200999 were never seen by the trainer (it fit on
    100000..119999); keep must equal the planted good/spam parity."""
    ids = range(200_000, 201_000)
    weights = np.asarray(WEIGHTS_PPM, dtype=np.int64)
    for i in ids:
        s = _score_text(quality_page_text(i), weights, BIAS_PPM)
        assert (s > 0) == (i % 2 == 0), (i, s)


def test_scorer_matches_reference_arithmetic():
    """_score_text agrees with the spelled-out integer formula on the
    twin corpus plus edge cases (empty, single-token, multi-space)."""
    texts = [quality_page_text(i) for i in range(40)] + [
        "", "one", "a  b", "  leading and trailing  "]
    weights = np.asarray(WEIGHTS_PPM, dtype=np.int64)
    for t in texts:
        assert _score_text(t, weights, BIAS_PPM) == py_score(t), t


def test_spark_corpus_twin_lockstep(spark):
    """corpus_quality_model's column-expression text must equal
    quality_page_text(doc_id) verbatim, and its scores must match the
    Python twin — this is the pin that lets the trainer run offline."""
    from sparktika.queries import corpus_quality_model

    rows = corpus_quality_model(spark, SF).collect()
    assert rows
    for r in rows:
        exp = py_score(quality_page_text(r.doc_id))
        assert r.score_ppm == exp, (r.doc_id, r.score_ppm, exp)
        assert r.keep == (exp > 0)
        assert r.keep == (r.doc_id % 2 == 0)


def test_score_quality_custom_weights(spark):
    """The weights/bias overrides are honored (callers can ship their
    own trained vector) and null text scores as bias."""
    df = spark.createDataFrame(
        [(1, "aa bb"), (2, None)], "id long, text string")
    w = [0] * N_BUCKETS
    f_aa, f_bb = 7 * 2 + ord("a"), 7 * 2 + ord("b")
    w[(f_aa * 31 + f_bb) % N_BUCKETS] = 5
    got = {r.id: (r.score_ppm, r.keep)
           for r in score_quality(df, weights=w, bias=-3).collect()}
    assert got[1] == (2, True)
    assert got[2] == (-3, False)
