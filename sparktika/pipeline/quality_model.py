"""Learned quality scoring as a vectorized linear model (r5 VERDICT
item 9).

Public methodology (fastText / DCLM-style quality classifiers): hash
token-bigram features into a small bucket space, score with a linear
model, keep documents above threshold. Everything here is exact
integer arithmetic so the DuckDB oracle can reproduce scores bit-for-
bit (integer-ppm logits, CLAUDE.md invariant 10):

  token feature   f(t)  = 7 * len(t) + ord(t[0])
  bigram bucket   h     = (f(t1) * 31 + f(t2)) % 64
  score_ppm             = BIAS_PPM + sum over bigrams of WEIGHTS_PPM[h]
  keep                  = score_ppm > 0

The weights were trained OFFLINE by tools/train_quality_model.py:
logistic regression (plain numpy gradient descent, no sklearn) on
20,000 synthetic pages from ``quality_page_text`` with ids 100000+
(disjoint from every gate/test id range), labels = the generator's
planted good/spam parity, then quantized to ppm integers. Training
accuracy is reported by the script and pinned >= 0.99 in pytest by
re-running the scorer over a held-out id range.

Scale posture: the weight vector rides an explicit Spark broadcast
(the pattern that matters when D is 2**20, not 64); scoring is a
map-only Arrow row UDF over the text column — one scan,
zero shuffles (pinned in tests/test_plan_audits.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

N_BUCKETS = 64

# Planted-quality page generator (Python twin of the column-expression
# corpus in queries.corpus_quality_model — a pytest pins the two in
# lockstep). Even ids are clean prose, odd ids are keyword spam.
_GOOD = ("Researchers measured the effect carefully. "
         "The study shows clear and repeatable results. "
         "Peer review confirmed the analysis.")
_SPAM = "win free prize now click here buy cheap pills fast "


def quality_page_text(doc_id: int) -> str:
    if doc_id % 2 == 0:
        return (_GOOD + " Sample " + str(doc_id % 7) + " was archived."
                + " Further work is planned." * (doc_id % 3))
    return _SPAM * (1 + doc_id % 3) + "visit casino site today"


# Trained by tools/train_quality_model.py (seed 0, ids 100000..119999,
# 400 epochs full-batch GD, lr 0.1, then round(w * 1e6 / 50) ppm
# quantization). Trainer output: train acc float=1.0000
# quantized=1.0000; held-out acc float=1.0000 quantized=1.0000.
BIAS_PPM = -2180
WEIGHTS_PPM = [
    4729, -26, 9535, 21, 9002, 72, 4964, 189,
    -141, -253, -2097, 8, -465, -4196, -249, -7553,
    -8191, -4514, 646, 209, -1553, 273, -133, -3858,
    181, 19, 481, 468, 689, 5311, 425, 732,
    5349, 108, -6841, -8785, -131, -26, 9564, 5002,
    -7135, 303, 269, 156, 53, -63, 292, -7787,
    14471, 890, 4775, -8318, -1, 761, -9114, 4783,
    86, 139, 4467, -132, 4318, -234, -8508, -99,
]


def _score_text(text: str | None, weights: np.ndarray, bias: int) -> int:
    toks = [x for x in (text or "").split(" ") if x]
    if len(toks) < 2:
        return bias
    f = np.fromiter((7 * len(x) + ord(x[0]) for x in toks),
                    dtype=np.int64, count=len(toks))
    buckets = (f[:-1] * 31 + f[1:]) % N_BUCKETS
    return bias + int(weights[buckets].sum())


def score_quality(df: DataFrame, text_col: str = "text",
                  weights: list[int] | None = None,
                  bias: int | None = None) -> DataFrame:
    """Append ``score_ppm`` (long) and ``keep`` (boolean) columns.

    The weight vector is shipped as an explicit broadcast variable —
    with a realistic 2**20-bucket model this is the difference between
    one copy per executor and one per task closure.
    """
    spark = df.sparkSession
    bw = spark.sparkContext.broadcast(
        np.asarray(weights if weights is not None else WEIGHTS_PPM,
                   dtype=np.int64))
    b = BIAS_PPM if bias is None else bias

    score_udf = F.udf(lambda t: _score_text(t, bw.value, b), "long",
                      useArrow=True)
    return df.withColumn("score_ppm", score_udf(F.col(text_col))) \
             .withColumn("keep", F.col("score_ppm") > 0)
