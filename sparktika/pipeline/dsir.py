"""DSIR-style importance resampling (r6 VERDICT item 8).

Public methodology — Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling" (arXiv:2302.03169): fit bag-of-
hashed-n-gram models over a TARGET corpus (what you want more of) and
the raw PROPOSAL corpus (what you have), weight each document by the
log importance ratio  log p_target(x) - log q_proposal(x)  summed over
its hashed n-gram features, then resample the corpus with acceptance
probability increasing in that weight.

Everything here is exact integer arithmetic so the DuckDB oracle can
replay selection bit-for-bit (CLAUDE.md invariant 10):

  token feature    f(t)   = 7 * len(t) + ord(t[0])         (shared
  bigram bucket    h      = (f(t1) * 31 + f(t2)) % 64       feature
                                                            space with
                                                            quality_model)
  weight_scaled           = sum over bigrams of LOG_RATIO_SCALED[h]
  accept threshold t      = clamp(2**19 + weight_scaled, 0, 2**20 - 1)
  uniform draw     u      = first 5 hex digits of
                            md5(doc_id || ':dsir')  (20 bits)
  accepted                = u < printf('%05x', t)   (hex-string order
                                                     == numeric order
                                                     at fixed width)

i.e. a piecewise-linear acceptance ramp centred at weight 0 spanning
±2**19 scaled-log-ratio units — deterministic, repartition-invariant
(a pure function of doc_id + text), and reproducible across engines.

LOG_RATIO_SCALED was fit OFFLINE by tools/train_dsir.py: bucket
frequencies with add-one smoothing over 20,000 synthetic pages
(ids 300000..319999, disjoint from every gate/test id range) — target
= the formal-prose third of ``dsir_page_text``, proposal = the full
three-way mixture — then  round(ln(p_h / q_h) * 3000)  quantization.
The scale puts typical per-doc sums INSIDE the ±2**19 ramp (held-out
acceptance: prose 0.529, boilerplate 0.101, spam 0.211) so the
probabilistic resampling is actually exercised rather than collapsing
into a degenerate hard filter.

Scale posture: the 64-entry table rides an explicit Spark broadcast
(the pattern that matters at 2**20 buckets); weighting is a map-only
Arrow row UDF and acceptance is pure built-in column
arithmetic — one scan, zero shuffles (pinned in test_plan_audits.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .quality_model import _score_text

RAMP_HALF = 1 << 19          # acceptance ramp half-width (20-bit draw)

# Planted three-way corpus (Python twin of the column-expression corpus
# in queries.corpus_dsir_sample — a pytest pins the two in lockstep).
# kind 0 = formal prose (the TARGET), 1 = navigation boilerplate,
# 2 = keyword spam.
_PROSE = ("The committee published a detailed annual report. "
          "Findings were reviewed, replicated and archived. "
          "Methods are described in the appendix.")
_NAV = "home about contact privacy terms sitemap login register help "
_SPAM = "win free prize now click here buy cheap pills fast "


def dsir_page_text(doc_id: int) -> str:
    k = doc_id % 3
    if k == 0:
        return (_PROSE + " Volume " + str(doc_id % 7) + " is public."
                + " Further work is planned." * (doc_id % 4))
    if k == 1:
        return _NAV * (2 + doc_id % 3) + "copyright notice"
    return _SPAM * (1 + doc_id % 4) + "visit casino site today"


# Fit by tools/train_dsir.py (see module docstring). Units: ln-ratio
# * 3000, rounded to nearest int.
LOG_RATIO_SCALED = [
    -27948, 3295, 3295, 3295, 3295, 3295, 3295, 3295,
    3295, 3295, 547, 3295, 3295, -2320, 3295, -1103,
    -28234, 353, 3295, 3295, -23120, 3295, -26416, -23120,
    3295, 3295, -5976, 3295, 3295, 3295, 1409, 3295,
    3295, 3295, -23120, -25868, 3295, 3295, 3295, 3295,
    -23120, 3295, 3295, -26416, 3295, -864, 3295, -463,
    3295, 3295, 3295, -25868, 3295, 3295, -1908, 3295,
    3295, 3295, 3295, -317, 3295, 3295, 863, 3295,
]


def dsir_weights(df: DataFrame, text_col: str = "text",
                 ratios: list[int] | None = None) -> DataFrame:
    """Append ``weight_scaled`` (long): the summed scaled log importance
    ratio of the document's hashed-bigram features. Table broadcast,
    map-only Arrow row UDF — same shape as quality_model.score_quality."""
    spark = df.sparkSession
    bw = spark.sparkContext.broadcast(
        np.asarray(ratios if ratios is not None else LOG_RATIO_SCALED,
                   dtype=np.int64))

    weight_udf = F.udf(lambda t: _score_text(t, bw.value, 0), "long",
                       useArrow=True)
    return df.withColumn("weight_scaled", weight_udf(F.col(text_col)))


def dsir_resample(df: DataFrame, key_col: str = "doc_id",
                  weight_col: str = "weight_scaled") -> DataFrame:
    """Append ``accepted`` (boolean): the deterministic md5-threshold
    acceptance draw described in the module docstring. Pure built-in
    column arithmetic — no UDF, no shuffle."""
    thresh = F.least(
        F.greatest(F.lit(RAMP_HALF).cast("long") + F.col(weight_col),
                   F.lit(0).cast("long")),
        F.lit(2 * RAMP_HALF - 1).cast("long"))
    draw = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":dsir"))),
        1, 5)
    return df.withColumn(
        "accepted", draw < F.format_string("%05x", thresh))
