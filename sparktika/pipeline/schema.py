"""Engine schemas.

`pages` follows BASELINE.json input_hint exactly:
  (url string, warc_ts timestamp, html binary, text string, lang string)

`pages_extracted` maps the reference's outputs to columns
(SURVEY.md §1.4): metadata multimap -> map<string,array<string>>,
Link record -> array<struct>, parse outcome -> status/error columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

LINK_TYPE = T.StructType([
    T.StructField("type", T.StringType()),
    T.StructField("source_uri", T.StringType()),
    T.StructField("target_uri", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("anchor", T.StringType()),
    T.StructField("rel", T.StringType()),
    T.StructField("params", T.MapType(T.StringType(), T.StringType())),
])

EXTRACTED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("content_type_declared", T.StringType()),
    T.StructField("content_type_detected", T.StringType()),
    T.StructField("charset_detected", T.StringType()),
    T.StructField("text_extracted", T.StringType()),
    T.StructField("main_text", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("links", T.ArrayType(LINK_TYPE)),
    T.StructField("metadata", T.MapType(T.StringType(), T.ArrayType(T.StringType()))),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
    T.StructField("parse_ms", T.LongType()),
    T.StructField("n_bytes_in", T.LongType()),
    T.StructField("n_chars_out", T.LongType()),
    T.StructField("write_limit_reached", T.BooleanType()),
])
