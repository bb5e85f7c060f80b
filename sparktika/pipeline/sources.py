"""Corpus sources beyond parquet/Iceberg: WARC ingestion.

`read_warc_pages` turns a directory/glob of .warc(.gz) files into the
canonical pages shape (url, warc_ts, html, text, lang). Physical model:
`binaryFile` gives one row per archive file, so parallelism = number of
WARC files — Common Crawl ships ~1GB segments in the tens of thousands
per crawl, which parallelizes a 1000-executor cluster naturally. The
per-file record iteration runs inside mapInArrow (`warc_records`); a
malformed archive degrades to zero rows for that file (logged in the
`error` of a sentinel row) rather than failing the task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .arrowmap import row_batches

WARC_PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.StringType()),       # ISO string from WARC-Date
    T.StructField("html", T.BinaryType()),
    T.StructField("content_type", T.StringType()),  # declared (HTTP header)
    T.StructField("source_file", T.StringType()),
    T.StructField("error", T.StringType()),
])


def warc_records(files: DataFrame,
                 max_inflate_ratio: float = 200.0) -> DataFrame:
    """binaryFile-shaped (path, content) rows -> one WARC_PAGES_SCHEMA row
    per response record, plus one (source_file, error) sentinel row for an
    archive that fails to parse (the records read before the failure
    stay)."""
    from ..kernels.warc import parse_warc

    def records(row: dict) -> list[dict]:
        path, out = row["path"], []
        try:
            for rec in parse_warc(row["content"],
                                  max_inflate_ratio=max_inflate_ratio):
                out.append(dict(url=rec.target_uri, warc_ts=rec.warc_date,
                                html=rec.body,
                                content_type=rec.http_content_type,
                                source_file=path))
        except Exception as e:  # poisoned archive -> sentinel row
            out.append(dict(source_file=path,
                            error=f"{type(e).__name__}: {e}"))
        return out

    return files.select("path", "content").mapInArrow(
        row_batches(records, WARC_PAGES_SCHEMA), WARC_PAGES_SCHEMA)


def read_warc_pages(spark: SparkSession, path_glob: str,
                    max_inflate_ratio: float = 200.0) -> DataFrame:
    """WARC files -> pages-shaped DataFrame (plus source_file/error columns;
    select the canonical five to feed extract_pages)."""
    raw = warc_records(spark.read.format("binaryFile").load(path_glob),
                       max_inflate_ratio)
    return (
        raw.filter(F.col("error").isNull() & F.col("url").isNotNull())
        .withColumn("warc_ts", F.to_timestamp("warc_ts"))
        .withColumn("text", F.lit(None).cast("string"))
        .withColumn("lang", F.lit(None).cast("string"))
    )


def read_warc_errors(spark: SparkSession, path_glob: str,
                     max_inflate_ratio: float = 200.0) -> DataFrame:
    """(source_file, error) sentinel rows for archives that failed to
    parse — read_warc_pages drops them from the pages shape, so a
    production ingest MUST check this side output or whole archives
    vanish silently (r5 review)."""
    raw = warc_records(spark.read.format("binaryFile").load(path_glob),
                       max_inflate_ratio)
    return raw.filter(F.col("error").isNotNull()) \
              .select("source_file", "error")
