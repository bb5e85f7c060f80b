"""Table IO: Iceberg-first with parquet fallback.

The production deployment (BASELINE.json north rule) reads/writes Iceberg
(`spark.read.format("iceberg")` / `df.writeTo(...).append()`), which buys
snapshot-isolated resume, partition pruning and compaction. This sandbox
has no Iceberg runtime jars, so the helpers probe for the catalog and fall
back to parquet dirs with the same call shape; the resume contract
(pipeline/resume.py) only needs "committed rows are listable".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_ICEBERG_PROBE: bool | None = None  # per-process cache (one JVM here)


def iceberg_available(spark: SparkSession) -> bool:
    global _ICEBERG_PROBE
    if _ICEBERG_PROBE is None:
        try:
            # py4j returns a JavaPackage (no exception) for a MISSING
            # class, so attribute access alone always "succeeds" — force
            # a real classload (r5 review: the parquet fallback never
            # engaged). Cached: a resume run otherwise paid the py4j
            # Class.forName round-trip + exception up to five times
            # (r8 review).
            spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — probe
                "org.apache.iceberg.Table")
            _ICEBERG_PROBE = True
        except Exception:
            _ICEBERG_PROBE = False
    return _ICEBERG_PROBE


def is_iceberg_location(spark: SparkSession, location: str) -> bool:
    """THE one dispatch predicate (r8 review: four copies in this file
    plus a hand-inverted fifth in job.py could drift): catalog-style
    names (no '/') go to Iceberg when the runtime is present; paths go
    to parquet."""
    return "/" not in location and iceberg_available(spark)


def read_table(spark: SparkSession, location: str) -> DataFrame:
    """location = 'catalog.db.table' (Iceberg) or a path (parquet)."""
    if is_iceberg_location(spark, location):
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


def append_table(df: DataFrame, location: str) -> None:
    if is_iceberg_location(df.sparkSession, location):
        df.writeTo(location).append()
        return
    df.write.mode("append").parquet(location)


def table_exists(spark: SparkSession, location: str) -> bool:
    """True iff the table/path exists WITH COMMITTED DATA. Used by resume
    detection: ONLY a definite does-not-exist counts as 'first run'; any
    other failure (transient FS error, permissions) must propagate so a
    flaky read can never silently disable the anti-join and duplicate
    already-committed rows.

    Committed means at least one data/_SUCCESS file: a run that crashed
    mid-write leaves the output dir (FileOutputCommitter creates it
    before job commit) with only _temporary inside — treating that as
    'exists' bricked every later resume on an unreadable empty parquet
    dir (r8 review, repro-confirmed failure mode)."""
    if is_iceberg_location(spark, location):
        # no except: a transient catalog error must propagate, not read as
        # "first run" (same contract the parquet branch enforces)
        return spark.catalog.tableExists(location)
    jvm = spark._jvm  # noqa: SLF001
    hconf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    path = jvm.org.apache.hadoop.fs.Path(location)
    fs = path.getFileSystem(hconf)
    if not fs.exists(path):
        return False
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name == "_SUCCESS":
            return True
        if name.startswith(("_", ".")):
            continue  # _temporary, .crc and other hidden entries
        if st.isDirectory():
            # a `k=v` partition directory also counts as committed data
            # (r9, ADVICE): partitionBy layouts with _SUCCESS markers
            # disabled (common on object stores) hold only partition
            # dirs at the top level — reading that as 'first run' would
            # silently disable the resume anti-join and duplicate
            # committed rows. Any other directory (an empty or unrelated
            # `foo/`) is not data: resume would fail inferring a schema.
            key, _, value = name.partition("=")
            if key and value:
                return True
        elif st.getLen() > 0:
            return True
    return False


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   n_buckets: int = 32, sort_col: str | None = None) -> None:
    """Bucketed managed table: co-locates join/agg keys at WRITE time so
    repeated joins on `bucket_col` run shuffle-free (the 100-TB answer to
    'this dimension is joined every run'). Iceberg deployments get the
    same effect from bucket partition transforms; the local fallback uses
    Spark's native bucketing (requires saveAsTable)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)
