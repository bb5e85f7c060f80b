"""The one Python map boundary: a per-row function -> a mapInArrow stage.

Every Python map stage (page extraction, the multimodal decoders, the
WARC reader) has the same contract: one input row in, zero or more
status rows out, failures contained per row by the row function itself.
`row_batches(fn, schema)` is that contract's batch envelope, so the
stages differ only in their row bodies:

- input: `batch.to_pylist()`, one dict per row keyed by column name
  (Arrow nulls arrive as honest `None`, no NaN reinterpretation);
- output: every dict `fn(row)` returns, built into one typed
  `pa.RecordBatch` per input batch against the Arrow form of the Spark
  schema. A key the dict omits is null; a batch with no outputs is a
  0-row batch with the declared schema. Values are not cast: an integer
  outside its column's range fails the build, so a row function whose
  integers come from file headers passes its dicts through `fit_ints`.

Why `mapInArrow` and hand-built dicts: the pandas envelope
(`mapInPandas`) paid an Arrow->pandas object-block conversion on input
and a per-column `Array.from_pandas` type inference / safe cast on
output; for the nested extraction columns (`links`
array<struct<..,map>>, `metadata` map<string,array<string>>) that was
the dominant cost next to ~0.4 ms/doc kernels (OPTIMIZATION_r09.md).
`RecordBatch.from_pylist` over row dicts costs about what the former
column-wise append loop did (33-44 us/doc on 256 heavy HTML pages, one
core).

Per-row scalar columns get the same contract from Spark itself:
`F.udf(f, type, useArrow=True)` (pyspark/worker.py
`wrap_arrow_batch_udf_arrow`) reads each column with `to_pylist()`,
calls `f(*row)` and builds `pa.array(results, type=...)`, no pandas.
Every per-row scalar UDF is one of these, called directly. `pandas_udf`
stays only where its pandas path gives something the row UDF does not:
numeric-array inputs, which pandas hands over as numpy arrays (`dedup`
banding; `similarity` hyperplane buckets, IVF assign, IVF-PQ encode),
and the two BPE token counters that memoise words across a whole batch
(`corpus_concat_chunks_bpe`, `corpus_token_budget`). Probe at local[2]
on a 4-vCPU host, 20k rows, five alternating reps, median (min) for
pandas_udf -> row UDF: `simhash64` 1.90 (1.72) -> 2.03 (1.76) s;
`minhash_signature`, 128 longs out, 3.15 (2.94) -> 3.24 (2.71) s;
`build_heavy_payload`, binary out, 0.94 (0.76) -> 0.89 (0.67) s; a
hyperplane hash over array<double>[64] 0.59 (0.38) -> 0.77 (0.66) s.
Sorted rows were identical in all four. One difference: a float NaN
result reads as null through pandas but stays NaN in the row UDF.

`to_arrow_schema` lives in the private module `pyspark.sql.pandas.types`
(signature as of Spark 4.1.2). It is imported here, at module import,
so a Spark upgrade that moves it fails when the pipeline is imported,
not in the middle of a job.

The batch function re-checks the warm-worker zipimport patch
(`sparktika/zipreread.py`) each task; the patch is installed when the
worker first imports `sparktika`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..zipreread import reread_zips_only_when_changed


_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32,
             T.LongType: 64}


def fit_ints(out: dict, schema: T.StructType) -> dict:
    """`out`, after checking each top-level integer value against its
    column's signed width. File headers carry unsigned 32/64-bit fields,
    and the Arrow build after the row function fails the whole task on a
    value that does not fit; called inside the row function's `try`, the
    ValueError raised here makes it that row's failure instead."""
    for f in schema.fields:
        bits = _INT_BITS.get(type(f.dataType))
        v = out.get(f.name)
        if bits and v is not None and not (
                -(1 << bits - 1) <= v < 1 << bits - 1):
            raise ValueError(f"{f.name}={v} does not fit a {bits}-bit column")
    return out


def row_batches(fn: Callable[[dict], Iterable[dict]], schema: T.StructType):
    """The `mapInArrow` batch function that runs `fn` on every input row
    and builds its outputs into batches of `schema`. `fn(row)` returns an
    iterable of output dicts: one for a map, zero or more for a flat-map.
    `fn` must catch what a row can raise, including an integer that does
    not fit its column (`fit_ints`); an exception fails the task."""
    arrow_schema = to_arrow_schema(schema)

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        reread_zips_only_when_changed()
        for batch in it:
            yield pa.RecordBatch.from_pylist(
                [out for row in batch.to_pylist() for out in fn(row)],
                schema=arrow_schema)

    return batches
