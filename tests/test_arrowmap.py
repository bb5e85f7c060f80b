"""The row-map boundary (`sparktika.pipeline.arrowmap.row_batches`), driven
directly with pyarrow batches — no JVM."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from sparktika.pipeline.arrowmap import fit_ints, row_batches
from sparktika.pipeline.schema import EXTRACTED_SCHEMA

OUT = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("n", T.IntegerType()),
    T.StructField("status", T.StringType()),
    T.StructField("error", T.StringType()),
])


def _run(fn, schema, batches):
    return list(row_batches(fn, schema)(iter(batches)))


def _ids(*ids):
    return pa.RecordBatch.from_pylist([{"id": i} for i in ids])


def test_omitted_keys_are_null():
    def fn(row):
        if row["id"] % 2:
            return [{"id": row["id"], "status": "failed", "error": "odd"}]
        return [{"id": row["id"], "n": row["id"] * 10, "status": "ok"}]

    (out,) = _run(fn, OUT, [_ids(1, 2)])
    assert out.to_pylist() == [
        {"id": 1, "n": None, "status": "failed", "error": "odd"},
        {"id": 2, "n": 20, "status": "ok", "error": None},
    ]


def test_flat_map_one_output_batch_per_input_batch():
    def fn(row):
        return [{"id": row["id"], "n": k} for k in range(row["id"])]

    outs = _run(fn, OUT, [_ids(0, 2), _ids(0), _ids(1)])
    assert [b.num_rows for b in outs] == [2, 0, 1]
    assert outs[0].to_pylist()[1] == {"id": 2, "n": 1, "status": None,
                                      "error": None}
    assert outs[1].schema.names == ["id", "n", "status", "error"]
    assert outs[1].schema.field("n").type == pa.int32()


def test_fit_ints_raises_inside_the_row_function():
    assert fit_ints({"id": 1, "n": -(1 << 31)}, OUT)["n"] == -(1 << 31)
    assert fit_ints({"id": (1 << 63) - 1, "n": None}, OUT)["n"] is None
    with pytest.raises(ValueError, match="n=4294967295 .* 32-bit"):
        fit_ints({"id": 1, "n": 0xFFFFFFFF}, OUT)
    with pytest.raises(ValueError, match="64-bit"):
        fit_ints({"id": 1 << 63}, OUT)

    def fn(row):
        try:
            return [fit_ints({"id": row["id"], "n": row["id"] << 31,
                              "status": "ok"}, OUT)]
        except ValueError as e:
            return [{"id": row["id"], "status": "failed", "error": str(e)}]

    (out,) = _run(fn, OUT, [_ids(0, 1)])
    assert [r["status"] for r in out.to_pylist()] == ["ok", "failed"]


def test_nested_link_and_metadata_values_round_trip():
    link = {"type": "a", "source_uri": "https://x/", "target_uri": "/b",
            "title": None, "anchor": "b", "rel": "nofollow",
            "params": {"href": "/b", "rel": "nofollow"}}
    row_out = {"url": "https://x/", "links": [link, dict(link, params={})],
               "metadata": {"Content-Type": ["text/html"],
                            "dc:title": ["a", "b"], "empty": []},
               "status": "ok", "n_bytes_in": 3, "write_limit_reached": False}

    (out,) = _run(lambda row: [row_out], EXTRACTED_SCHEMA,
                  [pa.RecordBatch.from_pylist([{"url": "https://x/"}])])
    (got,) = out.to_pylist()
    assert got["links"] == [
        dict(l, params=list(l["params"].items())) for l in row_out["links"]]
    assert dict(got["metadata"]) == row_out["metadata"]
    assert got["text_extracted"] is None and got["n_bytes_in"] == 3
