"""The Arrow row-stage shell (vunnel_spark/row_stage.py), driven on the
driver: the batch function is captured through a stand-in frame and fed
pandas batches directly.  Only the DDL check needs a Spark session."""

import pandas as pd
import pytest

from vunnel_spark.row_stage import row_stage, schema_names

SCHEMA = "doc_id long, part struct<idx:int, tag:string>, n int"


class _Capture:
    """Stands in for a DataFrame: records what ``mapInPandas`` was given
    and implements nothing else, so the shell must call nothing else."""

    fn = schema = None

    def mapInPandas(self, fn, schema):  # noqa: N802 - DataFrame's name
        self.fn, self.schema = fn, schema
        return self


def _explode(doc_id, n):
    # n output rows per input row: 0, 1 or many
    for i in range(n):
        yield (doc_id, {"idx": i, "tag": f"t{i}"}, n)


def _run(batches, schema=SCHEMA, in_cols=("doc_id", "n"), row_fn=_explode):
    cap = _Capture()
    assert row_stage(cap, schema, in_cols, row_fn) is cap
    assert cap.schema is schema
    return list(cap.fn(iter(batches)))


def test_zero_one_and_many_rows_per_input_row():
    batch = pd.DataFrame({"doc_id": [7, 8, 9], "n": [0, 1, 3], "extra": ["a", "b", "c"]})
    (out,) = _run([batch])
    assert list(out.columns) == ["doc_id", "part", "n"]
    assert list(out["doc_id"]) == [8, 9, 9, 9]
    assert [p["idx"] for p in out["part"]] == [0, 0, 1, 2]
    assert list(out["n"]) == [1, 3, 3, 3]


def test_one_output_batch_per_input_batch():
    a = pd.DataFrame({"doc_id": [1], "n": [2]})
    b = pd.DataFrame({"doc_id": [2], "n": [1]})
    frames = _run([a, b])
    assert [len(f) for f in frames] == [2, 1]


def test_in_cols_are_read_by_name_not_position():
    batch = pd.DataFrame({"n": [2], "junk": [0], "doc_id": [5]})
    (out,) = _run([batch])
    assert list(out["doc_id"]) == [5, 5]


def test_empty_result_is_an_empty_frame_with_schema_columns():
    batch = pd.DataFrame({"doc_id": [1, 2], "n": [0, 0]})
    frames = _run([batch, batch.iloc[:0]])
    assert len(frames) == 2
    for f in frames:
        assert f.empty
        assert list(f.columns) == ["doc_id", "part", "n"]


def test_struct_type_schema():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("page_id", LongType()), StructField("pkg", StringType())])
    batch = pd.DataFrame({"page_id": [3], "html": ["a b"]})
    (out,) = _run([batch], schema, ("page_id", "html"),
                  lambda pid, html: ((pid, w) for w in html.split()))
    assert list(out.columns) == ["page_id", "pkg"]
    assert list(out["pkg"]) == ["a", "b"]


def test_row_fn_error_propagates():
    def bad(doc_id, n):
        raise ValueError("corrupt payload")

    with pytest.raises(ValueError, match="corrupt payload"):
        _run([pd.DataFrame({"doc_id": [1], "n": [1]})], row_fn=bad)


@pytest.mark.parametrize("ddl", [
    SCHEMA,
    "media_id long, payload binary, "
    "meta struct<format:string, width:int, height:int, n_bytes:bigint>",
    "a decimal(10, 2), b map<string, array<struct<x:int, y:int>>>, c array<int>",
    "path string, definition_id string, title string",
])
def test_schema_names_match_spark_ddl_parser(spark, ddl):
    from pyspark.sql.types import StructType

    assert schema_names(ddl) == StructType.fromDDL(ddl).fieldNames()
