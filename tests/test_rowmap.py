"""``row_map`` (operators/rowmap.py) against the same per-row function
applied on the driver to ``toPandas()``, for each row shape the Arrow
stages use, and the one-path rule for the modules built on it."""

from __future__ import annotations

import ast
from pathlib import Path

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal

from challenge8_movies_etl_spark.operators.rowmap import row_map

PKG = Path(__file__).resolve().parent.parent / "challenge8_movies_etl_spark"


def _assert_driver_equal(df, fn, schema):
    """``row_map(df, fn, schema)`` equals ``fn`` run row by row over
    ``df.toPandas()``; returns the Spark result."""
    got = row_map(df, fn, schema).toPandas()
    want = pd.DataFrame(
        [out for values in df.toPandas().itertuples(index=False, name=None)
         for out in fn(*values)], columns=got.columns)
    key = list(got.columns)
    assert_frame_equal(got.sort_values(key).reset_index(drop=True),
                       want.sort_values(key).reset_index(drop=True),
                       check_dtype=False)
    return got


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "ab", bytearray(b"\x00\x01")), (2, "cde", bytearray(b"")),
         (3, "", bytearray(b"xyz")), (4, None, bytearray(b"q"))],
        "doc_id bigint, text string, payload binary")


def test_one_row_in_one_row_out(docs):
    def one(doc_id, text, payload):
        yield len(payload), text, doc_id * 10

    got = _assert_driver_equal(
        docs, one, "n bigint, text string, doc_id10 bigint")
    assert len(got) == 4


def test_one_row_in_many_rows_out(docs):
    def explode(doc_id, text, payload):
        for i in range(doc_id):
            yield doc_id, i, bytes(payload[:i])

    got = _assert_driver_equal(
        docs, explode, "doc_id bigint, i bigint, head binary")
    assert len(got) == 1 + 2 + 3 + 4


def test_one_row_in_zero_rows_out(docs):
    def keep_even(doc_id, text, payload):
        if doc_id % 2 == 0:
            yield doc_id, text

    got = _assert_driver_equal(docs, keep_even, "doc_id bigint, text string")
    assert sorted(got["doc_id"]) == [2, 4]


def test_empty_partitions(spark):
    # three partitions for two rows: at least one task sees no batch
    df = spark.sparkContext.parallelize([(5,), (6,)], 3).toDF(["v"])
    assert df.rdd.getNumPartitions() == 3
    got = _assert_driver_equal(df, lambda v: [(v + 1,)], "w bigint")
    assert sorted(got["w"]) == [6, 7]
    none = spark.range(0)
    assert _assert_driver_equal(none, lambda i: [(i,)], "i bigint").empty


def test_exception_in_fn_reaches_the_caller(docs):
    def fails_on_3(doc_id, text, payload):
        if doc_id == 3:
            raise ValueError("row_map probe: bad row 3")
        yield (doc_id,)

    with pytest.raises(Exception, match="row_map probe: bad row 3"):
        row_map(docs, fails_on_3, "doc_id bigint").collect()


# The per-row Arrow stages of these modules are written as ``row_map``
# functions; only the two batch kernels below stay plain mapInPandas.
ROW_MAP_MODULES = ("queries_crawl.py", "queries_formats.py",
                   "queries_audio.py", "operators/multimodal.py",
                   "operators/audio.py", "operators/video.py")
BATCH_KERNELS = {"_assign_file",
                 "lambda batches: map(decode_stub, batches)"}


def _is_column(node) -> bool:
    """``pdf["col"]``: a frame column read by name."""
    return (isinstance(node, ast.Subscript)
            and isinstance(node.slice, ast.Constant)
            and isinstance(node.slice.value, str))


def test_per_row_stages_have_one_path():
    found = []
    for rel in ROW_MAP_MODULES:
        tree = ast.parse((PKG / rel).read_text())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas"
                    and ast.unparse(node.args[0]) not in BATCH_KERNELS):
                found.append(f"{rel}:{node.lineno} mapInPandas("
                             f"{ast.unparse(node.args[0])})")
            if isinstance(node, (ast.For, ast.comprehension)):
                it = node.iter
                cols = it.args if (isinstance(it, ast.Call)
                                   and ast.unparse(it.func) == "zip") \
                    else [it]
                if any(_is_column(c) for c in cols):
                    found.append(f"{rel}:{it.lineno} loops over "
                                 f"{ast.unparse(it)}")
    assert not found, "per-row loops outside row_map:\n" + "\n".join(found)
