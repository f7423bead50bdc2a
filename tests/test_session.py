"""`session.local_frame`: driver-side rows as a JVM `LocalTableScan`.

It must give exactly what `spark.createDataFrame(rows, schema)` gives (same
schema, same rows) while planning no `PythonRDD`, and the package must not
build DataFrames from driver-side rows any other way.
"""

from __future__ import annotations

import ast
import datetime
import os

import pytest

from gtec_etl_spark.operators.multimodal import MEDIA_SCHEMA
from gtec_etl_spark.session import local_frame

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(__file__)), "gtec_etl_spark")

PRIMITIVES = "l long, i int, d double, s string, b boolean, a array<long>"

CASES = {
    "media_with_null_content_and_meta": (
        [
            (1, "image", bytearray(b"FAKEIMG\x01"), ("image/fake", "mem://1")),
            (2, "audio", None, None),
            (3, None, bytearray(), ("audio/wav", None)),
        ],
        MEDIA_SCHEMA,
    ),
    "zero_rows": ([], MEDIA_SCHEMA),
    "primitives": (
        [
            (2**40, 7, 1.25, "x", True, [1, 2, 3]),
            (-1, -7, -0.0, "", False, []),
            (None, None, None, None, None, None),
            (0, 0, float("inf"), "ü", True, [None, 5]),
        ],
        PRIMITIVES,
    ),
    "dates_and_timestamps": (
        [
            (datetime.date(2024, 1, 2), datetime.datetime(2024, 1, 2, 3, 4, 5, 6)),
            (None, None),
        ],
        "d date, t timestamp",
    ),
    "dict_rows": ([{"b": "y", "a": 1}, {"a": 2, "b": None}], "a long, b string"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_equals_create_dataframe(spark, case):
    rows, schema = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_takes_a_struct_type(spark):
    schema = spark.createDataFrame([], PRIMITIVES).schema
    rows = CASES["primitives"][0]
    assert local_frame(spark, rows, schema).collect() == (
        local_frame(spark, rows, PRIMITIVES).collect()
    )


def test_local_frame_plans_no_python_rdd(spark):
    df = local_frame(spark, CASES["media_with_null_content_and_meta"][0], MEDIA_SCHEMA)
    qe = df._jdf.queryExecution()
    assert "LocalTableScan" in qe.executedPlan().toString()
    assert "PythonRDD" not in qe.toRdd().toDebugString()


# Files of the package that may call `createDataFrame` directly, each with
# the reason it cannot use `session.local_frame`. Empty: local_frame
# converts rows with the same `StructType.toInternal` as createDataFrame,
# so even timestamp-bearing rows need no exception.
CREATE_DATAFRAME_ALLOWED: dict[str, str] = {}


def test_no_create_dataframe_from_driver_rows():
    """A `createDataFrame` from driver-side rows plans a PythonRDD (Python
    worker tasks on every action). Outside session.py the package builds
    such frames with `session.local_frame` only."""
    found = []
    for root, _, names in os.walk(PACKAGE):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PACKAGE)
            if rel == "session.py" or rel in CREATE_DATAFRAME_ALLOWED:
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            found += [
                f"{rel}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ]
    assert found == [], f"use session.local_frame instead: {found}"
