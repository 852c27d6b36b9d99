"""`temporal_join._to_arrow` turns a kernel buffer into the Arrow array the
grouped kernels return: one test per output SQL type the kernels emit.
The Arrow type must be exactly the one PySpark expects for the declared
Spark type, because applyInArrow rejects any other."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType

from chronon_spark.operators.temporal_join import _to_arrow


def _obj(*vals):
    out = np.empty(len(vals), dtype=object)
    for i, v in enumerate(vals):
        out[i] = v
    return out


CASES = [
    # (sql type, Arrow type, buffer, expected values)
    ("bigint", pa.int64(),
     np.array([2.9999999999, np.nan, 0.0, -4.0000000001]), [3, None, 0, -4]),
    ("bigint", pa.int64(),
     _obj(2.9999999999, None, 4, np.int64(7), float("nan")), [3, None, 4, 7, None]),
    ("int", pa.int32(), np.array([1.0, np.nan, 6.9999999999]), [1, None, 7]),
    ("smallint", pa.int16(), _obj(None, 2.0000000001, -3), [None, 2, -3]),
    ("double", pa.float64(), np.array([1.5, np.nan, -0.25]), [1.5, None, -0.25]),
    ("double", pa.float64(), _obj(None, 2.5, float("nan"), 3), [None, 2.5, None, 3.0]),
    # FIRST/LAST of a boolean column: the kernel reads booleans as 0.0/1.0
    ("boolean", pa.bool_(), _obj(1.0, None, 0.0), [True, None, False]),
    ("string", pa.string(), _obj("a", None, ""), ["a", None, ""]),
    ("array<double>", pa.list_(pa.float64()),
     _obj([1.0, None], [], None), [[1.0, None], [], None]),
    ("array<string>", pa.list_(pa.string()), _obj(["x", "y"], []), [["x", "y"], []]),
    ("map<string,bigint>", pa.map_(pa.string(), pa.int64()),
     _obj({"a": 1, "b": 2}, {}, None), [[("a", 1), ("b", 2)], [], None]),
    ("map<string,array<double>>", pa.map_(pa.string(), pa.list_(pa.float64())),
     _obj({"a": [1.0, 2.0], "b": []}, {}, None), [[("a", [1.0, 2.0]), ("b", [])], [], None]),
]


@pytest.mark.parametrize("sql, arrow_type, buf, want", CASES,
                         ids=[f"{c[0]}-{c[2].dtype}" for c in CASES])
def test_to_arrow_values_and_type(spark, sql, arrow_type, buf, want):
    sql_type = DataType.fromDDL(sql)
    assert to_arrow_type(sql_type) == arrow_type
    arr = _to_arrow(buf, sql_type)
    assert arr.type == arrow_type
    assert arr.to_pylist() == want


@pytest.mark.parametrize("sql", sorted({c[0] for c in CASES}))
def test_to_arrow_empty_buffer(spark, sql):
    """A bucket with no left rows emits empty columns of the declared type."""
    sql_type = DataType.fromDDL(sql)
    for buf in (np.empty(0), np.empty(0, dtype=object)):
        if buf.dtype != object and sql not in ("bigint", "int", "smallint", "double"):
            continue  # numeric float buffers only back numeric columns
        arr = _to_arrow(buf, sql_type)
        assert len(arr) == 0 and arr.type == to_arrow_type(sql_type)
