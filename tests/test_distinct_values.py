"""``operators/joins.py::distinct_values``, the one driver-side collect of
a column's distinct values: it matches a Spark ``distinct().collect()``
value for value and type for type in one Spark job, and no engine module
collects a one-column ``distinct()`` any other way (a source scan, like
``tests/test_core_imports.py``)."""

from __future__ import annotations

import ast
import datetime
import math
from decimal import Decimal
from pathlib import Path

import pytest

from metadata_ingestion_framework_spark.operators.joins import distinct_values

PKG = Path(__file__).resolve().parents[1] / "metadata_ingestion_framework_spark"

NAN = float("nan")
# column DDL -> values (repeats on purpose: the helper must drop them)
CASES = {
    "int": [1, 2, 2, None, -7],
    "bigint": [2**40, 0, 2**40, None],
    "boolean": [True, False, True, None],
    "decimal(10,2)": [Decimal("1.50"), Decimal("2.00"), Decimal("1.50"), None],
    "string": ["a=b", "50%", "a=b", "", None, "x%3D"],
    "date": [datetime.date(2020, 1, 2), datetime.date(1969, 12, 31), None,
             datetime.date(2020, 1, 2)],
    "timestamp": [datetime.datetime(2020, 1, 2, 3, 4, 5, 6),
                  datetime.datetime(1969, 12, 31, 23, 59, 59),
                  datetime.datetime(2020, 1, 2, 3, 4, 5, 6), None],
    "double": [-0.0, 0.0, 1.5, NAN, NAN, None],
    "float": [-0.0, 0.0, NAN, 2.5],
}


def _key(v):
    """A set key that holds NaN and tells -0.0 from 0.0 and 1 from True."""
    if isinstance(v, float):
        return ("float", "nan" if math.isnan(v) else v.hex())
    return (type(v).__name__, v)


def _spark_values(df, col):
    return [r[0] for r in df.select(col).distinct().collect()]


@pytest.mark.parametrize("ddl", sorted(CASES))
def test_matches_spark_distinct(spark, ddl):
    """Same values with the same Python types as Spark's distinct: naive
    timestamps, ``-0.0`` folded into ``0.0``, one NaN, NULL as None."""
    df = spark.createDataFrame([(v,) for v in CASES[ddl]], f"v {ddl}")
    got = distinct_values(df, "v")
    want = _spark_values(df, "v")
    assert len(got) == len(want)
    assert sorted(map(_key, got)) == sorted(map(_key, want))


def test_empty_frame(spark):
    df = spark.createDataFrame([], "v bigint")
    assert distinct_values(df, "v") == [] == _spark_values(df, "v")


def test_expression_column(spark):
    """``col`` may be an expression, as in a ``select``."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i,) for i in range(10)], "v bigint")
    got = distinct_values(df, (F.col("v") % 3).alias("m"))
    assert sorted(got) == [0, 1, 2]


def test_one_spark_job(spark, jobs_in_group):
    """One job however many partitions the frame has: no exchange."""
    src = spark.range(0, 200, 1, 4).selectExpr("id % 7 AS v")
    out = []
    assert jobs_in_group("distinct-values", lambda: out.append(distinct_values(src, "v"))) == 1
    assert sorted(out[0]) == list(range(7))


def _one_col_distinct_collects(tree: ast.AST) -> list[int]:
    """Lines of ``<df>.select(<one arg>).distinct()[...].collect()``."""
    hits = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "collect"):
            continue
        recv = node.func.value
        while isinstance(recv, ast.Call) and isinstance(recv.func, ast.Attribute):
            if recv.func.attr == "distinct":
                sel = recv.func.value
                if (isinstance(sel, ast.Call) and isinstance(sel.func, ast.Attribute)
                        and sel.func.attr == "select" and len(sel.args) == 1
                        and not isinstance(sel.args[0], ast.Starred)
                        and not (isinstance(sel.args[0], ast.Constant)
                                 and str(sel.args[0].value).endswith("*"))):
                    hits.append(node.lineno)
                break
            recv = recv.func.value
    return hits


def test_scan_finds_the_pattern():
    src = (
        "a = df.select('c').distinct().collect()\n"
        "b = df.select(F.col('c').alias('d')).distinct().limit(5).collect()\n"
        "c = df.select('c', 'd').distinct().collect()\n"
        "d = df.select('t.*').distinct().collect()\n"
        "e = df.select('c').collect()\n"
    )
    assert _one_col_distinct_collects(ast.parse(src)) == [1, 2]


def test_no_engine_module_collects_a_one_column_distinct():
    """Driver-side value sets of one column come from ``distinct_values``:
    a ``select(c).distinct().collect()`` is an extra shuffle, and a job per
    stage of the lineage below it."""
    found = {
        str(path.relative_to(PKG.parent)): lines
        for path in sorted(PKG.rglob("*.py"))
        if (lines := _one_col_distinct_collects(ast.parse(path.read_text())))
    }
    assert found == {}
