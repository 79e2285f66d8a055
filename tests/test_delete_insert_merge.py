"""The two SCD1 plans give one answer.

A default-clause SCD1 merge of a batch that Spark estimates small enough to
broadcast runs as "delete the batch's keys, insert its deduped rows" from
one collect of the batch (``operators/merge.py::_delete_insert``); every
other merge joins. These tests run the same merge both ways, the join by
turning the broadcast threshold off, and compare the merged rows, the
touched partitions, and the committed table with the partitions it
hard-linked. They also check ``joins.in_list``, the one-expression IN-list
both plans filter with, against ``Column.isin``.
"""

from __future__ import annotations

import itertools
import os

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.operators.joins import in_list
from metadata_ingestion_framework_spark.operators.merge import MergeResult, scd1_merge
from metadata_ingestion_framework_spark.plans.tablestore import VersionedParquetStore

INTS = [-5, 0, 7, 2**31, 2**31 + 3, -(2**31) - 1, 2**62, None]
STRS = ["it's", "back\\slash", "50%", "k=v", "ümlaut", "日本", "", None]


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()), key=repr)


CASES = {  # column type -> (listed values, probed values)
    "bigint": (INTS, INTS + [1]),
    "string": (STRS, STRS + ["zz"]),
    "double": ([1.5, -0.0, None], [1.5, 0.0, 2.5, None]),
}


@pytest.mark.parametrize("ddl", sorted(CASES))
def test_in_list_equals_isin(spark, ddl):
    """Row for row the same answer as ``isin``, NULL included: negative
    values, values past 2^31, a None in the list, strings with quotes,
    backslashes, ``%``, ``=`` and non-ASCII characters. Ints and strings
    parse as one IN expression; a double keeps ``isin``."""
    values, probe = CASES[ddl]
    df = spark.createDataFrame([(v,) for v in probe], f"x {ddl}")
    for listed in (values, [v for v in values if v is not None], values[:1]):
        got = [r[0] for r in df.select(in_list("x", listed)).collect()]
        want = [r[0] for r in df.select(F.col("x").isin(listed)).collect()]
        assert got == want
    assert ("IN (" in str(in_list("x", values))) is (ddl != "double")


def test_in_list_qualified_name(spark):
    """``alias.col`` resolves as ``F.col`` resolves it."""
    df = spark.createDataFrame([(1,), (2,)], "x long").alias("target")
    got = df.filter(in_list("target.x", [2, 9])).collect()
    assert [r[0] for r in got] == [2]


KEY_TYPES = {"bigint": pa.int64(), "string": pa.string()}
PART_TYPES = {"int": pa.int32(), "bigint": pa.int64(), "string": pa.string()}
PARTS = {"int": [0, 1, 2], "string": ["a", "b=c", "ü"]}

cases = st.fixed_dictionaries({
    "key": st.sampled_from(sorted(KEY_TYPES)),
    # the batch's partition type: the target's, or bigint over an int target
    "part": st.sampled_from(["int", "int-bigint", "string"]),
    "target": st.lists(
        st.tuples(st.one_of(st.none(), st.integers(0, 7)), st.integers(0, 2)),
        min_size=1, max_size=10,
    ),
    "batch": st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 9)),
            st.one_of(st.none(), st.integers(0, 2)),
        ),
        min_size=1, max_size=10,
    ),
    "null_ts": st.booleans(),
})


def _key(kind, i):
    if i is None:
        return None
    return i if kind == "bigint" else f"k'{i}%"


def _part(kind, i):
    if i is None:
        return None
    return PARTS["string" if kind == "string" else "int"][i]


def _seed(spark, root, case):
    """A partitioned store holding the target: unique non-NULL keys and
    any number of NULL-key rows."""
    tpart = "string" if case["part"] == "string" else "int"
    seen, rows = set(), []
    for n, (i, p) in enumerate(case["target"]):
        if i is None or i not in seen:
            seen.add(i)
            rows.append((_key(case["key"], i), f"t{n}", 0, _part(tpart, p)))
    store = VersionedParquetStore(spark, root)
    store.write(
        spark.createDataFrame(
            rows, f"id {case['key']}, name string, updated_at bigint, part {tpart}"
        ),
        "t", partition_by=["part"],
    )
    return store


def _batch(spark, case):
    """The batch as an Arrow-backed frame: distinct ``updated_at`` per row
    (at most one NULL, which sorts first), so each key's winner is fixed."""
    bpart = {"int": "int", "int-bigint": "bigint", "string": "string"}[case["part"]]
    rows = [
        (_key(case["key"], i), f"u{n}", None if case["null_ts"] and n == 0 else n,
         _part(bpart, p))
        for n, (i, p) in enumerate(case["batch"])
    ]
    schema = pa.schema([("id", KEY_TYPES[case["key"]]), ("name", pa.string()),
                        ("updated_at", pa.int64()), ("part", PART_TYPES[bpart])])
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
    return spark.createDataFrame(table)


_ROOTS = itertools.count()


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@example(case={  # one key's duplicates in two partitions, an old row in a third
    "key": "bigint", "part": "int", "target": [(3, 2), (4, 0), (None, 1)],
    "batch": [(3, 0), (3, 1), (None, 1), (None, 2), (5, None)], "null_ts": False,
})
@example(case={  # string keys and partitions, a NULL updated_at, a NULL partition
    "key": "string", "part": "string", "target": [(1, 0), (2, 1), (None, 2)],
    "batch": [(1, 2), (1, None), (2, 1), (None, 0)], "null_ts": True,
})
@example(case={  # an int target partition under a bigint batch partition
    "key": "bigint", "part": "int-bigint", "target": [(1, 0), (2, 1), (3, 2)],
    "batch": [(1, 1), (2, 1), (9, 0)], "null_ts": False,
})
@given(case=cases)
def test_small_batch_plan_equals_join_plan(spark, tmp_path_factory, broadcast_off, case):
    """The same SCD1 merge, planned both ways: the same rows, the same
    touched partitions, and the same committed table with the same
    partitions hard-linked from the version it read."""
    root = tmp_path_factory.getbasetemp() / f"two_plans_{next(_ROOTS)}"
    batch = _batch(spark, case)
    cols = ["id", "name", "updated_at", "part"]
    out = {}
    for plan in ("small", "join"):
        store = _seed(spark, str(root / plan), case)
        target = store.read("t")
        if plan == "join":
            with broadcast_off():
                merged = scd1_merge(target, batch, ["id"], updated_at_col="updated_at",
                                    partition_col="part")
        else:
            merged = scd1_merge(target, batch, ["id"], updated_at_col="updated_at",
                                partition_col="part")
        assert ("Join" in _plan(merged)) is (plan == "join")
        assert isinstance(merged, MergeResult)
        assert merged.base is target
        v = store.write(merged, "t", partition_by=["part"])
        out[plan] = (
            _rows(merged, cols),
            sorted(merged.touched, key=repr),
            _rows(store.read("t"), cols),
            _linked(store, v),
            merged.schema["part"].dataType,
        )
    assert out["small"] == out["join"]


def _linked(store, version):
    """Partition dirs of ``version`` hard-linked from the one before."""

    def inodes(v):
        base = store._version_path("t", v)
        return {
            name: {os.stat(os.path.join(base, name, f)).st_ino
                   for f in os.listdir(os.path.join(base, name)) if f.endswith(".parquet")}
            for name in os.listdir(base) if name.startswith("part=")
        }

    prev, cur = inodes(version - 1), inodes(version)
    return sorted(p for p, ino in cur.items() if ino and ino <= prev.get(p, set()))


def test_unpartitioned_small_merge_is_a_plain_frame(spark, broadcast_off):
    """With no partition column there is nothing to prune: the plan
    returns the whole target minus the batch's keys, unioned with the
    deduped batch, as a plain frame, like the join."""
    target = spark.createDataFrame(
        pa.table({"id": [1, 2, None], "v": ["a", "b", "n"]})
    )
    batch = spark.createDataFrame(
        pa.table({"id": [2, 2, None, 4], "v": ["x", "y", "m", "z"], "ts": [2, 1, 0, 0]})
    )
    small = scd1_merge(target, batch, ["id"], updated_at_col="ts")
    with broadcast_off():
        join = scd1_merge(target, batch, ["id"], updated_at_col="ts")
    assert not isinstance(small, MergeResult)
    assert "Join" not in _plan(small) and "Join" in _plan(join)
    assert _rows(small, ["id", "v"]) == _rows(join, ["id", "v"]) == sorted(
        [(1, "a"), (2, "y"), (None, "n"), (None, "m"), (4, "z")], key=repr
    )


def test_cross_named_key_filters_the_target_column(spark, broadcast_off):
    """A key ``uid = id`` takes its key set from the batch's ``uid`` and
    deletes by the target's ``id``; the inserted rows carry their own
    ``id``, as the join's updateAll writes it."""
    target = spark.createDataFrame(pa.table({"id": [1, 2, 3], "v": ["a", "b", "c"]}))
    batch = spark.createDataFrame(pa.table(
        {"uid": [1, 1, 3], "id": [10, 11, 30], "v": ["x", "y", "z"], "ts": [2, 1, 0]}
    ))
    small = scd1_merge(target, batch, ["uid = id"], updated_at_col="ts")
    with broadcast_off():
        join = scd1_merge(target, batch, ["uid = id"], updated_at_col="ts")
    assert "Join" not in _plan(small)
    assert _rows(small, ["id", "v"]) == _rows(join, ["id", "v"]) == sorted(
        [(2, "b"), (11, "y"), (30, "z")], key=repr
    )
