"""Regression tests for defects found in the round-1 self-review."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.observability import ObservabilityStore
from metadata_ingestion_framework_spark.operators.dedup import dedup_exact
from metadata_ingestion_framework_spark.operators.merge import merge_apply
from metadata_ingestion_framework_spark.operators.skew import salted_join
from metadata_ingestion_framework_spark.streaming.offsets import recover_starting_offsets


def test_merge_pruning_null_partition_no_duplicates(spark):
    """A NULL-partition update must MERGE into its NULL-partition target row,
    not duplicate it (isin() never matches NULL)."""
    target = spark.createDataFrame(
        [(1, None, 10.0), (2, "p1", 20.0)], "k int, part string, v double"
    )
    updates = spark.createDataFrame(
        [(1, None, 99.0)], "k int, part string, v double"
    )
    out = merge_apply(target, updates, ["k"], partition_col="part").cache()
    assert out.count() == 2  # no duplicate for k=1
    assert out.filter("k = 1").collect()[0]["v"] == 99.0


def test_salted_join_rejects_other_preserving_modes(spark):
    df = spark.createDataFrame([(1, 1)], "k int, v int")
    for bad in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="skewed-side-preserving"):
            salted_join(df, df, ["k"], how=bad)


def test_status_row_survives_empty_offsets(spark, tmp_path):
    obs = ObservabilityStore(spark, str(tmp_path / "obs"))
    obs.write_status("p1", "t1", "Finished", offset_ranges=[], batch_id=3)
    rows = obs.read_status().collect()
    assert len(rows) == 1 and rows[0]["status"] == "Finished"
    assert rows[0]["topic"] is None


def test_offset_recovery_includes_offset_zero_partition(spark):
    status = spark.createDataFrame(
        [("t1", 0, 5, 9), ("t1", 1, 0, 0)],
        "topic string, partition int, startOffset long, endOffset long",
    )
    js = recover_starting_offsets(status, "t1")
    # partition 1 consumed exactly offset 0 -> must appear (resume at 1),
    # else Kafka rejects a startingOffsets map missing a partition
    assert json.loads(js) == {"t1": {"0": 10, "1": 1}}


def test_dedup_exact_null_and_empty_distinct(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "")], "doc_id long, text string"
    )
    out = dedup_exact(df, ["text"], "doc_id")
    # NULL is its own group (SQL GROUP BY semantics): 1 survives alongside 2
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]


def test_hash_numerical_no_overflow_on_min_int(spark):
    # abs() over the raw int hash would ARITHMETIC_OVERFLOW on
    # Integer.MIN_VALUE under ANSI; the long-cast path must stay in bounds
    from metadata_ingestion_framework_spark.functions.hashing import hash_numerical_it

    df = spark.range(20000).withColumn("s", F.col("id").cast("string"))
    out = hash_numerical_it(df, "jk", "s")
    mn, mx = out.agg(F.min("jk"), F.max("jk")).collect()[0]
    assert 0 <= mn and mx <= 499
