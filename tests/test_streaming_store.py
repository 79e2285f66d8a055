"""Streaming (file-source micro-batch + foreachBatch SCD) and the versioned
parquet table store (the Delta stand-in)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.operators.merge import scd1_merge
from metadata_ingestion_framework_spark.plans.tablestore import VersionedParquetStore
from metadata_ingestion_framework_spark.streaming.offsets import (
    offset_ranges_for_batch,
    recover_starting_offsets,
)
from metadata_ingestion_framework_spark.streaming.output import (
    process_output_stream,
    process_output_stream_batch,
)
from metadata_ingestion_framework_spark.streaming.write_config import WriteStreamConfig
from metadata_ingestion_framework_spark.sources.readers import read_parquet_stream


@pytest.fixture()
def store(spark, tmp_path):
    return VersionedParquetStore(spark, str(tmp_path / "tables"))


def test_tablestore_versioning(spark, store, emp):
    assert not store.exists("emp")
    v1 = store.write(emp, "emp")
    assert v1 == 1 and store.exists("emp")
    assert store.read("emp").count() == 5
    v2 = store.write(emp.filter("deptno = 10"), "emp")
    assert v2 == 2
    assert store.read("emp").count() == 2
    assert store.read("emp", version=1).count() == 5  # time travel
    store.vacuum("emp", keep_last=1)
    with pytest.raises(Exception):
        store.read("emp", version=1).count()
    assert store.read("emp").count() == 2


def test_tablestore_append(spark, store, emp):
    store.write(emp, "emp")
    store.append(emp.filter("empid = 5467"), "emp")
    assert store.read("emp").count() == 6


def test_stream_append_and_foreachbatch_scd1(spark, store, emp, tmp_path):
    """The reference's flagship flow in miniature: file stream ->
    foreachBatch -> SCD1 merge into a versioned table
    (ProcessOutputStream.scala:50-76 + DeltaWritter.scala:42-56)."""
    src = str(tmp_path / "incoming")
    emp.write.parquet(src)
    store.write(emp.limit(3), "emp_scd1")

    stream = read_parquet_stream(spark, src, emp.schema, max_files_per_trigger=1)
    assert stream.isStreaming

    def upsert(batch, batch_id):
        if batch.isEmpty():
            return
        merged = scd1_merge(store.read("emp_scd1"), batch, ["empid"])
        store.write(merged, "emp_scd1")

    q = process_output_stream_batch(
        stream,
        WriteStreamConfig(checkpoint_location=str(tmp_path / "ckpt"),
                          trigger={"availableNow": True}),
        upsert,
        test_mode=True,
    )
    q.awaitTermination(60)
    out = store.read("emp_scd1")
    assert out.count() == 5  # 3 seeded + 2 new via merge
    assert out.filter("empid = 5467").collect()[0]["sal"] == 1000.0


def test_direct_stream_append(spark, emp, tmp_path):
    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    emp.write.parquet(src)
    stream = read_parquet_stream(spark, src, emp.schema)
    q = process_output_stream(
        stream,
        WriteStreamConfig(checkpoint_location=str(tmp_path / "ckpt2"),
                          trigger={"availableNow": True}, fmt="parquet"),
        path=out_dir,
        test_mode=True,
    )
    q.awaitTermination(60)
    assert spark.read.parquet(out_dir).count() == 5


def test_offset_bookkeeping_roundtrip(spark):
    batch = spark.createDataFrame(
        [("t1", 0, 5), ("t1", 0, 9), ("t1", 1, 3), ("t2", 0, 100)],
        "topic string, partition int, offset long",
    )
    ranges = offset_ranges_for_batch(batch)
    got = {(r["topic"], r["partition"]): (r["startOffset"], r["endOffset"])
           for r in ranges}
    assert got[("t1", 0)] == (5, 9) and got[("t1", 1)] == (3, 3)

    status = spark.createDataFrame(
        ranges, "topic string, partition int, startOffset long, endOffset long, rows long"
    )
    js = recover_starting_offsets(status, "t1")
    assert json.loads(js) == {"t1": {"0": 10, "1": 4}}  # endOffset + 1
    assert recover_starting_offsets(status.filter("topic = 'zzz'"), "zzz") == "earliest"


@pytest.mark.parametrize(
    "rows, n_parts",
    [
        ([("t1", 0, 5), ("t1", 0, 9), ("t1", 2, 4), ("t2", 0, 1), ("t3", 7, 2)], 1),
        ([(None, None, 4), (None, None, 8), ("t1", None, 3), (None, 0, 6), ("t1", 0, 1)], 1),
        ([("t1", 0, None), ("t1", 0, 5), ("t1", 1, None), (None, None, None)], 1),
        ([], 1),
        ([(f"t{i % 3}", i % 5, i * 7 % 101) for i in range(200)] + [(None, None, 99)], 4),
    ],
    ids=["topics", "null_keys", "null_offset", "empty", "four_partitions"],
)
def test_offset_ranges_match_the_spark_group_by(spark, rows, n_parts):
    """The driver-side ranges equal, value and Python type alike, the
    collect of the Spark ``groupBy`` they replace."""
    from collections import Counter

    schema = "topic string, partition int, offset long"
    batch = spark.createDataFrame(rows, schema).repartition(n_parts)
    assert batch.rdd.getNumPartitions() == n_parts
    want = batch.groupBy("topic", "partition").agg(
        F.min("offset").alias("startOffset"),
        F.max("offset").alias("endOffset"),
        F.count(F.lit(1)).alias("rows"),
    ).collect()

    def typed(rs):
        return Counter(tuple((type(v), v) for v in r) for r in rs)

    got = offset_ranges_for_batch(batch)
    assert typed(got) == typed(want)
    fields = ["topic", "partition", "startOffset", "endOffset", "rows"]
    assert all(list(r.asDict()) == fields for r in got + want)
    assert sum(r["rows"] for r in got) == len(rows)


def test_bucketed_table_join_is_shuffle_free_on_bucket_side(spark, store, emp):
    """Bucketing the merge target on the join key removes its Exchange:
    the co-located join reads bucket files directly (100 TB posture —
    only the small update batch shuffles)."""
    spark.sql("DROP TABLE IF EXISTS emp_bucketed")
    store.write_bucketed(emp, "emp_bucketed", ["empid"], num_buckets=4)
    target = store.read_table("emp_bucketed")
    updates = emp.limit(2)
    joined = target.join(updates.hint("shuffle_merge"), "empid")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # exactly one Exchange (the updates side); the bucketed scan has none
    assert plan.count("Exchange hashpartitioning") == 1
    assert joined.count() == 2
    spark.sql("DROP TABLE IF EXISTS emp_bucketed")


def test_partitioned_store_prunes_partitions(spark, store, emp):
    """partitionBy layout + filter -> Spark reads only the matching
    partition directories (PartitionFilters in the scan)."""
    store.write(emp, "emp_part", partition_by=["deptno"])
    df = store.read("emp_part").filter("deptno = 10")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(deptno" in plan
    assert df.count() == 2


def test_compact_coalesces_small_files(spark, store, emp):
    """Many small appended files -> one compacted version with fewer files."""
    import glob

    store.write(emp.repartition(8), "emp_small")
    v1_files = glob.glob(
        store._version_path("emp_small", 1) + "/*.parquet"
    )
    assert len(v1_files) >= 2  # fragmented (AQE may coalesce below 8)
    v2 = store.compact("emp_small")
    assert v2 == 2
    v2_files = glob.glob(store._version_path("emp_small", 2) + "/*.parquet")
    assert len(v2_files) == 1  # tiny table -> single right-sized file
    assert store.read("emp_small").count() == 5


def test_tablestore_partition_delta_write(spark, store):
    """r8 write_partition_delta: only the touched partition is rewritten,
    every other partition directory is carried by hard link (same inode);
    content equals a full rewrite; time travel to the previous version
    still sees the old data; vacuum of the old version cannot damage the
    linked files (shared inodes survive the rmtree of the old link)."""
    df1 = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        "id int, part string, v int",
    )
    store.write(df1, "t", partition_by=["part"])
    # new contents for partition 'a' only (id 2 updated, id 5 inserted)
    delta = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 99), (5, "a", 50)], "id int, part string, v int"
    )
    v2 = store.write_partition_delta(delta, "t", "part", ["a"])
    assert v2 == 2
    got = {(r.id, r.part, r.v) for r in store.read("t").collect()}
    assert got == {(1, "a", 10), (2, "a", 99), (5, "a", 50), (3, "b", 30), (4, "c", 40)}
    # untouched partitions are hard links of v1's files
    p1, p2 = store._version_path("t", 1), store._version_path("t", 2)
    for part in ("part=b", "part=c"):
        old = {os.stat(os.path.join(p1, part, f)).st_ino
               for f in os.listdir(os.path.join(p1, part)) if f.endswith(".parquet")}
        new = {os.stat(os.path.join(p2, part, f)).st_ino
               for f in os.listdir(os.path.join(p2, part)) if f.endswith(".parquet")}
        assert new == old, f"{part} should be linked, not rewritten"
    # time travel intact
    assert {(r.id, r.v) for r in store.read("t", version=1).filter("part = 'a'").collect()} \
        == {(1, 10), (2, 20)}
    # vacuum v1: linked data must survive (inodes shared with v2)
    store.vacuum("t", keep_last=1)
    assert store.read("t").count() == 5
    assert {r.id for r in store.read("t").filter("part = 'b'").collect()} == {3}


def test_tablestore_delete_partitions_and_random_delta_shapes(spark, store):
    """r8: delete_partitions drops named partitions with zero data
    rewritten (time travel keeps them until vacuum); a delta write whose
    new contents EMPTY a touched partition removes it; an incomplete
    touched list must not duplicate rows (writer's partition wins)."""
    df1 = spark.createDataFrame(
        [(i, f"p{i % 4}", i * 10) for i in range(12)], "id int, part string, v int"
    )
    store.write(df1, "t", partition_by=["part"])
    # retention delete of two partitions: no rewrite, links only
    store.delete_partitions("t", "part", ["p0", "p3"])
    left = {r.part for r in store.read("t").select("part").distinct().collect()}
    assert left == {"p1", "p2"}
    assert store.read("t", version=1).count() == 12  # time travel intact
    # delta write that EMPTIES p1 (touched but absent from df) and
    # updates p2
    upd = spark.createDataFrame([(100, "p2", 1)], "id int, part string, v int")
    store.write_partition_delta(upd, "t", "part", ["p1", "p2"])
    got = {(r.id, r.part) for r in store.read("t").collect()}
    assert got == {(100, "p2")}  # p1 emptied, p2 replaced, p0/p3 deleted
    # incomplete touched list: df writes p1 rows but touched says only p2
    # -> p1 must hold EXACTLY the fresh rows (no duplicate link carry)
    store.write(df1, "t2", partition_by=["part"])
    upd2 = spark.createDataFrame(
        [(200, "p1", 1), (201, "p2", 2)], "id int, part string, v int"
    )
    store.write_partition_delta(upd2, "t2", "part", ["p2"])
    p1_rows = store.read("t2").filter("part = 'p1'").collect()
    assert {r.id for r in p1_rows} == {200}


def test_tablestore_escaped_partition_values(spark, store):
    """ADVICE r9: Spark escapes specials ('=', ':', '%', ...) in partition
    dir names (escapePathName); the touched-set matching must build names
    the same way or the old dir is linked BESIDE the fresh one and rows
    duplicate."""
    weird = ["a=b", "x:y", "50%", "plain"]
    df1 = spark.createDataFrame(
        [(i, p, i * 10) for i, p in enumerate(weird)], "id int, part string, v int"
    )
    store.write(df1, "t", partition_by=["part"])
    # rewrite the 'a=b' partition only — pre-fix, 'part=a=b' never matched
    # the escaped dir 'part=a%3Db', so v1's rows were carried alongside
    upd = spark.createDataFrame([(100, "a=b", 1)], "id int, part string, v int")
    store.write_partition_delta(upd, "t", "part", ["a=b"])
    got = {(r.id, r.part) for r in store.read("t").collect()}
    assert got == {(100, "a=b"), (1, "x:y"), (2, "50%"), (3, "plain")}
    # retention delete of an escaped value must actually drop it
    store.delete_partitions("t", "part", ["50%"])
    assert {r.part for r in store.read("t").collect()} == {"a=b", "x:y", "plain"}


def test_tablestore_partition_delta_layout_guard(spark, store):
    """ADVICE r9: partition-delta against a table NOT laid out by the given
    column must refuse (nothing would be carried — delete_partitions would
    silently truncate the table), and must refuse BEFORE writing the new
    version (pointer and version count unchanged)."""
    df1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id int, part string, v int"
    )
    store.write(df1, "unpart")  # unpartitioned
    upd = spark.createDataFrame([(9, "a", 1)], "id int, part string, v int")
    with pytest.raises(ValueError, match="not partitioned by"):
        store.write_partition_delta(upd, "unpart", "part", ["a"])
    with pytest.raises(ValueError, match="not partitioned by"):
        store.delete_partitions("unpart", "part", ["a"])
    assert store.current_version("unpart") == 1
    assert not os.path.isdir(store._version_path("unpart", 2))
    assert store.read("unpart").count() == 2
    # partitioned by a DIFFERENT column: same refusal
    store.write(df1, "other", partition_by=["part"])
    with pytest.raises(ValueError, match="not partitioned by"):
        store.write_partition_delta(upd, "other", "v", [10])


def test_partition_delta_writes_one_file_per_leaf(spark, store):
    """r14 clustering guard: a delta whose rows spread over many upstream
    partitions must still land ONE parquet file per touched leaf dir —
    without the pre-write clustering, every task wrote a file into every
    leaf it held rows for, and repeated deltas fragmented stores into
    hundreds of KB-files (measured: one Bm25Index append took a dense
    serve from 7s to 28-33s)."""
    import glob

    base = spark.range(0, 2000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("part"),
        (F.col("id") * 2).alias("v"),
    )
    store.write(base, "frag", partition_by=["part"])
    # a wide (32-partition) delta touching two of the four leaf dirs
    delta = spark.range(0, 1000).repartition(32).select(
        (F.col("id") + 10_000).alias("id"),
        (F.col("id") % 2).cast("string").alias("part"),
        F.lit(0).cast("long").alias("v"),
    )
    store.write_partition_delta(delta, "frag", "part", ["0", "1"])
    p = store._version_path("frag", store.current_version("frag"))
    for part in ("part=0", "part=1"):
        files = glob.glob(os.path.join(p, part, "*.parquet"))
        assert len(files) == 1, f"{part}: {len(files)} files (fragmented)"
