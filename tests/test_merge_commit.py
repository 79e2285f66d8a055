"""Touched-only commits of partition-pruned merges.

A ``MergeResult`` written by ``VersionedParquetStore.write`` rewrites only
the partitions its merge touched and hard-links the others from the
version the merge read. These tests check that the committed rows equal a
full rewrite of the same frame, that untouched partitions share inodes with
the previous version, and that every case where the carry would be wrong
falls back to the full rewrite. They also check the store's file format
(every file a commit writes is zstd parquet, and a version that carries
older snappy files reads back as one table) and that its read cache neither
outlives ``drop`` or ``vacuum`` nor grows with every commit.
"""

from __future__ import annotations

import os

import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.operators.merge import (
    MergeClause,
    MergeResult,
    merge_apply,
    scd1_merge,
    scd2_merge,
    scd4_merge,
)
from metadata_ingestion_framework_spark.plans import tablestore
from metadata_ingestion_framework_spark.plans.tablestore import (
    VersionedParquetStore,
    partition_dir,
)

COLS = ["id", "name", "v", "part"]


def _seed(spark, store, table="t"):
    """40 rows in int partitions 0..3 (ten ids each)."""
    rows = [(i, f"n{i}", float(i), i // 10) for i in range(40)]
    store.write(
        spark.createDataFrame(rows, "id long, name string, v double, part int"),
        table, partition_by=["part"],
    )


def _updates(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, v double, part int")


def _rows(df, cols=COLS):
    return sorted(map(tuple, df.select(*cols).collect()), key=repr)


def _files(store, table, version):
    """Parquet file path -> inode, for every data file of ``version``."""
    out = {}
    for root, _dirs, files in os.walk(store._version_path(table, version)):
        for f in files:
            if f.endswith(".parquet"):
                path = os.path.join(root, f)
                out[path] = os.stat(path).st_ino
    return out


def _linked(store, table, version):
    """Partition dirs of ``version`` whose files all share an inode with
    the previous version (hard-linked, not rewritten)."""
    def inodes(v):
        out = {}
        vdir = store._version_path(table, v)
        for path, ino in _files(store, table, v).items():
            part = os.path.relpath(path, vdir).split(os.sep)[0]
            if "=" in part:
                out.setdefault(part, set()).add(ino)
        return out

    prev, cur = inodes(version - 1), inodes(version)
    return {p for p, ino in cur.items() if ino <= prev.get(p, set())}


def _codecs(path):
    """The set of codecs of every column chunk in a parquet file."""
    meta = pq.ParquetFile(path).metadata
    return {
        meta.row_group(g).column(c).compression
        for g in range(meta.num_row_groups)
        for c in range(meta.num_columns)
    }


def _parts(store, table, version):
    return sorted(n for n in os.listdir(store._version_path(table, version)) if "=" in n)


@pytest.fixture()
def store(spark, tmp_path):
    s = VersionedParquetStore(spark, str(tmp_path / "store"))
    _seed(spark, s)
    return s


def test_touched_only_commit_equals_full_write(spark, store, tmp_path):
    upd = _updates(spark, [(12, "x", 99.0, 1), (200, "new", 1.0, 2)])
    merged = scd1_merge(store.read("t"), upd, ["id"], partition_col="part")
    assert isinstance(merged, MergeResult)
    assert sorted(merged.touched) == [1, 2]
    full = VersionedParquetStore(spark, str(tmp_path / "full"))
    full.write(merged.select("*"), "t", partition_by=["part"])  # plain frame

    v = store.write(merged, "t", partition_by=["part"])
    assert _rows(store.read("t")) == _rows(full.read("t"))
    assert _linked(store, "t", v) == {"part=0", "part=3"}
    assert _parts(store, "t", v) == ["part=0", "part=1", "part=2", "part=3"]
    # the next merge reads the carried version and carries again
    merged2 = scd1_merge(
        store.read("t"), _updates(spark, [(35, "y", 5.0, 3)]), ["id"], partition_col="part"
    )
    v2 = store.write(merged2, "t", partition_by=["part"])
    assert _linked(store, "t", v2) == {"part=0", "part=1", "part=2"}
    assert store.read("t").filter("id = 35").collect()[0]["name"] == "y"
    assert store.read("t").count() == 41


def _full_fallback(spark, store, frame, tmp_path):
    """Write ``frame`` and assert the store took the full rewrite: no
    partition hard-linked, and rows equal a forced full write."""
    ref = VersionedParquetStore(spark, str(tmp_path / "ref"))
    ref.write(frame.select("*"), "t", partition_by=["part"])
    cols = frame.columns
    v = store.write(frame, "t", partition_by=["part"])
    assert _linked(store, "t", v) == set()
    assert _rows(store.read("t"), cols) == _rows(ref.read("t"), cols)
    return v


def test_partition_moving_set_falls_back(spark, store, tmp_path):
    clauses = [MergeClause(when="matched", action="update", set={"part": "updates.part + 10"})]
    merged = merge_apply(
        store.read("t"), _updates(spark, [(12, "x", 0.0, 1)]), ["id"], clauses,
        partition_col="part",
    )
    v = _full_fallback(spark, store, merged, tmp_path)
    # the moved row left part=1; the rest of part=1 is still there
    assert "part=11" in _parts(store, "t", v)
    assert store.read("t").filter("part = 1").count() == 9


def test_insert_without_partition_column_falls_back(spark, store, tmp_path):
    clauses = [
        MergeClause(when="matched", action="update"),
        MergeClause(when="not_matched", action="insert",
                    set={"id": "updates.id", "name": "updates.name", "v": "updates.v"}),
    ]
    merged = merge_apply(
        store.read("t"), _updates(spark, [(12, "x", 0.0, 1), (300, "n", 1.0, 2)]), ["id"],
        clauses, partition_col="part",
    )
    v = _full_fallback(spark, store, merged, tmp_path)
    assert "part=__HIVE_DEFAULT_PARTITION__" in _parts(store, "t", v)
    assert store.read("t").count() == 41


def test_schema_evolution_falls_back(spark, store, tmp_path):
    upd = _updates(spark, [(12, "x", 0.0, 1)]).withColumn("extra", F.lit("e"))
    merged = scd1_merge(
        store.read("t"), upd, ["id"], partition_col="part", allow_schema_evolution=True
    )
    assert isinstance(merged, MergeResult)
    _full_fallback(spark, store, merged, tmp_path)
    out = store.read("t")
    assert "extra" in out.columns
    assert out.filter("id = 12").collect()[0]["extra"] == "e"
    assert out.filter("extra IS NULL").count() == 39


def test_read_partitions_target_falls_back(spark, store, tmp_path):
    """A target holding only some partitions: a carry would resurrect the
    others, so the frame is written as given."""
    target = store.read_partitions("t", "part", [1])
    merged = scd1_merge(target, _updates(spark, [(12, "x", 0.0, 1)]), ["id"],
                        partition_col="part")
    v = _full_fallback(spark, store, merged, tmp_path)
    assert _parts(store, "t", v) == ["part=1"]


def test_moved_store_version_falls_back(spark, store, tmp_path):
    """A second writer committed between the read and the write: the
    merge's untouched slice is no longer the current version's."""
    merged = scd1_merge(store.read("t"), _updates(spark, [(12, "x", 0.0, 1)]), ["id"],
                        partition_col="part")
    other = VersionedParquetStore(spark, store.root)
    other.write(
        _updates(spark, [(0, "other", 0.0, 0), (30, "other", 0.0, 3)]), "t",
        partition_by=["part"],
    )
    _full_fallback(spark, store, merged, tmp_path)
    assert store.read("t").count() == 40  # last writer wins, as for full writes


def test_transformed_merge_result_falls_back(spark, store, tmp_path):
    merged = scd1_merge(store.read("t"), _updates(spark, [(12, "x", 0.0, 1)]), ["id"],
                        partition_col="part")
    kept = merged.filter("id <> 35")
    assert not isinstance(kept, MergeResult)
    _full_fallback(spark, store, kept, tmp_path)
    assert store.read("t").filter("id = 35").count() == 0


# layout of v1 -> (partition cols a commit declares, the refusal's message)
LAYOUTS = {
    "unpartitioned": ([], ["part"], "not partitioned by"),
    "other-column": (["name"], ["part"], "not partitioned by"),
    "one-level-on-two": (["part", "name"], ["part"], "nests deeper"),
    "two-levels-on-one": (["part"], ["part", "name"], "nesting does not match"),
}


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_mismatched_layout_refuses_delta_and_carry(spark, tmp_path, layout):
    """One layout rule, two callers. On a current version not laid out as
    the declared partition columns, ``write_partition_delta`` raises and
    writes no version, and a pruned merge result is rewritten in full: no
    partition hard-linked, the rows a forced full write commits."""
    written, declared, message = LAYOUTS[layout]
    s = VersionedParquetStore(spark, str(tmp_path / "s"))
    s.write(_updates(spark, [(1, "a", 1.0, 1), (2, "b", 2.0, 2)]), "t",
            partition_by=written)
    upd = _updates(spark, [(1, "x", 9.0, 1)])
    with pytest.raises(ValueError, match=message):
        s.write_partition_delta(upd, "t", declared, [1])
    assert s.current_version("t") == 1
    assert not os.path.exists(s._version_path("t", 2))

    merged = scd1_merge(s.read("t"), upd, ["id"], partition_col="part")
    assert isinstance(merged, MergeResult)
    ref = VersionedParquetStore(spark, str(tmp_path / "ref"))
    ref.write(merged.select("*"), "t", partition_by=declared)
    v = s.write(merged, "t", partition_by=declared)
    assert v == 2
    assert _linked(s, "t", v) == set()
    assert _rows(s.read("t")) == _rows(ref.read("t")) == [(1, "x", 9.0, 1), (2, "b", 2.0, 2)]


def test_zero_padded_partition_dirs_fall_back(spark, tmp_path):
    """``part=03`` reads back as int 3, so touched value 3 does not name
    its directory: no carry, and no duplicate of the old rows."""
    s = VersionedParquetStore(spark, str(tmp_path / "pad"))
    s.write(
        spark.createDataFrame([(1, "a", 1.0, "03"), (2, "b", 2.0, "04")],
                              "id long, name string, v double, part string"),
        "t", partition_by=["part"],
    )
    merged = scd1_merge(s.read("t"), _updates(spark, [(1, "x", 9.0, 3)]), ["id"],
                        partition_col="part")
    v = s.write(merged, "t", partition_by=["part"])
    assert _linked(s, "t", v) == set()
    assert _rows(s.read("t")) == [(1, "x", 9.0, 3), (2, "b", 2.0, 4)]


def test_partition_value_type_mismatch_falls_back(spark, store, tmp_path):
    """String update values on an int partition column: "01" selects the
    int partition 1 but names no directory of it. Deleting all of part 1
    must not carry it back."""
    upd = spark.createDataFrame([(i, "d", 0.0, "01") for i in range(10, 20)],
                                "id long, name string, v double, part string")
    merged = merge_apply(store.read("t"), upd, ["id"],
                         [MergeClause(when="matched", action="delete")], partition_col="part")
    assert merged.touched == ["01"]
    v = _full_fallback(spark, store, merged, tmp_path)
    assert _parts(store, "t", v) == ["part=0", "part=2", "part=3"]


def test_emptied_partition_disappears(spark, store):
    """A delete clause that empties a touched partition: the partition is
    not carried back from the old version."""
    clauses = [
        MergeClause(when="matched", action="delete"),
        MergeClause(when="not_matched", action="insert"),
    ]
    upd = _updates(spark, [(i, "d", 0.0, 1) for i in range(10, 20)] + [(29, "d", 0.0, 2)])
    merged = merge_apply(store.read("t"), upd, ["id"], clauses, partition_col="part")
    v = store.write(merged, "t", partition_by=["part"])
    assert _parts(store, "t", v) == ["part=0", "part=2", "part=3"]
    assert _linked(store, "t", v) == {"part=0", "part=3"}
    assert _rows(store.read("t")) == _rows(merge_apply(store.read("t", v - 1), upd, ["id"], clauses))


EDGE_PARTS = [None, "a=b", "x:y", "50%", "plain"]


@pytest.mark.parametrize(
    "touch",
    [[None], ["a=b"], ["x:y", "50%"], [None, "plain"]],
    ids=["null", "equals", "colon-percent", "null-plain"],
)
def test_edge_partition_values_pruned_equals_unpruned(spark, tmp_path, touch):
    """NULL (Hive default dir) and escaped string partitions: the pruned
    merge equals the unpruned one, and its carry commit equals both."""
    schema = "id long, name string, v double, part string"
    s = VersionedParquetStore(spark, str(tmp_path / "edge"))
    s.write(
        spark.createDataFrame(
            [(10 * j + i, f"n{j}{i}", float(i), p) for j, p in enumerate(EDGE_PARTS)
             for i in range(3)],
            schema,
        ),
        "t", partition_by=["part"],
    )
    j_of = {p: j for j, p in enumerate(EDGE_PARTS)}
    # one update and one delete per touched partition, plus one insert
    upd = spark.createDataFrame(
        [(10 * j_of[p], "upd", -1.0, p) for p in touch]
        + [(10 * j_of[p] + 1, "del", -1.0, p) for p in touch]
        + [(999, "ins", -1.0, touch[0])],
        schema,
    )
    clauses = [
        MergeClause(when="matched", action="delete", condition="updates.name = 'del'"),
        MergeClause(when="matched", action="update"),
        MergeClause(when="not_matched", action="insert"),
    ]
    target = s.read("t")
    plain = merge_apply(target, upd, ["id"], clauses)
    pruned = merge_apply(target, upd, ["id"], clauses, partition_col="part")
    assert _rows(plain) == _rows(pruned)

    v = s.write(pruned, "t", partition_by=["part"])
    assert _rows(s.read("t")) == _rows(plain)
    assert _linked(s, "t", v) == {partition_dir("part", p) for p in EDGE_PARTS if p not in touch}


def _scd2_seed(spark, store):
    rows = [(i, f"p{i}", True, None, 0, i // 10) for i in range(30)]
    store.write(
        spark.createDataFrame(
            rows,
            "id long, place string, current_flag boolean, expiry_at long, "
            "updated_at long, part int",
        ),
        "t", partition_by=["part"],
    )


def test_scd2_partitioned_merge_carries(spark, tmp_path):
    s = VersionedParquetStore(spark, str(tmp_path / "scd2"))
    _scd2_seed(spark, s)
    upd = spark.createDataFrame(
        [(5, "moved", 1, 0), (100, "new", 1, 0)],
        "id long, place string, updated_at long, part int",
    ).withColumn("current_flag", F.lit(True)).withColumn(
        "expiry_at", F.lit(None).cast("long"))
    cond = "target.current_flag = true AND target.place <> updates.place"
    target = s.read("t")
    plain = scd2_merge(target, upd, ["id"], cond, updated_at_col="updated_at")
    merged = scd2_merge(target, upd, ["id"], cond, updated_at_col="updated_at",
                        partition_col="part")
    assert isinstance(merged, MergeResult)
    cols = sorted(plain.columns)
    v = s.write(merged, "t", partition_by=["part"])
    assert _linked(s, "t", v) == {"part=1", "part=2"}
    assert _rows(s.read("t"), cols) == _rows(plain, cols)
    assert s.read("t").filter("id = 5").count() == 2  # expired + new current


def test_scd4_current_partitioned_merge_carries(spark, store):
    upd = _updates(spark, [(12, "x", 99.0, 1), (400, "new", 1.0, 3)])
    target = store.read("t")
    plain, _ = scd4_merge(target, None, upd, ["id"])
    current, history = scd4_merge(target, None, upd, ["id"], partition_col="part")
    assert isinstance(current, MergeResult)
    v = store.write(current, "t", partition_by=["part"])
    assert _linked(store, "t", v) == {"part=0", "part=2"}
    assert _rows(store.read("t")) == _rows(plain)
    assert [r["id"] for r in history.collect()] == [12]


def _commit_full(spark, s):
    return s.write(_updates(spark, [(1, "a", 1.0, 0), (50, "b", 2.0, 5)]), "t",
                   partition_by=["part"])


def _commit_carry(spark, s):
    merged = scd1_merge(s.read("t"), _updates(spark, [(12, "x", 9.0, 1)]), ["id"],
                        partition_col="part")
    v = s.write(merged, "t", partition_by=["part"])
    assert _linked(s, "t", v) == {"part=0", "part=2", "part=3"}
    return v


def _commit_partition_delta(spark, s):
    return s.write_partition_delta(_updates(spark, [(7, "d", 7.0, 2)]), "t", "part", [2])


def _commit_added_column(spark, s):
    frame = s.read("t").withColumn("extra", F.lit("e"))
    return s.write(frame, "t", partition_by=["part"])


def _commit_bigint_partition(spark, s):
    frame = s.read("t").withColumn(
        "part", F.when(F.col("part") == 3, F.lit(3_000_000_000)).otherwise(F.col("part"))
    )
    return s.write(frame, "t", partition_by=["part"])


def _commit_unpartitioned(spark, s):
    s.write(_updates(spark, [(1, "a", 1.0, 0)]), "u")
    s.read("u")
    return s.write(_updates(spark, [(2, "b", 2.0, 0), (3, "c", 3.0, 1)]), "u")


def _commit_compact(spark, s):
    return s.compact("t")


COMMITS = {
    "full": _commit_full,
    "carry": _commit_carry,
    "partition_delta": _commit_partition_delta,
    "unpartitioned": _commit_unpartitioned,
    "compact": _commit_compact,
    # data columns change: the store infers the new version's schema
    "added_column": _commit_added_column,
    # same data columns; the partition column is inferred as bigint
    "bigint_partition": _commit_bigint_partition,
}


@pytest.mark.parametrize("commit", sorted(COMMITS))
def test_committed_version_reads_as_inferred(spark, store, jobs_in_group, commit):
    """The store caches the read of each version it commits: reading it
    back runs no Spark job (no parquet footer inference) and gives the
    schema and rows a fresh ``spark.read.parquet`` of the directory does."""
    store.read("t")  # the replaced version is cached, as a merge's target read leaves it
    v = COMMITS[commit](spark, store)
    table = "u" if commit == "unpartitioned" else "t"
    got = []
    jobs = jobs_in_group(f"read-{commit}", lambda: got.append(store.read(table)))
    fresh = spark.read.parquet(store._version_path(table, v))
    assert got[0].schema == fresh.schema
    cols = fresh.columns
    assert _rows(got[0], cols) == _rows(fresh, cols)
    if commit == "bigint_partition":
        assert dict(fresh.dtypes)["part"] == "bigint"
    if commit != "added_column":
        assert jobs == 0


def test_scd2_merge_and_write_job_count(spark, tmp_path, jobs_in_group):
    """A toy SCD2 micro-batch (unpartitioned, soft deletes, a NULL key)
    merges and commits in 3 Spark jobs and reads its result back in none:
    the update batch is deduped and shuffled once, into one join. A plan
    change that adds a pass over the batch or breaks exchange reuse raises
    the count here."""
    ddl = ("id long, place string, current_flag boolean, expiry_at long, "
           "updated_at long, row_active boolean, deleted_flag boolean")
    s = VersionedParquetStore(spark, str(tmp_path / "scd2"))
    s.write(spark.createDataFrame(
        [(i, f"p{i}", True, None, 0, True, False) for i in range(50)], ddl), "t")
    cond = "target.current_flag = true AND target.place <> updates.place"
    for b in range(2):
        upd = spark.createDataFrame(
            [(i, f"q{i}" if i % 2 else f"p{i}", True, None, b + 1, i % 3 != 0, False)
             for i in range(b, 60, 3)] + [(None, "n", True, None, 9, True, False)],
            ddl,
        )
        target = s.read("t")
        jobs = jobs_in_group(f"scd2-commit-{b}", lambda: s.write(
            scd2_merge(target, upd, ["id"], cond, updated_at_col="updated_at"), "t"))
        assert jobs == 3
        assert jobs_in_group(f"scd2-read-{b}", lambda: s.read("t")) == 0


BULK_DDL = "id long, name string, v double, updated_at long"


def _bulk_batch(spark, path, rows):
    """A bulk-shaped update batch: read from parquet, ``part = id div 10``
    derived after the read (a NULL id lands in the NULL partition)."""
    spark.createDataFrame(rows, BULK_DDL).write.parquet(path)
    return spark.read.parquet(path).withColumn("part", F.expr("id div 10"))


def _bulk_target(spark, store):
    store.write(
        spark.createDataFrame(
            [(i, f"n{i}", float(i), 0) for i in range(50)] + [(None, "z", 0.0, 0)],
            BULK_DDL,
        ).withColumn("part", F.expr("id div 10")),
        "t", partition_by=["part"],
    )


def _bulk_rows(b):
    """ids in partitions 0-2 (every other one twice), a new partition 6
    and a NULL id."""
    rows = [(i, f"u{b}{i}", float(b), b + 1) for i in range(b, 30, 7)]
    rows += [(i, f"d{b}{i}", float(b), b + 2) for i in range(b, 30, 14)]
    return rows + [(60 + b, "new", 0.0, 1), (None, "n", 0.0, 9)]


def _bulk_commits(spark, tmp_path, jobs_in_group) -> list[int]:
    """Two toy bulk batches read from parquet, merged into a partitioned
    table and committed: the Spark jobs of each merge and commit. Each
    commit rewrites only its touched partitions."""
    s = VersionedParquetStore(spark, str(tmp_path / "bulk"))
    _bulk_target(spark, s)
    out = []
    for b in range(2):
        upd = _bulk_batch(spark, str(tmp_path / f"in{b}"), _bulk_rows(b))
        target = s.read("t")
        out.append(jobs_in_group(f"scd1-commit-{b}", lambda: s.write(
            scd1_merge(target, upd, ["id"], updated_at_col="updated_at",
                       partition_col="part"),
            "t", partition_by=["part"])))
        assert _linked(s, "t", s.current_version("t")) == {"part=3", "part=4"}
    got = s.read("t")
    assert got.count() == 55  # 50 ids + 2 new ids + 3 NULL-id rows
    assert got.filter("id = 14").collect()[0]["name"] == "u014"  # earliest wins
    return out


def test_partitioned_scd1_merge_and_write_job_count(spark, tmp_path, jobs_in_group):
    """A toy bulk batch (duplicate keys, a NULL partition), within the
    broadcast threshold, merges and commits in 3 Spark jobs: one collect
    of the raw batch (touched partitions, key set and rows), then the
    clustering map stage and the write of the touched slice. A plan that
    joins, or a second pass over the batch, raises the count."""
    assert _bulk_commits(spark, tmp_path, jobs_in_group) == [3, 3]


def test_partitioned_scd1_join_plan_job_count(
    spark, tmp_path, jobs_in_group, broadcast_off
):
    """The same batches with the broadcast threshold at -1 take the join
    plan, in 5 Spark jobs: the touched-partition collect, a shuffle-free
    scan of the raw batch, and 4 for the merge write. A collect that runs
    the dedup window or a distinct exchange raises the count."""
    with broadcast_off():
        assert _bulk_commits(spark, tmp_path, jobs_in_group) == [5, 5]


def test_rdd_batch_keeps_the_join_plan(spark, tmp_path, jobs_in_group):
    """A batch built from a Python list is an RDD scan, for which Spark has
    no size estimate: it merges through the join (5 jobs, as with the
    threshold off) and commits the same rows and carry."""
    s = VersionedParquetStore(spark, str(tmp_path / "bulk"))
    _bulk_target(spark, s)
    upd = spark.createDataFrame(_bulk_rows(0), BULK_DDL).withColumn(
        "part", F.expr("id div 10"))
    target = s.read("t")
    jobs = jobs_in_group("scd1-rdd", lambda: s.write(
        scd1_merge(target, upd, ["id"], updated_at_col="updated_at", partition_col="part"),
        "t", partition_by=["part"]))
    assert jobs == 5
    assert _linked(s, "t", 2) == {"part=3", "part=4"}
    assert s.read("t").count() == 53


def test_duplicate_key_across_partitions_pruned_equals_unpruned(spark, store):
    """A key whose duplicate update rows fall in two partitions: the
    touched set holds both (it is collected before the dedup), so the
    stored row in the later row's partition is matched and moved, not
    left beside the inserted winner. Pruned equals unpruned, and so does
    its touched-only commit."""
    upd = spark.createDataFrame(
        [(12, "early", 1.0, 3, 1), (12, "late", 2.0, 1, 2), (200, "new", 1.0, 0, 1)],
        "id long, name string, v double, part int, updated_at long",
    )
    target = store.read("t")
    plain = scd1_merge(target, upd, ["id"], updated_at_col="updated_at")
    pruned = scd1_merge(target, upd, ["id"], updated_at_col="updated_at",
                        partition_col="part")
    assert isinstance(pruned, MergeResult)
    assert sorted(pruned.touched) == [0, 1, 3]
    assert _rows(pruned) == _rows(plain)
    v = store.write(pruned, "t", partition_by=["part"])
    assert _linked(store, "t", v) == {"part=2"}
    assert _rows(store.read("t")) == _rows(plain)
    assert [tuple(r) for r in store.read("t").filter("id = 12").select(*COLS).collect()] == [
        (12, "early", 1.0, 3)
    ]


@pytest.mark.parametrize("commit", sorted(COMMITS))
def test_committed_files_are_zstd(spark, store, commit):
    """Every parquet file a commit writes (not the ones it hard-links from
    the previous version) is zstd-compressed in every column chunk. (A task
    with no rows writes a file with no column chunk.)"""
    store.read("t")
    v = COMMITS[commit](spark, store)
    table = "u" if commit == "unpartitioned" else "t"
    prev = set(_files(store, table, v - 1).values())
    fresh = [p for p, ino in _files(store, table, v).items() if ino not in prev]
    assert set().union(*map(_codecs, fresh)) == {"ZSTD"}


def test_carry_over_snappy_version_reads_as_one_table(spark, tmp_path, monkeypatch):
    """A v1 written as snappy (the format of older versions of the store)
    and a pruned SCD1 merge on it: the untouched partitions keep their
    snappy files by hard link, the touched ones are written as zstd, and the
    mixed version reads back, in Spark and in pyarrow, the rows a forced
    full write of the same frame holds."""
    s = VersionedParquetStore(spark, str(tmp_path / "old"))
    with monkeypatch.context() as m:
        m.setattr(tablestore, "PARQUET_CODEC", "snappy")
        _seed(spark, s)
    assert set().union(*map(_codecs, _files(s, "t", 1))) == {"SNAPPY"}

    upd = _updates(spark, [(12, "x", 99.0, 1), (200, "new", 1.0, 2)])
    merged = scd1_merge(s.read("t"), upd, ["id"], partition_col="part")
    full = VersionedParquetStore(spark, str(tmp_path / "full"))
    full.write(merged.select("*"), "t", partition_by=["part"])
    v = s.write(merged, "t", partition_by=["part"])

    assert _linked(s, "t", v) == {"part=0", "part=3"}
    by_part = {}
    for path in _files(s, "t", v):
        by_part.setdefault(os.path.basename(os.path.dirname(path)), set()).update(
            _codecs(path))
    assert by_part == {"part=0": {"SNAPPY"}, "part=1": {"ZSTD"},
                       "part=2": {"ZSTD"}, "part=3": {"SNAPPY"}}

    want = _rows(full.read("t"))
    assert _rows(s.read("t")) == want
    assert _rows(spark.read.parquet(s._version_path("t", v))) == want
    arrow = pads.dataset(
        s._version_path("t", v), format="parquet", partitioning="hive"
    ).to_table()
    assert sorted(
        (tuple(r[c] for c in COLS) for r in arrow.to_pylist()), key=repr
    ) == want


def test_drop_forgets_cached_reads(spark, tmp_path):
    """A table dropped and written again restarts at version 1: reading it
    gives the new rows, not the dropped version's frame (whose files are
    gone)."""
    s = VersionedParquetStore(spark, str(tmp_path / "drop"))
    s.write(_updates(spark, [(1, "a", 1.0, 0)]), "t")
    assert _rows(s.read("t")) == [(1, "a", 1.0, 0)]
    s.drop("t")
    assert s.write(_updates(spark, [(2, "b", 2.0, 1)]), "t") == 1
    assert _rows(s.read("t")) == [(2, "b", 2.0, 1)]


def test_vacuum_forgets_cached_reads_of_removed_versions(spark, store):
    """A version ``vacuum`` removed fails at ``read``, like one that was
    never cached, instead of handing back a frame over deleted files; the
    versions it keeps still read."""
    for i in range(2):
        store.write(_updates(spark, [(i, "n", 0.0, 0)]), "t", partition_by=["part"])
    assert store.read("t", 1).count() == 40
    store.vacuum("t", keep_last=1)
    with pytest.raises(AnalysisException):
        store.read("t", 1)
    assert _rows(store.read("t")) == [(1, "n", 0.0, 0)]


def test_read_cache_holds_two_versions_per_table(spark, store):
    """Ten merge commits leave the version each merge read and the one it
    committed cached, no more, and every merge still takes the carry: its
    base is the cached read of the current version."""
    want = []
    for i in range(10):
        row = (10 * (i % 4) + i, f"u{i}", 0.0, i % 4)  # an update in part i % 4
        want.append(row)
        merged = scd1_merge(store.read("t"), _updates(spark, [row]), ["id"],
                            partition_col="part")
        v = store.write(merged, "t", partition_by=["part"])
        assert _linked(store, "t", v) == {f"part={p}" for p in range(4) if p != i % 4}
        assert sorted(k for k in store._read_cache if k[0] == "t") == [("t", v - 1), ("t", v)]
    assert _rows(store.read("t").filter("name LIKE 'u%'")) == sorted(want, key=repr)
    assert store.read("t").count() == 40
