"""Property-based tests (hypothesis): pure condition-builder logic at full
example counts; Spark-bound merge/dedup invariants at a small example cap
(each example is a Spark job)."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.functions.pii import identify_columns
from metadata_ingestion_framework_spark.operators.joins import (
    _parse_key,
    build_inner_join_condition,
)
from metadata_ingestion_framework_spark.operators.merge import (
    MergeClause,
    _dedup_updates,
    dedup_window,
    merge_apply,
    scd1_merge,
    scd2_merge,
)

names = st.text(alphabet="abcdefgh_", min_size=1, max_size=8)


@given(left=names, right=names, op=st.sampled_from(["<", "<=", "=", ">=", ">", "!="]))
def test_parse_key_theta(left, right, op):
    l, sym, r = _parse_key(f"{left} {op} {right}")
    assert (l, sym, r) == (left, op, right)


@given(key=names)
def test_parse_key_bare_is_equi(key):
    assert _parse_key(key) == (key, "=", key)


@given(cols=st.lists(names, max_size=6, unique=True), probe=names,
       common=st.booleans())
def test_identify_columns_subset_and_monotone(cols, probe, common):
    out = identify_columns(cols, [(probe, common)])
    assert set(out) <= set(cols)
    assert len(out) == len(set(out))  # deduped
    # exact-match results are always a subset of substring-match results
    exact = identify_columns(cols, [(probe, True)])
    sub = identify_columns(cols, [(probe, False)])
    assert set(exact) <= set(sub)


rows = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(0, 9)),
    min_size=1, max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(target_rows=rows, update_rows=rows)
def test_scd1_key_invariants(spark, target_rows, update_rows):
    """Post-merge: exactly the union of key sets, one row per key, updated
    keys carry update values (first-by-order dedup winner)."""
    target = spark.createDataFrame(
        [(k, v, 0) for k, v, _ in {r[0]: r for r in target_rows}.values()],
        "k int, v int, ts int",
    )
    # unique ts per update row: the reference dedups by updated_at alone, so
    # equal timestamps would make the winner nondeterministic
    uniq_ts = [(k, v, i) for i, (k, v, _) in enumerate(update_rows)]
    updates = spark.createDataFrame(uniq_ts, "k int, v int, ts int")
    out = scd1_merge(target, updates, ["k"], updated_at_col="ts").collect()
    tkeys = {r[0] for r in target_rows}
    ukeys = {r[0] for r in update_rows}
    assert {r["k"] for r in out} == tkeys | ukeys
    assert len(out) == len(tkeys | ukeys)
    # winner per updated key = earliest ts row — ascending dedup, parity A5
    expect = {}
    for k, v, ts in uniq_ts:
        expect.setdefault(k, v)
    for r in out:
        if r["k"] in ukeys:
            assert r["v"] == expect[r["k"]]


SCD2_MATCH = "target.current_flag = true AND target.attr <> updates.attr"
SCD2_COLS = ("k int, attr int, current_flag boolean, expiry_at int, "
             "updated_at int, deleted_flag boolean, part int")


def _scd2_staged_reference(target, updates, partition_col):
    """SCD2 as the reference stages it (Utility.scala:283-323, 493-608):
    a changed-rows pre-join (J3), a union that re-adds those rows under a
    staging flag that never matches (J6), then one ordered MERGE."""
    u = _dedup_updates(updates, ["k"], "updated_at")
    cond = build_inner_join_condition(["k"], "updates", "target")
    changed = (
        u.alias("updates").join(target.alias("target"), cond, "inner")
        .where(F.expr(SCD2_MATCH)).select("updates.*")
    )
    staged = changed.withColumn("__stage_insert", F.lit(True)).unionByName(
        u.withColumn("__stage_insert", F.lit(False))
    )
    keep = {c: f"target.{c}" for c in target.columns}
    clauses = [
        MergeClause(
            when="matched", action="update",
            condition=f"updates.__stage_insert = false AND ({SCD2_MATCH})",
            set={**keep, "current_flag": "false", "expiry_at": "updates.updated_at"},
        ),
        MergeClause(
            when="matched", action="update",
            condition="updates.__stage_insert = false AND updates.row_active = false",
            set={**keep, "deleted_flag": "true"},
        ),
        MergeClause(when="not_matched", action="insert",
                    set={c: f"updates.{c}" for c in target.columns}),
    ]
    return merge_apply(
        target, staged, ["k"], clauses,
        extra_join_condition="updates.__stage_insert = false",
        partition_col=partition_col,
    )


def _part(k):
    """Partition as a function of the key: pruning's precondition."""
    return None if k is None else k % 3


# per key: attrs of expired history rows, and the current row's attr (None:
# the key has no current row)
scd2_history = st.dictionaries(
    st.integers(0, 4),
    st.tuples(st.lists(st.integers(0, 2), max_size=2), st.one_of(st.none(), st.integers(0, 2))),
    max_size=5,
)
# (key or NULL, attr, row_active); repeated keys are duplicate updates
scd2_updates = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 6)), st.integers(0, 2), st.booleans()),
    min_size=1, max_size=8,
)


@settings(max_examples=8, deadline=None)
@given(history=scd2_history, update_rows=scd2_updates)
@example(
    history={0: ([1], 1), 1: ([2], None), 2: ([], 0), 3: ([0], 2)},
    update_rows=[
        (0, 2, True), (0, 1, True),  # duplicate update: the earliest (changed) wins
        (1, 0, True),  # key with history but no current row
        (None, 1, True), (None, 2, False),  # NULL keys
        (2, 1, False),  # delete with a changed attribute
        (3, 2, False),  # delete without one
        (5, 0, True),  # new key
    ],
)
def test_scd2_merge_equals_staged_union(spark, history, update_rows):
    """``scd2_merge`` (one join, insert-on-match) returns the same row
    multiset as the staged-union formulation, pruned or not."""
    target_rows = []
    for k, (hist, cur) in history.items():
        for i, attr in enumerate(hist):
            target_rows.append((k, attr, False, i + 1, i, False, _part(k)))
        if cur is not None:
            target_rows.append((k, cur, True, None, len(hist), False, _part(k)))
    target = spark.createDataFrame(target_rows, SCD2_COLS)
    updates = spark.createDataFrame(
        [(k, attr, True, None, 100 + i, False, _part(k), active)
         for i, (k, attr, active) in enumerate(update_rows)],
        SCD2_COLS + ", row_active boolean",
    )
    for partition_col in (None, "part"):
        got = scd2_merge(target, updates, ["k"], SCD2_MATCH, updated_at_col="updated_at",
                         partition_col=partition_col)
        ref = _scd2_staged_reference(target, updates, partition_col)
        assert sorted(map(tuple, got.collect()), key=repr) == sorted(
            map(tuple, ref.collect()), key=repr
        )


@settings(max_examples=8, deadline=None)
@given(data=rows)
def test_dedup_window_one_row_per_key_min_wins(spark, data):
    df = spark.createDataFrame(data, "k int, v int, ts int")
    out = dedup_window(df, ["k"], ["ts", "v"]).collect()
    keys = {r[0] for r in data}
    assert len(out) == len(keys)
    best = {}
    for k, v, ts in sorted(data, key=lambda r: (r[2], r[1])):
        best.setdefault(k, (ts, v))
    for r in out:
        assert (r["ts"], r["v"]) == best[r["k"]]


def test_pack_manifest_invariants(spark):
    """Property: within every shard, sequence spans are contiguous and
    non-overlapping in id order, and token mass is conserved."""
    from metadata_ingestion_framework_spark.functions.text import pack_manifest
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    budget = 256
    m = pack_manifest(docs, "text", "doc_id", budget, 8).collect()
    by_shard: dict[int, list] = {}
    for r in m:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(len(v) for v in by_shard.values()), "non-empty shards"
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rows:
            assert r["n_tokens"] > 0
            assert r["seq_first"] == cum // budget
            assert r["seq_last"] == (cum + r["n_tokens"] - 1) // budget
            assert r["seq_first"] <= r["seq_last"]
            cum += r["n_tokens"]


def test_repetition_stats_bounds(spark):
    """Property: all three fractions live in [0, 1]; top_word_frac >= 1/n
    for any non-empty doc; dup fraction is 0 iff all words distinct."""
    from metadata_ingestion_framework_spark.functions.text import repetition_stats
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = repetition_stats(docs, "text", "doc_id")
    bad = out.filter(
        (F.col("top_word_frac") < 0) | (F.col("top_word_frac") > 1)
        | (F.col("dup_word_frac") < 0) | (F.col("dup_word_frac") > 1)
        | (F.col("top_bigram_frac") < 0) | (F.col("top_bigram_frac") > 1)
    ).count()
    assert bad == 0
    assert out.count() == docs.count()
