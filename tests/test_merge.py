"""SCD1/2/4 merge-engine scenario tests.

Mirrors the reference's executable ground truth (DeltaWritterTest.scala:71-100
golden asserts, DeltaWritterSCD2Test.scala:86-116, DeltaWritterSCD4Test
:197-217) on the emp fixture.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.operators.merge import (
    MergeClause,
    merge_apply,
    scd1_merge,
    scd2_merge,
    scd4_merge,
)


def _emp_update(spark):
    """emp_update.csv analogue: WILSON's sal drops to 500, SCOTT is new."""
    return spark.createDataFrame(
        [
            (5467, "WILSON", 500.0, 30, 400),
            (7788, "SCOTT", 3000.0, 20, None),
        ],
        "empid int, ename string, sal double, deptno int, comm int",
    )


def test_scd1_upsert_golden(spark, emp):
    out = scd1_merge(emp, _emp_update(spark), ["empid"])
    assert out.count() == 6  # 5 existing + 1 insert
    # the golden assert of DeltaWritterTest.scala:97
    assert out.filter("empid = 5467").collect()[0]["sal"] == 500.0
    assert out.filter("empid = 7788").collect()[0]["ename"] == "SCOTT"
    assert out.filter("empid = 7839").collect()[0]["sal"] == 5000.0  # untouched


def test_scd1_bootstrap_when_target_missing(spark):
    u = _emp_update(spark)
    assert scd1_merge(None, u, ["empid"]).count() == 2


def test_scd1_dedup_ascending_first_wins(spark, emp):
    """Utility.scala:406-413 orders ASC by updated_at -> earliest wins."""
    u = spark.createDataFrame(
        [(5467, "WILSON", 111.0, 30, 400, 1), (5467, "WILSON", 222.0, 30, 400, 2)],
        "empid int, ename string, sal double, deptno int, comm int, updated_at int",
    )
    target = emp.withColumn("updated_at", F.lit(0))
    out = scd1_merge(target, u, ["empid"], updated_at_col="updated_at")
    assert out.filter("empid = 5467").collect()[0]["sal"] == 111.0


def test_scd1_cross_named_key_dedups_on_update_column(spark):
    """A key 'uid = id' dedups the update batch on uid, its update side."""
    t = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    u = spark.createDataFrame(
        [(1, "X", 1), (1, "Y", 2), (2, "Z", 5)], "uid int, v string, ts int"
    )
    clauses = [MergeClause(when="matched", action="update", set={"v": "updates.v"})]
    out = scd1_merge(t, u, ["uid = id"], updated_at_col="ts", clauses=clauses)
    assert sorted(out.collect()) == [(1, "X"), (2, "Z")]


def test_merge_clause_order_first_wins(spark, emp):
    """Delta semantics: the FIRST matching clause wins (Utility.scala:438-457)."""
    clauses = [
        MergeClause(when="matched", action="delete", condition="updates.sal < 600"),
        MergeClause(when="matched", action="update"),
        MergeClause(when="not_matched", action="insert"),
    ]
    out = merge_apply(emp, _emp_update(spark), ["empid"], clauses)
    assert out.filter("empid = 5467").count() == 0  # delete clause fired first
    assert out.filter("empid = 7788").count() == 1
    assert out.count() == 5


def test_merge_partial_update_set(spark, emp):
    clauses = [
        MergeClause(when="matched", action="update", set={"sal": "updates.sal * 2"}),
    ]
    out = merge_apply(emp, _emp_update(spark), ["empid"], clauses)
    row = out.filter("empid = 5467").collect()[0]
    assert row["sal"] == 1000.0  # expression applied
    assert row["ename"] == "WILSON" and row["comm"] == 400  # other cols kept
    assert out.count() == 5  # no insert clause -> update rows dropped silently


def test_merge_pruned_equals_unpruned(spark, emp):
    u = _emp_update(spark)
    plain = merge_apply(emp, u, ["empid"])
    pruned = merge_apply(emp, u, ["empid"], partition_col="deptno")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, pruned.collect()))


def _scd2_target(spark):
    return spark.createDataFrame(
        [
            (1, "AMS", True, None, "2020-01-01"),
            (2, "NYC", True, None, "2020-01-01"),
        ],
        "empid int, place string, current_flag boolean, expiry_at string, updated_at string",
    )


def test_scd2_expire_and_insert(spark):
    """DeltaWritterSCD2Test scenario: place changes -> old row expired,
    new current row inserted; unchanged keys untouched."""
    target = _scd2_target(spark)
    updates = spark.createDataFrame(
        [(1, "BER", True, None, "2021-06-01")],
        "empid int, place string, current_flag boolean, expiry_at string, updated_at string",
    )
    out = scd2_merge(
        target, updates, ["empid"],
        match_condition="target.current_flag = true AND target.place <> updates.place",
        updated_at_col="updated_at",
    ).cache()
    assert out.count() == 3
    versions = out.filter("empid = 1").orderBy("updated_at").collect()
    old, new = versions
    assert old["current_flag"] is False and old["expiry_at"] == "2021-06-01"
    assert old["place"] == "AMS"
    assert new["current_flag"] is True and new["expiry_at"] is None
    assert new["place"] == "BER"
    nyc = out.filter("empid = 2").collect()[0]
    assert nyc["current_flag"] is True and nyc["place"] == "NYC"


def test_scd2_no_change_no_new_version(spark):
    target = _scd2_target(spark)
    updates = spark.createDataFrame(
        [(1, "AMS", True, None, "2021-06-01")],  # same place -> no version
        "empid int, place string, current_flag boolean, expiry_at string, updated_at string",
    )
    out = scd2_merge(
        target, updates, ["empid"],
        match_condition="target.current_flag = true AND target.place <> updates.place",
        updated_at_col="updated_at",
    )
    assert out.count() == 2
    assert out.filter("empid = 1 AND current_flag = true").count() == 1


def test_scd2_key_moving_partition_inserts_once(spark):
    """Partition pruning assumes a key never changes partition. An update
    whose key moved partition matches nothing in the pruned target: it is
    inserted once, and the old version stays current."""
    ddl = "empid int, place string, current_flag boolean, expiry_at int, updated_at int, part int"
    target = spark.createDataFrame(
        [(1, "A", True, None, 1, 0), (2, "B", True, None, 1, 1)], ddl
    )
    updates = spark.createDataFrame([(1, "Z", True, None, 5, 1)], ddl)
    out = scd2_merge(
        target, updates, ["empid"],
        match_condition="target.current_flag = true AND target.place <> updates.place",
        updated_at_col="updated_at", partition_col="part",
    )
    assert sorted(map(tuple, out.collect())) == [
        (1, "A", True, None, 1, 0), (1, "Z", True, None, 5, 1), (2, "B", True, None, 1, 1)
    ]


def test_scd2_soft_delete(spark):
    """updates.row_active=false -> target row flagged deleted (Utility:574-581)."""
    target = _scd2_target(spark).withColumn("deleted_flag", F.lit(False))
    updates = spark.createDataFrame(
        [(2, "NYC", True, None, "2021-06-01", False)],
        "empid int, place string, current_flag boolean, expiry_at string, "
        "updated_at string, row_active boolean",
    )
    out = scd2_merge(
        target, updates.withColumn("deleted_flag", F.lit(False)), ["empid"],
        match_condition="target.current_flag = true AND target.place <> updates.place",
        updated_at_col="updated_at",
    )
    row = out.filter("empid = 2").collect()[0]
    assert row["deleted_flag"] is True
    assert row["place"] == "NYC"  # other columns keep target values


def test_scd4_history_capture(spark):
    """SCD4: pre-image appended to history with history_created_at, current
    table upserted (Utility.scala:621-707)."""
    target = spark.createDataFrame(
        [(1, "AMS", "2020-01-01"), (2, "NYC", "2020-01-01")],
        "empid int, place string, updated_at string",
    )
    updates = spark.createDataFrame(
        [(1, "BER", "2021-06-01", True), (3, "SFO", "2021-06-01", True)],
        "empid int, place string, updated_at string, row_active boolean",
    )
    current, history = scd4_merge(
        target, None, updates.drop("row_active").withColumn("row_active", F.lit(True)),
        ["empid"], updated_at_col="updated_at",
    )
    hist = history.collect()
    assert len(hist) == 1  # only empid=1 had a pre-image
    assert hist[0]["place"] == "AMS" and hist[0]["history_created_at"] == "2021-06-01"
    cur = {r["empid"]: r["place"] for r in current.collect()}
    assert cur == {1: "BER", 2: "NYC", 3: "SFO"}


def test_scd1_schema_evolution(spark):
    """r9 (VERDICT r8 item 6): an update batch with an ADDED column merges
    when allow_schema_evolution=True — existing history null-fills the new
    column, matched rows take the update's value; without the flag the new
    column is silently IGNORED (Delta's updateAll-without-autoMerge parity:
    extra source columns drop)."""
    from metadata_ingestion_framework_spark.operators.merge import scd1_merge

    target = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, v string"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 9.5), (3, "c", 7.0)], "id int, v string, score double"
    )
    dropped = scd1_merge(target, updates, ["id"])
    assert dropped.columns == ["id", "v"], "without the flag, extra cols drop"
    out = scd1_merge(target, updates, ["id"], allow_schema_evolution=True)
    assert out.columns == ["id", "v", "score"]
    got = {r.id: (r.v, r.score) for r in out.collect()}
    assert got == {1: ("a", None), 2: ("b2", 9.5), 3: ("c", 7.0)}
    # and the evolved type is the update side's real type, not a string
    assert dict(out.dtypes)["score"] == "double"


def test_scd1_evolution_narrower_update_keeps_target_values(spark):
    """r10 (ADVICE r9, medium): an update batch MISSING a target column must
    leave matched rows' values for that column UNCHANGED under
    allow_schema_evolution=True — Delta's updateAll under withSchemaEvolution
    never writes NULL into target columns absent from the source (only
    insertAll null-fills them). Before the fix, the null-filled updates side
    silently erased matched rows' target-only columns."""
    from metadata_ingestion_framework_spark.operators.merge import scd1_merge

    target = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id int, v string, score double"
    )
    updates = spark.createDataFrame([(2, "b2"), (3, "c")], "id int, v string")
    out = scd1_merge(target, updates, ["id"], allow_schema_evolution=True)
    assert out.columns == ["id", "v", "score"]
    got = {r.id: (r.v, r.score) for r in out.collect()}
    # matched row 2 keeps score=2.5; inserted row 3 null-fills it
    assert got == {1: ("a", 1.5), 2: ("b2", 2.5), 3: ("c", None)}


def test_scd2_schema_evolution(spark):
    """SCD2 with a column added mid-stream: the expire clause keeps NULL on
    the historical row, the fresh current version carries the new value."""
    from metadata_ingestion_framework_spark.operators.merge import scd2_merge

    target = _scd2_target(spark)
    updates = spark.createDataFrame(
        [(1, "BER", True, None, "2021-06-01", "eu-central")],
        "empid int, place string, current_flag boolean, expiry_at string, "
        "updated_at string, region string",
    )
    out = scd2_merge(
        target, updates, ["empid"],
        match_condition="target.current_flag = true AND target.place <> updates.place",
        updated_at_col="updated_at",
        allow_schema_evolution=True,
    ).cache()
    assert "region" in out.columns
    versions = out.filter("empid = 1").orderBy("updated_at").collect()
    old, new = versions
    assert old["region"] is None and old["current_flag"] is False
    assert new["region"] == "eu-central" and new["current_flag"] is True
    # untouched key: history null-fills the new column
    assert out.filter("empid = 2").collect()[0]["region"] is None


def test_versioned_store_append_merges_schema(spark, tmp_path):
    """The store's append path has mergeSchema semantics (Task.scala:76
    parity): appending a batch with a NEW column widens the table schema
    and null-fills prior rows; appending a batch MISSING a column
    null-fills the gap."""
    from metadata_ingestion_framework_spark.plans.tablestore import (
        VersionedParquetStore,
    )

    store = VersionedParquetStore(spark, str(tmp_path / "tables"))
    store.write(spark.createDataFrame([(1, "a")], "id int, v string"), "t")
    store.append(
        spark.createDataFrame([(2, "b", 5.0)], "id int, v string, score double"),
        "t",
    )
    got = {r.id: (r.v, r.score) for r in store.read("t").collect()}
    assert got == {1: ("a", None), 2: ("b", 5.0)}
    store.append(spark.createDataFrame([(3,)], "id int"), "t")
    got = {r.id: (r.v, r.score) for r in store.read("t").collect()}
    assert got == {1: ("a", None), 2: ("b", 5.0), 3: (None, None)}


def test_scd1_no_evolution_missing_source_column_errors(spark):
    """r10 code review: WITHOUT allow_schema_evolution, updateAll over an
    update batch missing a target column must fail loudly (Delta rejects
    it without autoMerge) — not silently half-update."""
    import pyspark.sql.utils

    import pytest as _pytest

    from metadata_ingestion_framework_spark.operators.merge import scd1_merge

    target = spark.createDataFrame(
        [(1, "a", 1.5)], "id int, v string, score double"
    )
    updates = spark.createDataFrame([(1, "a2")], "id int, v string")
    with _pytest.raises(Exception) as exc:
        scd1_merge(target, updates, ["id"]).collect()
    assert "score" in str(exc.value)


# ---------------------------------------------------------------------------
# SQL MERGE surface (operators/sql_merge.py, r11 — VERDICT r10 item 3):
# the statement form must produce EXACTLY the DataFrame API's results,
# clause order included, because it compiles to the same merge_apply.
# ---------------------------------------------------------------------------

def test_sql_merge_scd1_equivalence(spark, emp):
    from metadata_ingestion_framework_spark.operators.sql_merge import sql_merge

    emp.createOrReplaceTempView("sqlm_emp")
    _emp_update(spark).createOrReplaceTempView("sqlm_upd")
    out = sql_merge(
        spark,
        """
        MERGE INTO sqlm_emp AS t USING sqlm_upd AS u
        ON t.empid = u.empid
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """,
    )
    expected = scd1_merge(emp, _emp_update(spark), ["empid"])
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_sql_merge_scd2_equivalence(spark):
    """The scd2 staged-union trick expressed as ONE SQL MERGE (ordered
    expire-then-insert clauses, staging predicate in ON) equals
    scd2_merge row-for-row."""
    from metadata_ingestion_framework_spark.operators.joins import (
        build_inner_join_condition,
    )
    from metadata_ingestion_framework_spark.operators.sql_merge import sql_merge

    target = _scd2_target(spark)
    updates = spark.createDataFrame(
        [(1, "BER", True, None, "2021-06-01")],
        "empid int, place string, current_flag boolean, expiry_at string, updated_at string",
    )
    match = "target.current_flag = true AND target.place <> updates.place"
    # stage exactly like scd2_merge (J3 pre-join + J6 staged union)
    cond = build_inner_join_condition(["empid"], "updates", "target")
    changed = (
        updates.alias("updates")
        .join(target.alias("target"), cond, "inner")
        .where(F.expr(match))
        .select("updates.*")
    )
    staged = changed.withColumn("__stage_insert", F.lit(True)).unionByName(
        updates.withColumn("__stage_insert", F.lit(False))
    )
    target.createOrReplaceTempView("sqlm_scd2_t")
    staged.createOrReplaceTempView("sqlm_scd2_u")
    out = sql_merge(
        spark,
        """
        MERGE INTO sqlm_scd2_t AS t USING sqlm_scd2_u AS u
        ON t.empid = u.empid AND u.__stage_insert = false
        WHEN MATCHED AND u.__stage_insert = false
             AND (t.current_flag = true AND t.place <> u.place)
          THEN UPDATE SET empid = t.empid, place = t.place,
                          current_flag = false, expiry_at = u.updated_at,
                          updated_at = t.updated_at
        WHEN NOT MATCHED
          THEN INSERT (empid, place, current_flag, expiry_at, updated_at)
               VALUES (u.empid, u.place, u.current_flag, u.expiry_at,
                       u.updated_at)
        """,
    )
    expected = scd2_merge(
        target, updates, ["empid"], match_condition=match,
        updated_at_col="updated_at",
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_sql_merge_clause_order_first_wins(spark, emp):
    """Statement clause order IS merge clause order: DELETE before UPDATE
    removes the low-sal match instead of updating it."""
    from metadata_ingestion_framework_spark.operators.sql_merge import sql_merge

    emp.createOrReplaceTempView("sqlm_emp2")
    _emp_update(spark).createOrReplaceTempView("sqlm_upd2")
    out = sql_merge(
        spark,
        """
        MERGE INTO sqlm_emp2 AS t USING sqlm_upd2 AS u
        ON t.empid = u.empid
        WHEN MATCHED AND u.sal < 600 THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """,
    )
    assert out.filter("empid = 5467").count() == 0
    assert out.filter("empid = 7788").count() == 1
    assert out.count() == 5  # 5 - 1 delete + 1 insert


def test_sql_merge_parse_errors(spark):
    from metadata_ingestion_framework_spark.operators.sql_merge import (
        parse_merge,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported MERGE statement"):
        parse_merge("UPSERT INTO a USING b ON x WHEN MATCHED THEN DELETE")
    with _pytest.raises(ValueError, match="equality"):
        parse_merge(
            "MERGE INTO a t USING b u ON t.x < u.y "
            "WHEN MATCHED THEN UPDATE SET *"
        )
    with _pytest.raises(ValueError, match="INSERT is only valid"):
        parse_merge(
            "MERGE INTO a t USING b u ON t.x = u.x "
            "WHEN MATCHED THEN INSERT *"
        )
    with _pytest.raises(ValueError, match="only valid WHEN MATCHED"):
        parse_merge(
            "MERGE INTO a t USING b u ON t.x = u.x "
            "WHEN NOT MATCHED THEN DELETE"
        )


def test_sql_merge_cross_named_keys_and_extra_predicate(spark):
    """ON supports differently-named key columns plus a non-equi residual
    predicate (routed to extra_join_condition)."""
    from metadata_ingestion_framework_spark.operators.sql_merge import sql_merge

    t = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "tid int, grp int, v string"
    )
    u = spark.createDataFrame(
        [(1, 10, "A"), (2, 99, "B")], "uid int, grp int, v string"
    )
    t.createOrReplaceTempView("sqlm_x_t")
    u.createOrReplaceTempView("sqlm_x_u")
    out = sql_merge(
        spark,
        """
        MERGE INTO sqlm_x_t AS t USING sqlm_x_u AS u
        ON u.uid = t.tid AND u.grp = t.grp
        WHEN MATCHED THEN UPDATE SET v = u.v
        """,
    )
    got = {r.tid: r.v for r in out.collect()}
    assert got == {1: "A", 2: "b"}  # grp mismatch blocks uid=2


def test_sql_merge_string_literals_and_adversarial_alias(spark):
    """r11 review: separators inside quoted literals must not split, and
    a source alias literally named 'target' must not be corrupted by the
    alias rewrite."""
    from metadata_ingestion_framework_spark.operators.sql_merge import (
        parse_merge,
        sql_merge,
    )
    import pytest as _pytest

    t = spark.createDataFrame([(1, "old"), (2, "x")], "id int, v string")
    u = spark.createDataFrame(
        [(1, "a,b AND c"), (3, "new")], "id int, v string"
    )
    t.createOrReplaceTempView("sqlm_lit_t")
    u.createOrReplaceTempView("sqlm_lit_u")
    out = sql_merge(
        spark,
        """
        MERGE INTO sqlm_lit_t AS t USING sqlm_lit_u AS target
        ON t.id = target.id AND target.v <> 'x AND y'
        WHEN MATCHED THEN UPDATE SET v = concat(target.v, ',tail')
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (target.id, 'i,j')
        """,
    )
    got = {r.id: r.v for r in out.collect()}
    assert got == {1: "a,b AND c,tail", 2: "x", 3: "i,j"}
    p = parse_merge(
        "MERGE INTO a t USING b target ON t.k = target.k "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    assert p.join_keys == ["k"]
    # r12 (ADVICE r11): an alias-shaped prefix INSIDE a quoted literal
    # must survive the rewrite verbatim — 'u.k pending' with source
    # alias u used to come out as 'updates.k pending'
    p2 = parse_merge(
        "MERGE INTO a t USING b u ON t.k = u.k "
        "WHEN NOT MATCHED THEN INSERT (k, note) VALUES (u.k, 'u.k pending')"
    )
    ins = p2.clauses[0]
    assert ins.set["note"] == "'u.k pending'"
    assert ins.set["k"] == "updates.k"
    with _pytest.raises(ValueError, match="aliases are both"):
        parse_merge(
            "MERGE INTO a x USING b x ON x.k = x.k "
            "WHEN MATCHED THEN UPDATE SET *"
        )
