"""Metadata-driven config decode + PII governance + end-to-end
metadata-driven SCD1 pipeline (Start.scala / StartTest.scala parity)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.operators.merge import MergeClause, scd1_merge
from metadata_ingestion_framework_spark.plans.metadata import (
    apply_pii_governance,
    decode_merge_cond,
    decode_op_config,
    extract_fields,
    pipelines_for_batch,
)
from metadata_ingestion_framework_spark.functions.transforms import drop_it


REFERENCE_ROW = {
    # mirrors src/test/resources/inmobi/parquet2delta.csv:2 (FIXTURES.md §3)
    "pipeline_def_id": "pd1",
    "product_name": "inmobi",
    "table_name": "emp",
    "primary_key": "empid",
    "join_key": "empid",
    "partition_id_col": "deptno",
    "updated_at_col": "updated_at",
    "omitted_cols": "comm",
    "scd_type": "SCD1",
    "op_config": json.dumps({
        "format": "delta", "triggerMode": "ProcessingTime",
        "triggerDuration": "2 minutes", "checkpointLocation": "/tmp/ckpt",
    }),
    "merge_cond": json.dumps([
        {"condtionType": "notmatch"},
        {"condtionType": "match", "condition": "updates.row_active=false",
         "updateInsertMap": {"target.deleted_flag": "true"}},
    ]),
    "extra_join_cond": "",
    "reader_type": "parquet",
}


def test_extract_fields_reference_row():
    cfg = extract_fields(REFERENCE_ROW)
    assert cfg.scd_type == "scd1" and cfg.join_keys == ["empid"]
    assert cfg.partition_col == "deptno" and cfg.omitted_cols == ["comm"]
    assert cfg.write_config.fmt == "delta"
    assert cfg.write_config.trigger == {"processingTime": "2 minutes"}
    assert cfg.write_config.checkpoint_location == "/tmp/ckpt"
    # reference clause encoding decodes in order with target. prefix stripped
    assert cfg.merge_clauses[0].when == "not_matched"
    assert cfg.merge_clauses[1].condition == "updates.row_active=false"
    assert cfg.merge_clauses[1].set == {"deleted_flag": "true"}


def test_decode_op_config_triggers():
    assert decode_op_config('{"triggerMode": "Once"}').trigger == {"once": True}
    assert decode_op_config('{"triggerMode": "Continuous", "triggerDuration": "1 second"}'
                            ).trigger == {"continuous": "1 second"}
    assert decode_op_config(None).trigger is None


@pytest.mark.parametrize("js, expected", [
    pytest.param(
        '[{"when": "matched", "action": "delete"}]',
        [MergeClause("matched", "delete")],
        id="delete",
    ),
    pytest.param(
        '[{"when": "matched", "action": "update", "condition": "updates.v > 1",'
        ' "set": {"v": "updates.v"}},'
        ' {"when": "not_matched", "action": "insert"}]',
        [MergeClause("matched", "update", "updates.v > 1", {"v": "updates.v"}),
         MergeClause("not_matched", "insert")],
        id="update_insert",
    ),
])
def test_decode_merge_cond_native_shape(js, expected):
    assert decode_merge_cond(js) == expected


def test_pipelines_for_batch(spark):
    details = spark.createDataFrame(
        [("pd1", "emp", "empid"), ("pd2", "dept", "deptno"), ("pd3", "bonus", "bid")],
        "pipeline_def_id string, table_name string, primary_key string",
    )
    batch_map = spark.createDataFrame(
        [("pd1", "b1"), ("pd2", "b1"), ("pd3", "b2")],
        "pipeline_def_id string, batch_id string",
    )
    cfgs = pipelines_for_batch(details, batch_map, ["b1"])
    assert sorted(c.table_name for c in cfgs) == ["dept", "emp"]
    assert all(c.join_keys == c.primary_keys for c in cfgs)


def test_apply_pii_governance(spark):
    df = spark.createDataFrame(
        [(1, "ann@x.com", "note ssn 123-45-6789", "4500.0")],
        "id int, user_email string, notes string, salary string",
    )
    catalog = [
        {"product_name": "p", "pii_column_name": "email", "common_flag": False,
         "encryption_flag": False, "anonymization_flag": "complete"},
        {"product_name": "p", "pii_column_name": "notes", "common_flag": True,
         "encryption_flag": False, "anonymization_flag": "partial"},
        {"product_name": "p", "pii_column_name": "salary", "common_flag": True,
         "encryption_flag": True, "anonymization_flag": None},
    ]
    out = apply_pii_governance(df, catalog, product_name="p", encryption_key="k")
    row = out.collect()[0]
    assert len(row["user_email_hash"]) == 64  # substring match -> sha256'd
    assert "123-45-6789" not in row["notes_hash"]  # free-text scan
    assert row["notes"] == "note ssn 123-45-6789"  # partial keeps source
    assert row["salary"] != "4500.0"  # encrypted in place


def test_metadata_driven_scd1_end_to_end(spark, emp):
    """The §3.3 batch flow in miniature: metadata row -> config -> read ->
    omit -> merge with decoded clauses (soft delete via row_active)."""
    cfg = extract_fields(REFERENCE_ROW)
    target = drop_it(emp, *cfg.omitted_cols).withColumn("deleted_flag", F.lit(False))
    updates = spark.createDataFrame(
        [(5467, "WILSON", 500.0, 30, False), (7788, "SCOTT", 3000.0, 20, True)],
        "empid int, ename string, sal double, deptno int, row_active boolean",
    ).withColumn("deleted_flag", F.lit(False))

    out = scd1_merge(
        target, updates, cfg.join_keys,
        clauses=cfg.merge_clauses,
        partition_col=cfg.partition_col,
    ).cache()
    assert out.count() == 6
    wilson = out.filter("empid = 5467").collect()[0]
    # match clause fired: row_active=false -> soft delete, data unchanged
    assert wilson["deleted_flag"] is True and wilson["sal"] == 1000.0
    scott = out.filter("empid = 7788").collect()[0]
    assert scott["sal"] == 3000.0 and scott["deleted_flag"] is False


def test_jdbc_options_for_shard(monkeypatch):
    from metadata_ingestion_framework_spark.plans.metadata import jdbc_options_for_shard

    shard = {
        "endpoint": "db1.internal:3306", "database_name": "sales",
        "secret_scope": "prod-scope", "secret_user": "db-user",
        "secret_password": "db-pass",
    }
    # injected resolver (the reference's secret-scope lookup)
    opts = jdbc_options_for_shard(shard, secret_resolver=lambda s, k: f"{s}/{k}")
    assert opts["url"] == "jdbc:mysql://db1.internal:3306/sales"
    assert opts["user"] == "prod-scope/db-user"
    # env fallback
    monkeypatch.setenv("PROD_SCOPE_DB_PASS", "sekrit")
    opts = jdbc_options_for_shard(shard)
    assert opts["password"] == "sekrit"


def test_failed_runs_for_rerun(spark):
    from metadata_ingestion_framework_spark.plans.metadata import failed_runs_for_rerun

    status = spark.createDataFrame(
        [
            ("b1", "r1", "Error", 1),
            ("b1", "r2", "Error", 2),      # latest for b1 -> rerun r2
            ("b2", "r3", "Error", 1),
            ("b2", "r4", "Finished", 2),   # latest b2 succeeded -> no rerun
            ("b3", "r5", "Error", 9),      # not in requested batches
        ],
        "batch_id string, run_id string, status string, last_update long",
    )
    out = failed_runs_for_rerun(status, ["b1", "b2"]).collect()
    assert [(r["batch_id"], r["run_id"]) for r in out] == [("b1", "r2")]
