"""Durable records that must not read as empty when they are damaged.

A table's ``_CURRENT`` pointer, a store's run ledger and the observability
tables each tell a restart where to resume. Reading a damaged one as "no
table", "no runs" or "no status" would overwrite data, re-ingest every
earlier run, or replay a stream from its earliest offsets. Each must raise
instead; only a missing file means empty.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
import pytest

from metadata_ingestion_framework_spark.observability import ObservabilityStore
from metadata_ingestion_framework_spark.operators.corpus import CorpusShardStore
from metadata_ingestion_framework_spark.operators.incremental import (
    MinhashSignatureStore,
    ParagraphHashStore,
)
from metadata_ingestion_framework_spark.plans.tablestore import VersionedParquetStore
from metadata_ingestion_framework_spark.streaming.offsets import recover_starting_offsets


def test_unreadable_pointer_raises_and_keeps_versions(spark, tmp_path):
    """An emptied ``_CURRENT`` after two versions: ``read``, ``write`` and
    ``exists`` raise, so no write restarts the table at ``v=000001`` over
    the 5 rows there."""
    s = VersionedParquetStore(spark, str(tmp_path / "s"))
    s.write(spark.range(5), "t")
    s.write(spark.range(7), "t")
    open(s._pointer("t"), "w").close()
    for call in (
        lambda: s.read("t"),
        lambda: s.write(spark.range(1), "t"),
        lambda: s.exists("t"),
    ):
        with pytest.raises(ValueError, match="unreadable pointer"):
            call()
    assert pq.read_table(s._version_path("t", 1)).num_rows == 5
    assert pq.read_table(s._version_path("t", 2)).num_rows == 7
    assert not os.path.exists(s._version_path("t", 3))


STORES = {
    "minhash": MinhashSignatureStore,
    "paragraph": ParagraphHashStore,
    "corpus": CorpusShardStore,
}


@pytest.mark.parametrize("kind", sorted(STORES))
def test_corrupt_run_ledger_raises(spark, tmp_path, kind):
    """A ledger that does not parse raises in ``ingested_runs`` and in
    ``_record_run``, and stays as it was; a missing one means no runs."""
    store = STORES[kind](spark, str(tmp_path / kind))
    assert store.ingested_runs() == []
    store._record_run("r1")
    store._record_run("r2")
    with open(store._ledger_path) as f:
        assert json.load(f) == ["r1", "r2"]
    with open(store._ledger_path, "w") as f:
        f.write('["r1", "r')
    with pytest.raises(ValueError, match="does not parse"):
        store.ingested_runs()
    with pytest.raises(ValueError, match="does not parse"):
        store._record_run("r3")
    with open(store._ledger_path) as f:
        assert f.read() == '["r1", "r'


def test_torn_status_file_raises(spark, tmp_path):
    """A status file cut to 10 bytes fails the offset recovery instead of
    reading as an empty table, which would resume from ``earliest``."""
    obs = ObservabilityStore(spark, str(tmp_path / "obs"))
    obs.write_status("p", "read", "Success", [("topic", 0, 0, 41)], batch_id=0)
    assert recover_starting_offsets(obs.read_status(), "topic") == '{"topic": {"0": 42}}'
    (path,) = glob.glob(str(tmp_path / "obs" / "pipeline_status" / "*.parquet"))
    with open(path, "r+b") as f:
        f.truncate(10)
    with pytest.raises(Exception):
        recover_starting_offsets(obs.read_status(), "topic")


def test_empty_tables_read_with_the_written_schema(spark, tmp_path):
    """A table with no visible data file (none yet, or only a hidden
    in-flight temp file) reads as an empty frame whose columns and types
    are those its written files read back with."""
    empty = ObservabilityStore(spark, str(tmp_path / "empty"))
    os.makedirs(tmp_path / "empty" / "pipeline_status")
    (tmp_path / "empty" / "pipeline_status" / ".part-0.parquet.tmp").write_bytes(b"torn")
    full = ObservabilityStore(spark, str(tmp_path / "full"))
    full.write_status("p", "read", "Success", [("topic", 0, 0, 41)], batch_id=0)
    full.write_fact("p", "read", "rows", 3)
    full.write_errors(
        "p", "read", spark.createDataFrame([(1, "a")], "id int, s string"), ValueError("x")
    )
    for read in ("read_status", "read_facts", "read_errors"):
        got = getattr(empty, read)()
        assert got.count() == 0
        assert got.dtypes == getattr(full, read)().dtypes, read
