"""cdc_bulk_scd1: history/bulk-load batches through the metadata pipeline.

Each batch is one ``Pipeline.run`` of reader -> processor -> writer:
``read_json`` of a Debezium envelope file, ``split_cdc_envelope`` plus
``apply_pii_governance`` (complete hash of ``email``, free-text
anonymisation of ``note``), then ``scd1_merge(partition_col="part")`` and a
full ``VersionedParquetStore.write`` of the id-range partitioned table. The
pipeline writes a status row per task through the observability store.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.observability import ObservabilityStore
from metadata_ingestion_framework_spark.operators import merge as merge_mod
from metadata_ingestion_framework_spark.operators.cdc import split_cdc_envelope
from metadata_ingestion_framework_spark.plans.metadata import apply_pii_governance
from metadata_ingestion_framework_spark.plans.pipeline import Pipeline, PipelineTask
from metadata_ingestion_framework_spark.plans.tablestore import VersionedParquetStore
from metadata_ingestion_framework_spark.sources.readers import read_json
from perfbench import gen
from perfbench.harness import Context, ObservabilityProxy
from perfbench.workloads import (
    obs_layer_metrics,
    read_version,
    store_e2e_metrics,
    table_layer_metrics,
    write_lines,
)

TABLE = "customers"
PII_CATALOG = [
    {"pii_column_name": "email", "common_flag": True, "anonymization_flag": "complete",
     "encryption_flag": False},
    {"pii_column_name": "note", "common_flag": True, "anonymization_flag": "partial",
     "encryption_flag": False},
]
# untimed batches after set-up: the first few batches of a process take up to
# half as long again, in CPU and in latency, while the JIT compiles hot code
WARM_BATCHES = 4
SCALES = {
    "full": {"n0": 25_000, "batch_rows": 1_250, "part_width": 1_250},
    "toy": {"n0": 2_000, "batch_rows": 200, "part_width": 500},
}


class CdcBulkScd1:
    name = "cdc_bulk_scd1"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.p = SCALES[ctx.scale]
        self.spark = ctx.spark
        self.tr = ctx.tracer

    # -- set-up ------------------------------------------------------------------
    def seed(self) -> None:
        """Fresh tree, fresh generator, initial target written by the engine."""
        ctx = self.ctx
        self.base = ctx.fresh_dir("cdc_bulk")
        self.store_root = os.path.join(self.base, "store")
        self.store = VersionedParquetStore(self.spark, self.store_root)
        self.obs_root = os.path.join(self.base, "obs")
        self.obs = ObservabilityProxy(ObservabilityStore(self.spark, self.obs_root), self.tr)
        self.gen = gen.BulkCdcGenerator(ctx.seed, self.p["n0"], self.p["batch_rows"])
        self.touched: dict[int, int] = {}  # bid -> partitions its changes fall in
        # the history load arrives already governed: the PII columns are the
        # anonymiser's output, built with Spark built-ins (gen checks them)
        self.store.write(self._seed_rows(), TABLE, partition_by=["part"])

    def _seed_rows(self):
        """``gen.bulk_output_row`` of ``gen.bulk_seed_row`` for ids ``[0, n0)``."""
        i = F.col("id")
        ssn = F.concat_ws(
            "-", *[(lo + i % m).cast("string") for lo, m in ((100, 900), (10, 90), (1000, 9000))]
        )
        email = F.concat(F.lit("user"), i, F.lit("@example.com"))
        return self.spark.range(self.p["n0"]).select(
            i.alias("id"),
            F.concat(F.lit("name"), i).alias("name"),
            email.alias("email"),
            F.concat(F.lit("call "), ssn, F.lit(" or mail "), email, F.lit(" ref "),
                     i % 1000).alias("note"),
            ((i * 7919 + self.ctx.seed) % 1000003).alias("amount"),
            F.lit(0).cast("bigint").alias("updated_at"),
            F.lit(gen.SOURCE["db"]).alias("src_db"),
            F.lit(gen.SOURCE["server_id"]).alias("src_server_id"),
            F.lit("c").alias("cdc_op"),
            F.lit(True).alias("row_active"),
            F.lit(False).alias("deleted_flag"),
            F.sha2(email, 256).alias("email_hash"),
            F.concat(F.lit("call "), F.sha2(ssn, 256), F.lit(" or mail "), F.sha2(email, 256),
                     F.lit(" ref "), i % 1000).alias("note_hash"),
            F.expr(f"id div {self.p['part_width']}").alias("part"),
        )

    def start(self) -> None:
        """Untimed warm-up batches (Python workers, JIT, caches)."""
        self.ctx.set_job_group("setup")
        for _ in range(WARM_BATCHES):
            self._run_pipeline(self._next_input()[0])

    # -- the pipeline ----------------------------------------------------------------
    def _read(self, path: str):
        def reader(_inputs):
            envelopes = self.tr.wrap("readers.read", read_json)(
                self.spark, path, gen.BULK_ENVELOPE_DDL)
            # one envelope per line; the processor expects it as ``value``
            return {"rawdf": envelopes.select(F.struct("*").alias("value"))}

        return reader

    def _process(self, inputs):
        flat = self.tr.wrap("cdc.plan", split_cdc_envelope)(inputs["rawdf"])
        governed = self.tr.wrap("pii.plan", apply_pii_governance)(flat, PII_CATALOG)
        part = F.expr(f"id div {self.p['part_width']}")
        return {"processedDf": governed.withColumn("part", part)}

    def _write(self, inputs):
        target = self.store.read(TABLE)
        merged = self.tr.wrap("merge.plan", merge_mod.scd1_merge)(
            target, inputs["processedDf"], ["id"], updated_at_col="updated_at",
            partition_col="part",
        )
        self.store.write(merged, TABLE, partition_by=["part"])
        return {}

    def _pipeline(self, path: str) -> Pipeline:
        w = self.tr.wrap
        p = Pipeline("cdc_bulk_scd1", obs=self.obs)
        p.add_task(PipelineTask("reader", w("pipeline.reader", self._read(path))))
        p.add_task(PipelineTask("processor", w("pipeline.processor", self._process),
                                after=["reader"]))
        p.add_task(PipelineTask("writer", w("pipeline.writer", self._write),
                                after=["processor"]))
        return p

    def _next_input(self) -> tuple[str, int, int]:
        """Generate and land one batch file (untimed); returns its path, its
        envelope count and the number of id-range partitions it changes."""
        n = len(self.gen.digests)
        lines = self.gen.next_batch(n)
        path = os.path.join(self.base, "in", f"batch-{n:05d}.json")
        write_lines(path, lines)
        parts = {i // self.p["part_width"] for i in self.gen.last_ids}
        return path, len(lines), len(parts)

    def _run_pipeline(self, path: str) -> None:
        self.tr.wrap("pipeline.run", self._pipeline(path).run)()

    # -- timed loop ------------------------------------------------------------------
    def run(self, seconds: float) -> None:
        with self.ctx.instrument([
            (VersionedParquetStore, "read", "tablestore.read"),
            (VersionedParquetStore, "write", "tablestore.write"),
        ]):
            self.ctx.mark_timing_start()
            deadline = time.perf_counter() + seconds
            while self.ctx.more_batches(deadline):
                path, rows, parts = self._next_input()
                b = self.ctx.run_batch(rows, lambda _bid: self._run_pipeline(path))
                if not b.ok:
                    break
                b.versions[TABLE] = self.store.current_version(TABLE)
                self.touched[b.bid] = parts
            self.ctx.mark_timing_end()

    # -- results -----------------------------------------------------------------------
    def check(self) -> int:
        """Rows of the final table that differ from the Python replay."""
        expected = self.gen.expected()
        width = self.p["part_width"]
        seen: dict[int, tuple] = {}
        bad = 0
        for part, row in read_version(self.store_root, TABLE, self.store.current_version(TABLE)):
            got = tuple(row[c] for c in gen.BULK_COLUMNS)
            if part != f"part={row['id'] // width}" or row["id"] in seen:
                bad += 1
                continue
            seen[row["id"]] = got
            if expected.get(row["id"]) != got:
                bad += 1
        bad += sum(1 for i in expected if i not in seen)
        return bad

    def e2e_metrics(self) -> dict[str, float]:
        return store_e2e_metrics(self.ctx, self.store_root, [TABLE])

    def layer_metrics(self, bids: list[int]) -> dict[str, float]:
        out = table_layer_metrics(self.ctx, self.store_root, TABLE, bids, self.touched)
        out.update(obs_layer_metrics(self.ctx, self.obs_root, bids))
        return out

    def input_digests(self) -> list[str]:
        """Digest of the seed rows, then of every batch file."""
        return [self.gen.seed_digest(), *self.gen.digests]
