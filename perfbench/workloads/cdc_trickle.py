"""cdc_trickle_scd2: a live Structured Streaming CDC query, small batches.

A ``rate-micro-batch`` source emits Confluent-wire JSON Debezium envelopes
(a pure function of the source's ``value``), decoded by ``json_decode_cdc``.
Each micro-batch runs under ``guarded_batch_fn`` (offset ranges, status and
fact rows) and applies ``split_cdc_envelope`` -> ``scd2_merge`` with soft
deletes -> ``VersionedParquetStore.write``. Streaming runs one micro-batch
at a time, so the loop is closed: a batch is handed over when the previous
one has committed, and its commit latency is the time between the two
commits.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback
from contextlib import ExitStack

from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.observability import ObservabilityStore
from metadata_ingestion_framework_spark.operators import merge as merge_mod
from metadata_ingestion_framework_spark.operators.cdc import split_cdc_envelope
from metadata_ingestion_framework_spark.plans.tablestore import VersionedParquetStore
from metadata_ingestion_framework_spark.sources.readers import json_decode_cdc
from metadata_ingestion_framework_spark.streaming.offsets import offset_ranges_for_batch
from metadata_ingestion_framework_spark.streaming.output import (
    guarded_batch_fn,
    process_output_stream_batch,
)
from metadata_ingestion_framework_spark.streaming.write_config import WriteStreamConfig
from perfbench import gen
from perfbench.harness import Batch, Context, ObservabilityProxy
from perfbench.workloads import (
    obs_layer_metrics,
    read_version,
    store_e2e_metrics,
    table_layer_metrics,
)

TABLE = "accounts"
TOPIC = "accounts_cdc"
MATCH = "target.current_flag = true AND target.amount <> updates.amount"
SCALES = {
    "full": {"n_keys": 20_000, "rows_per_batch": 1_000},
    "toy": {"n_keys": 500, "rows_per_batch": 50},
}
STOP_TIMEOUT_S = 120
# untimed micro-batches after the query starts; the first few take up to
# twice the CPU of later ones while the JIT compiles hot code
WARM_BATCHES = 5


class CdcTrickleScd2:
    name = "cdc_trickle_scd2"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.p = SCALES[ctx.scale]
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.q = None

    # -- set-up ------------------------------------------------------------------
    def _flatten(self, envelopes):
        flat = self.tr.wrap("cdc.plan", split_cdc_envelope)(envelopes)
        return flat.withColumn("current_flag", F.lit(True)).withColumn(
            "expiry_at", F.lit(None).cast("bigint"))

    def seed(self) -> None:
        """Fresh tree; every key's first version written by the engine."""
        ctx = self.ctx
        self.base = ctx.fresh_dir("cdc_trickle")
        self.store_root = os.path.join(self.base, "store")
        self.store = VersionedParquetStore(self.spark, self.store_root)
        self.obs_root = os.path.join(self.base, "obs")
        self.obs = ObservabilityProxy(ObservabilityStore(self.spark, self.obs_root), self.tr)
        self.spec = gen.TrickleSpec(ctx.seed, self.p["n_keys"], self.p["rows_per_batch"])
        k = F.col("id")
        row = F.struct(
            k.alias("key"), F.concat(F.lit("k"), k).alias("name"), (-1 - k).alias("amount"),
            F.lit(0).cast("bigint").alias("updated_at"),
        )
        envelopes = self.spark.range(self.p["n_keys"]).select(F.struct(
            F.lit("c").alias("op"), F.when(F.lit(False), row).alias("before"),
            row.alias("after"),
            F.struct(F.lit("db0").alias("db"), F.lit(7).alias("server_id")).alias("source"),
        ).alias("value"))
        initial = merge_mod.scd2_merge(
            None, self._flatten(envelopes), ["key"], MATCH, updated_at_col="updated_at")
        self.store.write(initial, TABLE)

    def _kafka_stream(self):
        """Kafka-shaped records whose every byte is a function of ``value``."""
        s = self.spec
        raw = (
            self.spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", s.rows_per_batch)
            .option("numPartitions", 2)
            .option("startTimestamp", 0)
            .option("advanceMillisPerBatch", 1000)
            .load()
        )
        v = F.col("value")
        digit = v % 10
        op = F.when(digit == 3, F.lit("c")).when(digit == 7, F.lit("d")).otherwise(F.lit("u"))
        key = F.when(digit == 3, s.n_keys + v).otherwise((v * s.mult + s.offset) % s.n_keys)
        row = F.struct(key.alias("key"), F.concat(F.lit("k"), key).alias("name"),
                       v.alias("amount"), (v + 1).alias("updated_at"))
        envelope = F.to_json(F.struct(
            op.alias("op"), F.when(op == "d", row).alias("before"),
            F.when(op != "d", row).alias("after"),
            F.struct(F.lit("db0").alias("db"), F.lit(7).alias("server_id")).alias("source"),
        ))
        return raw.select(
            # Confluent wire format: magic byte + 4-byte schema id, then payload
            F.concat(F.lit(b"\x00\x00\x00\x00\x01"), F.encode(envelope, "UTF-8")).alias("value"),
            F.lit(TOPIC).alias("topic"),
            (v % 3).cast("int").alias("partition"),
            v.alias("offset"),
            "timestamp",
        )

    def _apply(self, batch, _batch_id) -> None:
        target = self.store.read(TABLE)
        merged = self.tr.wrap("merge.plan", merge_mod.scd2_merge)(
            target, self._flatten(batch), ["key"], MATCH, updated_at_col="updated_at")
        self.store.write(merged, TABLE)

    def _guarded(self):
        tr = self.tr
        return tr.wrap("streaming.guard", guarded_batch_fn(
            tr.wrap("streaming.batch_fn", self._apply), self.obs, "cdc_trickle_scd2", "scd2",
            offset_fn=tr.wrap("streaming.offsets", offset_ranges_for_batch),
        ))

    def start(self) -> None:
        """Start the query; return once its warm-up micro-batches have committed."""
        self.committed: list[int] = []
        self.stream_ids: dict[int, int] = {}
        self.stopping = threading.Event()
        self.parked = threading.Event()
        self.release = threading.Event()
        self.warmed = threading.Event()
        self.prev_commit = time.perf_counter()
        self.guarded = self._guarded()
        # the store is instrumented until the query has stopped
        self._cleanup = ExitStack()
        self._cleanup.enter_context(self.ctx.instrument([
            (VersionedParquetStore, "read", "tablestore.read"),
            (VersionedParquetStore, "write", "tablestore.write"),
        ]))
        cfg = WriteStreamConfig(checkpoint_location=os.path.join(self.base, "ckpt"),
                                query_name="perfbench_trickle")
        decoded = json_decode_cdc(self._kafka_stream(), gen.TRICKLE_ENVELOPE_DDL)
        self.q = process_output_stream_batch(decoded, cfg, self._on_batch)
        while not self.warmed.wait(0.05):
            if not self.q.isActive:
                raise RuntimeError(f"stream ended during warm-up: {self.q.exception()}")

    # -- the callback (runs on the query's thread) -----------------------------------
    def _on_batch(self, df, batch_id: int) -> None:
        if self.stopping.is_set():
            # park before any Spark work so stop() never cancels a running job
            self.parked.set()
            self.release.wait()
            return
        ctx = self.ctx
        warm = len(self.committed) < WARM_BATCHES
        if warm:
            ctx.set_job_group("setup")
            bid = None
        else:
            bid = ctx.begin_batch()
        t_entry = time.perf_counter()
        ok = True
        try:
            with self.tr.span("batch", batch=bid, start=self.prev_commit):
                self.tr.record("streaming.engine", self.prev_commit, t_entry)
                self.guarded(df, batch_id)
            self.committed.append(batch_id)
        except Exception:
            traceback.print_exc()
            ok = False
            raise
        finally:
            t_commit = time.perf_counter()
            if warm:
                self.prev_commit = t_commit
                if ok and len(self.committed) == WARM_BATCHES:
                    ctx.mark_timing_start()
                    self.prev_cpu = ctx.cpu_snapshot()
                    self.prev_commit = time.perf_counter()
                    self.deadline = self.prev_commit + ctx.seconds
                    self.warmed.set()
            else:
                cpu = ctx.cpu_snapshot()
                b = Batch(bid, self.prev_commit, t_commit, self.spec.rows_per_batch, ok,
                          self.tr.enabled, cpu=ctx.cpu_between(self.prev_cpu, cpu))
                self.prev_cpu = cpu
                b.versions[TABLE] = self.store.current_version(TABLE)
                ctx.batches.append(b)
                self.stream_ids[bid] = batch_id
                self.tr.enabled = False
                self.prev_commit = t_commit
                if not ok or not ctx.more_batches(self.deadline):
                    ctx.mark_timing_end()
                    self.stopping.set()

    # -- timed loop ------------------------------------------------------------------
    def run(self, seconds: float) -> None:
        """Wait until the callback has parked the first micro-batch after the
        deadline (set when warm-up ended), then stop the query."""
        while not self.parked.wait(0.1):
            if not self.q.isActive:
                break
        self._stop_query()

    def _stop_query(self) -> None:
        if self.q is None:
            return
        q, self.q = self.q, None
        self.stopping.set()
        # stop() waits for the query thread, which sits parked in the
        # callback; release it once the stop has been requested
        stopper = threading.Thread(target=q.stop, name="perfbench-stop")
        stopper.start()
        time.sleep(0.5)
        self.release.set()
        stopper.join(STOP_TIMEOUT_S)
        if stopper.is_alive():
            raise RuntimeError("streaming query did not stop")
        self.progress = {p["batchId"]: p for p in q.recentProgress}
        self._cleanup.close()

    def close(self) -> None:
        try:
            self._stop_query()
        finally:
            if hasattr(self, "_cleanup"):
                self._cleanup.close()

    # -- results -----------------------------------------------------------------------
    def check(self) -> int:
        """Rows (as a multiset) differing from the Python SCD2 replay."""
        expected: dict[tuple, int] = {}
        for row in self.spec.replay(self.committed):
            expected[row] = expected.get(row, 0) + 1
        for _part, row in read_version(self.store_root, TABLE, self.store.current_version(TABLE)):
            got = tuple(row[c] for c in gen.TRICKLE_COLUMNS)
            expected[got] = expected.get(got, 0) - 1
        return sum(abs(n) for n in expected.values())

    def e2e_metrics(self) -> dict[str, float]:
        return store_e2e_metrics(self.ctx, self.store_root, [TABLE])

    def layer_metrics(self, bids: list[int]) -> dict[str, float]:
        out = table_layer_metrics(self.ctx, self.store_root, TABLE, bids)
        out.update(obs_layer_metrics(self.ctx, self.obs_root, bids))
        durations = [self.progress[self.stream_ids[b.bid]]["durationMs"]
                     for b in self.ctx.timed_batches() if self.stream_ids[b.bid] in self.progress]
        for metric, key in (("streaming.trigger_s", "triggerExecution"),
                            ("streaming.add_batch_s", "addBatch"),
                            ("streaming.planning_s", "queryPlanning"),
                            ("streaming.wal_commit_s", "walCommit")):
            vals = [d.get(key, 0) / 1000.0 for d in durations]
            out[metric] = statistics.mean(vals) if vals else 0.0
        return out

    def input_digests(self) -> list[str]:
        """Digest of the source's spec, then of every committed micro-batch."""
        return [self.spec.spec_digest(), *(self.spec.batch_digest(b) for b in self.committed)]
