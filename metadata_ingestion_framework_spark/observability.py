"""Observability tables (reference parity: Task.scala:52-142, LocalCreate:38-80).

Three append tables: ``pipeline_status`` (per-task state + offsets),
``pipeline_fact`` (row-count facts), ``pipeline_error_logs`` (failed rows
serialized + stacktrace). The reference writes status via raw SQL INSERT
string interpolation (Task.scala:57); here every value is a typed column,
never SQL text (injection-free; SURVEY.md §7.4).

Status and fact rows are a handful per call, so they are built on the
driver and written with pyarrow as one small parquet file per call: no
Spark job. A Spark append would cost a job and several files for each such
row, on the blocking path of every batch. Each file is written under a
hidden name (``.<name>.tmp``, which Spark's reader skips), fsync'd and
moved into place with ``os.replace``, so neither a reader nor a restart
after a host crash sees a partial file. That
assumes ``root`` is a local (POSIX) path, as ``VersionedParquetStore``'s
pointer swap does; on an object store use a conditional put. Error rows
are data-sized and stay a Spark append.
"""

from __future__ import annotations

import os
import time
import traceback
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# One schema per table: the column order and types of its files (the order
# the earlier Spark appends wrote, so old and new files read back as one
# table), and of the empty frame a table with no file yet reads as.
STATUS_SCHEMA = (
    "pipeline_id string, task_name string, status string, batch_id long, "
    "run_id string, message string, topic string, partition int, "
    "startOffset long, endOffset long, last_update timestamp"
)
FACT_SCHEMA = (
    "pipeline_id string, task_name string, metric string, value long, "
    "batch_id long, last_update timestamp"
)
ERROR_SCHEMA = (
    "row_data string, pipeline_id string, task_name string, error string, "
    "batch_id long, last_update timestamp"
)

# Timestamps are microseconds, never nanoseconds: get_spark() reads parquet
# nanos as long.
_ARROW_TYPES = {
    "string": pa.string(), "int": pa.int32(), "long": pa.int64(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}


def _arrow_schema(ddl: str) -> pa.Schema:
    return pa.schema([(n, _ARROW_TYPES[t]) for n, t in (c.split() for c in ddl.split(", "))])


@dataclass
class ObservabilityStore:
    """Parquet-backed status/fact/error sinks under one local root path."""

    spark: SparkSession
    root: str

    def _write_rows(self, name: str, rows: list[tuple], schema: pa.Schema) -> None:
        """Land driver-side rows as one parquet file, atomically: write a
        hidden temp file, fsync it, then rename it into place (the
        ``_atomic_write`` order), so a crash leaves no renamed torn file."""
        table = pa.table([list(col) for col in zip(*rows)], schema=schema)
        d = os.path.join(self.root, name)
        os.makedirs(d, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(d, f".{fname}.tmp")
        with open(tmp, "wb") as f:
            pq.write_table(table, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(d, fname))

    def _read(self, name: str, schema: str) -> DataFrame:
        """The table's rows; the empty frame only while its directory holds
        no visible data file. Any other failure (a torn or unreadable file)
        raises: read as empty, a lost status table would resume a stream
        from the earliest offsets."""
        path = os.path.join(self.root, name)
        names = os.listdir(path) if os.path.isdir(path) else []
        if all(n.startswith((".", "_")) for n in names):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(path)

    # -- status (Task.scala:52-64) --------------------------------------
    def write_status(
        self,
        pipeline_id: str,
        task_name: str,
        status: str,
        offset_ranges: list[tuple] | None = None,
        batch_id: int = -1,
        run_id: str = "",
        message: str = "",
    ) -> None:
        """One status row per offset range: ``offset_ranges`` is a list of
        driver-side ``(topic, partition, startOffset, endOffset)`` tuples,
        one per source partition. No or empty offsets still land one row,
        with null offsets."""
        offsets = offset_ranges or [(None, None, None, None)]
        now = datetime.now(timezone.utc)
        self._write_rows(
            "pipeline_status",
            [(pipeline_id, task_name, status, batch_id, run_id, message, *o, now)
             for o in offsets],
            _arrow_schema(STATUS_SCHEMA),
        )

    def read_status(self) -> DataFrame:
        return self._read("pipeline_status", STATUS_SCHEMA)

    # -- facts (Task.scala:76,96) ---------------------------------------
    def write_fact(
        self, pipeline_id: str, task_name: str, metric: str, value: int, batch_id: int = -1
    ) -> None:
        self._write_rows(
            "pipeline_fact",
            [(pipeline_id, task_name, metric, value, batch_id, datetime.now(timezone.utc))],
            _arrow_schema(FACT_SCHEMA),
        )

    def read_facts(self) -> DataFrame:
        return self._read("pipeline_fact", FACT_SCHEMA)

    # -- error rows (Task.scala:90-142) -----------------------------------
    def write_errors(
        self, pipeline_id: str, task_name: str, failed: DataFrame, exc: BaseException, batch_id: int = -1
    ) -> None:
        err = "".join(traceback.format_exception(type(exc), exc, exc.__traceback__))[:8000]
        rows = failed.select(
            F.concat_ws("|", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in failed.columns]).alias("row_data")
        )
        out = (
            rows.withColumn("pipeline_id", F.lit(pipeline_id))
            .withColumn("task_name", F.lit(task_name))
            .withColumn("error", F.lit(err))
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .withColumn("last_update", F.current_timestamp())
        )
        out.write.mode("append").parquet(f"{self.root}/pipeline_error_logs")

    def read_errors(self) -> DataFrame:
        return self._read("pipeline_error_logs", ERROR_SCHEMA)


def timed(fn, *args, **kwargs) -> tuple[object, float]:
    """Run fn, return (result, wall seconds) — bench helper."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def observe_stage(df: DataFrame, name: str, metrics: dict | None = None):
    """Attach plan-level metrics to a pipeline stage: returns
    ``(df, Observation)`` where the observation's named metrics (default:
    ``rows`` count) are computed BY THE SAME JOB that executes the plan —
    zero extra passes, unlike a ``.count()`` fact (which re-runs the
    stage; at 100 TB a per-stage recount IS a second pipeline). Read
    ``obs.get`` after any action on a descendant DataFrame and feed it to
    :meth:`ObservabilityStore.write_fact`.

    Scale/parity note: this is the Spark-native ``Dataset.observe`` API
    (public); the reference's count facts (Task.scala:99-141) re-count.
    Batch only — for streams use the query-progress listener's
    ``observedMetrics`` with the same expressions.
    """
    from pyspark.sql import Observation

    metrics = metrics or {"rows": F.count(F.lit(1))}
    obs = Observation(name)
    out = df.observe(obs, *[v.alias(k) for k, v in metrics.items()])
    return out, obs


def write_observed_facts(
    store: "ObservabilityStore",
    pipeline_id: str,
    task_name: str,
    observations: list,
    batch_id: int = 0,
) -> None:
    """Land ``(stage_name, Observation)`` pairs from :func:`observe_stage`
    as fact rows (one per metric) after the action that populated them."""
    for stage, obs in observations:
        for metric, value in obs.get.items():
            store.write_fact(
                pipeline_id, task_name, f"{stage}.{metric}", int(value), batch_id
            )


def store_health_trends(facts: DataFrame) -> DataFrame:
    """Per-(pipeline, store, run) dedup-store health rollup (r18,
    VERDICT r17 item 5) — the reference's pipeline_fact pattern
    (Task.scala:52-141) applied to the 100 TB dedup-health story: roll
    the per-ingest decision facts ``_emit_ingest_facts`` lands
    (incremental.py) into a drop-rate / bucket-touch TIME SERIES. A
    drop rate collapsing to ~0 means dead dedup state; a spike means a
    feedback loop is re-crawling its own corpus; a bucket-touch count
    growing toward n_buckets is the hash-bucket degeneration mode the
    id-range layouts are designed against (CLAUDE.md).

    One output row per ingest: ``n_batch``, total ``n_dropped`` (summed
    over modalities), integer ``drop_rate_ppm`` recomputed from the
    totals, ``rate_delta_ppm`` vs the SAME store's previous run (NULL
    on its first), and total ``buckets_touched``. Runs order by their
    INGEST TIME (min ``last_update`` of the run's fact rows, run_id
    tiebreak) — a lexicographic run_id order would mis-sequence the
    repo's own 'rN' convention at N >= 10 ('r10' < 'r2') and compute
    the delta against the wrong predecessor (r18 review). A fact frame
    without ``last_update`` (in-plan emulations) falls back to run_id
    order.

    Scale shape: the fact table is telemetry-sized (a handful of rows
    per ingest), so the groupBy and the per-store LAG window are
    trivially bounded; no corpus data flows here."""
    f = facts.filter(F.col("metric").startswith("ingest."))
    has_ts = "last_update" in facts.columns
    parsed = f.select(
        "pipeline_id",
        F.substring_index("task_name", ":", 1).alias("store"),
        F.expr(
            "substring(task_name, instr(task_name, ':') + 1)"
        ).alias("run_id"),
        "metric",
        "value",
        *(["last_update"] if has_ts else []),
    )
    g = parsed.groupBy("pipeline_id", "store", "run_id").agg(
        *(
            [F.min("last_update").alias("__ingested_at")]
            if has_ts else []
        ),
        F.max(
            F.when(F.col("metric") == "ingest.n_batch", F.col("value"))
        ).alias("n_batch"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("metric").startswith("ingest.n_dropped."),
                    F.col("value"),
                )
            ),
            F.lit(0),
        ).cast("long").alias("n_dropped"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("metric").startswith("ingest.buckets_touched."),
                    F.col("value"),
                )
            ),
            F.lit(0),
        ).cast("long").alias("buckets_touched"),
    )
    rate = F.when(
        F.col("n_batch") > 0,
        F.expr("(n_dropped * 1000000) div n_batch"),
    ).otherwise(F.lit(0)).cast("long")
    g = g.withColumn("drop_rate_ppm", rate)
    from pyspark.sql import Window

    order = (
        [
            F.col("__ingested_at").asc_nulls_last(),
            F.col("run_id").asc_nulls_last(),
        ]
        if has_ts
        else [F.col("run_id").asc_nulls_last()]
    )
    w = Window.partitionBy("pipeline_id", "store").orderBy(*order)
    return g.select(
        "pipeline_id",
        "store",
        F.row_number().over(w).cast("long").alias("run_seq"),
        "run_id",
        "n_batch",
        "n_dropped",
        "drop_rate_ppm",
        (
            F.col("drop_rate_ppm")
            - F.lag("drop_rate_ppm").over(w)
        ).cast("long").alias("rate_delta_ppm"),
        "buckets_touched",
    )
