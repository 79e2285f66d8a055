"""Stream output runners (reference parity: ProcessOutputStream.scala:17-76)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from metadata_ingestion_framework_spark.streaming.write_config import WriteStreamConfig


def process_output_stream(
    df: DataFrame,
    config: WriteStreamConfig,
    path: str | None = None,
    table: str | None = None,
    test_mode: bool = False,
) -> StreamingQuery:
    """Start a direct stream append to a path or table.

    Parity: ProcessOutputStream.scala:17-39. ``test_mode`` runs
    ``processAllAvailable()`` (synchronous drain, the reference's test
    switch at :32-35) instead of leaving the query running.
    """
    writer = config.apply(df.writeStream)
    q = writer.toTable(table) if table else writer.start(path)
    if test_mode:
        q.processAllAvailable()
    return q


def process_output_stream_batch(
    df: DataFrame,
    config: WriteStreamConfig,
    batch_fn: Callable[[DataFrame, int], None],
    test_mode: bool = False,
) -> StreamingQuery:
    """Wrap a batch function into ``foreachBatch`` and start the query.

    Parity: ProcessOutputStream.scala:50-76 — this is how every SCD merge
    runs in streaming mode: the batch function calls scd{1,2,4}_merge on each
    micro-batch (DeltaWritter.scala:42-56).
    """
    writer = config.apply(df.writeStream).foreachBatch(batch_fn)
    q = writer.start()
    if test_mode:
        q.processAllAvailable()
    return q


def guarded_batch_fn(
    batch_fn: Callable[[DataFrame, int], None],
    obs,
    pipeline_id: str,
    task_name: str,
    offset_fn: Callable[[DataFrame], list[tuple]] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch function with the reference's error/status flow.

    Parity: Task.scala:90-142,149-191 — per batch: success writes a Finished
    status (+ offset ranges when ``offset_fn`` extracts them) and row-count
    facts; failure serializes the batch rows to ``pipeline_error_logs``
    with the stacktrace, writes an Error status, and re-raises (the stream
    stops, matching the reference's fail-fast behavior).

    ``offset_fn`` (``offset_ranges_for_batch``) returns driver rows
    ``(topic, partition, startOffset, endOffset, rows)``, taken once after
    ``batch_fn``: the first four fields are the status offsets and the
    ``input_rows`` fact is the sum of ``rows``. Only a guard without
    ``offset_fn`` runs ``batch.count()``.
    """

    def run(batch: DataFrame, batch_id: int) -> None:
        try:
            batch_fn(batch, batch_id)
            offsets = None
            if offset_fn is None:
                n_in = batch.count()
            else:
                ranges = offset_fn(batch)
                offsets = [r[:4] for r in ranges]
                n_in = sum(r[4] for r in ranges)
            obs.write_status(
                pipeline_id, task_name, "Finished",
                offset_ranges=offsets, batch_id=batch_id,
            )
            obs.write_fact(pipeline_id, task_name, "input_rows", n_in, batch_id=batch_id)
        except Exception as exc:
            obs.write_errors(pipeline_id, task_name, batch, exc, batch_id=batch_id)
            obs.write_status(
                pipeline_id, task_name, "Error",
                batch_id=batch_id, message=str(exc)[:2000],
            )
            raise

    return run
