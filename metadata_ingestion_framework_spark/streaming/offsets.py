"""Manual offset bookkeeping (reference parity: Task.scala:99-100 + Utility.scala:226-249).

Checkpointing is the primary exactly-once mechanism; the status-table offset
trail is observability plus the reference's resume path
(``startingOffsets`` JSON rebuilt from the status table). A micro-batch's
offset ranges are aggregated on the driver (:func:`offset_ranges_for_batch`),
so the guard's bookkeeping costs one shuffle-free Spark job.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

_OffsetRange = Row("topic", "partition", "startOffset", "endOffset", "rows")


def offset_ranges_for_batch(batch: DataFrame) -> list[Row]:
    """Per-(topic, partition) offset ranges of one Kafka micro-batch, as
    driver rows ``(topic, partition, startOffset, endOffset, rows)`` with
    the range's row count as ``rows``.

    Parity: Task.scala:99-100 (A1) — the rows equal a collect of
    ``groupBy(topic, partition).agg(min(offset), max(offset),
    count(lit(1)))``: NULL topic and partition form one range of their
    own, a NULL offset counts in ``rows`` but not in the range, and the
    values come back typed as a Row collect types them. The counts sum to
    the batch's row count, so ``guarded_batch_fn`` takes its
    ``input_rows`` fact from them instead of a ``count()``.

    One Spark job with no exchange: ``toArrow`` ships the three columns
    and pyarrow groups them on the driver (the ``joins.distinct_values``
    trade). The Spark ``groupBy`` is a map-stage job plus a result job
    under AQE. The driver receives one small row per record, bounded by
    the stream's ``maxOffsetsPerTrigger``.
    """
    table = batch.select("topic", "partition", "offset").toArrow()
    agg = table.group_by(["topic", "partition"]).aggregate(
        [("offset", "min"), ("offset", "max"), ([], "count_all")]
    )
    cols = ["topic", "partition", "offset_min", "offset_max", "count_all"]
    return [_OffsetRange(*r) for r in zip(*(agg.column(c).to_pylist() for c in cols))]


def recover_starting_offsets(
    status: DataFrame, topic: str, partition_count: int | None = None
) -> str:
    """Rebuild the Kafka ``startingOffsets`` JSON from the status table.

    Parity: Utility.scala:226-249 (A2): max(endOffset) per partition for the
    topic, emitted as ``{"topic": {"0": off, ...}}``. Bounded collect — one
    row per partition.

    ``partition_count`` reproduces the reference's partitionSize guard
    (Utility.scala:239-244): if the status table covers fewer partitions
    than the topic has (a partition was never consumed), a partial
    startingOffsets JSON would make Spark's Kafka source fail to start —
    fall back to ``earliest`` instead.
    """
    # Divergence from the reference's `endOffset != 0` filter
    # (Utility.scala:239): it drops a partition whose highest consumed
    # offset is legitimately 0, and Kafka's startingOffsets JSON must then
    # name every partition or the resumed stream fails to start. Our status
    # rows use NULL (not 0) for "no offsets", so filtering on NOT NULL is
    # both safe and complete.
    rows = (
        status.filter((F.col("topic") == topic) & F.col("endOffset").isNotNull())
        .groupBy("topic", "partition")
        .agg(F.max("endOffset").alias("endOffset"))
        .collect()
    )
    if not rows:
        return "earliest"
    offsets = {str(r["partition"]): r["endOffset"] + 1 for r in rows}
    if partition_count is not None and len(offsets) != partition_count:
        return "earliest"
    return json.dumps({topic: offsets})
