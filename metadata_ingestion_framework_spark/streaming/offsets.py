"""Manual offset bookkeeping (reference parity: Task.scala:99-100 + Utility.scala:226-249).

Checkpointing is the primary exactly-once mechanism; the status-table offset
trail is observability plus the reference's resume path
(``startingOffsets`` JSON rebuilt from the status table).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def offset_ranges_for_batch(batch: DataFrame) -> DataFrame:
    """Per-(topic, partition) offset ranges of one Kafka micro-batch, with
    the range's row count as ``rows``.

    Parity: Task.scala:99-100 (A1) — groupBy(topic, partition) min/max offset.
    The counts sum to the batch's row count (NULL topic and partition form
    one range of their own), so ``guarded_batch_fn`` takes its
    ``input_rows`` fact from the same collect instead of a ``count()``.
    """
    return batch.groupBy("topic", "partition").agg(
        F.min("offset").alias("startOffset"),
        F.max("offset").alias("endOffset"),
        F.count(F.lit(1)).alias("rows"),
    )


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
