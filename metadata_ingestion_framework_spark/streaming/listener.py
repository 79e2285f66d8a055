"""Streaming observability via ``StreamingQueryListener`` (r11, VERDICT
r10 item 5; reference parity: Task.scala:52-141).

The reference writes per-batch ``pipeline_status`` / ``pipeline_fact``
rows from INSIDE its foreachBatch user code. The Spark-native shape is a
query listener: the engine attaches ONE listener per session and every
stream gets status/offset/fact rows for free — no user code in the batch
function, no extra actions (the listener consumes the progress events
the engine already emits), and ``Dataset.observe`` metrics on streaming
plans land through the same channel (``observedMetrics``).

Scale posture: listener callbacks run on the driver's event bus — the
writes here are 1-row/``n_sources``-row driver-side files per
micro-batch, independent of data volume, and run no Spark job. Never put
per-row work in a listener.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from metadata_ingestion_framework_spark.observability import (
    ObservabilityStore,
)


def _offset_long(raw) -> int | None:
    """Source start/end offsets are source-specific JSON; surface the
    numeric form (rate/file sources, single-partition Kafka legs) as the
    STATUS_SCHEMA long and leave composite offsets to the message JSON."""
    if raw is None:
        return None
    try:
        v = json.loads(raw) if isinstance(raw, str) else raw
    except (TypeError, ValueError):
        return None
    return v if isinstance(v, int) else None


class PipelineStatusListener(StreamingQueryListener):
    """Lands stream lifecycle + per-batch progress in the observability
    tables: STARTED/TERMINATED/FAILED status rows, one RUNNING status row
    per micro-batch with per-source offset ranges, ``numInputRows`` fact
    rows, and every ``observedMetrics`` entry as ``<obs>.<metric>`` facts
    (the streaming face of ``observe_stage``).

    ``query_names``: restrict to specific ``queryName``s (None = all
    queries in the session — production default; tests sharing a session
    scope to their own stream).

    Offset-range column mapping (r12, ADVICE r11): ``STATUS_SCHEMA`` is
    the reference's Kafka-shaped table, but progress events describe
    arbitrary sources, so ``topic`` carries the truncated source
    DESCRIPTION and ``partition`` carries the source INDEX within the
    query — documented convention, not a claim that either is a real
    Kafka coordinate (a multi-partition Kafka source is one row here;
    its per-partition detail stays in the JSON message). The RUNNING
    message JSON is keyed by ``"<source index>:<description[:60]>"`` so
    two sources sharing a 60-char description prefix cannot collide.
    """

    def __init__(
        self,
        store: ObservabilityStore,
        pipeline_id: str,
        query_names: set[str] | None = None,
    ):
        self.store = store
        self.pipeline_id = pipeline_id
        self.query_names = set(query_names) if query_names else None
        # runId -> query name, so the nameless TERMINATED event can be
        # attributed to the same task_name as its STARTED/RUNNING rows
        self._run_names: dict[str, str] = {}

    def _wants(self, name: str | None) -> bool:
        return self.query_names is None or name in self.query_names

    def onQueryStarted(self, event) -> None:
        if not self._wants(event.name):
            return
        name = event.name or str(event.id)
        self._run_names[str(event.runId)] = name
        self.store.write_status(
            self.pipeline_id, name, "STARTED", run_id=str(event.runId)
        )

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if not self._wants(p.name):
            return
        task = p.name or str(p.id)
        self._run_names[str(p.runId)] = task
        sources = list(p.sources or [])
        offsets = [
            (
                (s.description or "")[:120],
                i,
                _offset_long(s.startOffset),
                _offset_long(s.endOffset),
            )
            for i, s in enumerate(sources)
        ]
        self.store.write_status(
            self.pipeline_id, task, "RUNNING",
            offset_ranges=offsets,
            batch_id=p.batchId,
            run_id=str(p.runId),
            message=json.dumps(
                {
                    f"{i}:{(s.description or '')[:60]}": s.endOffset
                    for i, s in enumerate(sources)
                }
            )[:1000],
        )
        self.store.write_fact(
            self.pipeline_id, task, "numInputRows", int(p.numInputRows),
            batch_id=p.batchId,
        )
        for obs_name, metrics in (p.observedMetrics or {}).items():
            for metric, value in metrics.asDict().items():
                if isinstance(value, (int, float)):
                    self.store.write_fact(
                        self.pipeline_id, task, f"{obs_name}.{metric}",
                        int(value), batch_id=p.batchId,
                    )

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing
        pass

    def onQueryTerminated(self, event) -> None:
        # terminated events carry no query NAME — attribute through the
        # runId -> name map built from start/progress events, so the
        # terminal row correlates by task_name with the lifecycle rows
        # and (for name-scoped listeners) another stream's termination
        # in a shared session is not misattributed
        run_id = str(event.runId)
        name = self._run_names.pop(run_id, None)
        if self.query_names is not None and name is None:
            return
        status = "FAILED" if event.exception else "TERMINATED"
        self.store.write_status(
            self.pipeline_id, name or str(event.id), status,
            run_id=run_id,
            message=(event.exception or "")[:1000],
        )


def attach_pipeline_listener(
    spark: SparkSession,
    store: ObservabilityStore,
    pipeline_id: str,
    query_names: set[str] | None = None,
) -> PipelineStatusListener:
    """Register and return the listener (keep the handle:
    ``spark.streams.removeListener(listener)`` when the pipeline ends)."""
    listener = PipelineStatusListener(store, pipeline_id, query_names)
    spark.streams.addListener(listener)
    return listener
