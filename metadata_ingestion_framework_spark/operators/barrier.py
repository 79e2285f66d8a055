"""Lineage barrier: materialize an intermediate to scratch parquet.

Optimization-guide §3.3 ("Very wide unions/joins ... produce enormous
plans; ... Materialising an intermediate result (write + read back, or
localCheckpoint) truncates the plan") applied to the mega-composites:
every self-joining stage (paragraph dedup, minhash banding, two-stage
windows, temperature mix) embeds its input subtree TWICE in the logical
plan, so a 9-stage chain compounds exponentially — the r18 measurement on
``pretrain_corpus_e2e`` was a 677,248-line optimized plan, ~22 s of query
*construction* (every internal offset-collect re-analyzing the full tree
and re-walking the CacheManager) and ~40 s end-to-end at sf0.1 for ~2.4k
surviving rows. With four barriers the same query returns the identical
checksum in ~11 s (fresh-session A/B).

Why parquet + read-back instead of the alternatives:

- ``persist()`` does NOT truncate the analyzed plan — every downstream
  action still re-analyzes (and CacheManager-matches) the full lineage;
- ``localCheckpoint()`` truncates but its blocks release only via JVM GC
  (CLAUDE.md releasable-state rule) and the RDD-backed plan reports
  ``sizeInBytes = Long.MaxValue``, wrecking downstream join planning;
- a parquet round-trip yields a scan with REAL size statistics (broadcast
  decisions work), column pruning, and O(final-stage) planning, and is
  exactly the "checkpoint between mega-stages" shape a 100 TB pipeline
  uses for restartability anyway.

NOT cross-run caching: the spill path embeds the session's applicationId
plus a fresh uuid per call, so every invocation recomputes its barrier
contents from the query's inputs and nothing can be reused across runs.
The directory rides ``_persisted_deps`` as a :class:`BarrierHandle` whose
``unpersist()`` deletes it — the harness's existing release protocol.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame

from metadata_ingestion_framework_spark.session import SCRATCH


class BarrierHandle:
    """Scratch-dir handle riding ``_persisted_deps``: the deps harness
    calls ``unpersist()`` on every entry, which here deletes the spilled
    files (same releasable-state contract as a cached RDD)."""

    def __init__(self, path: str):
        self.path = path

    def unpersist(self, blocking: bool = False):
        shutil.rmtree(self.path, ignore_errors=True)
        return self


def spill_barrier(df: DataFrame, release: tuple = ()) -> DataFrame:
    """Write ``df`` to a unique scratch parquet dir and read it back.

    Returns a parquet-backed frame with the SAME schema and rows whose
    logical plan is a bare scan — downstream stages plan against O(1)
    lineage instead of the full upstream tree. ``release``: frames whose
    persisted state (their own ``_persisted_deps`` plus the frame itself)
    is no longer reachable once the barrier is on disk — released eagerly
    here so composite peak memory is one stage, not the whole chain.

    The returned frame's ``_persisted_deps`` holds the
    :class:`BarrierHandle`; composites must flatten it into their final
    deps list like any other releasable (CLAUDE.md flatten rule).
    """
    from metadata_ingestion_framework_spark.operators.dedup import (
        unpersist_deps,
    )

    spark = df.sparkSession
    path = os.path.join(
        SCRATCH, "barrier", spark.sparkContext.applicationId, uuid.uuid4().hex
    )
    df.write.mode("overwrite").parquet(path)
    for fr in release:
        unpersist_deps(fr)
        try:
            fr.unpersist()
        except Exception:  # pragma: no cover - non-persisted frames no-op
            pass
    out = spark.read.schema(df.schema).parquet(path)
    out._persisted_deps = [BarrierHandle(path)]
    return out
