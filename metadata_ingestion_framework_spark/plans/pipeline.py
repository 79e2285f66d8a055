"""Metadata-driven pipeline runner (reference parity: Pipeline.scala + Start.scala).

The reference builds one reader→processor→writer DAG per source table from
metadata rows and schedules nodes level-by-level on thread pools
(Pipeline.scala:202-232). In PySpark the control plane is ordinary function
composition — Spark itself schedules the data plane — so the runner here is
deliberately thin: topological execution of named tasks exchanging
DataFrames, with status/fact/error bookkeeping per task.

Parallel pipelines: the reference uses ``Executors.newFixedThreadPool``
(Start.scala:116-118); ``run_pipelines_parallel`` mirrors it with a Python
thread pool — Spark sessions are thread-safe and jobs from multiple threads
interleave on the cluster scheduler.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from metadata_ingestion_framework_spark.observability import ObservabilityStore


@dataclass
class PipelineTask:
    """One DAG node: fn(inputs: dict[name, DataFrame]) -> dict[name, DataFrame].

    Mirrors Task.scala's contract — tasks exchange a mutable map of
    DataFrames keyed by names like 'rawdf'/'processedDf' (Const:41-42).
    """

    name: str
    fn: Callable[[dict[str, DataFrame]], dict[str, DataFrame]]
    after: list[str] = field(default_factory=list)


class Pipeline:
    def __init__(self, pipeline_id: str, obs: ObservabilityStore | None = None):
        self.pipeline_id = pipeline_id
        self.obs = obs
        self.tasks: dict[str, PipelineTask] = {}

    def add_task(self, task: PipelineTask) -> "Pipeline":
        if task.name in self.tasks:
            raise ValueError(f"duplicate task {task.name}")
        self.tasks[task.name] = task
        return self

    def _levels(self) -> list[list[PipelineTask]]:
        """Topological levels (Kahn) — parity with get_nodes_for_execution."""
        remaining = dict(self.tasks)
        done: set[str] = set()
        levels: list[list[PipelineTask]] = []
        while remaining:
            ready = [t for t in remaining.values() if all(d in done for d in t.after)]
            if not ready:
                raise ValueError(f"cycle or missing dependency among {sorted(remaining)}")
            levels.append(ready)
            for t in ready:
                done.add(t.name)
                del remaining[t.name]
        return levels

    def run(self) -> dict[str, DataFrame]:
        """Execute level-by-level; outputs accumulate into one shared map.

        A failing task writes an error/status row and aborts the pipeline
        (parity: Pipeline.scala:38-54 — any Error stops the DAG).
        """
        outputs: dict[str, DataFrame] = {}
        for level in self._levels():
            for task in level:
                try:
                    result = task.fn(dict(outputs))
                    outputs.update(result or {})
                    if self.obs:
                        self.obs.write_status(self.pipeline_id, task.name, "Finished")
                except Exception as exc:
                    if self.obs:
                        self.obs.write_status(
                            self.pipeline_id, task.name, "Error", message=str(exc)[:2000]
                        )
                    raise
        return outputs


def run_pipelines_parallel(pipelines: list[Pipeline], max_workers: int | None = None) -> list[dict]:
    """One thread per pipeline (Start.scala:116-118)."""
    with ThreadPoolExecutor(max_workers=max_workers or len(pipelines)) as pool:
        return list(pool.map(lambda p: p.run(), pipelines))

