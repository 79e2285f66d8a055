"""Run context shared by the workloads: Spark session, closed-loop batch
timing, store accounting, instrumentation and the result line."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field

from perfbench import procstat
from perfbench.trace import Tracer, per_batch_table

TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
# a run keeps handing over batches past its deadline until this many have
# committed, so a slow first batch never leaves a median of one sample
MIN_TIMED_BATCHES = 3
# the process groups whose CPU counts as the engine's work: the driver
# Python, the JVM's threads other than its JIT compilers, the Python workers.
# The JIT compiles in the background, as much or as little as its queue holds
# at the moment, so its CPU is kept apart (``cpu.jit_s``)
WORK_CPU = ("driver_py", "jvm", "py_workers")


@dataclass
class Batch:
    """One closed-loop batch: handed over at ``start``, committed at ``end``."""

    bid: int
    start: float
    end: float
    rows: int
    ok: bool
    traced: bool
    versions: dict[str, int] = field(default_factory=dict)
    cpu: dict[str, float] = field(default_factory=dict)  # CPU seconds by process group

    @property
    def cpu_s(self) -> float:
        """CPU seconds of the ``WORK_CPU`` groups during the batch."""
        return sum(v for k, v in self.cpu.items() if k in WORK_CPU)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least 10 samples beyond it."""
    for pct in TAIL_LADDER:
        if n * (1 - pct / 100.0) >= 10:
            return pct
    return None


def git_sha(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10, check=False,
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class ObservabilityProxy:
    """Pass-through to an ``ObservabilityStore`` whose ``write_*`` calls are
    recorded as ``observability.<method>`` spans."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name.startswith("write_") and callable(attr):
            return self._tracer.wrap(f"observability.{name}", attr)
        return attr


class Context:
    """Everything one benchmark process shares across its workload."""

    def __init__(self, root: str, work: str, seed: int, seconds: float, traced: bool,
                 scale: str):
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.scale = scale
        self.tracer = Tracer(traced)
        self.tracer.enabled = False  # set-up is never traced
        self.batches: list[Batch] = []
        self.spark = None
        self.jvm_pid: int | None = None
        self.session_s = 0.0
        self.notes: dict[str, object] = {}
        self._cpu0: dict[str, float] = {}
        self._cpu1: dict[str, float] = {}
        self._host0: list[int] = []

    # -- lifecycle -----------------------------------------------------------
    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh_dir(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def start_session(self) -> None:
        from pyspark import SparkContext

        from metadata_ingestion_framework_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.local.dir": self.path("local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100",
            },
        )
        self.session_s = time.perf_counter() - t0
        proc = getattr(SparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None

    def stop_session(self) -> None:
        """Stop Spark, end the JVM and wait for it and its Python workers."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        kids = procstat.descendants(proc.pid) if proc is not None else []
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        procstat.wait_gone(kids, timeout=20)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- batches ---------------------------------------------------------------
    def set_job_group(self, label: str) -> None:
        self.spark.sparkContext.setJobGroup(f"perfbench-{label}", "perfbench", False)

    def begin_batch(self) -> int:
        """Next batch id; tracing is on for every other batch of a traced
        run, so the same run also times untraced batches."""
        bid = len(self.batches)
        self.tracer.enabled = self.traced and bid % 2 == 0
        self.set_job_group(str(bid))
        return bid

    def run_batch(self, rows: int, fn) -> Batch:
        """Hand ``fn`` one batch and time it until it returns (committed)."""
        bid = self.begin_batch()
        cpu0 = self.cpu_snapshot()
        t0 = time.perf_counter()
        ok = True
        try:
            with self.tracer.span("batch", batch=bid):
                fn(bid)
        except Exception:  # a failed batch is counted, and ends the run
            traceback.print_exc()
            ok = False
        t1 = time.perf_counter()
        cpu = self.cpu_between(cpu0, self.cpu_snapshot())
        b = Batch(bid, t0, t1, rows, ok, self.tracer.enabled, cpu=cpu)
        self.batches.append(b)
        self.tracer.enabled = False
        return b

    def more_batches(self, deadline: float) -> bool:
        """Whether the timed loop hands over another batch."""
        return (time.perf_counter() < deadline
                or len(self.timed_batches()) < MIN_TIMED_BATCHES)

    # -- /proc -------------------------------------------------------------------
    def cpu_snapshot(self) -> dict[str, float]:
        """CPU seconds used so far by each process group, and the time."""
        snap = {"driver_py": procstat.cpu_seconds(os.getpid()), "t": time.perf_counter()}
        if self.jvm_pid is not None:
            snap["jvm"], snap["jit"] = procstat.jvm_cpu_split(self.jvm_pid)
            snap["py_workers"] = procstat.python_workers_cpu(self.jvm_pid)
        return snap

    @staticmethod
    def cpu_between(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
        """CPU seconds of each process group between two snapshots."""
        return {k: b[k] - a[k] for k in b if k != "t"}

    def mark_timing_start(self) -> None:
        os.sync()
        self._cpu0 = self.cpu_snapshot()
        self._host0 = procstat.host_cpu_ticks()

    def mark_timing_end(self) -> None:
        self._cpu1 = self.cpu_snapshot()
        # a busy host slows every layer at once; this tells such runs apart
        self.notes["host.steal_frac"] = round(
            procstat.steal_frac(self._host0, procstat.host_cpu_ticks()), 4)

    def cpu_metrics(self) -> dict[str, float]:
        a, b = self._cpu0, self._cpu1
        used = self.cpu_between(a, b)
        wall = b["t"] - a["t"]
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
        n = max(len(self.timed_batches()), 1)
        out = {f"cpu.{k}_s": v / n for k, v in used.items()}  # per batch
        out["cpu.util"] = sum(used.values()) / (wall * cores) if wall > 0 else 0.0
        return out

    def peak_rss_mb(self) -> float:
        mb = procstat.vm_hwm_mb(os.getpid())
        if self.jvm_pid is not None:
            mb += procstat.vm_hwm_mb(self.jvm_pid)
        return mb

    # -- engine job counts ---------------------------------------------------------
    def job_counts(self, bids: list[int]) -> dict[str, float]:
        """Spark jobs and tasks per batch, from the job group each batch ran under."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tasks = failed = 0
        for bid in bids:
            for jid in tracker.getJobIdsForGroup(f"perfbench-{bid}"):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numTasks
                        failed += st.numFailedTasks
        n = max(len(bids), 1)
        return {"jobs_per_batch": jobs / n, "spark.tasks_per_batch": tasks / n,
                "spark.failed_tasks": float(failed)}

    # -- instrumentation -------------------------------------------------------------
    @contextmanager
    def instrument(self, targets: list[tuple[object, str, str]]):
        """Replace ``owner.attr`` by a span-recording wrapper for the run.

        Used only for engine calls the benchmark does not make itself (calls
        the engine makes internally); restored on exit."""
        with ExitStack() as stack:
            if self.traced:
                for owner, attr, name in targets:
                    orig = owner.__dict__[attr]
                    setattr(owner, attr, self.tracer.wrap(name, orig))
                    stack.callback(setattr, owner, attr, orig)
            yield

    # -- results -------------------------------------------------------------------
    def timed_batches(self) -> list[Batch]:
        return [b for b in self.batches if b.ok]

    def latency_metrics(self) -> dict[str, float]:
        lat = [b.seconds for b in self.timed_batches()]
        out = {"commit_s.p50": statistics.median(lat)}
        pct = tail_percentile(len(lat))
        out["commit_s.tail"] = percentile(lat, pct if pct is not None else 100.0)
        self.notes["commit_s.tail_pct"] = pct if pct is not None else 100.0
        self.notes["commit_s.n"] = len(lat)
        self.notes["commit_s.samples"] = [round(x, 4) for x in lat]
        return out

    def cpu_cost_metrics(self) -> dict[str, float]:
        """Median work CPU per committed row over the timed batches. Time the
        hypervisor gives to other guests is not charged to a process, so on
        a shared host this follows the host's load far less than commit
        latency does."""
        per_row = [1000.0 * b.cpu_s / b.rows for b in self.timed_batches()]
        self.notes["cpu_ms_per_row.samples"] = [round(x, 4) for x in per_row]
        self.notes["cpu_s.by_group"] = [{k: round(v, 2) for k, v in sorted(b.cpu.items())}
                                        for b in self.timed_batches()]
        return {"cpu_ms_per_row": statistics.median(per_row)}

    def trace_metrics(self) -> tuple[dict[str, float], dict[str, float], list[int]]:
        """Tracing figures, the per-batch self-time table and the traced batch ids."""
        traced = [b for b in self.timed_batches() if b.traced]
        plain = [b for b in self.timed_batches() if not b.traced]
        table = per_batch_table(self.tracer.spans, [b.bid for b in traced])
        wall = statistics.mean(b.seconds for b in traced) if traced else 0.0
        out = {
            "trace.overhead_s": (
                statistics.median(b.seconds for b in traced)
                - statistics.median(b.seconds for b in plain)
                if traced and plain else 0.0
            ),
            "trace.unattributed_frac": table.get("batch", 0.0) / wall if wall else 0.0,
            "trace.batches": float(len(traced)),
        }
        self.notes["self_s_per_batch"] = {k: round(v, 6) for k, v in table.items()}
        self.notes["batch_wall_s"] = wall
        return out, table, [b.bid for b in traced]

    def environment(self) -> dict[str, object]:
        import pyspark

        return {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg": procstat.loadavg(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": self.spark.sparkContext._jvm.System.getProperty("java.version")
            if self.spark is not None else None,
            "git_sha": git_sha(self.root),
            "platform": platform.platform(),
        }


def version_writes(table_dir: str) -> dict[int, dict[str, int]]:
    """Per version directory of one store table: parquet bytes and files it
    wrote fresh, files it hard-linked from an earlier version (same inode),
    and its live bytes."""
    out: dict[int, dict[str, int]] = {}
    seen: set[int] = set()
    names = [n for n in os.listdir(table_dir) if n.startswith("v=")]
    for name in sorted(names, key=lambda n: int(n[2:])):
        vdir = os.path.join(table_dir, name)
        acc = {"bytes_written": 0, "files_written": 0, "files_linked": 0, "bytes_live": 0,
               "parts_written": 0, "parts_total": 0}
        fresh_parts: set[str] = set()
        for dirpath, _dirs, files in os.walk(vdir):
            top = os.path.relpath(dirpath, vdir).split(os.sep)[0]
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                st = os.stat(os.path.join(dirpath, f))
                acc["bytes_live"] += st.st_size
                if st.st_ino in seen:
                    acc["files_linked"] += 1
                else:
                    seen.add(st.st_ino)
                    acc["files_written"] += 1
                    acc["bytes_written"] += st.st_size
                    fresh_parts.add(top)
        parts = [d for d in os.listdir(vdir) if "=" in d]
        if parts:
            acc["parts_total"] = len(parts)
            acc["parts_written"] = len(fresh_parts & set(parts))
        else:  # an unpartitioned version is one partition
            acc["parts_total"] = 1
            acc["parts_written"] = int(bool(fresh_parts))
        out[int(name[2:])] = acc
    return out


def version_rows(table_dir: str, version: int) -> int:
    """Row count of one version from its parquet footers (no data read)."""
    import pyarrow.parquet as pq

    total = 0
    for dirpath, _dirs, files in os.walk(os.path.join(table_dir, f"v={version:06d}")):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return total


def count_files(path: str) -> int:
    return sum(len(files) for _d, _s, files in os.walk(path))


def emit(report: dict[str, object], result: dict[str, object]) -> None:
    """Human-readable report lines, then the one-line JSON result last."""
    for key, value in report.items():
        if isinstance(value, (dict, list)):
            value = json.dumps(value, sort_keys=True)
        print(f"# {key}: {value}")
    sys.stdout.flush()
    print(json.dumps(result, sort_keys=True))
    sys.stdout.flush()
