"""The benchmark's own tests: span reducer, generators, checkers, toy runs.

    python -m pytest perfbench/tests -q

The toy runs start Spark (one JVM per run in a subprocess, plus one shared
in-process session for the corruption checks), so the file takes a few
minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, procstat, run  # noqa: E402
from perfbench.harness import Batch, percentile, tail_percentile  # noqa: E402
from perfbench.trace import Span, Tracer, per_batch_table, self_times  # noqa: E402
from perfbench.workloads import NAMES  # noqa: E402

# -- span reducer -------------------------------------------------------------


def test_self_times_on_hand_built_tree():
    # root [0,10] has children A [1,4] and B [3,6] (overlapping); A has a
    # grandchild [2,3]; B has a child C [5,7] that outlives it.
    spans = [
        Span(0, "root", 0.0, 10.0, None, 1),
        Span(1, "a", 1.0, 4.0, 0, 1),
        Span(2, "b", 3.0, 6.0, 0, 1),
        Span(3, "a.inner", 2.0, 3.0, 1, 1),
        Span(4, "c", 5.0, 7.0, 2, 1),
        Span(5, "root", 0.0, 2.0, None, 2),
    ]
    st = self_times(spans)
    assert st[(1, "root")] == pytest.approx(5.0)  # 10 - |[1,6]|
    assert st[(1, "a")] == pytest.approx(2.0)
    assert st[(1, "b")] == pytest.approx(2.0)  # C is clipped to [5,6]
    assert st[(1, "a.inner")] == pytest.approx(1.0)
    assert st[(1, "c")] == pytest.approx(2.0)
    assert st[(2, "root")] == pytest.approx(2.0)
    table = per_batch_table(spans, [1, 2])
    assert table["root"] == pytest.approx(3.5)
    assert table["a"] == pytest.approx(1.0)


def test_tracer_nests_and_toggles():
    tr = Tracer(traced=True)
    with tr.span("batch", batch=7):
        tr.wrap("layer", lambda: None)()
    tr.enabled = False
    with tr.span("batch", batch=8):
        tr.wrap("layer", lambda: None)()
    assert [(s.name, s.batch, s.parent) for s in tr.spans] == [("batch", 7, None), ("layer", 7, 0)]
    assert Tracer(traced=False).wrap("x", len) is len


def test_tail_percentile_needs_ten_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(1000) == 99.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 50.0) == pytest.approx(2.5)


def test_work_cpu_leaves_out_the_jit():
    b = Batch(0, 0.0, 1.0, 10, True, False,
              cpu={"driver_py": 0.5, "jvm": 2.0, "jit": 3.0, "py_workers": 1.0})
    assert b.cpu_s == pytest.approx(3.5)
    # a process without compiler threads: all of its CPU is work
    assert os.getpid() in procstat.thread_cpu(os.getpid())
    work, jit = procstat.jvm_cpu_split(os.getpid())
    assert jit == 0.0 and work == pytest.approx(procstat.cpu_seconds(os.getpid()), abs=0.02)


# -- generators ---------------------------------------------------------------


def test_bulk_generator_is_seeded():
    a, b, c = (gen.BulkCdcGenerator(s, 200, 50) for s in (1, 1, 2))
    for g in (a, b, c):
        for n in range(3):
            g.next_batch(n)
    assert a.digests == b.digests and a.expected() == b.expected()
    assert a.digests != c.digests
    assert set(a.expected()) == set(range(a.next_id))


def test_trickle_generator_keeps_changing_past_a_key_cycle():
    spec = gen.TrickleSpec(seed=5, n_keys=100, rows_per_batch=40)
    # 10 batches cover the 100-key space four times; every envelope must
    # still add exactly one row (a new version or a new key)
    for n in (1, 5, 10):
        rows = spec.replay(range(n))
        assert len(rows) == 100 + 40 * n
        assert sum(1 for r in rows if r[9]) == len({r[0] for r in rows})  # one current per key


def _shingles(text: str) -> set[str]:
    w = text.split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def test_planted_duplicates_clear_the_threshold():
    g = gen.DocGenerator(seed=9)
    lines, planted = g.next_batch(0, 400)
    docs = {d["doc_id"]: d["text"] for d in map(json.loads, lines)}
    assert planted
    for i in planted:
        best = max(len(_shingles(docs[i]) & _shingles(t)) / len(_shingles(docs[i]) | _shingles(t))
                   for j, t in docs.items() if j < i and j not in planted)
        assert best >= 0.95
    originals = sorted(set(docs) - planted)[:50]
    for a, b in zip(originals, originals[1:]):
        assert not _shingles(docs[a]) & _shingles(docs[b])


# -- toy runs -----------------------------------------------------------------


@pytest.mark.parametrize("workload", NAMES)
def test_toy_run_prints_every_metric_and_passes_its_check(workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "3", "--trace", "1", "--scale", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.PER_LAYER)
    report = dict(line[2:].split(": ", 1) for line in lines[:-1] if line.startswith("# "))
    e2e = {k[4:]: v.split() for k, v in report.items() if k.startswith("e2e.")}
    assert set(e2e) == set(run.END_TO_END) | set(run.REPORT_ONLY)
    assert all(e2e[k][1] == u for k, u in {**run.END_TO_END, **run.REPORT_ONLY}.items())
    assert all(float(e2e[k][0]) > 0 for k in run.END_TO_END)
    assert float(e2e["state_mismatch_rows"][0]) == 0 and float(e2e["failed_frac"][0]) == 0


def test_missing_engine_exits_nonzero_without_result(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".results", "__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dedup_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, check=False,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


# -- corrupted state ----------------------------------------------------------


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    from perfbench.harness import Context

    work = str(tmp_path_factory.mktemp("perfbench_work"))
    run._prepare_env(work)
    c = Context(ROOT, work, seed=4, seconds=2.0, traced=False, scale="toy")
    c.start_session()
    yield c
    c.stop_session()


def _corrupt_first_file(store_root: str, table: str, version: int, mutate) -> None:
    """Rewrite one parquet file of a committed version in place."""
    import pyarrow.parquet as pq

    vdir = os.path.join(store_root, table, f"v={version:06d}")
    for dirpath, _dirs, files in sorted(os.walk(vdir)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                path = os.path.join(dirpath, f)
                t = pq.ParquetFile(path).read()
                os.unlink(path)  # break hard links to other versions
                pq.write_table(mutate(t), path)
                return
    raise AssertionError("no parquet file to corrupt")


def _bump_amount(t):
    import pyarrow as pa

    vals = t.column("amount").to_pylist()
    vals[0] += 1
    return t.set_column(t.schema.get_field_index("amount"), "amount", pa.array(vals, pa.int64()))


@pytest.mark.parametrize("workload", NAMES)
def test_checker_flags_a_corrupted_final_state(ctx, workload):
    from perfbench import workloads

    ctx.batches.clear()
    wl = workloads.get(workload)(ctx)
    wl.seed()
    wl.start()
    wl.run(ctx.seconds)
    assert wl.check() == 0
    if workload == "dedup_ingest":
        store, table = wl.dedup.store, "sigs"
        mutate = lambda t: t.slice(1)  # noqa: E731  (one stored doc vanishes)
    else:
        store = wl.store
        table = {"cdc_bulk_scd1": "customers", "cdc_trickle_scd2": "accounts"}[workload]
        mutate = _bump_amount
    _corrupt_first_file(store.root, table, store.current_version(table), mutate)
    assert wl.check() > 0
