"""The benchmark's workloads, by name.

A workload seeds its initial state (``seed``, repeated during set-up and
timed), drives closed-loop batches until a deadline (``run``), checks the
final state against its plain-Python reference (``check``) and reports its
own end-to-end and per-layer figures.
"""

from __future__ import annotations

import os

from perfbench.harness import count_files, version_rows, version_writes


def write_lines(path: str, lines: list[str]) -> None:
    """Land one generated input batch as a JSON-lines file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def table_dir(store_root: str, table: str) -> str:
    return os.path.join(store_root, table)


def read_version(store_root: str, table: str, version: int):
    """Rows of one store version, read with pyarrow (independent of Spark),
    as ``(partition dir name or None, row dict)`` pairs."""
    import pyarrow.parquet as pq

    vdir = os.path.join(store_root, table, f"v={version:06d}")
    for dirpath, _dirs, files in os.walk(vdir):
        rel = os.path.relpath(dirpath, vdir)
        part = None if rel == "." else rel
        for f in sorted(files):
            if f.endswith(".parquet"):
                for row in pq.ParquetFile(os.path.join(dirpath, f)).read().to_pylist():
                    yield part, row


# write amplification is taken over the first timed batches only, so it
# depends on the data and not on how many batches a run fits (a full
# rewrite writes more per batch as the table grows)
WRITE_BATCHES = 2


def store_e2e_metrics(ctx, store_root: str, tables: list[str]) -> dict[str, float]:
    """Throughput over the timed batches, and the fresh parquet bytes the
    first ``WRITE_BATCHES`` of them wrote into the store per input row."""
    timed = ctx.timed_batches()
    first = timed[:WRITE_BATCHES]
    new_bytes = 0
    for t in tables:
        writes = version_writes(table_dir(store_root, t))
        new_bytes += sum(writes[b.versions[t]]["bytes_written"] for b in first)
    return {
        "ingest_rows_per_s": sum(b.rows for b in timed) / sum(b.seconds for b in timed),
        "write_bytes_per_row": new_bytes / sum(b.rows for b in first),
    }


def table_layer_metrics(ctx, store_root: str, table: str, bids: list[int],
                        touched: dict[int, int] | None = None) -> dict[str, float]:
    """Merge and table-store counts per batch, from the store directory.

    ``touched`` gives the partitions a batch's changes fall in; by default
    the partitions the batch wrote fresh files into."""
    tdir = table_dir(store_root, table)
    writes = version_writes(tdir)
    by_bid = {b.bid: b for b in ctx.batches}
    acc: dict[str, float] = {}
    for bid in bids:
        b = by_bid[bid]
        v = b.versions[table]
        w = writes[v]
        for k, val in (
            ("merge.target_rows", version_rows(tdir, v - 1)),
            ("merge.update_rows", b.rows),
            ("merge.out_rows", version_rows(tdir, v)),
            ("merge.partitions_touched",
             touched[bid] if touched is not None else w["parts_written"]),
            ("merge.partitions_total", w["parts_total"]),
            ("tablestore.bytes_written", w["bytes_written"]),
            ("tablestore.files_written", w["files_written"]),
            ("tablestore.files_linked", w["files_linked"]),
            ("tablestore.bytes_live", w["bytes_live"]),
        ):
            acc[k] = acc.get(k, 0.0) + val
    n = max(len(bids), 1)
    out = {k: v / n for k, v in acc.items()}
    if out:
        out["merge.touched_frac"] = out["merge.partitions_touched"] / out["merge.partitions_total"]
    return out


def obs_layer_metrics(ctx, obs_root: str, bids: list[int]) -> dict[str, float]:
    """Observability calls per traced batch and the files its tables hold."""
    wanted = set(bids)
    calls = sum(1 for s in ctx.tracer.spans
                if s.batch in wanted and s.name.startswith("observability."))
    return {
        "observability.calls_per_batch": calls / max(len(bids), 1),
        "observability.files_total": float(count_files(obs_root)),
    }


def get(name: str):
    if name == "cdc_bulk_scd1":
        from perfbench.workloads.cdc_bulk import CdcBulkScd1
        return CdcBulkScd1
    if name == "cdc_trickle_scd2":
        from perfbench.workloads.cdc_trickle import CdcTrickleScd2
        return CdcTrickleScd2
    if name == "dedup_ingest":
        from perfbench.workloads.dedup_ingest import DedupIngest
        return DedupIngest
    raise KeyError(name)


NAMES = ("cdc_bulk_scd1", "cdc_trickle_scd2", "dedup_ingest")
