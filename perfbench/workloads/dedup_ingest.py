"""dedup_ingest: repeated ``MinhashSignatureStore.ingest`` of document batches.

Each batch is a JSON-lines file of new documents, about a tenth of them
planted near-duplicates of earlier originals (in the store or earlier in
the same batch). The ingest runs the minhash signature kernel, the LSH band
join against the band-pruned store and two ``write_partition_delta``
updates; the benchmark then consumes the survivor ids. No PII, streaming or
observability is on this path, and its merges touch only a few buckets.
"""

from __future__ import annotations

import os
import time

from metadata_ingestion_framework_spark.operators import incremental
from metadata_ingestion_framework_spark.operators.dedup import (
    minhash_signatures,
    unpersist_deps,
)
from metadata_ingestion_framework_spark.plans.tablestore import VersionedParquetStore
from metadata_ingestion_framework_spark.sources.readers import read_json
from perfbench import gen
from perfbench.harness import Context, version_rows
from perfbench.workloads import (
    read_version,
    store_e2e_metrics,
    table_dir,
    table_layer_metrics,
    write_lines,
)

SIGS, BANDS = incremental.MinhashSignatureStore.SIGS, incremental.MinhashSignatureStore.BANDS
DOC_DDL = "doc_id bigint, text string"
WARM_BATCHES = 1
SCALES = {
    "full": {"seed_docs": 2_500, "batch_docs": 5_000, "n_buckets": 16, "sig_bucket_width": 2_500},
    "toy": {"seed_docs": 300, "batch_docs": 100, "n_buckets": 4, "sig_bucket_width": 100},
}


class DedupIngest:
    name = "dedup_ingest"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.p = SCALES[ctx.scale]
        self.spark = ctx.spark
        self.tr = ctx.tracer

    def seed(self) -> None:
        """Fresh store holding an initial corpus without duplicates."""
        self.base = self.ctx.fresh_dir("dedup_ingest")
        self.store_root = os.path.join(self.base, "store")
        self.dedup = incremental.MinhashSignatureStore(
            self.spark, self.store_root, id_col="doc_id", text_col="text",
            n_buckets=self.p["n_buckets"], sig_bucket_width=self.p["sig_bucket_width"])
        self.gen = gen.DocGenerator(self.ctx.seed)
        self.mismatch = 0
        self.dropped: dict[int, tuple[int, int]] = {}  # bid -> (dropped, planted among them)
        # the initial corpus is bulk-loaded: signature snapshot, then bands
        path, _run_id, _ids, _planted = self._next_input(self.p["seed_docs"], plant=False)
        docs = read_json(self.spark, path, DOC_DDL)
        d = self.dedup
        d.write_sigs_snapshot(minhash_signatures(
            docs, d.text_col, d.id_col, d.num_hashes, d.shingle_n, d.token_hash))
        d.rebuild_bands()

    def start(self) -> None:
        """Untimed warm-up ingests with planted duplicates."""
        self.ctx.set_job_group("setup")
        for _ in range(WARM_BATCHES):
            path, run_id, ids, planted = self._next_input(self.p["batch_docs"])
            self._score(ids, planted, self._ingest(path, run_id))

    def _next_input(self, n_docs: int, plant: bool = True):
        """Generate and land one batch file (untimed)."""
        n = len(self.gen.digests)
        first = self.gen.next_id
        lines, planted = self.gen.next_batch(n, n_docs, plant=plant)
        path = os.path.join(self.base, "in", f"batch-{n:05d}.json")
        write_lines(path, lines)
        return path, f"batch-{n}", set(range(first, self.gen.next_id)), planted

    def _ingest(self, path: str, run_id: str) -> set[int]:
        docs = self.tr.wrap("readers.read", read_json)(self.spark, path, DOC_DDL)
        with self.tr.span("incremental.ingest"):
            survivors = self.dedup.ingest(docs, run_id=run_id)
        with self.tr.span("incremental.consume"):
            kept = {r.doc_id for r in survivors.select("doc_id").collect()}
            unpersist_deps(survivors)
        return kept

    def _score(self, ids: set[int], planted: set[int], kept: set[int]) -> int:
        """Count survivors that differ from the truth; return docs dropped."""
        self.mismatch += len(kept ^ (ids - planted))
        return len(ids - kept)

    def run(self, seconds: float) -> None:
        with self.ctx.instrument([
            (VersionedParquetStore, "read", "tablestore.read"),
            (VersionedParquetStore, "read_partitions", "tablestore.read"),
            (VersionedParquetStore, "write", "tablestore.write"),
            (VersionedParquetStore, "write_partition_delta", "tablestore.write"),
            (incremental, "scd1_merge", "merge.plan"),
        ]):
            self.ctx.mark_timing_start()
            deadline = time.perf_counter() + seconds
            while self.ctx.more_batches(deadline):
                path, run_id, ids, planted = self._next_input(self.p["batch_docs"])
                kept: set[int] = set()
                b = self.ctx.run_batch(
                    len(ids), lambda _bid: kept.update(self._ingest(path, run_id)))
                if not b.ok:
                    break
                b.versions = {t: self.dedup.store.current_version(t) for t in (SIGS, BANDS)}
                dropped = self._score(ids, planted, kept)
                self.dropped[b.bid] = (dropped, len((ids - kept) & planted))
            self.ctx.mark_timing_end()

    def check(self) -> int:
        """Survivor ids differing from the planted-duplicate truth, plus store
        rows that are not exactly one per ingested document."""
        ids = [row["doc_id"] for _p, row in
               read_version(self.store_root, SIGS, self.dedup.store.current_version(SIGS))]
        every = set(range(self.gen.next_id))
        extra = len(ids) - len(set(ids))
        return self.mismatch + extra + len(set(ids) ^ every)

    def e2e_metrics(self) -> dict[str, float]:
        return store_e2e_metrics(self.ctx, self.store_root, [SIGS, BANDS])

    def layer_metrics(self, bids: list[int]) -> dict[str, float]:
        out = table_layer_metrics(self.ctx, self.store_root, SIGS, bids)
        bands = table_layer_metrics(self.ctx, self.store_root, BANDS, bids)
        for k in ("tablestore.bytes_written", "tablestore.files_written",
                  "tablestore.files_linked", "tablestore.bytes_live"):
            out[k] += bands[k]
        out["incremental.sig_buckets_touched"] = out["merge.partitions_touched"]
        out["incremental.band_buckets_touched"] = bands["merge.partitions_touched"]
        sigs_dir = table_dir(self.store_root, SIGS)
        out["incremental.store_rows"] = float(
            version_rows(sigs_dir, self.dedup.store.current_version(SIGS)))
        dropped = sum(self.dropped[b][0] for b in bids)
        planted = sum(self.dropped[b][1] for b in bids)
        out["dedup.docs_dropped"] = dropped / max(len(bids), 1)
        out["dedup.drop_precision"] = planted / dropped if dropped else 0.0
        return out

    def input_digests(self) -> list[str]:
        return self.gen.digests
