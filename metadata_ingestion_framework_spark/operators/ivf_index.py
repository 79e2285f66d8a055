"""Persistent trained-IVF ANN index — the serving capstone of the
similarity family (north-star extension; no reference analogue).

Ties three proven pieces into the shape a 100 TB deployment actually
runs:

  - :func:`~.kmeans.kmeans_fit` trains the coarse quantizer (optionally
    on a bounded md5-ordered sample — FAISS practice);
  - the corpus is written into a hierarchically partitioned
    ``VersionedParquetStore`` layout (``vec_bucket=<b>/cell=<j>/`` — the
    id-RANGE bucket on top is the INGEST/retention granularity, the IVF
    cell inside is the SERVE granularity; partition pruning works on the
    second level just as well, and ``tests/test_layout_pruning.py``-style
    corrupted-unprobed-file evidence proves serving is file-level pruned);
  - :meth:`IvfIndex.append` grows the index incrementally through the
    store family's touched-bucket upsert (``incremental._upsert_touched``)
    on the batch ids' buckets — the EmbeddingDedupStore machinery: a
    re-ingested id's old row lives in the SAME bucket (bucket is a pure
    function of the id), so the bucket rewrite both upserts the vector and
    vacates its old cell subdir, and untouched buckets carry by hard link
    (ingest IO tracks the batch);
  - serving reads ONLY the probed cells: the per-query probe list is the
    shared :func:`~.similarity.probe_cell_order` expression, the store
    scan filters ``cell IN (<union of probed cells>)`` (directory
    pruning — an ``n_probe/n_cells`` fraction of the files is opened),
    and the exact rerank joins the broadcast query-cell pairs exactly
    like :func:`~.similarity.ivf_topk` — so results are value-identical
    to running ivf_topk over the full corpus with the same centroids.

Centroids persist beside the table (``_centroids.json``) so a fresh
session serves without retraining; they are fixed for the index's
lifetime (retrain => rebuild — the standard re-cluster contract).
"""

from __future__ import annotations

import json
import os

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.functions.sampling import hash_key60
from metadata_ingestion_framework_spark.operators.incremental import (
    _dedup_ids,
    _retire_range_ids_below,
    _upsert_touched,
    range_bucket_expr,
)
from metadata_ingestion_framework_spark.operators.joins import distinct_values
from metadata_ingestion_framework_spark.operators.kmeans import kmeans_fit
from metadata_ingestion_framework_spark.operators.similarity import (
    _topk,
    cosine,
    ivf_assign,
    probe_cell_order,
)
from metadata_ingestion_framework_spark.plans.tablestore import (
    VersionedParquetStore,
    _atomic_write,
)


class IvfIndex:
    VECS = "vectors"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        dim: int,
        n_cells: int = 8,
        n_iters: int = 3,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        vec_bucket_width: int = 8192,
        n_buckets: int = 64,
        cell_cap: int | None = None,
        pq_m: int | None = None,
        pq_k: int | None = None,
    ):
        self.spark = spark
        self.root = root
        self.store = VersionedParquetStore(spark, root)
        self.dim = dim
        self.n_cells = n_cells
        self.n_iters = n_iters
        self.id_col = id_col
        self.vec_col = vec_col
        self.vec_bucket_width = vec_bucket_width
        self.n_buckets = n_buckets
        self.cell_cap = cell_cap
        # PQ face (r12): pq_m sub-codebooks of pq_k entries each — the
        # codes ride the SAME cell-partitioned rows as the vectors, so
        # the ADC scan pays the identical partition pruning but reads
        # only the m-byte codes column (parquet columnar pruning), and
        # the rerank re-reads (id, vec) from the probed partitions only.
        if pq_m is not None and dim % pq_m:
            raise ValueError(f"dim={dim} is not divisible by pq_m={pq_m}")
        self.pq_m = pq_m
        # None = adopt the stored geometry on reopen / default 8 at build
        # (the cell_cap convention — r12 second review: a defaulted pq_k
        # used to spuriously reject reopening a non-default-k index)
        self.pq_k = pq_k
        self.codebooks: list[list[list[float]]] | None = None
        # cell -> n_children for cells split at build time (r11, VERDICT
        # r10 item 2): fixed for the index's lifetime like the centroids
        # (re-balance => rebuild, the standard re-cluster contract)
        self.cell_splits: dict[int, int] = {}
        self._cent_path = os.path.join(root, "_centroids.json")
        self.centroids: list[list[float]] | None = None
        if os.path.exists(self._cent_path):
            with open(self._cent_path) as f:
                meta = json.load(f)
            if meta["dim"] != dim or meta["n_cells"] != n_cells:
                raise ValueError(
                    f"index at {root} was built with dim={meta['dim']}, "
                    f"n_cells={meta['n_cells']}"
                )
            # layout-defining knobs are part of the persisted identity
            # (r12, ADVICE r11): reopening with a different
            # vec_bucket_width would bucket re-ingested ids away from
            # their stored rows — stale duplicate vectors topk scores
            # directly, the ghost class embedding stores do not
            # tolerate. Same contract as incremental._check_store_config.
            layout = {
                "vec_bucket_width": vec_bucket_width,
                "n_buckets": n_buckets,
                "id_col": id_col,
                "vec_col": vec_col,
            }
            bad = sorted(
                k for k, v in layout.items() if k in meta and meta[k] != v
            )
            if bad:
                raise ValueError(
                    f"index at {root} was built with a different layout "
                    f"config (mismatched keys: {bad}); rebuild the index "
                    "to change layout-defining parameters"
                )
            stored_books = meta.get("pq_codebooks")
            if stored_books is not None:
                # PQ geometry is layout too: codes in the store are only
                # decodable against the books that produced them. Only
                # EXPLICITLY-given values are compared (None adopts)
                if (pq_m is not None and pq_m != len(stored_books)) or (
                    pq_k is not None and pq_k != len(stored_books[0])
                ):
                    raise ValueError(
                        f"index at {root} was built with "
                        f"pq_m={len(stored_books)}, "
                        f"pq_k={len(stored_books[0])}; rebuild to change "
                        "PQ geometry"
                    )
                self.codebooks = stored_books
                self.pq_m = len(stored_books)
                self.pq_k = len(stored_books[0])
            elif pq_m is not None:
                raise ValueError(
                    f"index at {root} was built WITHOUT PQ codes; rebuild "
                    "with pq_m to add them"
                )
            missing = [k for k in layout if k not in meta]
            if missing:
                # pre-r12 meta lacks the layout keys: BACKFILL with this
                # open's values so the guard is armed from now on —
                # skipping absent keys would leave the legacy index
                # reopenable under any layout forever (r12 review). The
                # first guarded open states the assumption durably —
                # LOUDLY (ADVICE r12): if THIS open's values differ from
                # the original build's, the guard is durably armed with
                # wrong values (future correct opens rejected, wrong
                # ones accepted), and only the operator can verify the
                # assumption against the build job's config.
                import warnings

                warnings.warn(
                    f"index at {self.root} predates layout metadata; "
                    f"backfilling {missing} from THIS open's values "
                    f"({ {k: layout[k] for k in missing} }). Verify these "
                    "match the original build config — a mismatched "
                    "backfill durably arms the layout guard with wrong "
                    "values.",
                    stacklevel=2,
                )
                meta.update({k: layout[k] for k in missing})
                _atomic_write(self._cent_path, json.dumps(meta))
            self.centroids = meta["unit_centroids"]
            self.cell_splits = {
                int(k): int(v)
                for k, v in meta.get("cell_splits", {}).items()
            }
            # the CONSTRUCTOR's cap wins when given (a rebuild with a new
            # or first cap must not be silently discarded by the stored
            # null/old value — r11 review); reopening without a cap
            # adopts the stored one
            if cell_cap is None:
                self.cell_cap = meta.get("cell_cap")

    def _part_cols(self) -> list[str]:
        """Physical layout: hot-cell-split indexes partition the second
        level on ``cell_part`` (a string ``"<cell>"`` or
        ``"<cell>#<sub>"``); unsplit indexes keep the legacy integer
        ``cell`` level — identical pruning either way."""
        return (
            ["vec_bucket", "cell_part"]
            if self.cell_splits
            else ["vec_bucket", "cell"]
        )

    def _with_cell_part(self, assigned: DataFrame) -> DataFrame:
        """Add the ``cell_part`` partition value for split layouts: hot
        cell j with n children maps a row to ``"j#<md5_60(id) % n>"`` —
        a pure deterministic function of (cell, id), so a re-ingested id
        lands in its old sub-cell and the partition-delta upsert vacates
        it, exactly like ``vec_bucket``. ``cell`` itself stays a data
        column (the rerank join key)."""
        if not self.cell_splits:
            return assigned
        expr = F.col("cell").cast("string")
        for c, n in sorted(self.cell_splits.items()):
            sub = F.pmod(
                hash_key60([F.col(self.id_col)], salt="ivf_sub"), F.lit(n)
            )
            expr = F.when(
                F.col("cell") == c,
                F.concat_ws("#", F.lit(str(c)), sub.cast("string")),
            ).otherwise(expr)
        return assigned.withColumn("cell_part", expr)

    def _expand_probed(self, probed: list[int]) -> list[str]:
        """Probed cells -> the partition values to scan: every child of a
        split cell is probed (the split balances partitions; it does not
        change which vectors are candidates — serve results are identical
        by construction)."""
        out: list[str] = []
        for c in probed:
            n = self.cell_splits.get(c)
            if n is None:
                out.append(str(c))
            else:
                out.extend(f"{c}#{s}" for s in range(n))
        return out

    def build(
        self,
        corpus: DataFrame,
        sample_limit: int | None = None,
        centroids: list[list[float]] | None = None,
    ) -> None:
        """Train (unless ``centroids`` given), assign, and write the
        cell-partitioned layout. One Arrow assignment pass over the
        corpus; the write is the one-time layout cost that buys every
        future query its partition-pruned scan.

        With ``cell_cap`` set, cells whose size exceeds the cap are
        sub-split into ``ceil(size / cap)`` md5-bucketed children (r11,
        VERDICT r10 item 2): real embedding corpora are skewed, and at
        100 TB one hot cell is a straggler partition every probe of that
        cell hits — bounded sub-cells restore uniform task sizes for the
        scan, the rerank, and every future delta write. The split map is
        a bounded driver table (<= n_cells entries from a groupBy-count
        collect) persisted beside the centroids."""
        if centroids is None:
            model = kmeans_fit(
                corpus, self.id_col, self.vec_col, self.dim, self.n_cells,
                self.n_iters, sample_limit=sample_limit,
            )
            centroids = model.unit_centroids
        elif len(centroids) != self.n_cells:
            raise ValueError(
                f"centroids has {len(centroids)} cells, expected "
                f"n_cells={self.n_cells}"
            )
        if self.pq_m is not None and self.codebooks is None:
            from metadata_ingestion_framework_spark.operators.pq import (
                pq_train,
            )

            if self.pq_k is None:
                self.pq_k = 8
            self.codebooks = pq_train(
                corpus, self.dim, self.pq_m, self.pq_k,
                id_col=self.id_col, vec_col=self.vec_col,
                n_iters=self.n_iters, sample_limit=sample_limit,
            )
        assigned = self._assign(corpus, centroids)
        self.cell_splits = {}
        if self.cell_cap is not None:
            # consumed twice (size collect + write) — CLAUDE.md self-join rule
            assigned = assigned.persist()
            try:
                sizes = assigned.groupBy("cell").count().collect()
                self.cell_splits = {
                    int(r["cell"]): math.ceil(r["count"] / self.cell_cap)
                    for r in sizes
                    if r["count"] > self.cell_cap
                }
                self.store.write(
                    self._with_cell_part(assigned),
                    self.VECS,
                    partition_by=self._part_cols(),
                )
            finally:
                assigned.unpersist()
        else:
            self.store.write(
                assigned, self.VECS, partition_by=self._part_cols()
            )
        meta = {
            "dim": self.dim,
            "n_cells": self.n_cells,
            "unit_centroids": centroids,
            "cell_cap": self.cell_cap,
            "cell_splits": {str(k): v for k, v in self.cell_splits.items()},
            "vec_bucket_width": self.vec_bucket_width,
            "n_buckets": self.n_buckets,
            "id_col": self.id_col,
            "vec_col": self.vec_col,
            "pq_codebooks": self.codebooks,
        }
        _atomic_write(self._cent_path, json.dumps(meta))
        self.centroids = centroids

    def _assign(self, batch: DataFrame, centroids) -> DataFrame:
        """(id, vec, vec_bucket, cell) — the storage rows. Bucket is a
        pure function of the id (integral-`div` range for numeric ids,
        xxhash fallback for strings — the shared store-family helper,
        incremental.py::range_bucket_expr)."""
        if self.codebooks is not None:
            # FUSED cell+codes kernel: one Arrow pass instead of two
            # (r12 second review — the chained form serialized every
            # vector through Python twice on the ingest hot path)
            from metadata_ingestion_framework_spark.operators.pq import (
                ivfpq_assign_encode,
            )

            out = ivfpq_assign_encode(
                batch.select(self.id_col, self.vec_col),
                centroids,
                self.codebooks,
                self.vec_col,
            ).withColumnRenamed("__ivf_cell", "cell")
        else:
            out = ivf_assign(
                batch.select(self.id_col, self.vec_col), centroids,
                self.vec_col,
            ).withColumnRenamed("__ivf_cell", "cell")
        return out.withColumn(
            "vec_bucket",
            range_bucket_expr(
                out, self.id_col, self.vec_bucket_width, self.n_buckets
            ),
        )

    def append(self, batch: DataFrame) -> None:
        """Incremental ingest: assign the batch with the FIXED centroids
        and partition-delta only its ids' buckets (SCD1 on the id — a
        re-delivered or re-embedded id replaces its row and vacates any
        old cell subdir; every other bucket hard-links). Write cost
        tracks the batch at any index size."""
        if self.centroids is None:
            raise FileNotFoundError(f"index at {self.root} is not built")
        # persist: the Arrow ivf_assign kernel is consumed twice (the
        # touched-bucket collect and the upsert write) — CLAUDE.md self-join
        # rule, same as EmbeddingDedupStore.ingest (ADVICE r10)
        assigned = self._with_cell_part(
            self._assign(batch, self.centroids)
        ).persist()
        try:
            _upsert_touched(
                self.store, self.VECS,
                _dedup_ids(assigned, [self.id_col]),
                self.id_col, self._part_cols(), batch=assigned,
            )
        finally:
            assigned.unpersist()

    def retire_ids_below(self, cutoff_id: int) -> None:
        """Retention/lifecycle delete (r12 — completes the index's store
        lifecycle alongside build/append/compact): drop every vector with
        ``id < cutoff_id``. ``vec_bucket`` is the id-RANGE key, so whole
        buckets below the cutoff are simply not carried into the new
        version (zero bytes rewritten; survivors hard-link, old versions
        stay time-travelable until vacuum) and only the boundary bucket
        is rewritten, filtered — the shared
        ``incremental._retire_range_ids_below`` machinery the dedup
        stores use. Expiry is PHYSICAL: stored vectors are scored
        directly by ``topk``, the ghost-intolerant class. Numeric-id
        indexes only (string ids hash-bucket; no range expression)."""
        _retire_range_ids_below(
            self.store, self.VECS, "vec_bucket", self.vec_bucket_width,
            self.id_col, cutoff_id, self._part_cols(),
        )

    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 2,
        query_id_col: str = "query_id",
    ) -> DataFrame:
        """Partition-pruned approximate top-k: identical values to
        ``ivf_topk(corpus, queries, centroids=<index centroids>)`` —
        same probe order, same round(cosine, 6) rerank, same (score desc,
        id asc) tiebreak — but the corpus scan opens only the probed
        cells' files. The probed-cell union is a bounded driver collect
        (<= Q * n_probe values, the manual-DPP pattern)."""
        if self.centroids is None:
            raise FileNotFoundError(f"index at {self.root} is not built")
        q = queries.select(
            query_id_col, F.col(self.vec_col).alias("__qvec")
        ).withColumn(
            "cell",
            F.explode(
                F.slice(
                    probe_cell_order(F.col("__qvec"), self.centroids),
                    1,
                    n_probe,
                )
            ),
        )
        q = q.persist()  # consumed twice: probed-cell collect + the join
        try:
            probed = distinct_values(q, "cell")
            # prune on the PARTITION column: for split layouts that is
            # cell_part (all children of a probed cell — the split
            # balances partitions without changing the candidate set)
            if self.cell_splits:
                part_filter = F.col("cell_part").isin(
                    self._expand_probed(probed)
                )
            else:
                part_filter = F.col("cell").isin(probed)
            c = self.store.read(self.VECS).filter(part_filter)
            scored = c.join(F.broadcast(q), "cell").select(
                query_id_col,
                self.id_col,
                F.round(
                    cosine(F.col(self.vec_col), F.col("__qvec")), 6
                ).alias("score"),
            )
            out = _topk(scored, k, query_id_col, self.id_col)
            out._persisted_deps = [q]
            return out
        except Exception:
            q.unpersist()
            raise

    def topk_adc(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 2,
        rerank_factor: int = 4,
        query_id_col: str = "query_id",
    ) -> DataFrame:
        """PQ-accelerated serve (r12): the same partition-pruned probe as
        :meth:`topk`, but the probed scan first ranks candidates by the
        codegen ADC score over the m-byte ``pq_codes`` COLUMN (parquet
        columnar pruning — the full-precision vector bytes are read only
        for the Q*k' rerank survivors, from the same probed partitions).
        With ``rerank_factor`` covering the probed candidates this equals
        :meth:`topk` exactly (pytest theorem); at realistic factors it
        trades a bounded recall loss for reading ~dim*8/m fewer bytes per
        scanned row — the scan-bandwidth knob a 100 TB index tunes.

        Requires a ``pq_m``-built index."""
        from metadata_ingestion_framework_spark.operators.pq import (
            _adc_rerank,
            _adc_score,
            _attach_luts,
        )

        if self.centroids is None:
            raise FileNotFoundError(f"index at {self.root} is not built")
        if self.codebooks is None:
            raise ValueError(
                f"index at {self.root} has no PQ codes (build with pq_m)"
            )
        sub = self.dim // len(self.codebooks)
        q = queries.select(
            query_id_col, F.col(self.vec_col).alias("__qvec")
        )
        q, lut_names = _attach_luts(q, self.codebooks, sub)
        q = q.withColumn(
            "cell",
            F.explode(
                F.slice(
                    probe_cell_order(F.col("__qvec"), self.centroids),
                    1,
                    n_probe,
                )
            ),
        ).persist()  # consumed thrice: probed collect, ADC join, rerank
        try:
            probed = distinct_values(q, "cell")
            if self.cell_splits:
                part_filter = F.col("cell_part").isin(
                    self._expand_probed(probed)
                )
            else:
                part_filter = F.col("cell").isin(probed)
            scan = self.store.read(self.VECS).filter(part_filter)
            # ADC stage: reads (id, cell, pq_codes) — no vector bytes
            cand = scan.select(self.id_col, "cell", "pq_codes").join(
                F.broadcast(q.drop("__qvec")), "cell"
            ).select(
                query_id_col,
                self.id_col,
                _adc_score(
                    F.col("pq_codes"), [F.col(n) for n in lut_names]
                ).alias("qscore"),
            )
            # shared ADC tail; rerank reads (id, vec) from the SAME
            # probed partitions only
            out = _adc_rerank(
                cand,
                scan.select(self.id_col, self.vec_col),
                q.select(query_id_col, "__qvec").distinct(),
                k, rerank_factor,
                self.id_col, self.vec_col, query_id_col,
            )
            out._persisted_deps = [q]
            return out
        except Exception:
            q.unpersist()
            raise

    def cell_histogram(self) -> DataFrame:
        """Diagnostic: rows per physical cell partition (``cell_part``
        for split layouts, ``cell`` otherwise) plus the true IVF cell —
        the balance report `build(cell_cap=...)` is judged by. A
        count-only scan over PARTITION columns only (r12, ADVICE r11):
        under a split layout the true cell is derived from the
        ``cell_part`` directory value (``"<cell>"`` or
        ``"<cell>#<sub>"``), so no data column — vector bytes least of
        all — is read from parquet on either layout."""
        df = self.store.read(self.VECS)
        if self.cell_splits:
            part = F.col("cell_part")
            cell = F.split_part(
                F.col("cell_part"), F.lit("#"), F.lit(1)
            ).cast("int")
        else:
            part = F.col("cell").cast("string")
            cell = F.col("cell")
        return (
            df.groupBy(
                part.alias("cell_part"), cell.alias("cell")
            )
            .agg(F.count(F.lit(1)).alias("n_vecs"))
        )
