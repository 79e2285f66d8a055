"""Incremental cross-run dedup against a persisted signature store.

A recurring 100 TB ingestion does not re-dedup the whole corpus per run —
it dedups TODAY'S batch against the signature store of everything already
ingested (r6 VERDICT "What's missing" #2). This module marries the
engine's minhash machinery (``operators/dedup.py``) with its durable
table plumbing: signatures live in a ``VersionedParquetStore``
(``plans/tablestore.py``, the Delta-table stand-in), each ingest
SCD1-merges the batch's signatures in (``operators/merge.py::scd1_merge``
— Utility.scala:433-458 parity machinery reused as-is), and a run ledger
makes retries no-ops the same way the streaming offset bookkeeping does
(``streaming/offsets.py`` / Readers.scala:153-171 analogy).

Semantics (proved by the ``incremental_dedup`` oracle query): with
temporal precedence — already-ingested docs always beat new ones, and
min-id wins within a batch — the incremental result over disjoint runs
EQUALS a full-corpus greedy rerun on the union:

    drop batch doc X  iff  some verified pair (X, Y) exists with
                           Y in the store, or Y in the batch and Y < X.

The store keeps signatures of EVERY seen doc (dropped ones included) —
drop only the winners' and a future doc that matches a dropped doc but
not its winner would silently survive, diverging from the full rerun.

Scale shape: the batch side pays the Python signature kernel (cost
tracks BATCH size — the corpus is never re-signatured); the store side
is a columnar band-key equi-join, pruned to the batch's band-hash
buckets (the bands table is partitioned by ``pmod(band_hash, n_buckets)``,
so a small batch's scan skips most partitions). Every store table in
this module (and the corpus, IVF and BM25 stores beside it) commits a
batch through one touched-bucket upsert, :func:`_upsert_touched`: it
reads and rewrites only the partitions the batch touched (NULL-safe,
``VersionedParquetStore.read_partitions``) and hard-links the rest —
the reference's manual partition pruning
(Utility.scala:339-348). Transitive cluster resolution composes
downstream: feed the emitted pairs to
``operators/cluster.py::connected_components``.

Every dedup store here (minhash, embedding, image and audio, paragraph,
cross-modal) opens and ingests through one lifecycle,
:class:`_IngestLifecycle` (the reference's ``Task`` wrapper,
Task.scala:52-142): config guard and ledger on open; per ingest the
ledger no-op, the batch-side persist released in ``finally`` (owned drop
sets on failure), the run record after the last table write, then the
facts. A store supplies its feature kernel, its drop rule and its tables
in order. The two banded stores (:class:`_BandedStore`) share the pruned
store sides and one band commit: upsert the band table, or, when it is
missing (the first ingest, or a crash that left the primary table
without its bands), rebuild it from the primary table. An SCD1 table
dedups a batch with :func:`_dedup_ids`, which keeps every NULL-id row
(NULL is not an identity).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.operators.dedup import (
    jaccard_estimate_udf,
    minhash_bands,
    minhash_signatures,
)
from metadata_ingestion_framework_spark.operators.joins import (
    distinct_values,
    partition_in_filter,
)
from metadata_ingestion_framework_spark.operators.merge import dedup_window, scd1_merge
from metadata_ingestion_framework_spark.plans.tablestore import (
    RunLedger,
    VersionedParquetStore,
    _atomic_write,
    _dir_value_type,
)


def _config_diff(stored: dict, config: dict) -> list[str]:
    """Keys whose values differ between a stored ``_config.json`` and the
    caller's config — THE comparison every config-guarded store uses
    (shared with bpe.load_bpe_model; r12 review: two inline copies of
    this diff had already appeared)."""
    return sorted(
        k
        for k in set(stored) | set(config)
        if stored.get(k) != config.get(k)
    )


def _check_store_config(root: str, config: dict) -> None:
    """Persist the LAYOUT-DEFINING store config beside the data on first
    open and refuse a mismatched reopen (r11 review): a store reopened
    with, e.g., a different ``sig_bucket_width`` would bucket re-ingested
    ids away from their stored rows (silent ghosts — the exact class the
    partition-delta design rules out), a different ``n_buckets`` would
    prune away nearly every stored band row, and different centroids
    would reassign cells under the stored layout. Same mechanism as
    IvfIndex's ``_centroids.json``; tunable QUERY parameters (thresholds)
    are deliberately excluded."""
    path = os.path.join(root, "_config.json")
    if os.path.exists(path):
        with open(path) as f:
            stored = json.load(f)
        if stored != config:
            diff = _config_diff(stored, config)
            raise ValueError(
                f"store at {root} was created with a different layout "
                f"config (mismatched keys: {diff}); rebuild the store to "
                "change layout-defining parameters"
            )
    else:
        _atomic_write(path, json.dumps(config))


def range_bucket_expr(
    df: DataFrame, id_col: str, width: int, n_buckets: int
):
    """Top-level partition key shared by every id-keyed store (sigs,
    embedding vecs, IvfIndex): integral-``div`` RANGE buckets for numeric
    ids (exact above 2^53, truncation matches ``retire``'s boundary
    math; monotone ingest ids concentrate a batch into its own buckets
    so delta writes stay O(batch)), xxhash fallback for string ids (no
    retention analog — a range delete has no partition expression
    there). One definition so the subtle invariants cannot drift between
    the stores (r11 review)."""
    id_type = dict(df.dtypes)[id_col]
    if id_type in ("tinyint", "smallint", "int", "bigint"):
        q = id_col.replace("`", "``")
        # Integral `div`, NOT floor(double division): for ids above 2^53
        # the double rounds and can disagree with the exact Python
        # boundary in retire_ids_below, dropping live rows / retaining
        # retired ones.
        return F.expr(f"CAST(`{q}` AS BIGINT) div {int(width)}")
    return F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_buckets))


def _retire_range_ids_below(
    store: VersionedParquetStore,
    table: str,
    bucket_col: str,
    bucket_width: int,
    id_col: str,
    cutoff_id: int,
    part_cols,
) -> bool:
    """Shared zero-rewrite range retention (r11 review — the sigs and
    embedding twins were ~70 copy-pasted lines whose subtle invariants
    had already started to drift): drop whole id-range buckets below the
    cutoff by NOT carrying them (``delete_partitions``), rewrite only a
    boundary bucket that actually holds retired rows (edge-aligned
    cutoffs stay single-version zero-rewrite). Bucket inventory comes
    from the directory layout, never a data scan. Returns True when
    anything was dropped or rewritten (callers chain maintenance, e.g.
    ``rebuild_bands``)."""
    if not store.exists(table):
        return False
    if dict(store.read(table).dtypes)[id_col] not in (
        "tinyint", "smallint", "int", "bigint"
    ):
        raise NotImplementedError(
            "retire_ids_below needs a numeric id (range-bucketed store); "
            "this store's id column is hash-bucketed"
        )
    # Match Spark's integral `div` (truncate toward zero) exactly —
    # Python `//` floors, which differs for negative cutoffs.
    boundary = (
        -((-cutoff_id) // bucket_width)
        if cutoff_id < 0
        else cutoff_id // bucket_width
    )
    below = [
        int(v)
        for v in store.partition_values(table, bucket_col)
        if v is not None and int(v) < boundary
    ]
    if below:
        store.delete_partitions(table, part_cols, below)
    boundary_retired = (
        store.read(table)
        .filter(
            (F.col(bucket_col) == boundary) & (F.col(id_col) < cutoff_id)
        )
        .limit(1)
        .count()
        > 0
    )
    if boundary_retired:
        kept_boundary = store.read(table).filter(
            (F.col(bucket_col) == boundary) & (F.col(id_col) >= cutoff_id)
        )
        store.write_partition_delta(
            kept_boundary, table, part_cols, [boundary]
        )
    return bool(below or boundary_retired)


def merge_postings(
    old_postings: DataFrame,
    batch_postings: DataFrame,
    batch_ids: DataFrame,
    id_col: str,
) -> DataFrame:
    """Upsert semantics for a multi-row-per-id table: ALL of a re-ingested
    id's old rows are dropped (anti-join on the id — an SCD1 on (doc, term)
    would leave stale BM25 postings for terms the new text no longer
    contains) and the batch's rows take their place. The remove-old-rows
    step of :func:`_upsert_touched`; the BM25 catalog queries compose it
    in-plan."""
    return old_postings.join(
        batch_ids.select(id_col), id_col, "left_anti"
    ).unionByName(batch_postings)


def _upsert_touched(
    store: VersionedParquetStore,
    table: str,
    rows: DataFrame,
    id_col: str,
    part_cols,
    touched: list | None = None,
    batch: DataFrame | None = None,
) -> list:
    """Commit a batch into the partitions its ids live in: the one
    touched-bucket upsert every store table shares, the Delta-MERGE
    touched-files-only rewrite (Utility.scala:339-348) at top-level
    partition granularity.

    ``batch`` (default ``rows``) names the upsert. Its distinct values of
    the first of ``part_cols`` (``distinct_values``, one shuffle-free job)
    are the touched set (NULL as None) unless ``touched`` is given, and
    every old row whose id it carries is dropped (:func:`merge_postings`).
    The new version holds the touched partitions' other old rows plus
    ``rows``; ``write_partition_delta`` hard-links every other partition.
    A table that does not exist yet is a plain ``write`` of ``rows``.

    Old rows come from ``read_partitions`` with ``rows``' schema: discovery
    lists only the touched directories (or filters the cached read), no
    schema-inference job runs, and the column types hold when the NULL
    partition is the only one touched. NULL ids are not an identity: the
    anti-join never matches them, so a NULL-id row lands beside the stored
    ones. SCD1 tables dedup ``rows`` first (:func:`_dedup_ids`) and pass
    the undeduped frame as ``batch``, so the touched collect does not run
    the dedup shuffle.

    Returns the partitions the commit rewrote: the touched set, or for a
    new table the partitions ``rows`` created (read from the written
    layout, no Spark job, typed like the column), which leaves out a
    ``batch`` value none of ``rows`` carries."""
    cols = [part_cols] if isinstance(part_cols, str) else list(part_cols)
    batch = rows if batch is None else batch
    if not store.exists(table):
        store.write(rows, table, partition_by=cols)
        kind = _dir_value_type(rows.schema[cols[0]].dataType) or str
        return [
            v if v is None else kind(v)
            for v in store.partition_values(table, cols[0])
        ]
    if touched is None:
        touched = distinct_values(batch, cols[0])
    old = store.read_partitions(table, cols[0], touched, rows.schema)
    store.write_partition_delta(
        merge_postings(old, rows, batch, id_col), table, cols, touched
    )
    return touched


def _dedup_ids(rows: DataFrame, keys: list[str]) -> DataFrame:
    """The SCD1 dedup of a batch's rows before their upsert: one row per
    ``keys`` among the numbered ids (``scd1_merge``'s dedup window), and
    every NULL-id row kept. NULL is not an identity: the window would put
    every NULL id (``keys[0]``) in one group and store one of several
    NULL-id docs that all survived their ingest."""
    numbered = F.col(keys[0]).isNotNull()
    return scd1_merge(None, rows.filter(numbered), keys).unionByName(
        rows.filter(F.col(keys[0]).isNull())
    )


def _emit_ingest_facts(
    store,
    run_id: str,
    n_batch,
    dropped: dict,
    buckets: dict[str, int],
    extra: dict[str, int] | None = None,
) -> None:
    """Land one ingest's decision summary as K7 fact rows (r17, VERDICT
    r16 item 6 — the reference's status/fact pattern, Task.scala:76-99,
    applied to the extension stores): ``n_batch``, per-modality
    ``n_dropped`` + integer ``drop_rate_ppm``, and per-table
    ``buckets_touched``. At 100 TB the drop-rate time series IS the
    dedup health monitor (a rate collapsing to ~0 means dead state; a
    spike means a feedback loop is re-crawling its own corpus), and
    bucket-touch counts watch for the hash-bucket degeneration mode the
    store layouts are designed against. No-op when the store was built
    without an :class:`~..observability.ObservabilityStore`; every
    count lands on frames the ingest already materialized (persisted
    drop sets, the batch's cached feature frame), so the facts cost no
    extra pass over the corpus. ``n_batch`` and the ``dropped`` values
    are counts or frames; a frame is counted here, so an unobserved
    store counts nothing. ``extra`` facts land last."""
    obs = getattr(store, "observability", None)
    if obs is None:
        return

    def n_of(x) -> int:
        return x.count() if isinstance(x, DataFrame) else int(x)

    task = f"{type(store).__name__}:{run_id}"
    pid = store.pipeline_id
    n_batch = n_of(n_batch)
    obs.write_fact(pid, task, "ingest.n_batch", n_batch)
    for modality, n in sorted(dropped.items()):
        n = n_of(n)
        obs.write_fact(pid, task, f"ingest.n_dropped.{modality}", n)
        rate = (n * 1_000_000) // n_batch if n_batch else 0
        obs.write_fact(pid, task, f"ingest.drop_rate_ppm.{modality}", rate)
    for name, n in [
        *((f"buckets_touched.{t}", n) for t, n in sorted(buckets.items())),
        *(extra or {}).items(),
    ]:
        obs.write_fact(pid, task, f"ingest.{name}", int(n))


class _IngestLifecycle(RunLedger):
    """The one lifecycle every dedup store opens and ingests through (the
    reference's ``Task`` wrapper, Task.scala:52-142, which records each
    node's status and facts around its body). A store supplies only its
    feature kernel, its drop rule and its tables in their order; the
    ledger, the persist hygiene and the facts are written here once.

    :meth:`_open` sets the session, the ``VersionedParquetStore``, the
    ``_runs.json`` ledger, the observability sink (K7 facts; not layout,
    so it stays out of the config guard) and the pipeline id, then adopts
    an older config (``_ADOPTED_KEYS``) and runs the layout guard."""

    # config keys added after a store kind first shipped: a stored config
    # lacking exactly these keys is an older store of the same row layout,
    # stamped in place (after ``_adopt_older_layout``) instead of failing
    # the exact-equality guard
    _ADOPTED_KEYS: tuple[str, ...] = ()

    def _open(
        self,
        spark: SparkSession,
        root: str,
        config: dict,
        observability,
        pipeline_id: str,
    ) -> None:
        self.spark = spark
        self.store = VersionedParquetStore(spark, root)
        self._ledger_path = os.path.join(root, "_runs.json")
        self.observability = observability
        self.pipeline_id = pipeline_id
        self._adopt_config(root, config)
        _check_store_config(root, config)

    def _adopt_config(self, root: str, config: dict) -> None:
        """Stamp ``config`` over a stored one that differs only by missing
        every ``_ADOPTED_KEYS`` key; any other mismatch is left for the
        guard to name."""
        path = os.path.join(root, "_config.json")
        if not self._ADOPTED_KEYS or not os.path.exists(path):
            return
        with open(path) as f:
            stored = json.load(f)
        if stored == config or any(k in stored for k in self._ADOPTED_KEYS):
            return
        if {**stored, **{k: config[k] for k in self._ADOPTED_KEYS}} != config:
            return
        self._adopt_older_layout()
        _atomic_write(path, json.dumps(config))

    def _adopt_older_layout(self) -> None:
        """Rewrite what an adopted older store lays out differently."""

    def _run_ingest(self, run_id: str, features, step) -> DataFrame | None:
        """Run one ingest as ``run_id``: None (store untouched)
        when the ledger already holds the run; else persist the batch-side
        frames ``features()`` returns, call ``step(*frames, hold)``, record
        the run after its last table write, then emit the facts.

        ``step`` decides the drops and writes the store's tables in order;
        it returns ``(out, facts)``, ``facts`` being the keyword arguments
        of :func:`_emit_ingest_facts`, ``n_batch`` included. ``hold(frame)``
        persists a frame this ingest owns: it is released if the ingest
        fails; on success the step hands it out (``out._persisted_deps``)
        or releases it.
        The features are released either way — a failed store write must
        not pin cached blocks in a long-lived foreachBatch session."""
        if run_id in self.ingested_runs():
            return None
        frames = [f.persist() for f in features()]
        held = []

        def hold(frame: DataFrame) -> DataFrame:
            held.append(frame.persist())
            return frame

        try:
            out, facts = step(*frames, hold)
            self._record_run(run_id)
            # facts AFTER the ledger record (best-effort telemetry): a
            # crash between the two loses one run's rows, where the other
            # order would double-count the run on replay
            _emit_ingest_facts(self, run_id, **facts)
            return out
        except BaseException:
            for frame in held:
                frame.unpersist()
            raise
        finally:
            for frame in frames:
                frame.unpersist()

    def _survivors(self, batch: DataFrame, drops: DataFrame) -> DataFrame:
        """The batch rows whose id is not in the (persisted) drop set; they
        carry it for ``dedup.unpersist_deps``."""
        out = batch.join(F.broadcast(drops), self.id_col, "left_anti")
        out._persisted_deps = [drops]
        return out


class _BandedStore(_IngestLifecycle):
    """A store of one primary table (``_PRIMARY``: id-keyed features) and
    a ``BANDS`` table of its LSH band rows (``_band_rows``, partitioned by
    ``_BAND_PARTS``, whose last column is the band-hash ``bucket``). Bands
    are a pure function of the primary table, committed after it."""

    BANDS = "bands"
    _PRIMARY: str
    _BAND_PARTS: list[str]

    def _store_sides(
        self, feats: DataFrame, new_bands: DataFrame
    ) -> tuple[DataFrame | None, DataFrame | None, list]:
        """The pruned store-side frames the ingest drop join consumes
        (r16, shared with :class:`CrossModalPairStore` so it runs the
        IDENTICAL pruning): ``(stored, store_bands, batch_buckets)`` — the
        primary table minus the batch's own ids (replay safety), the band
        table pruned to the batch's own band-hash buckets (manual-DPP
        shape, operators/joins.py:66; the ``buckets_touched.bands`` fact),
        and ``store_bands`` None when the table is absent (the drop join
        then derives the stored bands in-plan)."""
        if not self.store.exists(self._PRIMARY):
            return None, None, []
        batch_ids = feats.select(self.id_col)
        stored = self.store.read(self._PRIMARY).join(
            batch_ids, self.id_col, "left_anti"
        )
        batch_buckets = distinct_values(new_bands, "bucket")
        store_bands = None
        if self.store.exists(self.BANDS):
            store_bands = (
                self.store.read(self.BANDS)
                .filter(F.col("bucket").isin(batch_buckets))
                .join(batch_ids, self.id_col, "left_anti")
            )
        return stored, store_bands, batch_buckets

    def _commit_bands(
        self,
        rows: DataFrame,
        new_bands: DataFrame,
        touched: list,
        created: DataFrame | None,
    ) -> None:
        """The band commit, after the primary table's: ``rows`` (the
        batch's band rows as stored) upsert the ``touched`` partitions of
        the first band column. A missing band table — the first ingest, or
        a crash between the two writes (r11 review) — is built from the
        primary table as stored, so every stored id has its bands.
        ``created`` is the frame this ingest created the primary table
        from (None when the table existed): the primary is first read
        with its schema, a cached read, so neither the rebuild nor the
        next ingest's :meth:`_store_sides` runs a schema-inference job."""
        if self.store.exists(self.BANDS):
            _upsert_touched(
                self.store, self.BANDS, rows, self.id_col, self._BAND_PARTS,
                touched=touched, batch=new_bands,
            )
            return
        if created is not None:
            self.store.read(self._PRIMARY, schema=created.schema)
        self.rebuild_bands()

    def rebuild_bands(self) -> None:
        """Regenerate the band table from the primary table, reaping any
        ghost band rows — the OPTIMIZE/auto-compact analog for a banded
        store, and the heal of a missing band table."""
        self.store.write(
            self._band_rows(self.store.read(self._PRIMARY)),
            self.BANDS,
            partition_by=self._BAND_PARTS,
        )


def minhash_batch_drops(
    store_sigs: DataFrame | None,
    batch_sigs: DataFrame,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    store_bands_df: DataFrame | None = None,
) -> DataFrame:
    """Batch ids to DROP under temporal-then-min-id precedence.

    Pure DataFrame logic shared by :class:`MinhashSignatureStore.ingest`
    (which passes the stored, bucket-pruned band table) and the
    ``incremental_dedup`` oracle query (which derives the store side
    in-plan) — so the driver's DuckDB gate value-checks the exact join
    the store path runs. Since r16 a thin wrapper over
    :func:`minhash_batch_pairs` (the loser column of every verified
    pair — identical output by construction).

    Returns a 1-column DataFrame ``(id_col,)`` of dropped batch ids.
    """
    return (
        minhash_batch_pairs(
            store_sigs, batch_sigs, id_col, num_hashes, bands,
            jaccard_threshold, store_bands_df,
        )
        .select(F.col("__loser").alias(id_col))
        .distinct()
    )


def minhash_batch_pairs(
    store_sigs: DataFrame | None,
    batch_sigs: DataFrame,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    store_bands_df: DataFrame | None = None,
) -> DataFrame:
    """Verified near-dup PAIRS touching the batch (r16, VERDICT r15
    item 4) — the pair-level primitive under :func:`minhash_batch_drops`
    (which keeps only the loser column): ``(__loser, __winner,
    __store)`` where intra-batch pairs carry the LARGER batch id as
    loser (min-id precedence) and batch-vs-store pairs carry the batch
    id as loser (temporal precedence), ``__store`` flagging the latter.
    Store-vs-store pairs never appear (decided in earlier runs). The
    :class:`CrossModalPairStore` consumes the full pairs for its LAION
    decision table."""
    _jac = jaccard_estimate_udf()
    batch_bands = minhash_bands(batch_sigs, id_col, num_hashes, bands)

    # intra-batch: the single-corpus LSH rule — the LARGER id of every
    # verified pair drops (same greedy rule as minhash_lsh_duplicates
    # consumers; cluster resolution composes downstream if wanted)
    a, b = batch_bands.alias("a"), batch_bands.alias("b")
    intra_cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = batch_sigs.select(
        F.col(id_col).alias("id_a"), F.col("minhash_sig").alias("sig_a")
    )
    sig_b = batch_sigs.select(
        F.col(id_col).alias("id_b"), F.col("minhash_sig").alias("sig_b")
    )
    intra_pairs = (
        intra_cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("__j", _jac("sig_a", "sig_b"))
        .filter(F.col("__j") >= jaccard_threshold)
        .select(
            F.col("id_b").alias("__loser"),
            F.col("id_a").alias("__winner"),
            F.lit(False).alias("__store"),
        )
    )

    if store_sigs is None:
        return intra_pairs

    # vs store: every batch doc matching ANY stored doc drops (temporal
    # precedence). Same-id rows are the doc's own prior copy (a replayed
    # batch) — excluded, never a self-duplicate.
    store_bands = (
        store_bands_df
        if store_bands_df is not None
        else minhash_bands(store_sigs, id_col, num_hashes, bands)
    )
    n = batch_bands.alias("n")
    s = store_bands.alias("s")
    cross_cand = (
        n.join(
            s,
            (F.col("n.band") == F.col("s.band"))
            & (F.col("n.band_hash") == F.col("s.band_hash"))
            & (F.col(f"n.{id_col}") != F.col(f"s.{id_col}")),
        )
        .select(
            F.col(f"n.{id_col}").alias("id_new"), F.col(f"s.{id_col}").alias("id_old")
        )
        .dropDuplicates(["id_new", "id_old"])
    )
    store_pairs = (
        cross_cand.join(
            batch_sigs.select(
                F.col(id_col).alias("id_new"), F.col("minhash_sig").alias("sig_a")
            ),
            "id_new",
        )
        .join(
            store_sigs.select(
                F.col(id_col).alias("id_old"), F.col("minhash_sig").alias("sig_b")
            ),
            "id_old",
        )
        .withColumn("__j", _jac("sig_a", "sig_b"))
        .filter(F.col("__j") >= jaccard_threshold)
        .select(
            F.col("id_new").alias("__loser"),
            F.col("id_old").alias("__winner"),
            F.lit(True).alias("__store"),
        )
    )
    return intra_pairs.unionByName(store_pairs)


class MinhashSignatureStore(_BandedStore):
    """Durable cross-run minhash dedup state.

    Tables (both ``VersionedParquetStore`` snapshots under ``root``):

    - ``sigs``:  (id, minhash_sig array<long>, sig_bucket) — every doc
      ever seen, partitioned by ``sig_bucket``, a pure function of the
      ID (so a row NEVER moves buckets and no ghost can form): numeric
      ids use RANGE buckets ``floor(id / sig_bucket_width)``, string ids
      fall back to ``pmod(xxhash64(id), n_buckets)``. Each ingest upserts
      and physically rewrites only the batch's own sig buckets
      (:func:`_upsert_touched` hard-links the rest) — r8's one
      remaining store-size-proportional write (the full sigs snapshot
      per ingest) is gone (VERDICT r8 item 1). Range buckets matter:
      hash buckets spread any batch bigger than ``n_buckets`` across
      EVERY bucket (a 500-doc batch touches all 64), degenerating the
      delta into a full rewrite, while real ingests mint monotonically
      increasing ids whose range buckets are the batch's own — write
      cost tracks the BATCH at any store size. At 100 TB pick
      ``sig_bucket_width`` so a bucket holds a few GB.
    - ``bands``: (id, band, band_hash, bucket) — the LSH join keys,
      partitioned by ``bucket = pmod(band_hash, n_buckets)`` so a small
      batch's store scan prunes to its own buckets.

    ``_runs.json`` is the run ledger (offset-bookkeeping analogy): an
    already-ingested ``run_id`` is a no-op, making retries idempotent —
    re-running a batch against a store that already contains it would
    otherwise drop every batch doc as a duplicate of its own stored copy's
    band-mates.
    """

    SIGS = "sigs"
    _PRIMARY = SIGS
    _BAND_PARTS = ["bucket"]

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 64,
        bands: int = 16,
        shingle_n: int = 3,
        token_hash: str = "blake2b",
        jaccard_threshold: float = 0.8,
        n_buckets: int = 64,
        sig_bucket_width: int = 8192,
        observability=None,
        pipeline_id: str = "ingest",
    ):
        self.id_col = id_col
        self.text_col = text_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.token_hash = token_hash
        self.jaccard_threshold = jaccard_threshold
        self.n_buckets = n_buckets
        self.sig_bucket_width = sig_bucket_width
        self._open(
            spark,
            root,
            {
                "kind": "minhash_sigs",
                "id_col": id_col,
                "num_hashes": num_hashes,
                "bands": bands,
                "shingle_n": shingle_n,
                "token_hash": token_hash,
                "n_buckets": n_buckets,
                "sig_bucket_width": sig_bucket_width,
            },
            observability,
            pipeline_id,
        )

    # -- signature plumbing ------------------------------------------------
    def _signatures(self, batch: DataFrame) -> DataFrame:
        return minhash_signatures(
            batch,
            self.text_col,
            self.id_col,
            self.num_hashes,
            self.shingle_n,
            self.token_hash,
        )

    def _band_rows(self, sigs: DataFrame) -> DataFrame:
        banded = minhash_bands(sigs, self.id_col, self.num_hashes, self.bands)
        return banded.withColumn(
            "bucket", F.pmod(F.col("band_hash"), F.lit(self.n_buckets))
        )

    def _with_sig_bucket(self, sigs: DataFrame) -> DataFrame:
        """Partition key for the sigs table: a pure function of the id
        (NOT of the signature), so a re-ingested doc's row stays in the
        same bucket forever — the partition-delta touched set is exactly
        the batch ids' buckets and no ghost can form.

        Numeric ids get RANGE buckets (``floor(id / sig_bucket_width)``):
        a real ingest mints monotone ids, so a batch's rows concentrate
        in a handful of buckets and the delta write stays O(batch) no
        matter how big the store is. Hash buckets (the string-id
        fallback) spread any batch of >= n_buckets rows across EVERY
        bucket — the write degenerates to a full-store rewrite. Engine-
        internal (never oracle-compared), so xxhash64 is fine here.

        LAYOUT NOTE (r10): the bucket switched from floor(double
        division) to integral `div` — identical for ids in [0, 2^53) but
        different for NEGATIVE ids (floor vs truncate); a pre-r10 store
        containing negative ids must be rebuilt (write_sigs_snapshot),
        or re-ingests of those ids would land in a different bucket than
        their stored rows and ghost them."""
        return sigs.withColumn(
            "sig_bucket",
            range_bucket_expr(
                sigs, self.id_col, self.sig_bucket_width, self.n_buckets
            ),
        )

    def write_sigs_snapshot(self, sigs: DataFrame) -> int:
        """Full sigs-table write in the store's canonical layout
        (sig_bucket-partitioned) — the bootstrap/seed path; incremental
        ingests go through :func:`_upsert_touched` instead."""
        return self.store.write(
            self._with_sig_bucket(sigs), self.SIGS, partition_by=["sig_bucket"]
        )

    # -- the operation -----------------------------------------------------
    def ingest(
        self,
        batch: DataFrame,
        run_id: str,
        signatures: DataFrame | None = None,
        drops: DataFrame | None = None,
        n_batch: int | None = None,
    ) -> DataFrame | None:
        """Dedup ``batch`` against the store and itself; merge its
        signatures in; return the surviving batch rows (original columns).

        Returns None (store untouched) when ``run_id`` was already
        ingested. The store update is SCD1: a re-seen id's signature is
        replaced, not duplicated.

        ``signatures`` (r16): precomputed, UNPERSISTED
        :meth:`_signatures` output for ``batch`` — the
        :class:`CrossModalPairStore` composition hands it in so the
        Python signature kernel runs once per batch, not per face.

        The result carries its persisted drop set via ``_persisted_deps``
        — release with ``dedup.unpersist_deps(survivors)`` once consumed
        (the releasable-state form; a long-running foreachBatch stream
        would otherwise accumulate one pinned cache per micro-batch).
        """
        def step(sigs_new, hold):
            new_bands = self._band_rows(sigs_new)
            store_sigs, store_bands, batch_buckets = self._store_sides(
                sigs_new, new_bands
            )
            # the (tiny) drop set is materialized while sigs_new is still
            # cached: the survivor plan must stay valid after the
            # lifecycle releases it. persist(), NOT localCheckpoint
            # (checkpoint blocks free only via JVM GC; CLAUDE.md
            # releasable-state rule). ``drops=`` (r16): a caller-provided
            # PERSISTED set (the loser column of minhash_batch_pairs over
            # _store_sides — the identical join) skips this pass.
            dropped = drops
            if dropped is None:
                dropped = hold(
                    minhash_batch_drops(
                        store_sigs, sigs_new, self.id_col, self.num_hashes,
                        self.bands, self.jaccard_threshold,
                        store_bands_df=store_bands,
                    )
                )
                dropped.count()
            # durable state: upsert ALL batch signatures (dropped docs
            # included — see module docstring) into the batch ids' own
            # sig buckets (r9, VERDICT r8 item 1: a pure function of the
            # id, so write cost tracks the BATCH and a re-ingested row
            # lands on top of its old partition), then their band rows
            # into the batch's own band-hash buckets (r8). Caveat, exactly
            # like Delta tombstones: a RE-INGESTED doc whose band moves to
            # another bucket leaves its old band row there as a GHOST —
            # harmless (band rows only GENERATE candidates; verification
            # scores against the SCD1-fresh sigs) and reaped by
            # ``rebuild_bands``. Every old row of a batch id in the touched
            # buckets goes (ADVICE r8), so a re-ingest reaps its own ghosts
            # there.
            sigs_new_b = self._with_sig_bucket(sigs_new)
            rows = _dedup_ids(sigs_new_b, [self.id_col])
            sig_buckets = _upsert_touched(
                self.store, self.SIGS, rows, self.id_col, "sig_bucket",
                batch=sigs_new_b,
            )
            # the band rows of the sigs as stored: a dedup of their own
            # could keep another duplicate's row for some band
            self._commit_bands(
                self._band_rows(rows), new_bands,
                batch_buckets, rows if store_sigs is None else None,
            )
            # n_batch is the BATCH's doc count (the caller's, else counted
            # from the batch), not the signature-row count: docs shorter
            # than shingle_n produce no signature but are still batch
            # members (and survive)
            return self._survivors(batch, dropped), {
                "n_batch": batch if n_batch is None else n_batch,
                "dropped": {"text": dropped},
                "buckets": {"sigs": len(sig_buckets), "bands": len(batch_buckets)},
            }

        return self._run_ingest(
            run_id,
            lambda: [
                signatures if signatures is not None else self._signatures(batch)
            ],
            step,
        )

    def retire_ids_below(self, cutoff_id: int) -> None:
        """Retention/lifecycle delete: drop every doc with ``id <
        cutoff_id`` from the store. Because the sigs table is id-RANGE
        partitioned, whole buckets below the cutoff are simply NOT carried
        into the new version (``delete_partitions`` — zero bytes
        rewritten; old versions stay time-travelable until ``vacuum``);
        only the single boundary bucket straddling the cutoff is
        rewritten, filtered. The band table is then rebuilt from the
        surviving sigs (a pure function of them — also reaping any
        ghosts). This is the Delta ``DELETE WHERE id < cutoff`` + OPTIMIZE
        lifecycle, and the reason range beats hash bucketing twice over:
        hash buckets would force a full-store rewrite here too.

        Retention SEMANTICS caveat, inherent to any dedup-state expiry
        (same as the watermark-bounded streaming dedup): a future
        duplicate of a retired doc will no longer be dropped against it.

        Numeric-id stores only — string ids use hash buckets, where a
        range delete has no partition-level expression."""
        if _retire_range_ids_below(
            self.store, self.SIGS, "sig_bucket", self.sig_bucket_width,
            self.id_col, cutoff_id, "sig_bucket",
        ):
            self.rebuild_bands()


def embedding_batch_drops(
    store_vecs: DataFrame | None,
    batch_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Batch ids to DROP under semantic (cosine) temporal-then-min-id
    precedence — the embedding twin of :func:`minhash_batch_drops`:

        drop batch X  iff  cos(X, Y) >= threshold for some stored Y
                           (any id), or some batch Y with Y.id < X.id.

    Both inputs must carry a ``cell`` column (the IVF coarse-quantizer
    assignment — ``EmbeddingDedupStore._assign``); candidates only meet
    within a cell, SemDeDup-style, so the work is bounded per cell and a
    batch only ever scans its own cells of the store. The Arrow kernel
    emits raw candidate cosines with an epsilon slack; the authoritative
    ``ROUND(6) >= threshold`` filter happens in Spark (the
    ``embedding_near_duplicates`` engine-exactness convention).

    Returns a 1-column DataFrame ``(id_col,)`` of dropped batch ids.
    """
    import pandas as pd

    from metadata_ingestion_framework_spark.operators.similarity import _vec_matrix

    eps = 1e-6
    id_type = dict(batch_vecs.dtypes)[id_col]
    b = batch_vecs.select(
        F.col(id_col), F.col(vec_col), F.col("cell"), F.lit(True).alias("__new")
    )
    if store_vecs is None:
        u = b
    else:
        s = store_vecs.select(
            F.col(id_col), F.col(vec_col), F.col("cell"), F.lit(False).alias("__new")
        )
        u = b.unionByName(s)

    schema = f"id_new {id_type}, id_other {id_type}, cos double"

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.reset_index(drop=True)
        valid, m = _vec_matrix(pdf[vec_col].to_numpy())
        ids = pdf[id_col].to_numpy()[valid]
        isnew = pdf["__new"].to_numpy()[valid]
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0.0] = 1.0
        m = m / norms[:, None]
        out_n, out_o, out_c = [], [], []
        new_rows = np.nonzero(isnew)[0]
        for lo in range(0, len(new_rows), 1024):
            chunk = new_rows[lo : lo + 1024]
            s = m[chunk] @ m.T  # (c, n)
            for r, row in zip(chunk, s):
                # stored partner (any id) or smaller-id batch partner
                ok = (~isnew) | (isnew & (ids < ids[r]))
                ok[r] = False
                cols = np.nonzero(ok & (row >= threshold - eps))[0]
                if len(cols):
                    out_n.extend([ids[r]] * len(cols))
                    out_o.extend(ids[cols])
                    out_c.extend(row[cols])
        return pd.DataFrame({"id_new": out_n, "id_other": out_o, "cos": out_c})

    cand = u.groupBy("cell").applyInPandas(pairs, schema)
    return (
        cand.filter(F.round("cos", 6) >= threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )


class EmbeddingDedupStore(_IngestLifecycle):
    """Durable cross-run SEMANTIC dedup state — the embedding twin of
    :class:`MinhashSignatureStore`: a recurring ingest dedups today's
    batch of vectors against everything already ingested without
    re-scoring the corpus.

    One table (``VersionedParquetStore`` snapshot under ``root``):

    - ``vecs``: (id, embedding, cell, vec_bucket) — every vector ever
      seen, written ``partition_by=["vec_bucket", "cell"]`` (r10,
      VERDICT r9 item 3): the TOP level is an id-RANGE bucket (numeric
      ids; xxhash fallback for strings), a pure function of the id, so a
      re-ingested id always lands back in its own bucket; the second
      level keeps the IVF-cell layout, so a batch's dedup scan still
      directory-prunes to its own cells (``tests/test_layout_pruning.py``).
      Two scale properties fall out:

      * ingest's upsert (:func:`_upsert_touched`) touches simply the
        BATCH IDS' range buckets — a moved vector (re-ingest with a new
        embedding / new cell) vacates its old cell automatically because
        its whole bucket is rewritten from the upserted rows (r8's
        moved-cell union collect is gone), and monotone ingest ids keep
        the write O(batch) at any store size;
      * retention (``retire_ids_below``) drops whole buckets below the
        cutoff with ZERO bytes rewritten — critical here because stale
        VECTORS are scored directly (unlike minhash bands, a ghost would
        be a correctness bug, so expiry must be physical).

      Dropped (deduped-away) vectors are kept for the same reason the
      minhash store keeps dropped signatures: a future near-dup of a
      dropped vector must still drop.

    Centroids are fixed at store creation (``dim``/``n_cells``/``seed``,
    or an explicit trained ``centroids`` list) — retraining them would
    reassign cells and orphan the layout; rebuild the store to
    re-cluster (same contract as re-sharding any store). ``_runs.json``
    run-ledger idempotence is shared verbatim.
    """

    VECS = "vecs"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        dim: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_cells: int = 8,
        threshold: float = 0.95,
        seed: int = 7,
        centroids: list[list[float]] | None = None,
        n_buckets: int = 64,
        vec_bucket_width: int = 8192,
        observability=None,
        pipeline_id: str = "ingest",
    ):
        from metadata_ingestion_framework_spark.operators.similarity import (
            _resolve_centroids,
        )

        self.id_col = id_col
        self.vec_col = vec_col
        self.threshold = threshold
        # Trained coarse quantizer (kmeans_fit(...).unit_centroids) or the
        # data-blind random fallback — resolved by the shared similarity.py
        # helper (r11 review: the inline copy drifted from it). Must stay
        # FIXED for the store's lifetime — the cell partition layout is
        # derived from it; retrain => rebuild the store (same contract as
        # re-sharding any store), enforced by the config check below.
        self.centroids = _resolve_centroids(centroids, dim, n_cells, seed)
        self.n_buckets = n_buckets
        self.vec_bucket_width = vec_bucket_width
        self._open(
            spark,
            root,
            {
                "kind": "embedding_vecs",
                "id_col": id_col,
                "dim": dim,
                "n_cells": n_cells,
                "n_buckets": n_buckets,
                "vec_bucket_width": vec_bucket_width,
                # plain floats: numpy scalars from a trained model would
                # fail json serialization and bitwise comparison
                "unit_centroids": [
                    [float(x) for x in c] for c in self.centroids
                ],
            },
            observability,
            pipeline_id,
        )

    def _with_vec_bucket(self, df: DataFrame) -> DataFrame:
        """Top-level partition key — same convention as the sigs table
        (``_with_sig_bucket``): integral-``div`` range buckets for numeric
        ids (exact above 2^53, consistent with ``retire_ids_below``'s
        boundary), xxhash fallback for strings (no retention analog)."""
        return df.withColumn(
            "vec_bucket",
            range_bucket_expr(
                df, self.id_col, self.vec_bucket_width, self.n_buckets
            ),
        )

    def _assign(self, batch: DataFrame) -> DataFrame:
        from metadata_ingestion_framework_spark.operators.similarity import ivf_assign

        return self._with_vec_bucket(
            ivf_assign(
                batch.select(self.id_col, self.vec_col), self.centroids, self.vec_col
            ).withColumnRenamed("__ivf_cell", "cell")
        )

    def ingest(
        self,
        batch: DataFrame,
        run_id: str,
        n_batch: int | None = None,
    ) -> DataFrame | None:
        """Semantically dedup ``batch`` against the store and itself;
        merge its vectors in; return surviving batch rows (original
        columns). None (store untouched) when ``run_id`` already ran.
        The result carries its persisted drop set via ``_persisted_deps``
        — release with ``dedup.unpersist_deps`` once consumed."""
        def step(assigned, hold):
            store_pruned = None
            if self.store.exists(self.VECS):
                batch_ids = assigned.select(self.id_col)
                batch_cells = distinct_values(assigned, "cell")
                # cell prune (directory-level on the partitioned layout) +
                # replay safety (a re-delivered batch must not collide with
                # its own stored copy). NULL-safe (r11 review): an
                # unassignable vector's NULL cell must meet stored NULL-cell
                # near-dups, or they would silently survive — diverging from
                # the full-rerun equivalence (intra-batch groupBy("cell")
                # DOES group NULLs together)
                store_pruned = (
                    self.store.read(self.VECS)
                    .filter(partition_in_filter(batch_cells, "cell", None))
                    .join(batch_ids, self.id_col, "left_anti")
                )
            # materialized while assigned is still cached
            drops = hold(
                embedding_batch_drops(
                    store_pruned, assigned, self.id_col, self.vec_col,
                    self.threshold,
                )
            )
            drops.count()
            # vector upsert (r8; r10 layout): unlike band rows, stale
            # VECTORS are not candidates-only — drops score directly
            # against stored embeddings, so a ghost would be a correctness
            # bug. With the id-range top level the touched set is simply
            # the BATCH IDS' buckets: a re-ingested id's old row lives in
            # the SAME bucket (bucket is a pure function of the id), so
            # rewriting those buckets both upserts the new embedding and
            # vacates the old cell subdir — no moved-cell lookup, no ghost,
            # and monotone ingest ids keep the write O(batch) at any store
            # size.
            vec_buckets = _upsert_touched(
                self.store, self.VECS, _dedup_ids(assigned, [self.id_col]),
                self.id_col, ["vec_bucket", "cell"], batch=assigned,
            )
            return self._survivors(batch, drops), {
                "n_batch": batch if n_batch is None else n_batch,
                "dropped": {"embedding": drops},
                "buckets": {"vecs": len(vec_buckets)},
            }

        return self._run_ingest(run_id, lambda: [self._assign(batch)], step)

    def retire_ids_below(self, cutoff_id: int) -> None:
        """Retention/lifecycle delete: drop every vector with ``id <
        cutoff_id`` — the embedding twin of the sigs store's zero-rewrite
        retention (VERDICT r9 item 3). Whole id-range buckets below the
        cutoff are simply not carried into the new version
        (``delete_partitions`` — zero bytes rewritten; survivor buckets
        hard-link, old versions stay time-travelable until ``vacuum``);
        only the single boundary bucket is rewritten, filtered, so the
        cost tracks that bucket's SURVIVORS, never the store. Expiry is
        PHYSICAL — mandatory here because stored vectors are scored
        directly (a logically-deleted ghost would still drop future
        batches).

        Retention SEMANTICS caveat (inherent to dedup-state expiry): a
        future near-duplicate of a retired vector will no longer drop
        against it.

        Numeric-id stores only — string ids use hash buckets, where a
        range delete has no partition-level expression."""
        _retire_range_ids_below(
            self.store, self.VECS, "vec_bucket", self.vec_bucket_width,
            self.id_col, cutoff_id, ["vec_bucket", "cell"],
        )


def image_fp_bands(
    fps: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    blocks: int = 4,
    n_band_buckets: int = 64,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Skinny ``(id, blk, blk_val, bucket)`` band rows from a
    fingerprint table — the image analogue of ``minhash_bands``. The
    ``bucket`` is a hash of the (blk, blk_val) candidate key, so the
    stored band table partitions on it and an ingest's store-side scan
    directory-prunes to the batch's own buckets (the minhash-store
    manual-DPP shape). Engine-internal (never oracle-compared) —
    xxhash64 is fine. ``extra_cols`` ride along unchanged (the frames
    face carries ``frame_ts`` so a candidate names the exact frame to
    verify, r14)."""
    width = 64 // blocks
    return fps.select(
        id_col,
        *extra_cols,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.shiftright(F.col(hash_col), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1)).alias("blk_val"),
                )
                for i in range(blocks)
            ])
        ).alias("bb"),
    ).select(
        id_col,
        *extra_cols,
        "bb.blk",
        "bb.blk_val",
        F.pmod(
            F.xxhash64(F.col("bb.blk"), F.col("bb.blk_val")),
            F.lit(n_band_buckets),
        ).alias("bucket"),
    )


def image_hash_batch_drops(
    store_fps: DataFrame | None,
    batch_fps: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_hamming: int = 3,
    blocks: int = 4,
    store_bands_df: DataFrame | None = None,
) -> DataFrame:
    """Batch ids to DROP under perceptual (Hamming) temporal-then-min-id
    precedence — the image twin of :func:`minhash_batch_drops` /
    :func:`embedding_batch_drops` (r13):

        drop batch X  iff  hamming(X, Y) <= max_hamming for some stored
                           Y (any id), or some batch Y with Y.id < X.id.

    Candidates come from the 16-bit block-permutation equi-join
    (``dedup.hamming_banded_pairs`` machinery — pigeonhole-exact for
    ``max_hamming <= blocks-1``), with the codegen ``bit_count`` verify
    streaming over the joined rows before the distinct. Shared by
    :meth:`ImageHashStore.ingest` (which passes the stored,
    bucket-PRUNED band table — the store side's shuffle tracks the
    batch's buckets, not the store) and the ``media_dedup_incremental``
    oracle query (which derives the store bands in-plan) — so the
    driver's DuckDB gate value-checks the exact join the store runs.

    The verify always reads FRESH fingerprints by id (``store_fps`` /
    ``batch_fps``), which is what makes stale band rows candidates-only
    ghosts (the minhash-band tolerance argument). NULL is not an
    identity (r14, the dedup-family NULL-key contract shared with
    ``minhash_batch_drops`` / SQL-MERGE key semantics): a NULL-id batch
    row never joins on id — the ``!=``/``<`` precedence predicates are
    NULL and the fingerprint re-attach equi-joins never match — so
    NULL-id rows always SURVIVE, intra-batch and vs the store alike.
    Returns a 1-column DataFrame ``(id_col,)``. Since r16 a thin
    wrapper over :func:`image_hash_batch_pairs` (the loser column of
    every verified pair — identical output by construction).
    """
    return (
        image_hash_batch_pairs(
            store_fps, batch_fps, id_col, hash_col, max_hamming, blocks,
            store_bands_df,
        )
        .select(F.col("__loser").alias(id_col))
        .distinct()
    )


def image_hash_batch_pairs(
    store_fps: DataFrame | None,
    batch_fps: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_hamming: int = 3,
    blocks: int = 4,
    store_bands_df: DataFrame | None = None,
) -> DataFrame:
    """Verified Hamming near-dup PAIRS touching the batch (r16, VERDICT
    r15 item 4) — the pair-level primitive under
    :func:`image_hash_batch_drops`: ``(__loser, __winner, __store)``,
    intra-batch pairs carrying the larger batch id as loser, batch-vs-
    store pairs the batch id (temporal precedence), ``__store`` flagging
    the latter. Consumed by :class:`CrossModalPairStore`'s LAION
    decision table."""
    batch_bands = image_fp_bands(batch_fps, id_col, hash_col, blocks)

    # intra-batch: smaller id wins
    a, b = batch_bands.alias("a"), batch_bands.alias("b")
    intra_cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    fp_a = batch_fps.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("__fp_a")
    )
    fp_b = batch_fps.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("__fp_b")
    )
    ham = F.bit_count(F.col("__fp_a").bitwiseXOR(F.col("__fp_b")))
    intra_pairs = (
        intra_cand.join(fp_a, "id_a")
        .join(fp_b, "id_b")
        .filter(ham <= max_hamming)
        .select(
            F.col("id_b").alias("__loser"),
            F.col("id_a").alias("__winner"),
            F.lit(False).alias("__store"),
        )
    )
    if store_fps is None:
        return intra_pairs

    # vs store: any stored partner drops the batch doc (temporal
    # precedence). The caller excludes the batch's own ids from the
    # store side (replay safety).
    store_bands = (
        store_bands_df
        if store_bands_df is not None
        else image_fp_bands(store_fps, id_col, hash_col, blocks)
    )
    n, s = batch_bands.alias("n"), store_bands.alias("s")
    cross_cand = (
        n.join(
            s,
            (F.col("n.blk") == F.col("s.blk"))
            & (F.col("n.blk_val") == F.col("s.blk_val"))
            & (F.col(f"n.{id_col}") != F.col(f"s.{id_col}")),
        )
        .select(
            F.col(f"n.{id_col}").alias("id_a"),
            F.col(f"s.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    store_pairs = (
        cross_cand.join(fp_a, "id_a")
        .join(
            store_fps.select(
                F.col(id_col).alias("id_b"), F.col(hash_col).alias("__fp_b")
            ),
            "id_b",
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("id_a").alias("__loser"),
            F.col("id_b").alias("__winner"),
            F.lit(True).alias("__store"),
        )
    )
    return intra_pairs.unionByName(store_pairs)


def media_frame_batch_drops(
    store_fps: DataFrame | None,
    batch_fps: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_hamming: int = 3,
    blocks: int = 4,
    store_bands_df: DataFrame | None = None,
    min_matching_frames: int = 1,
    frame_col: str = "frame_ts",
) -> DataFrame:
    """FRAME-level batch drops (r14, VERDICT r13 item 3) — the
    :func:`image_hash_batch_drops` rule generalized to fingerprint
    tables holding one row per ``(id, frame_ts)`` so videos (sampled
    frames) and images (one frame at ts 0) dedup in the SAME store:

        drop batch media X  iff  X has >= min_matching_frames verified
        frame-hash matches (distinct (ts_x, ts_y) pairs within
        max_hamming) against some stored media Y (any id), or against
        some batch media Y with Y.id < X.id.

    With single-frame fingerprints and ``min_matching_frames=1`` this
    reduces EXACTLY to the image rule (pytest-pinned). Same dataflow
    discipline as the image face: banded (blk, blk_val) candidates
    (store side bucket-pruned by the caller), skinny 4-tuple distinct,
    fresh-fps re-attach by (id, frame), codegen bit_count verify, then
    ONE media-level count aggregate — the only new shuffle is that
    bounded (id_a, id_b) groupBy. NULL-id media never join on id and
    always survive (the dedup-family NULL-key contract). Returns a
    1-column ``(id_col,)`` of dropped batch ids."""
    batch_bands = image_fp_bands(
        batch_fps, id_col, hash_col, blocks, extra_cols=(frame_col,)
    )

    def _verified_media_pairs(cand, fps_a, fps_b):
        """cand (id_a, ts_a, id_b, ts_b) -> media pairs with >= F
        verified frame matches."""
        ham = F.bit_count(F.col("__fp_a").bitwiseXOR(F.col("__fp_b")))
        return (
            cand.join(fps_a, ["id_a", "ts_a"])
            .join(fps_b, ["id_b", "ts_b"])
            .filter(ham <= max_hamming)
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("__nf"))
            .filter(F.col("__nf") >= min_matching_frames)
        )

    fp_a = batch_fps.select(
        F.col(id_col).alias("id_a"), F.col(frame_col).alias("ts_a"),
        F.col(hash_col).alias("__fp_a"),
    )
    fp_b = batch_fps.select(
        F.col(id_col).alias("id_b"), F.col(frame_col).alias("ts_b"),
        F.col(hash_col).alias("__fp_b"),
    )

    # intra-batch: smaller media id wins
    a, b = batch_bands.alias("a"), batch_bands.alias("b")
    intra_cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"a.{frame_col}").alias("ts_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"b.{frame_col}").alias("ts_b"),
        )
        .dropDuplicates(["id_a", "ts_a", "id_b", "ts_b"])
    )
    intra_drops = (
        _verified_media_pairs(intra_cand, fp_a, fp_b)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    if store_fps is None:
        return intra_drops

    # vs store: any stored partner with >= F frame matches drops the
    # batch media (temporal precedence). The caller excludes the batch's
    # own ids from the store side (replay safety).
    store_bands = (
        store_bands_df
        if store_bands_df is not None
        else image_fp_bands(
            store_fps, id_col, hash_col, blocks, extra_cols=(frame_col,)
        )
    )
    n, s = batch_bands.alias("n"), store_bands.alias("s")
    cross_cand = (
        n.join(
            s,
            (F.col("n.blk") == F.col("s.blk"))
            & (F.col("n.blk_val") == F.col("s.blk_val"))
            & (F.col(f"n.{id_col}") != F.col(f"s.{id_col}")),
        )
        .select(
            F.col(f"n.{id_col}").alias("id_a"),
            F.col(f"n.{frame_col}").alias("ts_a"),
            F.col(f"s.{id_col}").alias("id_b"),
            F.col(f"s.{frame_col}").alias("ts_b"),
        )
        .dropDuplicates(["id_a", "ts_a", "id_b", "ts_b"])
    )
    sfp_b = store_fps.select(
        F.col(id_col).alias("id_b"), F.col(frame_col).alias("ts_b"),
        F.col(hash_col).alias("__fp_b"),
    )
    store_drops = (
        _verified_media_pairs(cross_cand, fp_a, sfp_b)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return intra_drops.union(store_drops).distinct()


class ImageHashStore(_BandedStore):
    """Durable cross-run PERCEPTUAL image dedup state (r13) — the media
    twin of :class:`MinhashSignatureStore` (text) and
    :class:`EmbeddingDedupStore` (vectors): a recurring ingest dedups
    today's images against every image ever seen without re-hashing the
    corpus.

    Tables (both ``VersionedParquetStore`` snapshots under ``root``):

    - ``fps``: (id, dhash, ahash, fp_bucket), partitioned by the
      id-RANGE ``fp_bucket`` (the shared store-family key): ingest's
      upsert (:func:`_upsert_touched`) touches the batch ids' buckets
      (re-ingested ids land home and their old fingerprints vacate in the
      rewrite), retention is a zero-rewrite bucket drop. Stored
      fingerprints are the VERIFY source, so ghosts here would be
      correctness bugs — which the id-range vacate rules out.
    - ``bands``: (id, blk, blk_val, fp_bucket, bucket) exploded 16-bit
      blocks, partitioned (fp_bucket, bucket) — id-RANGE delta
      granularity on top (r14: a band-hash-keyed delta full-rewrote the
      band table every ingest, because any few-hundred-image batch
      spans more distinct (blk, blk_val) values than there are
      buckets — the r9 minhash hash-bucket lesson, measured 10.3s of a
      27.7s ingest), band-hash ``bucket`` = hash(blk, blk_val) %
      n_band_buckets below for the CANDIDATE scan: an ingest
      directory-prunes the store side to the batch's own band buckets
      (the minhash-store manual-DPP shape), so the candidate shuffle
      tracks the batch, not the store. Re-ingested ids' old band rows
      vacate in their own fp_bucket's rewrite (bands are as fresh as
      fps). Ghosts arise from a crash between the two writes, which the
      shared band heal (``_BandedStore._commit_bands``) rebuilds, and
      from a later batch that carries one id twice with different
      payloads: fps keep one payload, the band upsert takes both
      payloads' band rows (the first ingest builds its bands from the
      stored fps, so it stores none). ``rebuild_bands`` reaps them, and
      the Hamming verify reads fresh ``fps`` by id regardless.
      Retention drops whole fp_bucket dirs.

    Dropped (deduped-away) images keep their fingerprints, same as both
    sibling stores: a future near-dup of a dropped image must still
    drop. Undecodable payloads have no fingerprint: they always survive
    and are never stored (the simhash no-tokens rule).

    FRAMES face (r14, VERDICT r13 item 3): constructed with
    ``frames=True`` the store holds one fingerprint row per
    ``(id, frame_ts)`` — video batches (synthesize_media shape with
    ``kind``/``duration_ms`` columns) fingerprint one sampled frame per
    ``every_ms`` via the SAME sample_frames -> image_hashes composition
    as ``video_near_duplicates``, images fingerprint as a single frame
    at ts 0, and the drop rule generalizes to media-level precedence
    over >= ``min_matching_frames`` verified frame matches
    (:func:`media_frame_batch_drops` — reduces exactly to the image rule
    at single frames and F=1). Layout is IDENTICAL (fps under id-range
    fp_bucket — all of a video's frames live in its id's bucket, so
    re-ingest vacates the whole video and retention stays a bucket
    drop; bands under hash(blk, blk_val) buckets carrying frame_ts).
    The two faces are config-guarded apart (kind "media_frame_fps" +
    every_ms is fingerprint-defining): an image store reopened as a
    frames store (or vice versa) raises instead of mixing incomparable
    fingerprint granularities.
    """

    FPS = "fps"
    _PRIMARY = FPS
    _BAND_PARTS = ["fp_bucket", "bucket"]
    _KIND = "image_fps"  # config-guard kind; AudioHashStore overrides
    # r14: the band_layout key is NOT part of the fingerprint space — only
    # of the band table's directory layout — so a pre-r14 store (same
    # config minus that key) migrates in place (its bands rebuilt) instead
    # of failing the exact-equality guard (r14 ADVICE: __init__ used to
    # raise before rebuild_bands was reachable, stranding old stores)
    _ADOPTED_KEYS = ("band_layout",)

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "media_id",
        payload_col: str = "payload",
        hash_col: str = "dhash",
        max_hamming: int = 3,
        blocks: int = 4,
        n_buckets: int = 64,
        fp_bucket_width: int = 8192,
        n_band_buckets: int = 64,
        frames: bool = False,
        every_ms: int = 1000,
        min_matching_frames: int = 1,
        observability=None,
        pipeline_id: str = "ingest",
    ):
        self.id_col = id_col
        self.payload_col = payload_col
        self.hash_col = hash_col
        self.max_hamming = max_hamming
        self.blocks = blocks
        self.n_buckets = n_buckets
        self.fp_bucket_width = fp_bucket_width
        self.n_band_buckets = n_band_buckets
        self.frames = frames
        self.every_ms = every_ms
        self.min_matching_frames = min_matching_frames
        # hash_col/blocks/band buckets shape WHICH fingerprints are
        # stored and how candidates band/partition — mismatched reopens
        # would verify new batches against incomparable state or prune
        # away stored band rows; max_hamming / min_matching_frames are
        # tunable query thresholds and deliberately excluded.
        cfg = {
            "kind": "media_frame_fps" if frames else self._KIND,
            "id_col": id_col,
            "hash_col": hash_col,
            "blocks": blocks,
            "n_buckets": n_buckets,
            "fp_bucket_width": fp_bucket_width,
            "n_band_buckets": n_band_buckets,
            # r14: bands live under (fp_bucket, bucket) — an id-range
            # delta on a single-level hash layout would full-rewrite the
            # band table every ingest (measured 10.3s of a 27.7s ingest
            # at a 50k store; the r9 minhash hash-bucket lesson). A
            # pre-r14 store reopening here fails LOUDLY on this key.
            "band_layout": "fp_bucket/bucket",
        }
        if frames:
            cfg["every_ms"] = every_ms
        self._open(spark, root, cfg, observability, pipeline_id)

    def _adopt_older_layout(self) -> None:
        """A pre-r14 store's bands lie in the old single-level hash
        layout; its fps carry over verbatim, so rewrite the bands."""
        if self.store.exists(self.FPS):
            self.rebuild_bands()

    def _fingerprints(self, batch: DataFrame) -> DataFrame:
        from metadata_ingestion_framework_spark.operators.multimodal import (
            image_hashes,
            sample_frames,
        )

        if self.frames:
            # frames face is integral-id only (r14 ADVICE): sample_frames'
            # mapInPandas schema hardcodes `media_id long`, so a string
            # id would die deep inside the Arrow stage — fail here with
            # the contract instead. (The image face stays any-id via
            # image_hashes' dynamic id_type.)
            id_type = dict(batch.dtypes)[self.id_col]
            if id_type not in ("tinyint", "smallint", "int", "bigint"):
                raise ValueError(
                    f"frames=True requires an integral {self.id_col!r} "
                    f"(sample_frames emits `media_id long`); got "
                    f"{id_type}"
                )
            # one row per (id, frame_ts): videos via the SAME
            # sample_frames -> image_hashes composition as
            # video_near_duplicates; everything else as a single frame
            # at ts 0 (undecodable payloads drop inside image_hashes)
            vids = sample_frames(
                batch.withColumnRenamed(self.id_col, "media_id")
                if self.id_col != "media_id" else batch,
                every_ms=self.every_ms,
            ).withColumn("__fid", F.struct("media_id", "frame_ts"))
            vfps = image_hashes(vids, "frame", "__fid").select(
                F.col("__fid.media_id").alias(self.id_col),
                F.col("__fid.frame_ts").alias("frame_ts"),
                "dhash", "ahash",
            )
            # NULL kind is a STILL, not a silent drop (plain != would
            # NULL out): image_hashes payload-sniffs it anyway
            stills = batch.filter(
                F.coalesce(F.col("kind") != F.lit("video"), F.lit(True))
            )
            ifps = image_hashes(stills, self.payload_col, self.id_col)
            fps = vfps.unionByName(
                ifps.withColumn("frame_ts", F.lit(0).cast("int")).select(
                    self.id_col, "frame_ts", "dhash", "ahash"
                )
            )
            # duplicate-batch-id tolerance (r14 ADVICE): the image face
            # collapses a batch carrying the same id twice via
            # _dedup_ids; the frames face must do the
            # same per (id, frame_ts) or the duplicate fp rows persist
            # and inflate media_frame_batch_drops' frame-match counts
            # multiplicatively through the (id, ts) re-attach joins
            # (min_matching_frames met spuriously). Deterministic pick:
            # hash-ordered, matching dedup_window's ascending rule.
            fps = dedup_window(
                fps, [self.id_col, "frame_ts"], ["dhash", "ahash"]
            )
        else:
            fps = image_hashes(batch, self.payload_col, self.id_col)
        return fps.withColumn(
            "fp_bucket",
            range_bucket_expr(
                fps, self.id_col, self.fp_bucket_width, self.n_buckets
            ),
        )

    def _band_rows(self, fps: DataFrame) -> DataFrame:
        # fp_bucket rides every band row (r14): the band table partitions
        # (fp_bucket, bucket) — id-RANGE delta granularity on top, band-
        # hash directory pruning below (the CLAUDE.md (id_range_bucket,
        # payload_key) store layout)
        extras = ("frame_ts",) if self.frames else ()
        return image_fp_bands(
            fps, self.id_col, self.hash_col, self.blocks,
            self.n_band_buckets,
            extra_cols=extras + ("fp_bucket",),
        )

    def ingest(
        self,
        batch: DataFrame,
        run_id: str,
        fingerprints: DataFrame | None = None,
        drops: DataFrame | None = None,
        n_batch: int | None = None,
    ) -> DataFrame | None:
        """Perceptually dedup ``batch`` against the store and itself;
        merge its fingerprints and band rows in; return surviving batch
        rows (original columns). None (store untouched) when ``run_id``
        already ran. Result carries its persisted drop set via
        ``_persisted_deps`` — release with ``dedup.unpersist_deps``.
        ``fingerprints`` (r16): precomputed, UNPERSISTED
        :meth:`_fingerprints` output for ``batch`` (the
        :class:`CrossModalPairStore` single-kernel-run composition).
        ``drops`` (r16): a precomputed, PERSISTED+materialized drop set
        (e.g. the loser column of :func:`image_hash_batch_pairs` over
        :meth:`_store_sides` — the identical join) — the candidate +
        verify pass is then skipped instead of run twice; the image
        face only (the frames drop rule differs)."""
        if drops is not None and self.frames:
            raise ValueError("drops= is image-face only (frames differ)")

        def step(fps, hold):
            new_bands = self._band_rows(fps)
            store_fps, store_bands, batch_buckets = self._store_sides(
                fps, new_bands
            )
            dropped = drops
            if dropped is None:
                rule, kw = (
                    (media_frame_batch_drops,
                     {"min_matching_frames": self.min_matching_frames})
                    if self.frames else (image_hash_batch_drops, {})
                )
                dropped = hold(
                    rule(
                        store_fps, fps, self.id_col, self.hash_col,
                        self.max_hamming, self.blocks,
                        store_bands_df=store_bands, **kw,
                    )
                )
                dropped.count()  # materialize while fps is still cached
            # fingerprint upsert on the batch ids' RANGE buckets. Frames
            # face: one row per (id, frame_ts) — an SCD1 keyed on id would
            # collapse a video to one frame, and the upsert drops EVERY old
            # frame row of a re-ingested id (the new cut may sample other
            # frames).
            rows = fps if self.frames else _dedup_ids(fps, [self.id_col])
            fp_buckets = _upsert_touched(
                self.store, self.FPS, rows, self.id_col, "fp_bucket", batch=fps,
            )
            # band upsert on the same id-range buckets (r14): a
            # band-hash-keyed delta degenerates to a full band-table
            # rewrite the moment a batch spans more distinct (blk, blk_val)
            # values than there are buckets (always, for a few hundred
            # images) — the r9 minhash hash-bucket lesson, measured 10.3s
            # of a 27.7s ingest at a 50k store. Re-ingested ids' old band
            # rows vacate in the same rewrite (bands are exactly as fresh
            # as fps).
            self._commit_bands(
                new_bands, new_bands, fp_buckets,
                rows if store_fps is None else None,
            )
            # n_batch is the BATCH's media count (the caller's, else counted
            # from the batch), not the fingerprint-row count: undecodable
            # payloads produce no fingerprint but are still batch members,
            # and the frames face fingerprints per (id, frame_ts) while
            # drops are media ids
            return self._survivors(batch, dropped), {
                "n_batch": batch if n_batch is None else n_batch,
                "dropped": {("frames" if self.frames else "media"): dropped},
                "buckets": {"fps": len(fp_buckets), "bands": len(batch_buckets)},
            }

        return self._run_ingest(
            run_id,
            lambda: [
                fingerprints if fingerprints is not None
                else self._fingerprints(batch)
            ],
            step,
        )

    def retire_ids_below(self, cutoff_id: int) -> None:
        """Zero-rewrite range retention on BOTH tables (r14: bands carry
        fp_bucket as their top-level partition, so retired ids' band
        rows drop as whole directories too — the pre-r14 layout needed a
        full band REBUILD here). Same semantics caveat as every dedup
        store: a future near-dup of a retired image no longer drops
        against it."""
        _retire_range_ids_below(
            self.store, self.FPS, "fp_bucket", self.fp_bucket_width,
            self.id_col, cutoff_id, ["fp_bucket"],
        )
        _retire_range_ids_below(
            self.store, self.BANDS, "fp_bucket", self.fp_bucket_width,
            self.id_col, cutoff_id, ["fp_bucket", "bucket"],
        )


class AudioHashStore(ImageHashStore):
    """Durable cross-run PERCEPTUAL AUDIO dedup state (r14) — the audio
    face of the media store family: identical fps/bands layout, ingest
    join, partition-delta/retention/ledger machinery as
    :class:`ImageHashStore`, with the fingerprint kernel swapped for
    :func:`multimodal.audio_hashes` (64-bit energy-delta ``ehash`` as
    the banding hash, ``mhash`` stored alongside). One near-dup rule
    family, three modalities, one store implementation. Config-guarded
    apart from the image/frames faces (kind ``audio_fps``): fingerprint
    spaces are incomparable across modalities, so reopening a store
    under the wrong face raises. The frames face is image/video-only —
    ``frames=True`` here raises."""

    _KIND = "audio_fps"

    def __init__(self, *args, hash_col: str = "ehash", **kwargs):
        if kwargs.get("frames"):
            raise ValueError("AudioHashStore has no frames face")
        super().__init__(*args, hash_col=hash_col, **kwargs)

    def _fingerprints(self, batch: DataFrame) -> DataFrame:
        from metadata_ingestion_framework_spark.operators.multimodal import (
            audio_hashes,
        )

        fps = audio_hashes(batch, self.payload_col, self.id_col)
        return fps.withColumn(
            "fp_bucket",
            range_bucket_expr(
                fps, self.id_col, self.fp_bucket_width, self.n_buckets
            ),
        )


# ---------------------------------------------------------------------------
# Cross-run paragraph dedup: the CCNet seen-set as a durable store (r15)
# ---------------------------------------------------------------------------


def paragraph_batch_removals(
    store_paras: DataFrame | None,
    paras_new: DataFrame,
    id_col: str,
) -> DataFrame:
    """(id, pos) batch paragraphs to REMOVE: hash already present in the
    store, or preceded within the batch by a smaller (id, pos) copy —
    the :func:`dedup.paragraph_dedup` precedence applied cross-run.

    Scale shape: the store side NEVER shuffles — the batch's distinct
    hashes broadcast into a semi-join evaluated on the store scan (skinny
    (id, pos, gh) rows, three ints wide), and the hit set coming back is
    a subset of the batch's own hashes, so it is batch-bounded and
    broadcasts too. The only shuffles are on the batch's own rows (the
    skew-immune first-owner aggregation — ``dedup._first_owner_dups``,
    no hot-key window — + the final distinct)."""
    from metadata_ingestion_framework_spark.operators.dedup import (
        _first_owner_dups,
    )

    dups = _first_owner_dups(paras_new, id_col)
    if store_paras is None:
        return dups
    batch_gh = paras_new.select("gh").distinct()
    seen = (
        store_paras.join(F.broadcast(batch_gh), "gh", "left_semi")
        .select("gh")
        .distinct()
    )
    store_hits = paras_new.join(F.broadcast(seen), "gh").select(id_col, "pos")
    return dups.unionByName(store_hits).distinct()


class ParagraphHashStore(_IngestLifecycle):
    """Durable cross-run PARAGRAPH dedup state — the CCNet first stage
    (Wenzek et al. 2020 dedup paragraph hashes against previous crawl
    shards; Penedo et al. 2023 keep it before fuzzy dedup) as a store:
    each ingest rewrites the batch's documents dropping every paragraph
    whose hash was seen in ANY earlier run (or earlier in the batch),
    then merges the batch's SURVIVING paragraph rows in. No reference
    analogue (north-star training-data extension; BASELINE.json).

    One table, ``paras``: (id, pos, gh, par_bucket) — the surviving
    (first-owner) row of every paragraph hash in the current corpus,
    partitioned by the id-RANGE bucket (pure function of the id —
    CLAUDE.md store-layout rule): a monotone-id ingest touches only its
    own buckets (:func:`_upsert_touched` hard-links the rest), a
    re-ingested doc's rows land exactly on top of its old partition so
    stale paragraphs VACATE (current-corpus semantics: the store mirrors
    the rewritten text of each doc's latest version), and retention is
    the zero-rewrite bucket drop (:meth:`retire_ids_below`).

    Sequential-ingest semantics (proved by the ``paragraph_dedup_inc``
    oracle): over disjoint runs, ingesting batches in order EQUALS the
    one-shot :func:`dedup.paragraph_dedup` on the batch-major union —
    every hash in an earlier batch keeps exactly one surviving owner
    row, so the stored hash set after run N is exactly the distinct
    hashes of runs 1..N. Re-ingests diverge BY DESIGN (the store tracks
    the current corpus, not history): a replaced doc's vanished
    paragraphs stop suppressing future copies, and already-rewritten
    docs are not revisited. ``_runs.json`` makes retries no-ops, and the
    store side of every ingest excludes the batch's own ids, so a replay
    after a ledger loss cannot dedup a doc against its own stored rows.

    Membership probe (r16, VERDICT r15 item 2): an OPT-IN per-
    ``par_bucket`` Bloom bitmap sidecar (table ``parbloom``:
    (par_bucket, __w, __bits), the
    :func:`dedup.ngram_contamination_bloom` machinery) probed FIRST —
    the exact gh semi-join then scans only the buckets whose bloom any
    batch hash hits. No false negatives (touched buckets' blooms are
    rebuilt EXACTLY from the written contents on every delta write;
    only a retention-straddled boundary is rebuilt separately), so
    output is identical; FPs only widen the scanned bucket set.

    DEFAULT OFF (``bloom_bits=0``) per the measured A/B (PROGRESS.jsonl
    ``paragraph_store_10x`` r16, the store-layout-is-empirical rule): at
    the 100x tier (50M stored rows, 1220 buckets) the bloom path costs
    4.6s/ingest vs 1.0s for the plain column-pruned full gh scan, adds
    ~2s of touched-bloom rebuild per delta, and 2.2x on the seed build
    — a bloom dense enough to dodge batch-saturation (~26 bits/hash for
    500-doc batches) is barely smaller than the skinny gh column itself,
    and parquet+codegen scans ~50M rows/s. Enable (``bloom_bits=1<<22``)
    only where ingest batches are overwhelmingly disjoint from the store
    AND the store column scan dominates ingest latency; the [] fast path
    then skips the membership semi-join entirely.
    """

    PARAS = "paras"
    BLOOM = "parbloom"
    # a pre-r16 store (config without the bloom keys, r16 review) has the
    # same row layout and no ``parbloom`` table yet, so ANY bloom geometry
    # is adoptable: the sidecar builds lazily on the next ingest
    _ADOPTED_KEYS = ("bloom_bits", "bloom_hashes")

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = 64,
        par_bucket_width: int = 8192,
        bloom_bits: int = 0,
        bloom_hashes: int = 3,
        observability=None,
        pipeline_id: str = "ingest",
    ):
        self.id_col = id_col
        self.text_col = text_col
        self.n_buckets = n_buckets
        self.par_bucket_width = par_bucket_width
        self.bloom_bits = int(bloom_bits)
        self.bloom_hashes = int(bloom_hashes)
        cfg = {
            "kind": "paragraph_hashes",
            "id_col": id_col,
            "n_buckets": n_buckets,
            "par_bucket_width": par_bucket_width,
            # bloom geometry is config-pinned: an untouched bucket's
            # stored bloom must be probed with the SAME positions it
            # was built with, or membership grows false negatives
            "bloom_bits": self.bloom_bits,
            "bloom_hashes": self.bloom_hashes,
        }
        self._open(spark, root, cfg, observability, pipeline_id)

    # -- bloom sidecar -----------------------------------------------------
    def _bloom_positions(self, gh_rows: DataFrame) -> DataFrame:
        """Explode ``bloom_hashes`` deterministic bit positions per gh:
        ``pmod(xxhash64(gh, seed), bloom_bits)`` split into a word index
        ``__w`` and an in-word bit ``__b`` — engine-internal values (the
        oracle checks the exact FINAL output, which no-false-negatives
        makes bloom-invariant)."""
        out = gh_rows.withColumn(
            "__seed",
            F.explode(
                F.array(*[F.lit(i) for i in range(self.bloom_hashes)])
            ),
        )
        pos = F.pmod(
            F.xxhash64(F.col("gh"), F.col("__seed")),
            F.lit(self.bloom_bits),
        )
        return out.withColumn(
            "__w", F.shiftright(pos, 6).cast("int")
        ).withColumn("__b", (pos % 64).cast("int"))

    def _bloom_words(self, paras: DataFrame) -> DataFrame:
        """(par_bucket, __w, __bits) bloom rows for the given paragraph
        rows — sparse (all-zero words unstored), built with one
        partial-aggregable bit_or keyed (par_bucket, __w). No distinct
        anywhere: bit_or is idempotent, so duplicate gh occurrences cost
        only map-side combine work, never an extra shuffle."""
        return (
            self._bloom_positions(paras.select("par_bucket", "gh"))
            .groupBy("par_bucket", "__w")
            .agg(
                F.bit_or(
                    F.expr("shiftleft(CAST(1 AS BIGINT), __b)")
                ).alias("__bits")
            )
        )

    def _bloom_hit_buckets(self, paras_new: DataFrame) -> list | None:
        """Bucket values whose bloom ANY batch hash fully hits (the
        candidate scan set for the exact membership semi-join); ``None``
        = sidecar absent (pre-r16 store — caller falls back to the full
        scan and the next write migrates). A stored hash always hits its
        own bucket (blooms are exact per write), so this can only
        over-scan, never under-scan. ``bloom_bits=0`` disables the
        sidecar entirely (always full scan)."""
        if not self.bloom_bits or not self.store.exists(self.BLOOM):
            return None
        bpos = self._bloom_positions(paras_new.select("gh").distinct())
        hit = F.expr("(shiftrightunsigned(__bits, __b) & 1) = 1")
        return distinct_values(
            self.store.read(self.BLOOM)
            .join(F.broadcast(bpos), "__w")
            .filter(hit)
            .groupBy("par_bucket", "gh")
            .agg(F.count(F.lit(1)).alias("__h"))
            .filter(F.col("__h") >= self.bloom_hashes),
            "par_bucket",
        )

    # -- the operation -----------------------------------------------------
    def ingest(self, batch: DataFrame, run_id: str) -> DataFrame | None:
        """Dedup ``batch``'s paragraphs against the store and itself;
        merge the surviving paragraph rows in; return the REWRITTEN batch
        (id, clean_text, n_removed) — the :func:`dedup.paragraph_dedup`
        output contract. Returns None (store untouched) when ``run_id``
        was already ingested. Release ``_persisted_deps`` when done
        (``dedup.unpersist_deps``)."""
        from metadata_ingestion_framework_spark.operators.dedup import (
            _apply_paragraph_removals,
            _paragraph_rows,
        )

        def step(paras_new, hold):
            batch_ids = batch.select(self.id_col).distinct()
            store_paras = None
            if self.store.exists(self.PARAS):
                # bloom-first membership (r16): scan only buckets whose
                # sidecar bloom a batch hash hits; [] = provably no overlap,
                # skip the store probe entirely. None = pre-sidecar store.
                hit = self._bloom_hit_buckets(paras_new)
                if hit is None:
                    scan = self.store.read(self.PARAS)
                elif not hit:
                    scan = None
                else:
                    scan = self.store.read(self.PARAS).filter(
                        partition_in_filter(hit, "par_bucket", None)
                    )
                if scan is not None:
                    store_paras = scan.join(
                        batch_ids, self.id_col, "left_anti"
                    )
            # materialize the (batch-bounded) removal set while paras_new is
            # cached; persist(), not localCheckpoint (releasable-state rule)
            dups = hold(
                paragraph_batch_removals(store_paras, paras_new, self.id_col)
            )
            dups.count()
            rm = F.broadcast(
                dups.groupBy(self.id_col).agg(
                    F.collect_set("pos").alias("__rm")
                )
            )
            out = _apply_paragraph_removals(
                batch, rm, self.text_col, self.id_col
            )
            out._persisted_deps = [dups]

            # durable state: the surviving rows only — each batch hash keeps
            # exactly one owner row (the removed copies are reproducible from
            # nothing: their hashes already have owners), so the store stays
            # exactly one skinny row per live paragraph.
            surviving = paras_new.join(
                dups, [self.id_col, "pos"], "left_anti"
            ).withColumn(
                "par_bucket",
                range_bucket_expr(
                    paras_new, self.id_col, self.par_bucket_width,
                    self.n_buckets,
                ),
            )
            # touched set and vacated ids from the BATCH ids, not the
            # surviving rows: a re-ingested doc whose new text dedups away
            # entirely must still vacate its OLD rows
            bucketed = batch_ids.withColumn(
                "par_bucket",
                range_bucket_expr(
                    batch_ids, self.id_col, self.par_bucket_width,
                    self.n_buckets,
                ),
            )
            had_paras = self.store.exists(self.PARAS)
            buckets = _upsert_touched(
                self.store, self.PARAS, surviving, self.id_col,
                "par_bucket", batch=bucketed,
            )
            if self.bloom_bits and had_paras and self.store.exists(self.BLOOM):
                # rebuild touched blooms from the WRITTEN version's
                # touched partitions (columnar read-back, partition-
                # pruned): derived exactly from what a reader scans, so
                # vacated rows' bits vanish with them — no stale bits
                written = self.store.read(self.PARAS).filter(
                    partition_in_filter(buckets, "par_bucket", None)
                )
                self.store.write_partition_delta(
                    self._bloom_words(written),
                    self.BLOOM,
                    "par_bucket",
                    buckets,
                )
            elif self.bloom_bits:
                # first write, or a pre-sidecar store: build the sidecar
                # from the WRITTEN version (a columnar read-back beats
                # persisting the anti-join lineage; the sidecar is
                # self-healingly derived from exactly what a reader will
                # scan), delta thereafter
                self.store.write(
                    self._bloom_words(self.store.read(self.PARAS)),
                    self.BLOOM,
                    partition_by=["par_bucket"],
                )
            # The counts are paragraph-grain (this store's decision unit).
            # The touched-bucket fact is the buckets the write physically
            # rewrote (``_upsert_touched``'s return). On a later write that
            # is the BATCH IDS' bucket set, not the surviving rows' (a
            # fully-deduped re-ingest still rewrites its bucket, which is
            # exactly the write amplification the metric watches); on the
            # first write it is the buckets the surviving rows created, so
            # a doc deduped away inside that batch adds none.
            return out, {
                "n_batch": paras_new,
                "dropped": {"paragraph": dups},
                "buckets": {"paras": len(buckets)},
            }

        return self._run_ingest(
            run_id,
            lambda: [_paragraph_rows(batch, self.text_col, self.id_col)],
            step,
        )

    def retire_ids_below(self, cutoff_id: int) -> None:
        """Retention: drop every doc's paragraph rows below the id cutoff
        — whole range buckets are simply not carried (zero bytes
        rewritten), only a straddling boundary bucket rewrites filtered.
        The bloom sidecar follows: retired buckets' bloom partitions
        drop, and a straddling boundary's bloom is REBUILT from the
        retained rows (bits cannot be unset in place; a stale superset
        would still be correct — FPs only — but rebuilding keeps the
        probe tight). Expiry caveat shared with every dedup-state
        retention: a future copy of a retired paragraph is no longer
        suppressed."""
        changed = _retire_range_ids_below(
            self.store, self.PARAS, "par_bucket", self.par_bucket_width,
            self.id_col, cutoff_id, "par_bucket",
        )
        if (
            not changed
            or not self.bloom_bits
            or not self.store.exists(self.BLOOM)
        ):
            return
        boundary = (
            -((-cutoff_id) // self.par_bucket_width)
            if cutoff_id < 0
            else cutoff_id // self.par_bucket_width
        )
        below = [
            int(v)
            for v in self.store.partition_values(self.BLOOM, "par_bucket")
            if v is not None and int(v) < boundary
        ]
        if below:
            self.store.delete_partitions(self.BLOOM, "par_bucket", below)
        kept_boundary = self.store.read(self.PARAS).filter(
            F.col("par_bucket") == boundary
        )
        self.store.write_partition_delta(
            self._bloom_words(kept_boundary),
            self.BLOOM,
            "par_bucket",
            [boundary],
        )


# ---------------------------------------------------------------------------
# Cross-modal (caption, image) pair dedup across runs (r16, VERDICT r15
# item 4)
# ---------------------------------------------------------------------------


def crossmodal_pair_decisions(
    text_pairs: DataFrame, image_pairs: DataFrame
) -> DataFrame:
    """Fuse the two modality pair frames into the LAION decision table
    ``(id_a, id_b, text_dup, image_dup)`` — id_a/id_b normalized
    least/greatest, flags OR-aggregated by ONE groupBy over a tagged
    union (the r15 ``crossmodal_dedup`` aggregation verbatim; no join
    between the pair frames)."""

    def tag(pairs: DataFrame, t: int, i: int) -> DataFrame:
        return pairs.select(
            F.least(F.col("__loser"), F.col("__winner")).alias("id_a"),
            F.greatest(F.col("__loser"), F.col("__winner")).alias("id_b"),
            F.lit(t).alias("t"),
            F.lit(i).alias("i"),
        )

    return (
        tag(text_pairs, 1, 0)
        .unionAll(tag(image_pairs, 0, 1))
        .groupBy("id_a", "id_b")
        .agg(
            (F.max("t") == 1).alias("text_dup"),
            (F.max("i") == 1).alias("image_dup"),
        )
    )


class CrossModalPairStore(_IngestLifecycle):
    """Durable cross-run (caption, image) PAIR dedup state — the LAION/
    DataComp curation rule applied ACROSS ingests (r16, VERDICT r15
    item 4): a training pair is a duplicate candidate when its IMAGE is
    a perceptual near-dup (Hamming) OR its CAPTION is a text near-dup
    (MinHash-LSH), of anything seen in ANY earlier run or earlier in
    the batch. No reference analogue (north-star training-data
    extension; BASELINE.json).

    Composition, not reimplementation: the state IS an
    :class:`ImageHashStore` (``<root>/image``) plus a
    :class:`MinhashSignatureStore` (``<root>/caption``) — every layout
    invariant (id-range fp/sig buckets, band-bucket pruning, vacate,
    retention, heal paths) is the proven machinery of the two faces.
    Per ingest the batch's image fingerprints and caption signatures
    are computed ONCE each and shared between the decision pass and the
    sub-store merges (the ``fingerprints=``/``signatures=`` hooks); the
    decision table fuses :func:`image_hash_batch_pairs` +
    :func:`minhash_batch_pairs` — the PAIR-level primitives whose loser
    columns are exactly ``image_hash_batch_drops`` /
    ``minhash_batch_drops``, so the sub-stores' drop joins and the
    decision pairs cannot drift.

    Precedence per modality is the family rule (store beats batch,
    min-id wins within the batch); store-vs-store pairs never reappear
    (decided in their own runs). One shared run ledger at the composite
    root gates the decision recompute; each sub-store's own ledger makes
    the state writes individually replay-safe, so a crash between the
    two merges heals on retry without double-merging either face.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        payload_col: str = "payload",
        max_hamming: int = 3,
        blocks: int = 4,
        num_hashes: int = 64,
        bands: int = 16,
        shingle_n: int = 3,
        token_hash: str = "md5",
        jaccard_threshold: float = 0.5,
        n_buckets: int = 64,
        bucket_width: int = 8192,
        observability=None,
        pipeline_id: str = "ingest",
    ):
        self.id_col = id_col
        self._open(
            spark,
            root,
            {
                "kind": "crossmodal_pairs",
                "id_col": id_col,
                # thresholds shape the DECISIONS this store has already
                # emitted — reopening under different rules would mix
                # incomparable decision histories
                "max_hamming": max_hamming,
                "jaccard_threshold": jaccard_threshold,
            },
            observability,
            pipeline_id,
        )
        self.img = ImageHashStore(
            spark,
            os.path.join(root, "image"),
            id_col=id_col,
            payload_col=payload_col,
            max_hamming=max_hamming,
            blocks=blocks,
            n_buckets=n_buckets,
            fp_bucket_width=bucket_width,
            # K7 facts propagate: each face records its own ingest
            # facts under its class name, the composite records the
            # pair-decision summary under its own
            observability=observability,
            pipeline_id=pipeline_id,
        )
        self.txt = MinhashSignatureStore(
            spark,
            os.path.join(root, "caption"),
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            token_hash=token_hash,
            jaccard_threshold=jaccard_threshold,
            n_buckets=n_buckets,
            sig_bucket_width=bucket_width,
            observability=observability,
            pipeline_id=pipeline_id,
        )

    def ingest(self, batch: DataFrame, run_id: str) -> DataFrame | None:
        """Decide ``batch``'s pairs against both stores and itself;
        merge both modalities' state in; return the decision table
        ``(id_a, id_b, text_dup, image_dup)`` (every verified pair
        touching >= 1 batch id). None when ``run_id`` already ran.
        Release ``_persisted_deps`` when done."""
        from metadata_ingestion_framework_spark.operators.dedup import (
            unpersist_deps,
        )

        def step(fps, sigs, hold):
            # store sides via each face's OWN pruning helper (r16 review
            # — one code path, no drift), pairs via the pair primitives,
            # and the per-modality drop sets derived as the pairs' loser
            # columns so the sub-store merges consume them instead of
            # re-running the candidate+verify joins a second time.
            store_fps, store_ibands, _ = self.img._store_sides(
                fps, self.img._band_rows(fps)
            )
            ip = hold(
                image_hash_batch_pairs(
                    store_fps, fps, self.id_col, self.img.hash_col,
                    self.img.max_hamming, self.img.blocks,
                    store_bands_df=store_ibands,
                )
            )
            store_sigs, store_tbands, _ = self.txt._store_sides(
                sigs, self.txt._band_rows(sigs)
            )
            tp = hold(
                minhash_batch_pairs(
                    store_sigs, sigs, self.id_col, self.txt.num_hashes,
                    self.txt.bands, self.txt.jaccard_threshold,
                    store_bands_df=store_tbands,
                )
            )
            img_drops = hold(
                ip.select(F.col("__loser").alias(self.id_col)).distinct()
            )
            txt_drops = hold(
                tp.select(F.col("__loser").alias(self.id_col)).distinct()
            )
            decisions = hold(crossmodal_pair_decisions(tp, ip))
            # materialize while fps/sigs are cached; keep the counts —
            # the K7 facts need them AFTER the sub-store ingests (whose
            # lifecycles release fps/sigs — a later fps.count() would
            # re-run the image-decode kernel) and after the drop frames
            # are released. n_batch is the batch doc count, not the fps
            # row count (undecodable payloads produce no fingerprint but
            # are still batch members).
            n_pairs = decisions.count()
            n_batch = batch.count()
            n_img_drops = img_drops.count()
            n_txt_drops = txt_drops.count()
            ip.unpersist()
            tp.unpersist()

            # state merges through the proven sub-store paths: each
            # kernel's output AND each modality's verified drop set are
            # handed in, so fingerprinting and candidate verification
            # both run once per batch. The drop sets are OWNED here: on
            # the happy path the sub-store hands each back through its
            # survivors' _persisted_deps; on the crash-heal replay (the
            # sub-store ledger already has run_id, ingest returns None)
            # nothing carries them, so release directly (r17 ADVICE).
            for face, kernel, drops in (
                (self.img, {"fingerprints": fps}, img_drops),
                (self.txt, {"signatures": sigs}, txt_drops),
            ):
                merged = face.ingest(
                    batch, run_id, drops=drops, n_batch=n_batch, **kernel
                )
                if merged is not None:
                    unpersist_deps(merged)
                else:
                    drops.unpersist()
            decisions._persisted_deps = [decisions]
            return decisions, {
                "n_batch": n_batch,
                "dropped": {"image": n_img_drops, "caption": n_txt_drops},
                "buckets": {},
                "extra": {"n_pairs": n_pairs},
            }

        return self._run_ingest(
            run_id,
            lambda: [self.img._fingerprints(batch), self.txt._signatures(batch)],
            step,
        )

    def retire_ids_below(self, cutoff_id: int) -> None:
        """Retention delegates to both faces (zero-rewrite bucket drops
        each). Shared expiry caveat: a future near-dup of a retired
        pair is no longer suppressed."""
        self.img.retire_ids_below(cutoff_id)
        self.txt.retire_ids_below(cutoff_id)
