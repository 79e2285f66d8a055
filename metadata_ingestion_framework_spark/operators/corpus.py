"""Deterministic sharded corpus writer — the pipeline's LAST MILE.

Every public training-data pipeline ends by materializing the curated
corpus as N size-bounded shards with a manifest (shard id, doc/token
counts, content checksum) so downstream loaders can verify and stream
it. The reference has no analogue (it ends at table writes —
Utility.scala's writers; BASELINE.json): this is a north-star
training-data extension (VERDICT r15 item 5).

Design:

- **Assignment** is the :func:`functions.sampling.deterministic_shuffle`
  md5-rank order (60-bit md5 of the doc id + id tiebreak — engine-exact,
  rerun-stable) cut into shards by a running token budget:
  ``shard = cum_before div shard_tokens``. Shards are size-bounded by
  ``shard_tokens`` plus at most one straddling document (the loader's
  concat-then-chunk convention), and the whole rule is plain SQL — the
  DuckDB oracle replays hash, order, running sum and cut exactly.
- **Scale**: the running sum reuses :func:`token_budget_select`'s
  two-stage de-skewed cumsum machinery VERBATIM (range-sharded local
  windows + broadcast offsets — never a single global sort task).
- **Write** is one file per shard in deterministic in-file order
  (``repartition(shard)`` + ``sortWithinPartitions`` — the tablestore
  clustering precedent), into a :class:`VersionedParquetStore` so the
  corpus version swap is atomic and the manifest rides the same root.

r17 adds the full store lifecycle around the snapshot writer:
:class:`CorpusShardStore` (epoch appends with vacate + hard-link
carry), :func:`corpus_epoch_assignments` (the sequential==one-shot
theorem), :func:`corpus_stream_sink` (foreachBatch face),
:func:`verify_corpus` (loader integrity gate) and
:func:`retire_epochs_below` (zero-rewrite retention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.operators.dedup import carry_deps
from metadata_ingestion_framework_spark.operators.incremental import (
    _check_store_config,
    _upsert_touched,
    range_bucket_expr,
)
from metadata_ingestion_framework_spark.operators.joins import distinct_values
from metadata_ingestion_framework_spark.plans.tablestore import (
    RunLedger,
    VersionedParquetStore,
)

#: salt for the default corpus epoch — callers pass their own per epoch.
DEFAULT_SALT = "corpus0"


def corpus_shard_assignments(
    df: DataFrame,
    text_col: str | None,
    id_col: str,
    shard_tokens: int = 100_000_000,
    salt: str = DEFAULT_SALT,
    n_tokens_col: str | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Assign every document to its output shard: all input columns plus
    ``n_tokens``, ``cum_before`` (tokens strictly before this doc in the
    md5-rank order) and ``shard = cum_before div shard_tokens``.

    Deterministic for any id type and stable across reruns/partitionings
    (the md5 order key); insertions shift LATER shards — this is a
    corpus SNAPSHOT writer, not an incremental store. Pass
    ``n_tokens_col`` when token counts are precomputed (the skinny-
    persist rule — composites should drop text before the cumsum).
    Release ``_persisted_deps`` when done."""
    from metadata_ingestion_framework_spark.functions.sampling import (
        hash_key60,
        token_budget_select,
    )

    # hk ASC == (-hk) DESC: ride token_budget_select's ranked two-stage
    # cumsum verbatim with an unreachable budget (keep everything, keep
    # cum_before). hash_key60 never yields NULL, so the nulls rule in
    # the shared order is inert.
    base = df.withColumn("__nhk", -hash_key60([id_col], salt))
    out = token_budget_select(
        base,
        text_col,
        id_col,
        "__nhk",
        budget_tokens=1 << 62,
        shards=shards,
        n_tokens_col=n_tokens_col,
    )
    assigned = out.select(
        *[c for c in out.columns if c not in ("__nhk",)],
        F.expr(f"cum_before div {int(shard_tokens)}")
        .cast("int")
        .alias("shard"),
    )
    return carry_deps(assigned, out)


def corpus_shard_manifest(assigned: DataFrame, id_col: str) -> DataFrame:
    """``(shard, n_docs, n_tokens, checksum)`` — the loader-facing
    manifest. ``checksum`` is the md5 of the shard's comma-joined doc
    ids sorted LEXICOGRAPHICALLY as strings (``sort_array(collect_list(
    cast))`` == DuckDB ``string_agg(... ORDER BY CAST AS VARCHAR)`` —
    engine-exact, shard-bounded state: a shard holds at most
    ``shard_tokens`` worth of documents)."""
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                ",",
                F.sort_array(
                    F.collect_list(F.col(id_col).cast("string"))
                ),
            )
        ).alias("checksum"),
    )


def write_corpus_shards(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    text_col: str | None,
    id_col: str,
    shard_tokens: int = 100_000_000,
    salt: str = DEFAULT_SALT,
    n_tokens_col: str | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Materialize the corpus: table ``corpus`` partitioned by ``shard``
    (ONE file per shard, rows in the deterministic (cum_before, id)
    stream order — byte-stable content across reruns) and table
    ``manifest`` in the same :class:`VersionedParquetStore` root. Each
    table's version swap is individually atomic; the MANIFEST is
    written LAST and is the commit marker — a crash between the two
    writes leaves a new corpus version with no matching manifest, so a
    loader that resolves shards through the manifest (the intended
    read path) never observes the half-written export, and rerunning
    the writer repairs it (both tables re-version). Returns the
    manifest DataFrame as written (read back from the store — no
    persisted deps to release).

    Scale: ``repartition(shard)`` is one shuffle whose partitions are
    shard_tokens-bounded by construction; distinct shards write in
    parallel, and the single writer task per shard is the intended unit
    (the tablestore one-file-per-leaf rule)."""
    from metadata_ingestion_framework_spark.operators.dedup import (
        unpersist_deps,
    )
    from metadata_ingestion_framework_spark.plans.tablestore import (
        VersionedParquetStore,
    )

    assigned = corpus_shard_assignments(
        df, text_col, id_col, shard_tokens=shard_tokens, salt=salt,
        n_tokens_col=n_tokens_col, shards=shards,
    )
    # the assignment feeds BOTH the corpus write and the manifest —
    # persist the (skinny-ish) assignment or the two-stage cumsum runs
    # twice over the corpus (CLAUDE.md self-join rule)
    assigned = assigned.persist()
    store = VersionedParquetStore(spark, root)
    ordered = assigned.repartition(F.col("shard")).sortWithinPartitions(
        "shard", "cum_before", id_col
    )
    # cluster=False: we already clustered AND ordered — the store's own
    # repartition would destroy the deterministic in-file order
    store.write(ordered, "corpus", partition_by=["shard"], cluster=False)
    store.write(corpus_shard_manifest(assigned, id_col), "manifest")
    unpersist_deps(assigned)
    assigned.unpersist()
    return store.read("manifest")


def corpus_epoch_assignments(
    df: DataFrame,
    text_col: str | None,
    id_col: str,
    epoch_col: str,
    shard_tokens: int = 100_000_000,
    salt: str = DEFAULT_SALT,
    n_tokens_col: str | None = None,
    shards: int | None = None,
) -> DataFrame:
    """ONE-SHOT replay of the epoch-append rule (r17, VERDICT r16 item
    2): assign every ``(epoch, doc)`` ingest record to the shard the
    SEQUENTIAL :class:`CorpusShardStore` appends would have produced,
    then keep each id's LATEST epoch row (the vacate-on-re-ingest rule).
    This is the store's headline theorem as a plain DataFrame operator —
    sequential epoch appends over a growing corpus == this one-shot over
    the union under epoch-major order — and what the `corpus_shards_inc`
    oracle and the store pytests value-check against.

    Rule per epoch (identical to the snapshot writer within an epoch):
    md5-rank order (one salt for ALL epochs — relative order within an
    epoch never depends on when it arrived), running pre-sum, ``shard =
    base(epoch) + cum_before div shard_tokens`` where ``base`` is the
    total shard count of all PRIOR epochs (every epoch starts a fresh
    shard — prior shards are immutable modulo vacates). Ids must be
    unique within an epoch; re-ingested ids take their newest epoch's
    assignment and vacate the old one.

    Scale: per-epoch cumsums ride :func:`token_budget_select`'s
    two-stage de-skewed machinery with ``by=[epoch_col]``; the
    base-offset table is one tiny window over #epochs rows, broadcast
    back. Release ``_persisted_deps`` when done."""
    from pyspark.sql import Window

    from metadata_ingestion_framework_spark.functions.sampling import (
        _const_group,
        hash_key60,
        token_budget_select,
    )

    base = df.withColumn("__nhk", -hash_key60([id_col], salt))
    tbs = token_budget_select(
        base,
        text_col,
        id_col,
        "__nhk",
        budget_tokens=1 << 62,
        by=[epoch_col],
        shards=shards,
        n_tokens_col=n_tokens_col,
    )
    # carry_deps through the withColumn (CLAUDE.md rule) — dropping the
    # attribute here would strand the two-stage cumsum's persist
    out = carry_deps(
        tbs.withColumn(
            "__sw",
            F.expr(f"cum_before div {int(shard_tokens)}").cast("int"),
        ),
        tbs,
    )
    sizes = out.groupBy(epoch_col).agg(
        (F.max("__sw") + F.lit(1)).cast("int").alias("__ns")
    )
    # #epochs rows — the constant non-foldable group key keeps the
    # unpartitioned-window warning out of every bench run (r10 nit)
    wb = (
        Window.partitionBy(_const_group(F.col(epoch_col)))
        .orderBy(F.col(epoch_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = sizes.select(
        F.col(epoch_col).alias("__be"),
        F.coalesce(F.sum("__ns").over(wb), F.lit(0)).cast("int").alias("__base"),
    )
    joined = out.join(
        F.broadcast(bases), F.col(epoch_col) == F.col("__be")
    ).withColumn("shard", (F.col("__base") + F.col("__sw")).cast("int"))
    # latest-epoch-wins per id: the sequential store vacates a
    # re-ingested id's old row when its new epoch merges in
    wl = Window.partitionBy(id_col).orderBy(F.col(epoch_col).desc())
    final = (
        joined.withColumn("__rn", F.row_number().over(wl))
        .filter(F.col("__rn") == 1)
        .drop("__nhk", "__sw", "__be", "__base", "__rn")
    )
    return carry_deps(final, out)


class CorpusShardStore(RunLedger):
    """Epoch-incremental sharded corpus writer (r17, VERDICT r16 item
    2): the store-family lifecycle (build / append / vacate / heal)
    applied to the pipeline's LAST MILE, so a growing corpus appends
    NEW shards instead of rewriting the world (``corpus_shards`` /
    :func:`write_corpus_shards` is the snapshot face: any insertion
    shifts every later shard). No reference analogue (the reference
    ends at table writes — Utility.scala's writers; BASELINE.json).

    Layout (every invariant borrowed from the proven stores in
    operators/incremental.py):

    - ``corpus``: full rows + (n_tokens, cum_before, shard), partitioned
      by ``shard``, ONE file per shard in deterministic (cum_before, id)
      order. An append physically writes only the epoch's NEW shards
      plus the old shards a re-ingested id vacates; every other shard
      directory hard-links forward (``write_partition_delta``,
      ``cluster=False`` to keep the byte-stable in-file order).
    - ``members``: the skinny (member_bucket, id, shard) sidecar,
      id-range bucketed (``range_bucket_expr`` — the CLAUDE.md rule:
      id-range buckets on every store table) so the vacate probe reads
      ONLY the batch ids' buckets, never the corpus, and the append
      commits it through the store family's touched-bucket upsert
      (``incremental._upsert_touched``). Vectors-not-bands
      class state: a re-ingested id MUST vacate (shard rows are served
      directly), so the touched set always includes the old shards.
    - ``manifest``: (shard, n_docs, n_tokens, checksum) — recomputed
      for touched shards, carried for the rest; a shard fully vacated
      loses its manifest row AND its directory (retired by vacate).
    - ``epochs``: (epoch, base_shard, n_shards) — the durable base
      offsets. base comes from THIS table, never from surviving corpus
      rows (a fully-vacated trailing shard must not shift later epochs).

    Heal/replay: one run ledger at the root, recorded LAST; every delta
    is a deterministic function of (batch, prior version), so a crash
    between table writes replays idempotently on retry — the
    write-ordering argument of ``write_corpus_shards`` extended to four
    tables. Sequential appends in ascending epoch order reproduce
    :func:`corpus_epoch_assignments` exactly (the pytest theorem).
    """

    CORPUS = "corpus"
    MEMBERS = "members"
    MANIFEST = "manifest"
    EPOCHS = "epochs"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "doc_id",
        text_col: str | None = "text",
        shard_tokens: int = 100_000_000,
        salt: str = DEFAULT_SALT,
        member_bucket_width: int = 8192,
        n_buckets: int = 64,
    ):
        import os

        self.spark = spark
        self.id_col = id_col
        self.text_col = text_col
        self.shard_tokens = shard_tokens
        self.salt = salt
        self.member_bucket_width = member_bucket_width
        self.n_buckets = n_buckets
        self.store = VersionedParquetStore(spark, root)
        self._ledger_path = os.path.join(root, "_runs.json")
        _check_store_config(
            root,
            {
                "kind": "corpus_shards",
                "id_col": id_col,
                # shard boundaries and member buckets are layout — a
                # reopen under different rules would mis-base new epochs
                # and ghost the vacate probe
                "shard_tokens": shard_tokens,
                "salt": salt,
                "member_bucket_width": member_bucket_width,
                "n_buckets": n_buckets,
            },
        )

    def _member_bucket(self, df: DataFrame):
        return range_bucket_expr(
            df, self.id_col, self.member_bucket_width, self.n_buckets
        )

    def _next_base(self, epoch: int) -> int:
        """Base shard for ``epoch`` from the EPOCHS table — never from
        surviving corpus rows (a fully-vacated trailing shard must not
        renumber later epochs). PRIOR epochs only: a crash between the
        epochs write and the ledger record would otherwise shift the
        retry's base by its own half-recorded row. Tiny read (#epochs
        rows)."""
        if not self.store.exists(self.EPOCHS):
            return 0
        row = self.store.read(self.EPOCHS).filter(
            F.col("epoch") < int(epoch)
        ).agg(
            F.max(F.col("base_shard") + F.col("n_shards")).alias("b")
        ).collect()[0]
        return int(row.b or 0)

    def append_epoch(
        self,
        batch: DataFrame,
        epoch: int,
        run_id: str,
        n_tokens_col: str | None = None,
        shards: int | None = None,
    ) -> DataFrame | None:
        """Cut ``batch`` (one epoch; ids unique within it, newer than or
        re-ingesting prior epochs') into NEW shards starting after the
        last recorded epoch, vacate re-ingested ids' old rows, update
        members/manifest/epochs, and return the new manifest. None when
        ``run_id`` already ran. Epochs must arrive in ascending order
        (the sequential==one-shot theorem is stated under epoch-major
        order) — ENFORCED here (r18, ADVICE r17): a repeat or
        out-of-order epoch under a NEW run_id would pass the ledger
        check, reuse the old base from ``_next_base``'s ``epoch <``
        filter, and ``write_partition_delta`` would rewrite those shard
        dirs with only the new batch — silently vanishing the prior
        epoch's non-re-ingested docs while members/manifest still
        reference them. The only legal repeat is the crash replay: the
        same (epoch, run_id) pair re-presenting after a crash between
        the EPOCHS write and the ledger record."""
        from metadata_ingestion_framework_spark.operators.dedup import (
            unpersist_deps,
        )

        if run_id in self.ingested_runs():
            return None
        if self.store.exists(self.EPOCHS):
            # tiny read (#epochs rows — the same table _next_base scans)
            recorded = {
                int(r.epoch): r.run_id
                for r in self.store.read(self.EPOCHS)
                .select("epoch", "run_id").collect()
            }
            if int(epoch) in recorded:
                if recorded[int(epoch)] != str(run_id):
                    raise ValueError(
                        f"epoch {epoch} already recorded by run "
                        f"{recorded[int(epoch)]!r}; re-appending it under "
                        f"{run_id!r} would vacate its docs (epochs are "
                        "append-once — use a new epoch number)"
                    )
                # else: crash replay of this exact run — fall through
            elif recorded and int(epoch) <= max(recorded):
                raise ValueError(
                    f"epoch {epoch} arrives after recorded epoch "
                    f"{max(recorded)}; epochs must ascend (the "
                    "sequential==one-shot theorem is epoch-major)"
                )
        base = self._next_base(epoch)
        assigned = corpus_shard_assignments(
            batch, self.text_col, self.id_col,
            shard_tokens=self.shard_tokens, salt=self.salt,
            n_tokens_col=n_tokens_col, shards=shards,
        )
        if base:
            # carry_deps through the withColumn (CLAUDE.md rule) or the
            # two-stage cumsum's persisted intermediate leaks per epoch
            assigned = carry_deps(
                assigned.withColumn(
                    "shard", (F.col("shard") + F.lit(base)).cast("int")
                ),
                assigned,
            )
        # feeds the corpus delta, members delta, manifest recompute and
        # the n_shards agg — persist once (epoch-bounded, the snapshot
        # writer's own persist class), release before returning
        assigned = assigned.persist()
        try:
            n_shards_row = assigned.agg(
                (F.coalesce(F.max("shard") - F.lit(base) + F.lit(1), F.lit(0)))
                .cast("int").alias("n")
            ).collect()[0]
            n_shards = int(n_shards_row.n)
            new_shards = list(range(base, base + n_shards))

            # vacate probe: ONLY the batch ids' member buckets are read
            # (bounded by the batch), never the corpus scan
            members = assigned.select(
                self._member_bucket(assigned).alias("member_bucket"),
                self.id_col,
                "shard",
            )
            old_pairs = bucket_vals = None
            if self.store.exists(self.MEMBERS):
                bucket_vals = distinct_values(members, "member_bucket")
                old_pairs = (
                    self.store.read_partitions(
                        self.MEMBERS, "member_bucket", bucket_vals, members.schema
                    )
                    .join(
                        F.broadcast(members.select(self.id_col)),
                        self.id_col,
                        "left_semi",
                    )
                    .select(self.id_col, "shard")
                )
            old_shards = (
                sorted(distinct_values(old_pairs, "shard"))
                if old_pairs is not None
                else []
            )
            touched = new_shards + old_shards

            # corpus delta: the epoch's rows + the vacated shards'
            # SURVIVORS, in the deterministic (shard, cum_before, id)
            # in-file order (cluster=False — the snapshot writer's rule)
            delta = assigned
            if old_shards:
                survivors = self.store.read_partitions(
                    self.CORPUS, "shard", old_shards
                ).join(
                    F.broadcast(assigned.select(self.id_col)),
                    self.id_col,
                    "left_anti",
                )
                delta = assigned.unionByName(survivors)
            ordered = delta.repartition(F.col("shard")).sortWithinPartitions(
                "shard", "cum_before", self.id_col
            )
            if self.store.exists(self.CORPUS):
                self.store.write_partition_delta(
                    ordered, self.CORPUS, ["shard"], touched, cluster=False
                )
            else:
                self.store.write(
                    ordered, self.CORPUS, partition_by=["shard"], cluster=False
                )

            # manifest BEFORE members (heal ordering): the vacate probe
            # drives the touched set from MEMBERS, so members must be
            # the last state that moves — a crash after a members write
            # that preceded the manifest would leave the retry unable to
            # see which old shards it had vacated, carrying their stale
            # manifest rows forever. With corpus -> manifest -> members,
            # every retry recomputes the same touched set until members
            # finally flips. Recompute touched shards from the delta
            # (their exact new contents), carry the rest; a fully-
            # vacated shard contributes no row — retired together with
            # its directory.
            recomputed = corpus_shard_manifest(delta, self.id_col)
            if self.store.exists(self.MANIFEST):
                carried = self.store.read(self.MANIFEST).filter(
                    ~F.col("shard").isin(touched)
                )
                manifest = carried.unionByName(recomputed)
            else:
                manifest = recomputed
            self.store.write(manifest, self.MANIFEST)

            # members upsert: batch ids' buckets only (the probe's) — old
            # rows of re-ingested ids vacate, the batch's fresh rows land
            _upsert_touched(
                self.store, self.MEMBERS, members,
                self.id_col, "member_bucket", touched=bucket_vals,
            )

            # epochs row LAST among the tables (base derivation), ledger
            # after everything — a crash anywhere replays idempotently
            # (every delta above is a pure function of batch + the PRIOR
            # version it reads, and rewrites land on the same dirs)
            new_epoch = self.spark.createDataFrame(
                [(int(epoch), int(base), int(n_shards), str(run_id))],
                "epoch int, base_shard int, n_shards int, run_id string",
            )
            if self.store.exists(self.EPOCHS):
                prior = self.store.read(self.EPOCHS).filter(
                    F.col("epoch") != int(epoch)
                )
                self.store.write(prior.unionByName(new_epoch), self.EPOCHS)
            else:
                self.store.write(new_epoch, self.EPOCHS)
            self._record_run(run_id)
            return self.store.read(self.MANIFEST)
        finally:
            unpersist_deps(assigned)
            assigned.unpersist()


def corpus_stream_sink(
    store: "CorpusShardStore",
    n_tokens_col: str | None = None,
    shards: int | None = None,
):
    """foreachBatch streaming face for :class:`CorpusShardStore` (r17)
    — the family convention (every incremental store ships one;
    tests/test_streaming_incremental.py): each micro-batch appends as
    ``epoch = batch_id`` with ``run_id = f"stream-{batch_id}"``.
    Spark's batch ids are strictly ascending (the append_epoch
    contract) and stable across restarts, so a replayed micro-batch
    hits the run ledger and no-ops — exactly-once corpus growth on an
    at-least-once stream. Wire it with
    ``df.writeStream.foreachBatch(corpus_stream_sink(store))``."""

    def sink(bdf: DataFrame, batch_id: int) -> None:
        store.append_epoch(
            bdf,
            int(batch_id),
            f"stream-{batch_id}",
            n_tokens_col=n_tokens_col,
            shards=shards,
        )

    return sink


def verify_corpus(store: "CorpusShardStore") -> DataFrame:
    """Loader-side manifest verification (r17) — the reason the
    manifest exists: recompute every shard's (n_docs, n_tokens,
    checksum) from the corpus table in ONE scan and compare against
    the stored manifest. Returns one row per shard on either side:
    ``(shard, ok, n_docs, n_tokens, manifest_n_docs,
    manifest_n_tokens)`` with ``ok`` false on any count/checksum
    mismatch, a shard missing its manifest row, or a manifest row
    whose shard directory is gone. A loader runs this before trusting
    a corpus version; rerunning the writer repairs any mismatch (both
    tables re-version)."""
    recomputed = corpus_shard_manifest(
        store.store.read(store.CORPUS), store.id_col
    )
    manifest = store.store.read(store.MANIFEST).select(
        "shard",
        F.col("n_docs").alias("manifest_n_docs"),
        F.col("n_tokens").alias("manifest_n_tokens"),
        F.col("checksum").alias("manifest_checksum"),
    )
    joined = recomputed.join(manifest, "shard", "full_outer")
    ok = (
        F.col("n_docs").eqNullSafe(F.col("manifest_n_docs"))
        & F.col("n_tokens").eqNullSafe(F.col("manifest_n_tokens"))
        & F.col("checksum").eqNullSafe(F.col("manifest_checksum"))
    )
    return joined.select(
        "shard",
        ok.alias("ok"),
        "n_docs",
        "n_tokens",
        "manifest_n_docs",
        "manifest_n_tokens",
    )


def retire_epochs_below(store: "CorpusShardStore", epoch: int) -> bool:
    """Retention for the corpus store (r17) — completes the family
    lifecycle (build / append / vacate / verify / stream / retire):
    drop every shard belonging to epochs BELOW ``epoch``. Epoch shard
    ranges come from the EPOCHS table, so the corpus drop is pure
    ``delete_partitions`` — whole shard directories are simply not
    carried, ZERO corpus bytes rewritten (the id-range-retention
    property, achieved here by epoch-contiguous shard numbering instead
    of id buckets, so it works for ANY id type). The manifest filters
    its retired rows (tiny table); the members sidecar rewrites
    filtered (skinny — ids + 2 ints; at 100 TB this is the ~0.1%
    column, and monotone ingest ids can use the sharper
    ``retire_ids_below``-style bucket drop instead). EPOCHS rows are
    KEPT — bases must never renumber, or every later epoch's shards
    would be misattributed. Returns True when anything dropped.

    Semantics caveat shared with every retention: a retired doc's
    shard is gone from the current version (time travel until vacuum),
    and re-ingesting its id later assigns it to a NEW epoch's shard —
    the members vacate probe no longer sees it, which is correct
    (there is nothing left to vacate)."""
    if not (
        store.store.exists(store.EPOCHS)
        and store.store.exists(store.CORPUS)
        and store.store.exists(store.MANIFEST)
        and store.store.exists(store.MEMBERS)
    ):
        # partially-built store (crash mid-first-append): nothing to
        # retire — the next append's replay heals the tables first
        return False
    cutoff_row = (
        store.store.read(store.EPOCHS)
        .filter(F.col("epoch") < int(epoch))
        .agg(F.max(F.col("base_shard") + F.col("n_shards")).alias("b"))
        .collect()[0]
    )
    cutoff_shard = int(cutoff_row.b or 0)
    if cutoff_shard == 0:
        return False
    live = [
        int(v)
        for v in store.store.partition_values(store.CORPUS, "shard")
        if v is not None and int(v) < cutoff_shard
    ]
    if live:
        store.store.delete_partitions(store.CORPUS, ["shard"], live)
    store.store.write(
        store.store.read(store.MANIFEST).filter(
            F.col("shard") >= cutoff_shard
        ),
        store.MANIFEST,
    )
    store.store.write(
        store.store.read(store.MEMBERS).filter(
            F.col("shard") >= cutoff_shard
        ),
        store.MEMBERS,
        partition_by=["member_bucket"],
    )
    return bool(live)


def packed_sequence_rows(
    df: DataFrame,
    text_col: str | None,
    id_col: str,
    budget_tokens: int = 2048,
    shards: int = 32,
    n_tokens_col: str | None = None,
    token_ids_col: str | None = None,
) -> DataFrame:
    """One row per PACKED TRAINING SEQUENCE (r18, VERDICT r17 item 4):
    consume :func:`functions.text.pack_bfd`'s manifest — which nothing
    materialized until now — by concatenating each (shard, bin)'s
    documents in the packer's own insertion order (n_tokens DESC, id
    ASC) and emitting the attention-boundary layout a loader needs:

    - ``doc_ids``: the bin's docs in packed order;
    - ``offsets``: EXCLUSIVE running starts (offsets[0] = 0,
      offsets[i] = sum of the first i capped lengths) — the attention
      mask boundaries of Krell et al.'s packed formulation;
    - ``n_tokens``: the sequence's total (== the would-be next offset),
      <= ``budget_tokens`` by the packer's invariant;
    - ``token_ids`` (when ``token_ids_col`` is given, e.g. the BPE
      encoder's output): the docs' ids flattened in the same order,
      each doc TRUNCATED to its capped length (the packer's
      least(n_tokens, budget) rule), so size(token_ids) == n_tokens.
      A member doc whose ``token_ids_col`` is NULL propagates a NULL
      sequence ``token_ids`` (flatten over a NULL element) while
      doc_ids/offsets stay populated — :func:`verify_packed_corpus`
      FLAGS such a bin (NULL invariants coalesce to False), so feed the
      writer only encoded docs or repair upstream; the writer does not
      silently drop them (dropping would desync the pack manifest).

    Scale shape: pack_bfd's one groupBy + Arrow kernel, an id join to
    re-attach payloads (skinny manifest side), then ONE further
    (shard, bin) groupBy whose state is budget-bounded by construction
    (a bin holds at most ``budget_tokens`` tokens) — the per-bin
    sort_array/fold HOFs run over loader-sized arrays, never the
    corpus. No driver collects."""
    from metadata_ingestion_framework_spark.functions.text import pack_bfd

    cap = int(budget_tokens)
    manifest = pack_bfd(
        df, text_col, id_col, cap, shards, n_tokens_col
    )
    if token_ids_col is not None:
        manifest = manifest.join(
            df.select(id_col, token_ids_col), id_col
        )
    length = F.least(F.col("n_tokens"), F.lit(cap)).cast("long")
    fields = [
        (-F.col("n_tokens")).alias("nt"),
        F.col(id_col).alias("i"),
        length.alias("c"),
    ]
    if token_ids_col is not None:
        fields.append(F.slice(F.col(token_ids_col), 1, length).alias("ids"))
    grouped = manifest.groupBy("shard", "bin").agg(
        F.sort_array(F.collect_list(F.struct(*fields))).alias("docs")
    )
    lens = F.transform(F.col("docs"), lambda x: x["c"])
    cols = [
        "shard",
        "bin",
        F.size("docs").cast("long").alias("n_docs"),
        F.aggregate(
            lens, F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("n_tokens"),
        F.transform(F.col("docs"), lambda x: x["i"]).alias("doc_ids"),
        F.aggregate(
            lens,
            F.struct(
                F.array().cast("array<long>").alias("offs"),
                F.lit(0).cast("long").alias("total"),
            ),
            lambda acc, v: F.struct(
                F.concat(acc["offs"], F.array(acc["total"])).alias("offs"),
                (acc["total"] + v).alias("total"),
            ),
            lambda acc: acc["offs"],
        ).alias("offsets"),
    ]
    if token_ids_col is not None:
        cols.append(
            F.flatten(
                F.transform(F.col("docs"), lambda x: x["ids"])
            ).alias("token_ids")
        )
    return grouped.select(*cols)


def _packed_checksum() -> "F.Column":
    """The packed face's shard checksum: md5 over the lexicographically
    sorted ``bin:doc|doc|...`` strings. ONE definition shared by the
    writer's manifest and the loader verify (r18 review: a drifted copy
    would either flag every export or — worse — pass a compensating
    bug)."""
    bin_key = F.concat_ws(
        ":",
        F.col("bin").cast("string"),
        F.array_join(
            F.transform(F.col("doc_ids"), lambda x: x.cast("string")), "|"
        ),
    )
    return F.md5(F.concat_ws(",", F.sort_array(F.collect_list(bin_key))))


def packed_shard_manifest(packed: DataFrame) -> DataFrame:
    """``(shard, n_bins, n_docs, n_tokens, checksum)`` for the packed
    face — :func:`corpus_shard_manifest`'s loader contract applied to
    sequences: checksum = md5 over the shard's lexicographically sorted
    ``bin:doc|doc|...`` strings (bin-bounded state, engine-exact)."""
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        _packed_checksum().alias("checksum"),
    )


def write_packed_shards(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    text_col: str | None,
    id_col: str,
    budget_tokens: int = 2048,
    shards: int = 32,
    n_tokens_col: str | None = None,
    token_ids_col: str | None = None,
) -> DataFrame:
    """Materialize packed training sequences: table ``packed``
    partitioned by shard (one file per shard, rows in (shard, bin)
    order — byte-stable across reruns) + table ``manifest`` in the same
    :class:`VersionedParquetStore` root, manifest LAST as the commit
    marker (:func:`write_corpus_shards`'s crash rule: a loader that
    resolves through the manifest never observes a half-written
    export, and rerunning repairs). Returns the manifest as written."""
    from metadata_ingestion_framework_spark.plans.tablestore import (
        VersionedParquetStore,
    )

    packed = packed_sequence_rows(
        df, text_col, id_col, budget_tokens, shards,
        n_tokens_col, token_ids_col,
    ).persist()  # feeds the packed write AND the manifest agg
    store = VersionedParquetStore(spark, root)
    ordered = packed.repartition(F.col("shard")).sortWithinPartitions(
        "shard", "bin"
    )
    store.write(ordered, "packed", partition_by=["shard"], cluster=False)
    store.write(packed_shard_manifest(packed), "manifest")
    packed.unpersist()
    return store.read("manifest")


def verify_packed_corpus(
    spark: SparkSession, root: str, budget_tokens: int
) -> DataFrame:
    """Loader-side verification of a packed export (r18 — extends the
    :func:`verify_corpus` contract to the packed form): recompute every
    shard's manifest row from the packed table in one scan AND check
    each sequence's internal boundary arithmetic —

    - size(offsets) == n_docs == size(doc_ids), offsets[0] == 0;
    - offsets strictly increasing (every doc contributes >= 1 token);
    - n_tokens > last offset (the last doc is non-empty) and
      n_tokens <= budget (the packer's capacity invariant);
    - when token ids were materialized, size(token_ids) == n_tokens.

    One row per shard: ``(shard, ok, n_bins, n_docs, n_tokens,
    manifest_n_bins, manifest_n_docs, manifest_n_tokens)`` — ``ok``
    false on any manifest mismatch, missing side, or a bin whose
    boundary arithmetic is broken."""
    from metadata_ingestion_framework_spark.plans.tablestore import (
        VersionedParquetStore,
    )

    store = VersionedParquetStore(spark, root)
    packed = store.read("packed")
    offs = F.col("offsets")
    n = F.size(offs)
    increasing = F.forall(
        F.zip_with(
            F.slice(offs, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(offs, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: b > a,
        ),
        lambda x: x,
    )
    bin_ok = (
        (n.cast("long") == F.col("n_docs"))
        & (F.size("doc_ids").cast("long") == F.col("n_docs"))
        & ((F.col("n_docs") == 0) | (F.element_at(offs, 1) == 0))
        & increasing
        & (
            (F.col("n_docs") == 0)
            | (F.col("n_tokens") > F.element_at(offs, -1))
        )
        & (F.col("n_tokens") <= F.lit(int(budget_tokens)))
    )
    if "token_ids" in packed.columns:
        bin_ok = bin_ok & (
            F.size("token_ids").cast("long") == F.col("n_tokens")
        )
    # COALESCE to False before the AND-reduce (r18 review, live-verified
    # semantics): a NULL offsets/token_ids column makes every comparison
    # NULL, and bool_and SKIPS NULL rows — an unconsumable bin would
    # otherwise report ok=true. NULL __bin_ok IS a broken bin.
    recomputed = (
        packed.withColumn("__bin_ok", F.coalesce(bin_ok, F.lit(False)))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bins"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.bool_and("__bin_ok").alias("bins_ok"),
            _packed_checksum().alias("checksum"),
        )
    )
    manifest = store.read("manifest").select(
        "shard",
        F.col("n_bins").alias("manifest_n_bins"),
        F.col("n_docs").alias("manifest_n_docs"),
        F.col("n_tokens").alias("manifest_n_tokens"),
        F.col("checksum").alias("manifest_checksum"),
    )
    joined = recomputed.join(manifest, "shard", "full_outer")
    ok = (
        F.col("n_bins").eqNullSafe(F.col("manifest_n_bins"))
        & F.col("n_docs").eqNullSafe(F.col("manifest_n_docs"))
        & F.col("n_tokens").eqNullSafe(F.col("manifest_n_tokens"))
        & F.col("checksum").eqNullSafe(F.col("manifest_checksum"))
        & F.coalesce(F.col("bins_ok"), F.lit(False))
    )
    return joined.select(
        "shard",
        ok.alias("ok"),
        "n_bins",
        "n_docs",
        "n_tokens",
        "manifest_n_bins",
        "manifest_n_docs",
        "manifest_n_tokens",
    )
