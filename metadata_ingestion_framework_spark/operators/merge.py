"""MERGE / SCD engine (reference parity: Utility.scala:394-707,731-1045).

The reference delegates upserts to Delta Lake's ``DeltaTable.merge`` with
ordered whenMatched/whenNotMatched clauses. delta-spark is not available in
this environment, so the engine implements MERGE semantics Spark-first, as a
single declarative plan:

    target FULL OUTER JOIN updates ON <condition>
      -> ordered clause resolution via nested CASE (first matching wins,
         mirroring Delta's clause order semantics, Utility.scala:438-457)
      -> one select producing the post-merge state

This keeps the whole merge inside Catalyst (one shuffle on the join keys,
AQE-coalesced), instead of the driver orchestrating row-level writes. On a
cluster with Delta available the same clause lists map 1:1 onto
``DeltaTable.merge`` — see ``delta_merge_builder`` at the bottom.

Scale posture (100 TB):
- the update side is deduped (one row per key) before the join;
- manual partition pruning (Utility.scala:339-348) is reproduced by
  splitting the target into affected/unaffected partitions with the
  IN-list filter (values collected from the raw batch, before the dedup,
  in one shuffle-free job) and joining ONLY the affected slice — the
  unaffected slice is unioned back with no shuffle. The result is a ``MergeResult``
  that also carries the affected slice alone and the touched partition
  values, so ``VersionedParquetStore.write`` rewrites only the touched
  partitions and hard-links the rest from the version the merge read
  (Delta's touched-files-only rewrite); any other consumer sees the full
  state;
- the join itself is a plain equi/theta join Catalyst can plan (sort-merge
  w/ AQE skew splitting; broadcast when the update batch is small);
- a small batch needs no join at all: an SCD1 merge with the default
  clauses on one ``=`` key, whose batch Spark's optimizer estimates within
  ``autoBroadcastJoinThreshold``, is "delete the batch's keys, insert its
  deduped rows" (``_delete_insert``). The batch is collected once with
  ``toArrow``; its touched partitions and key set come from that table,
  and it re-enters as a one-partition local relation. A bulk batch then
  costs the collect, the store's clustering exchange and the write: 3
  Spark jobs, not 5. The driver holds the batch, bounded by the same
  threshold that bounds a broadcast (10 MB by default).

MERGE precondition (same as Delta): each target row matches at most one
update row — guaranteed by the pre-merge dedup on the join keys.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from metadata_ingestion_framework_spark.operators.joins import (
    _parse_key,
    build_inner_join_condition,
    collect_partition_values,
    in_list,
    in_list_type,
    partition_in_filter,
)

_T_MARK = "__t_present"
_U_MARK = "__u_present"
_INS_MARK = "__as_insert"


@dataclass
class MergeClause:
    """One ordered MERGE clause (mirrors MergeBuilderLogicSCD1, BaseWritter.scala:21-29).

    ``when``: 'matched' | 'not_matched'.
    ``condition``: optional SQL over ``updates.`` / ``target.`` aliases.
    ``action``: 'update' | 'delete' (matched) or 'insert' (not_matched).
    ``set``: column -> SQL expression map; None means updateAll/insertAll.
    """

    when: str
    action: str
    condition: str | None = None
    set: dict[str, str] | None = field(default=None)


DEFAULT_SCD1_CLAUSES = [
    MergeClause(when="matched", action="update"),
    MergeClause(when="not_matched", action="insert"),
]


class MergeResult(ClassicDataFrame):
    """The full post-merge state of a partition-pruned MERGE, plus what a
    store needs to commit only the partitions the merge touched:

    - ``base``: the target frame the merge was given;
    - ``partition_col``: the pruning column;
    - ``touched``: the raw update batch's distinct ``partition_col``
      values (None for the NULL partition), collected before the dedup
      window — a superset of the partitions the merged update rows land
      in; the affected partitions;
    - ``changed``: the merged affected slice alone, before the untouched
      slice is unioned back.

    Every rewritten row should land in a ``touched`` partition, and every
    other partition of ``base`` is unchanged, so a store holding ``base``
    can keep those partitions as they are on disk. Any transformation
    (``filter``, ``select``, ...) returns a plain DataFrame and so drops
    this carry: the untouched partitions on disk are then no longer known
    to equal the result.
    """

    base: DataFrame
    partition_col: str
    touched: list
    changed: DataFrame

    @classmethod
    def of(
        cls,
        full: DataFrame,
        base: DataFrame,
        partition_col: str,
        touched: list,
        changed: DataFrame,
    ) -> MergeResult:
        # PySpark's DataFrame.__new__ runs __init__(jdf, session) itself, so
        # the carry is attached here rather than in an __init__ override.
        out = cls(full._jdf, full.sparkSession)
        out.base, out.partition_col = base, partition_col
        out.touched, out.changed = touched, changed
        return out


def _clause_cond(c: MergeClause) -> Column:
    return F.expr(c.condition) if c.condition else F.lit(True)


def _evolve_schemas(
    target: DataFrame, updates: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Symmetric null-fill so both merge sides share one schema — the Delta
    ``withSchemaEvolution`` analog (VERDICT r8 item 6): columns the update
    batch adds are appended to the target null-typed (existing history
    reads NULL for them), and target columns absent from the updates are
    null-filled on the update side (insertAll inserts NULL there). Types
    come from the side that HAS the column, so the evolved schema is
    exact, not string-coerced."""
    t_missing = [c for c in updates.columns if c not in target.columns]
    u_missing = [c for c in target.columns if c not in updates.columns]
    if t_missing:
        target = target.select(
            "*",
            *[
                F.lit(None).cast(updates.schema[c].dataType).alias(c)
                for c in t_missing
            ],
        )
    if u_missing:
        updates = updates.select(
            "*",
            *[
                F.lit(None).cast(target.schema[c].dataType).alias(c)
                for c in u_missing
            ],
        )
    return target, updates


def merge_apply(
    target: DataFrame,
    updates: DataFrame,
    join_keys: list[str],
    clauses: list[MergeClause] | None = None,
    extra_join_condition: str | None = None,
    partition_col: str | None = None,
    allow_schema_evolution: bool = False,
    insert_on_match: str | None = None,
    batch: DataFrame | None = None,
) -> DataFrame:
    """Pure MERGE: return the post-merge state of ``target``.

    Ordered clause resolution: for a matched (or not-matched) row the FIRST
    clause whose condition holds wins — Delta semantics (Utility.scala:438-457).
    Unmatched-by-any-clause rows: matched targets stay as-is, unmatched
    updates are dropped (no implicit insert), unmatched targets stay.

    ``allow_schema_evolution`` (r9, VERDICT r8 item 6): update-side columns
    absent from the target are appended to the output schema, null-filled
    for existing history — Delta's ``withSchemaEvolution``. Off (default),
    extra update-side columns are silently dropped, exactly like Delta's
    updateAll/insertAll without autoMerge.

    ``insert_on_match``: SQL over the same aliases. A matched pair for
    which it holds also emits the update row as an insert (insertAll),
    through one ``explode`` after the join: SCD2's expire-and-insert.

    With ``partition_col`` and a prunable update batch the result is a
    ``MergeResult`` (same rows, plus the touched partitions). The touched
    partitions are collected from ``batch`` (default ``updates``): the SCD
    merges pass the batch before its dedup window, so the collect is one
    scan with no shuffle and still covers every partition a key's rows
    fall in.
    """
    clauses = clauses if clauses is not None else DEFAULT_SCD1_CLAUSES
    base = target
    # Columns the update batch NATIVELY carries, before any evolution
    # null-fill. Delta's updateAll under withSchemaEvolution leaves target
    # columns absent from the source UNCHANGED (only insertAll writes NULL
    # there) — so updateAll must resolve those to target.<col>, not to the
    # null-filled updates.<col> (which would silently erase matched rows).
    native_update_cols = set(updates.columns)
    if allow_schema_evolution:
        target, updates = _evolve_schemas(target, updates)
    out_cols = target.columns

    untouched = None
    touched = (
        collect_partition_values(updates if batch is None else batch, partition_col)
        if partition_col
        else None
    )
    if touched is not None:
        # Null / not-in-list partitions can never match the update batch:
        # keep them verbatim (no join) — the join only sees the affected
        # partition slice. NULL-safe: coalesce, don't drop.
        affected = F.coalesce(
            partition_in_filter(touched, partition_col, "target"), F.lit(False)
        )
        t = target.alias("target")
        untouched = t.filter(~affected).select("target.*")
        target = t.filter(affected).select("target.*")

    t = target.withColumn(_T_MARK, F.lit(True)).alias("target")
    u = updates.withColumn(_U_MARK, F.lit(True)).alias("updates")
    cond = build_inner_join_condition(
        join_keys, update_alias="updates", target_alias="target",
        extra_join_condition=extra_join_condition,
    )
    joined = t.join(u, cond, "full_outer")

    matched = F.col(f"target.{_T_MARK}").isNotNull() & F.col(f"updates.{_U_MARK}").isNotNull()
    target_only = F.col(f"target.{_T_MARK}").isNotNull() & F.col(f"updates.{_U_MARK}").isNull()
    update_only = F.col(f"target.{_T_MARK}").isNull() & F.col(f"updates.{_U_MARK}").isNotNull()

    # Ordered clause applicability: clause i fires iff its side-predicate and
    # condition hold and no earlier same-side clause fired.
    applies: list[Column] = []
    for c in clauses:
        side = matched if c.when == "matched" else update_only
        this = side & _clause_cond(c)
        for prev, pc in zip(applies, clauses):
            if pc.when == c.when:
                this = this & ~prev
        applies.append(this)

    def value_of(col_name: str) -> Column:
        """Resolve output column via first-winning clause, else keep target."""
        # build in reverse so earlier clauses take precedence in the when-chain
        chain = F.col(f"target.{col_name}")  # default for matched-no-clause
        for c, ap in reversed(list(zip(clauses, applies))):
            if c.action == "update":
                # set=None -> updateAll; partial set leaves other cols as
                # target. Under schema evolution, updateAll only touches
                # columns the update batch natively has — target-only
                # columns stay (Delta withSchemaEvolution parity). WITHOUT
                # evolution the fallback must not fire: Delta rejects an
                # updateAll whose source lacks target columns, and the
                # unresolved `updates.<col>` reference keeps that loud
                # analysis error instead of silently half-updating.
                if c.set is None:
                    v = (
                        F.col(f"updates.{col_name}")
                        if (
                            col_name in native_update_cols
                            or not allow_schema_evolution
                        )
                        else F.col(f"target.{col_name}")
                    )
                elif col_name in c.set:
                    v = F.expr(c.set[col_name])
                else:
                    v = F.col(f"target.{col_name}")
            elif c.action == "insert":
                # set=None -> insertAll; partial set leaves other cols NULL
                if c.set is None:
                    v = F.col(f"updates.{col_name}")
                elif col_name in c.set:
                    v = F.expr(c.set[col_name])
                else:
                    v = F.lit(None)
            else:  # delete — value irrelevant, row filtered out
                continue
            chain = F.when(ap, v).otherwise(chain)
        return chain

    deleted = F.lit(False)
    inserted = F.lit(False)
    for c, ap in zip(clauses, applies):
        if c.action == "delete":
            deleted = deleted | ap
        if c.action == "insert":
            inserted = inserted | ap

    keep = (target_only | matched | inserted) & ~deleted
    values = [value_of(c) for c in out_cols]
    if insert_on_match is not None:
        as_insert = F.col(_INS_MARK)
        twice = F.when(matched & F.expr(insert_on_match), F.array(F.lit(False), F.lit(True)))
        joined = joined.withColumn(_INS_MARK, F.explode(twice.otherwise(F.array(F.lit(False)))))
        keep = keep | as_insert
        values = [F.when(as_insert, F.col(f"updates.{c}")).otherwise(v)
                  for c, v in zip(out_cols, values)]
    result = joined.filter(keep).select(*[v.alias(c) for c, v in zip(out_cols, values)])
    if untouched is None:
        return result
    return MergeResult.of(
        untouched.unionByName(result), base, partition_col, touched, result
    )


def dedup_window(df: DataFrame, keys: list[str], order_by: list[str], desc: bool = False) -> DataFrame:
    """Keep one row per key: first by ``order_by`` (ASCENDING by default).

    Parity: Utility.scala:406-413 — the reference orders ascending (earliest
    updated_at wins); replicated exactly, with an opt-in ``desc`` for the
    usual latest-wins behavior (SURVEY.md §7.3b).
    """
    cols = [F.col(c).desc() if desc else F.col(c).asc() for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def _dedup_updates(
    updates: DataFrame, join_keys: list[str], updated_at_col: str | None
) -> DataFrame:
    """Pre-merge dedup: one row per key, first by updated_at ASC.

    Parity: Utility.scala:406-413 — the reference orders ASCENDING, so the
    earliest row per key wins; replicated, not 'fixed' (SURVEY.md §7.3b).
    """
    keys = [_parse_key(k)[0] for k in join_keys]
    order = [updated_at_col] if updated_at_col and updated_at_col in updates.columns else []
    return dedup_window(updates, keys, order or keys)


def _delete_insert(
    target: DataFrame,
    updates: DataFrame,
    join_key: str,
    updated_at_col: str | None,
    partition_col: str | None,
) -> DataFrame | None:
    """SCD1 with the default clauses as "delete the batch's keys, insert
    its rows", from one collect of the batch; None (nothing run) when the
    batch does not qualify. Under unconditional updateAll + insertAll a
    matched and an inserted key both become the deduped update row, so no
    per-key match result is needed, and so no join.

    It qualifies when ``join_key`` is one ``=`` key of an int or a string
    type on both sides, the target's columns are all in the batch, Arrow
    can carry the batch's schema, and Spark's optimizer estimate of the
    batch is within the session's ``autoBroadcastJoinThreshold`` (-1 turns
    the plan off; a source with no size estimate, such as an RDD, reports
    the largest size). The batch is collected once with ``toArrow``; the
    touched partitions and the non-NULL key set come from that table, and
    the table re-enters as a one-partition local relation, whose dedup
    window needs no exchange. A NULL key never matches: target rows with a
    NULL key stay and the deduped NULL-key row is inserted, as in the join.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    ukey, sym, tkey = _parse_key(join_key)
    if sym != "=" or ukey not in updates.columns or tkey not in target.columns:
        return None
    kind = in_list_type(updates.schema[ukey].dataType)
    if kind is None or kind is not in_list_type(target.schema[tkey].dataType):
        return None
    if not set(target.columns) <= set(updates.columns):
        return None
    spark = updates.sparkSession
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if limit < 0 or updates._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() > limit:
        return None
    try:
        to_arrow_schema(updates.schema)
    except Exception:
        return None

    import pyarrow.compute as pc

    table = updates.toArrow()
    local = spark.createDataFrame(table, schema=updates.schema).coalesce(1)
    rows = _dedup_updates(local, [join_key], updated_at_col).select(*target.columns)
    keys = pc.unique(table.column(ukey).drop_null()).to_pylist()
    kept = target.filter(~F.coalesce(in_list(tkey, keys), F.lit(False)))
    touched = (
        collect_partition_values(updates, partition_col, table=table)
        if partition_col
        else None
    )
    if touched is None:
        return kept.unionByName(rows)
    affected = F.coalesce(partition_in_filter(touched, partition_col, None), F.lit(False))
    changed = kept.filter(affected).unionByName(rows)
    full = target.filter(~affected).unionByName(changed)
    return MergeResult.of(full, target, partition_col, touched, changed)


def scd1_merge(
    target: DataFrame | None,
    updates: DataFrame,
    join_keys: list[str],
    updated_at_col: str | None = None,
    clauses: list[MergeClause] | None = None,
    extra_join_condition: str | None = None,
    partition_col: str | None = None,
    grouping_key_col: str = "grouping_jk",
    allow_schema_evolution: bool = False,
) -> DataFrame:
    """SCD Type 1 (upsert-in-place). Returns the new table state.

    Parity: Utility.scala:394-479 (`writeSCD1`): dedup updates -> bootstrap
    if target missing -> MERGE with config-driven clauses (default
    updateAll/insertAll). A ``grouping_jk`` column, when present on both
    sides, is appended to the join keys (Utility.scala:417-421) — it is a
    bounded hash bucket that tightens the shuffle key and prunes skew.

    A merge with the default clauses on one key whose batch Spark
    estimates small enough to broadcast takes ``_delete_insert``, which
    gives the same rows and touched partitions from one collect of the
    batch and no join; every other merge joins (``merge_apply``).
    """
    if target is None:
        return _dedup_updates(updates, join_keys, updated_at_col)
    keys = list(join_keys)
    if grouping_key_col in updates.columns and grouping_key_col in target.columns:
        keys.append(grouping_key_col)
    if len(keys) == 1 and clauses is None and not (extra_join_condition or allow_schema_evolution):
        out = _delete_insert(target, updates, keys[0], updated_at_col, partition_col)
        if out is not None:
            return out
    return merge_apply(
        target, _dedup_updates(updates, join_keys, updated_at_col), keys, clauses,
        extra_join_condition=extra_join_condition, partition_col=partition_col,
        allow_schema_evolution=allow_schema_evolution, batch=updates,
    )


def scd2_merge(
    target: DataFrame | None,
    updates: DataFrame,
    join_keys: list[str],
    match_condition: str,
    updated_at_col: str | None = None,
    current_flag_col: str = "current_flag",
    expiry_col: str = "expiry_at",
    effective_col: str | None = None,
    soft_delete: bool = True,
    partition_col: str | None = None,
    allow_schema_evolution: bool = False,
) -> DataFrame:
    """SCD Type 2 (versioned history in one table). Returns the new state.

    Parity: Utility.scala:493-608 (`writeSCD2`) as one ordered MERGE over
    one full outer join: matched & ``match_condition`` (tracked attributes
    changed) -> expire (current_flag=false, expiry_at=updates.<effective>)
    and, through ``insert_on_match``, insert the update as the new current
    row; matched & row_active=false -> deleted_flag=true (soft delete,
    Utility.scala:574-581); not matched -> insert. The reference's J3
    pre-join and J6 NULL-keyed staged union (Utility.scala:283-323) exist
    only because a Delta clause cannot both expire and insert.

    ``match_condition`` is SQL over ``target.``/``updates.`` aliases, e.g.
    ``"target.current_flag = true AND target.place <> updates.place"``.
    ``partition_col`` pruning assumes a key never changes partition: an
    update whose key moved is inserted once, and its old version stays
    current.
    """
    u = _dedup_updates(updates, join_keys, updated_at_col)
    if target is None:
        return u
    if allow_schema_evolution:
        # evolve BEFORE the clause lists are built: they enumerate
        # target.columns, so the new column must already be on the target
        # for expire (keeps NULL history) and insert (takes the update's
        # value) to cover it
        target, u = _evolve_schemas(target, u)

    eff = effective_col or updated_at_col
    expire_set = {c: f"target.{c}" for c in target.columns}
    expire_set[current_flag_col] = "false"
    if eff is not None:
        expire_set[expiry_col] = f"updates.{eff}"

    clauses = [
        MergeClause(when="matched", action="update", condition=match_condition,
                    set=expire_set),
        MergeClause(when="not_matched", action="insert"),
    ]
    if soft_delete and "row_active" in u.columns:
        # Clause ORDER parity (Utility.scala:556-581): the reference registers
        # whenMatched(matchCondition).updateExpr (expire) FIRST, then
        # whenMatched(row_active=false) (soft delete). Keeping that order means
        # a delete whose tracked attributes also changed EXPIRES the old
        # current row (first-winning clause) instead of leaving two current
        # rows per key.
        clauses.insert(1, MergeClause(
            when="matched", action="update", condition="updates.row_active = false",
            set={**{c: f"target.{c}" for c in target.columns}, "deleted_flag": "true"},
        ))
    return merge_apply(
        target, u, join_keys, clauses,
        partition_col=partition_col, insert_on_match=match_condition,
        batch=updates,
    )


def scd4_merge(
    target: DataFrame | None,
    history: DataFrame | None,
    updates: DataFrame,
    join_keys: list[str],
    updated_at_col: str | None = None,
    partition_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """SCD Type 4 (current table + separate history table).

    Returns (new_current, new_history). Parity: Utility.scala:621-707:
      1. J4 history capture: current-target pre-images of rows about to be
         overwritten by active updates, stamped ``history_created_at``;
      2. SCD1 on the current table (soft-delete on row_active=false,
         updateAll on active, insertAll on new — Utility.scala:678-687).
    """
    u = _dedup_updates(updates, join_keys, updated_at_col)
    if target is None:
        return u, history if history is not None else u.limit(0)

    cond = build_inner_join_condition(join_keys, "updates", "target")
    active = F.expr("updates.row_active = true") if "row_active" in u.columns else F.lit(True)
    pre_images = (
        target.alias("target")
        .join(u.alias("updates"), cond & active, "inner")
        .select(
            "target.*",
            (F.col(f"updates.{updated_at_col}") if updated_at_col else F.current_timestamp())
            .alias("history_created_at"),
        )
    )
    new_history = pre_images if history is None else history.unionByName(pre_images, allowMissingColumns=True)

    if "row_active" in u.columns:
        clauses = [
            MergeClause(when="matched", action="update",
                        condition="updates.row_active = false",
                        set={**{c: f"target.{c}" for c in target.columns}, "deleted_flag": "true"}),
            MergeClause(when="matched", action="update", condition="updates.row_active = true"),
            MergeClause(when="not_matched", action="insert"),
        ]
    else:
        clauses = None
    new_current = merge_apply(
        target, u, join_keys, clauses, partition_col=partition_col, batch=updates
    )
    return new_current, new_history


def delta_merge_builder(spark, target_table: str, updates: DataFrame,
                        join_keys: list[str], clauses: list[MergeClause]):
    """Map the same clause list onto DeltaTable.merge when delta-spark exists.

    Kept import-gated: this container has no delta-spark; on a Delta-enabled
    cluster this is the preferred physical path (file-level rewrite with DPP).
    """
    try:
        from delta.tables import DeltaTable  # type: ignore
    except ImportError as e:  # pragma: no cover - env without delta
        raise NotImplementedError("delta-spark not installed; use merge_apply") from e
    cond = " AND ".join(
        f"updates.{k} = target.{k}" if not any(op in k for op in "<>!=") else k
        for k in join_keys
    )
    b = (
        DeltaTable.forName(spark, target_table)
        .alias("target")
        .merge(updates.alias("updates"), cond)
    )
    for c in clauses:
        if c.when == "matched" and c.action == "update":
            b = b.whenMatchedUpdate(condition=c.condition, set=c.set) if c.set else \
                b.whenMatchedUpdateAll(condition=c.condition)
        elif c.when == "matched" and c.action == "delete":
            b = b.whenMatchedDelete(condition=c.condition)
        elif c.when == "not_matched":
            b = b.whenNotMatchedInsert(condition=c.condition, values=c.set) if c.set else \
                b.whenNotMatchedInsertAll(condition=c.condition)
    return b
