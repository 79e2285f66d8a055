"""Versioned parquet table store — the engine's Delta-table stand-in.

The reference lands every durable dataset in Delta (SURVEY.md §1.1); this
environment has no delta-spark, and a plain ``mode("overwrite")`` parquet
write cannot rewrite a path that the plan is simultaneously reading (the
self-overwrite hazard every join-based MERGE hits). The store gives each
table snapshot isolation the same way Delta does — immutable version
directories plus an atomically-replaced pointer:

    <root>/<table>/v=000001/…parquet
    <root>/<table>/_CURRENT   (text file: "1")

Readers resolve ``_CURRENT`` at plan-build time and scan an immutable dir;
writers write ``v=N+1`` fully, then swap the pointer (rename = atomic on a
POSIX fs; on object stores use a conditional put). Old versions allow time
travel and are pruned with ``vacuum``.

Every data file the store writes is parquet compressed with zstd
(``PARQUET_CODEC``). Delta writes Spark's default, snappy, which does no
entropy coding: the SHA-256 hex columns the PII step adds stay at their raw
size under it, and zstd stores them in about half the bytes. Files carried
by hard link from an older version keep the codec they were written with;
parquet records the codec per column chunk, so a version that mixes snappy
and zstd files reads as one table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, IntegralType, StringType, StructType

# The codec of every parquet file the store writes (see the module docstring).
# The store owns its file format, so this is not a session setting.
PARQUET_CODEC = "zstd"


# Characters Spark escapes in partition directory names (public behavior of
# ExternalCatalogUtils.escapePathName: ASCII control chars plus the path/
# metadata specials below become %XX uppercase-hex). The touched-partition
# matching in write_partition_delta must build dir names the same way, or a
# string partition value containing '=' / ':' / '%' would never match its
# written directory — the old dir would be hard-linked BESIDE the fresh one
# and rows would silently duplicate (ADVICE r8).
_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\{[]^' ) | frozenset(
    chr(c) for c in range(0x20)
) | frozenset({chr(0x7F)})


def escape_partition_value(value: str) -> str:
    """Escape a partition VALUE exactly the way Spark does when it builds
    ``col=value`` partition directory names."""
    return "".join(
        f"%{ord(ch):02X}" if ch in _ESCAPE_CHARS else ch for ch in value
    )


_HEX = frozenset("0123456789abcdefABCDEF")


def unescape_partition_value(raw: str) -> str:
    """Inverse of the Hive/Spark partition-name escaping. ``%XX``
    sequences are BYTES of the escaped value, so the decode collects
    bytes (literal chars as their UTF-8 bytes, each ``%XX`` as one byte)
    and UTF-8-decodes the whole name at the end — a multi-byte value that
    an engine escaped byte-wise round-trips instead of mojibaking into
    per-byte ``chr()`` code points (ADVICE r10)."""
    buf = bytearray()
    i, n = 0, len(raw)
    while i < n:
        ch = raw[i]
        if (
            ch == "%"
            and i + 2 < n
            and raw[i + 1] in _HEX
            and raw[i + 2] in _HEX
        ):
            buf.append(int(raw[i + 1 : i + 3], 16))
            i += 3
        else:
            buf.extend(ch.encode("utf-8"))
            i += 1
    return buf.decode("utf-8")


_HIVE_DEFAULT = "__HIVE_DEFAULT_PARTITION__"


def partition_dir(partition_col: str, value) -> str:
    """The ``col=value`` directory name Spark writes for a partition value
    (NULL -> the Hive default dir)."""
    raw = _HIVE_DEFAULT if value is None else escape_partition_value(str(value))
    return f"{partition_col}={raw}"


def _dir_value_type(dtype: DataType) -> type | None:
    """The Python type whose ``str`` is exactly the directory name Spark
    writes for a partition column of ``dtype`` (None: no such type here —
    e.g. booleans write ``true``, floats and dates have several spellings)."""
    if isinstance(dtype, IntegralType):
        return int
    if isinstance(dtype, StringType):
        return str
    return None


class VersionedParquetStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # (table, version) -> DataFrame; versions are immutable so
        # entries never go stale (see read()) until ``drop`` or ``vacuum``
        # deletes their files, which evict them. A commit evicts the
        # table's entries below the version it replaced, so a table holds
        # at most two (the version a merge read and the one it committed)
        # plus any older version read since.
        self._read_cache: dict[tuple[str, int], DataFrame] = {}
        os.makedirs(root, exist_ok=True)

    # -- pointers ---------------------------------------------------------
    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._dir(table), "_CURRENT")

    def current_version(self, table: str) -> int | None:
        try:
            with open(self._pointer(table)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def exists(self, table: str) -> bool:
        return self.current_version(table) is not None

    def _version_path(self, table: str, version: int) -> str:
        return os.path.join(self._dir(table), f"v={version:06d}")

    def partition_values(
        self, table: str, partition_col: str, version: int | None = None
    ) -> list[str | None]:
        """Top-level partition values of a version from the DIRECTORY
        LAYOUT — O(#partitions) metadata, no data scan (the Delta-log /
        file-listing answer to "which partitions exist"). At 100 TB a
        ``SELECT DISTINCT partition_col`` is a full column read; retention
        and maintenance paths should ask the layout instead. Values come
        back UNESCAPED as strings (numeric callers cast); the Hive default
        dir maps to None."""
        v = version if version is not None else self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"table {table} does not exist in {self.root}")
        prefix = f"{partition_col}="
        out: list[str | None] = []
        for name in sorted(os.listdir(self._version_path(table, v))):
            if not name.startswith(prefix):
                continue
            raw = name[len(prefix):]
            if raw == _HIVE_DEFAULT:
                out.append(None)
            else:
                out.append(unescape_partition_value(raw))
        return out

    # -- IO -----------------------------------------------------------------
    def read(self, table: str, version: int | None = None) -> DataFrame:
        """Read a version (current by default). The returned DataFrame is
        CACHED per (table, version): path-based ``spark.read.parquet``
        builds a fresh InMemoryFileIndex per call — an O(#partition dirs)
        driver-side listing that an ingest used to pay 2-3x per touched
        table (measured r15: 3.4s per read at a 10x image band table —
        the whole "flat ingest" growth). Versions are immutable, so the
        cached frame can never go stale; a new version is a new key. A
        version this store commits is usually cached at commit time
        (``_cache_commit``), so its first read runs no Spark job either."""
        v = version if version is not None else self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"table {table} does not exist in {self.root}")
        key = (table, v)
        df = self._read_cache.get(key)
        if df is None:
            df = self.spark.read.parquet(self._version_path(table, v))
            self._read_cache[key] = df
        return df

    def read_partitions(
        self, table: str, partition_col: str, values: list
    ) -> DataFrame:
        """Rows of the given TOP-LEVEL partition values — row-identical to
        ``read(table).filter(col(partition_col).isin(values))`` (with
        ``isNull`` for a None value), but partition DISCOVERY lists only
        the named directories: the plan-construction cost tracks the
        touched set, not the store (r15 — the delta-write read side of
        the same listing finding as ``read``'s cache). Hierarchical
        layouts keep their sub-partition dirs (basePath preserves all
        partition columns). Values whose directory doesn't exist simply
        contribute no rows; when NONE exist, an empty frame with the
        table's schema is returned (one single-partition listing)."""
        v = self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"table {table} does not exist in {self.root}")
        base = self._version_path(table, v)
        paths = []
        for val in values:
            p = os.path.join(base, partition_dir(partition_col, val))
            if os.path.isdir(p):
                paths.append(p)
        reader = self.spark.read.option("basePath", base)
        if paths:
            return reader.parquet(*paths)
        any_part = sorted(
            n for n in os.listdir(base)
            if n.startswith(f"{partition_col}=")
        )
        if not any_part:  # unpartitioned table — nothing to prune
            return self.read(table, v).filter(F.lit(False))
        return reader.parquet(os.path.join(base, any_part[0])).filter(
            F.lit(False)
        )

    def _swap_pointer(self, table: str, nxt: int) -> None:
        tmp = self._pointer(table) + ".tmp"
        os.makedirs(self._dir(table), exist_ok=True)
        with open(tmp, "w") as f:
            f.write(str(nxt))
        os.replace(tmp, self._pointer(table))  # atomic pointer swap

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        cluster: bool = True,
    ) -> int:
        """Write a new immutable version and atomically repoint _CURRENT.

        Partitioned writes cluster on the partition columns first (r15 —
        the r14 delta-write fragmentation fix extended to FULL writes:
        a 10x Bm25Index build probe measured ~14 files per leaf from the
        un-clustered path, the same per-file scan cost class). One file
        per leaf; distinct leaves parallelize across tasks, and a leaf is
        bucket-bounded by the store sizing rules so the single writer per
        leaf is the intended unit of work. ``cluster=False`` opts out for
        tables whose leaves are NOT bucket-bounded.

        A ``MergeResult`` (``operators/merge.py``) partitioned by its own
        pruning column commits only the partitions its merge touched:
        ``df.changed`` goes through the partition-delta path and every other
        partition directory is hard-linked from the current version, so a
        merge touching 3 of 4 partitions writes 3 partitions of bytes. The
        carry is taken only when the untouched slice provably IS the current
        version's other partitions on disk (``_write_touched``); otherwise —
        and for any other frame — the whole frame is rewritten. Both paths
        commit the same rows."""
        if partition_by:
            nxt = self._write_touched(df, table, partition_by, cluster)
            if nxt is not None:
                return nxt
        cur = self.current_version(table)
        nxt = (cur or 0) + 1
        path = self._version_path(table, nxt)
        if partition_by and cluster:
            df = df.repartition(*[F.col(c) for c in partition_by])
        writer = df.write.mode("overwrite").option("compression", PARQUET_CODEC)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        self._swap_pointer(table, nxt)
        self._cache_commit(df, table, partition_by or [], cur, nxt)
        return nxt

    def _evict(self, table: str, upto: int | None = None) -> None:
        """Forget the cached reads of ``table`` at versions ``<= upto``
        (all of them when ``upto`` is None)."""
        for key in [k for k in self._read_cache if k[0] == table]:
            if upto is None or key[1] <= upto:
                del self._read_cache[key]

    def _cache_commit(
        self, df: DataFrame, table: str, part_cols: list[str], prev: int | None, nxt: int
    ) -> None:
        """Cache the read of version ``nxt``, just committed from ``df``, so
        the next ``read`` of it runs no parquet footer (schema-inference)
        job, and evict the cached reads below ``prev``: without that a
        streaming query would keep one frame and file index per
        micro-batch. ``prev`` stays cached, so a merge planned on it still
        finds its base there. The new read is cached only when ``prev`` is
        cached and ``df``'s data columns (names and types, partition
        columns aside) equal its data columns, which are then the user
        schema; partition columns are still inferred from the directory
        names (a bigint value above 2^31 after an int-typed version reads as
        bigint). Otherwise ``read`` infers the schema when first called."""
        if prev is None:
            return
        self._evict(table, prev - 1)
        old = self._read_cache.get((table, prev))
        if old is None:
            return
        data = [f for f in old.schema if f.name not in part_cols]
        written = [(f.name, f.dataType) for f in df.schema if f.name not in part_cols]
        if [(f.name, f.dataType) for f in data] != written:
            return
        new = self.spark.read.schema(StructType(data)).parquet(
            self._version_path(table, nxt)
        )
        # a version with no partition directory (no rows) infers none
        if new.columns == [f.name for f in data] + part_cols:
            self._read_cache[(table, nxt)] = new

    def _write_touched(
        self, df: DataFrame, table: str, partition_by: list[str], cluster: bool
    ) -> int | None:
        """``write``'s touched-only commit of a MergeResult, or None (nothing
        written) when the carry does not apply. It applies only when:

        - ``partition_by[0]`` is the merge's partition column;
        - ``df.base`` is this store's cached ``read`` of the CURRENT version
          (identity: a target from ``read_partitions``, another store or an
          older version — e.g. a second writer committed in between — fails);
        - the data columns keep their names and types (no schema evolution:
          carried files would lack the new columns);
        - every touched value names its directory exactly (NULL, or an int /
          non-empty str on a partition column of that type) and every
          existing directory carries the canonical name of the value Spark
          reads back from it (``part=03`` reads as 3 and is refused);
        - the current layout is partitioned by ``partition_by``;
        - no merged row lands outside the touched set (a clause ``set`` that
          moves the partition column, or an insert that leaves it NULL) —
          checked on the written directories before the pointer swap.
        """
        from metadata_ingestion_framework_spark.operators.merge import MergeResult

        if not (isinstance(df, MergeResult) and partition_by[0] == df.partition_col):
            return None
        cur = self.current_version(table)
        if cur is None or df.base is not self._read_cache.get((table, cur)):
            return None

        def data_cols(frame: DataFrame) -> list:
            return [(f.name, f.dataType) for f in frame.schema if f.name not in partition_by]

        if data_cols(df) != data_cols(df.base):
            return None
        col = df.partition_col
        kind = _dir_value_type(df.base.schema[col].dataType)
        if kind is None or any(
            v is not None and (type(v) is not kind or v == "") for v in df.touched
        ):
            return None
        if self.partition_cols_of(table, cur) != list(partition_by):
            return None
        prefix = f"{col}="
        for name in os.listdir(self._version_path(table, cur)):
            if not name.startswith(prefix) or name == prefix + _HIVE_DEFAULT:
                continue
            try:
                value = kind(unescape_partition_value(name[len(prefix):]))
            except ValueError:
                return None
            if partition_dir(col, value) != name:
                return None
        return self._write_delta(
            df.changed, table, list(partition_by), df.touched, cluster, strict=True
        )

    def write_partition_delta(
        self,
        df: DataFrame,
        table: str,
        partition_col: str | list[str],
        touched_values: list,
        cluster: bool = True,
    ) -> int:
        """New version that physically rewrites ONLY the given partitions —
        the Delta-MERGE touched-files-only rewrite at partition-directory
        granularity. ``df`` must hold exactly the new contents of the
        ``touched_values`` partitions; every other partition directory is
        carried from the current version by hard link (copy fallback), so
        an ingest that touches 2 of 64 buckets writes 2 buckets of bytes,
        not 64. Snapshot isolation is preserved: links share immutable
        file inodes, and ``vacuum``'s rmtree only drops the old version's
        link, never the shared data. Falls back to a plain ``write`` when
        the table doesn't exist yet.

        ``partition_col`` may be a LIST for hierarchically partitioned
        tables (r10, the embedding store's ``["vec_bucket", "cell"]``):
        the FIRST column is the delta/carry granularity (``touched_values``
        are its values; untouched top-level dirs hard-link wholesale,
        sub-partition dirs included), the rest only shape the layout the
        writer produces inside rewritten dirs.

        ``cluster=False`` (r17) opts out of the pre-write hash clustering
        for callers that already repartitioned AND ordered the delta
        (the corpus shard writer's deterministic in-file order — the
        same escape hatch ``write`` grew in r16); the one-file-per-leaf
        invariant is then the caller's responsibility.
        """
        part_cols = (
            [partition_col] if isinstance(partition_col, str) else list(partition_col)
        )
        if self.current_version(table) is None:
            return self.write(df, table, partition_by=part_cols, cluster=cluster)
        return self._write_delta(df, table, part_cols, touched_values, cluster)

    def _write_delta(
        self,
        df: DataFrame,
        table: str,
        part_cols: list[str],
        touched_values: list,
        cluster: bool,
        strict: bool = False,
    ) -> int | None:
        """``write_partition_delta`` on an existing table. ``strict``: if
        ``df`` wrote any partition outside ``touched_values``, discard the
        new version and return None instead of letting its fresh contents
        win over the carried partition."""
        partition_col = part_cols[0]
        cur = self.current_version(table)
        # Validate the PREVIOUS version's layout before paying for the new
        # write: if it is not laid out as '{partition_col}=...' dirs
        # (unpartitioned, or partitioned by a different column), nothing
        # would be carried and the new version would silently hold only the
        # touched data — delete_partitions on such a table would silently
        # truncate it. Refuse instead (ADVICE r8).
        prev = self._version_path(table, cur)
        carry = []
        for name in os.listdir(prev):
            if name.startswith((".", "_")):
                continue  # _SUCCESS / hidden metadata, never carried
            if not name.startswith(f"{partition_col}="):
                raise ValueError(
                    f"table {table!r} v={cur} entry {name!r} is not a "
                    f"'{partition_col}=' partition dir — the current version "
                    f"is not partitioned by {partition_col!r}; rewrite it "
                    "with write(..., partition_by=[...]) before using "
                    "partition-delta writes"
                )
            carry.append(name)
        # Validate the CARRIED sub-layout too, not just the first level: a
        # prior version partitioned by the first column alone (or by
        # different inner columns) would hard-link a mixed single/two-level
        # version that only fails at a later read — refuse loudly like the
        # top-level check does, in BOTH directions (declared cols deeper
        # than the layout, or the layout deeper than the declared cols)
        # (ADVICE r10). Metadata-only listing walk, O(#partition dirs),
        # no data touched.
        def _check_nesting(dirpath: str, level: int) -> None:
            for entry in os.listdir(dirpath):
                if entry.startswith((".", "_")):
                    continue
                full = os.path.join(dirpath, entry)
                if level < len(part_cols):
                    if not (
                        os.path.isdir(full)
                        and entry.startswith(f"{part_cols[level]}=")
                    ):
                        raise ValueError(
                            f"table {table!r} v={cur} entry "
                            f"{os.path.relpath(full, prev)!r} is not a "
                            f"'{part_cols[level]}=' partition dir — the "
                            "current version's nesting does not match "
                            f"partition cols {part_cols}; rewrite it "
                            "with write(..., partition_by=[...]) before "
                            "using partition-delta writes"
                        )
                    _check_nesting(full, level + 1)
                elif os.path.isdir(full):
                    raise ValueError(
                        f"table {table!r} v={cur} entry "
                        f"{os.path.relpath(full, prev)!r} nests deeper "
                        f"than the declared partition cols {part_cols} "
                        "— layout mismatch; rewrite the table before "
                        "using partition-delta writes"
                    )

        for name in carry:
            _check_nesting(os.path.join(prev, name), 1)
        # NULL partition values land in the Hive default-partition dir —
        # a None in touched_values must match it, or the null partition
        # would be both rewritten and linked (duplicated). Non-null values
        # go through Spark's path escaping so specials like '=' / ':' / '%'
        # match the directory Spark actually wrote (ADVICE r8).
        touched = {partition_dir(partition_col, v) for v in touched_values}
        nxt = cur + 1
        path = self._version_path(table, nxt)
        # Cluster the delta on its partition columns before writing (r14):
        # without this, EVERY upstream task emits a file into every leaf
        # dir it holds rows for, so repeated deltas fragment the touched
        # partitions into hundreds of KB-sized files and downstream scans
        # pay per-file open costs (measured: ONE Bm25Index append took a
        # dense-query serve from 7s to 28-33s; a 1s compact restored it).
        # Hash-clustering yields one file per touched leaf while distinct
        # leaves still parallelize across tasks — and a leaf's rewrite is
        # bucket-bounded by the store sizing rule, so the single writer
        # per leaf is the intended unit of work.
        clustered = (
            df.repartition(*[F.col(c) for c in part_cols]) if cluster else df
        )
        clustered.write.mode("overwrite").option(
            "compression", PARQUET_CODEC
        ).partitionBy(*part_cols).parquet(path)
        if strict and any(
            n.startswith(f"{partition_col}=") and n not in touched
            for n in os.listdir(path)
        ):
            shutil.rmtree(path)
            return None
        for name in carry:
            if name in touched:
                continue
            src, dst = os.path.join(prev, name), os.path.join(path, name)
            if os.path.isdir(dst):
                # the writer already produced this partition (caller's
                # touched list was incomplete) — its fresh contents win;
                # linking old files beside them would silently duplicate
                continue
            # Recursive: hierarchical layouts nest sub-partition dirs
            # (e.g. vec_bucket=N/cell=M/part-*.parquet) — files hard-link,
            # directory structure is recreated.
            for root, _dirs, files in os.walk(src):
                rel = os.path.relpath(root, src)
                tgt = dst if rel == "." else os.path.join(dst, rel)
                os.makedirs(tgt, exist_ok=True)
                for f in files:
                    if f.startswith((".", "_")):
                        continue
                    s, d = os.path.join(root, f), os.path.join(tgt, f)
                    try:
                        os.link(s, d)
                    except OSError:  # cross-device / fs without hard links
                        shutil.copy2(s, d)
        self._swap_pointer(table, nxt)
        self._cache_commit(df, table, part_cols, cur, nxt)
        return nxt

    def delete_partitions(
        self, table: str, partition_col: str | list[str], values: list
    ) -> int:
        """Retention/lifecycle delete: new version WITHOUT the given
        partition values — the named partitions are simply not carried
        (no data rewritten at all; every surviving partition hard-links
        from the current version). The dropped data stays readable via
        time travel until ``vacuum`` reaps the old versions — the Delta
        ``DELETE WHERE partition`` + VACUUM lifecycle."""
        empty = self.read(table).filter(F.lit(False))
        return self.write_partition_delta(empty, table, partition_col, values)

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> int:
        """Append = read current ∪ new, written as a fresh version.

        For pure-append workloads prefer ``write`` into partition subdirs;
        this keeps snapshot semantics simple for the merge path.
        """
        if self.exists(table):
            df = self.read(table).unionByName(df, allowMissingColumns=True)
        return self.write(df, table, partition_by)

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: list[str],
        num_buckets: int = 32,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Bucketed catalog table for co-located (shuffle-free) joins/merges.

        At 100 TB the SCD merge's full-outer join shuffles both sides on the
        join keys every batch; bucketing the TARGET on those keys at write
        time removes its Exchange permanently — only the (small) update
        batch shuffles. Bucketing requires the session catalog
        (``saveAsTable``), so these tables live in the warehouse dir, not
        the versioned path store; same engine, different layout decision.
        """
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("compression", PARQUET_CODEC)
            .bucketBy(num_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(table)

    def read_table(self, table: str) -> DataFrame:
        """Read a catalog (bucketed) table."""
        return self.spark.table(table)

    def partition_cols_of(self, table: str, version: int | None = None) -> list[str]:
        """Partition COLUMNS of a version, derived from the directory
        layout (metadata-only walk down the first dir chain) — the
        file-listing answer to "how is this table partitioned", used so
        maintenance ops can preserve a layout they were not told about."""
        v = version if version is not None else self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"table {table} does not exist in {self.root}")
        cols: list[str] = []
        cur = self._version_path(table, v)
        while True:
            subdirs = [
                e
                for e in sorted(os.listdir(cur))
                if not e.startswith((".", "_"))
                and "=" in e
                and os.path.isdir(os.path.join(cur, e))
            ]
            if not subdirs:
                return cols
            cols.append(subdirs[0].split("=", 1)[0])
            cur = os.path.join(cur, subdirs[0])

    def compact(self, table: str, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Rewrite the current version into right-sized files.

        Parity intent: Delta's optimizeWrite/autoCompact table properties
        (DeltaWritterSCD4Test.scala:59-61) — streaming appends accumulate
        small files; compaction coalesces them so scans stop paying
        per-file open/footer costs. Written as a fresh version (snapshot
        isolation preserved).

        PARTITIONED tables keep their layout (r13 review): the earlier
        plain ``repartition(n)`` rewrite silently FLATTENED a partitioned
        table — directory pruning gone, and the next
        ``write_partition_delta`` refused the layout. Now the partition
        columns are derived from the directory structure and the rewrite
        clusters on them (one write task per partition value), so each
        partition dir coalesces to one file and the layout — pruning,
        delta writes, retention — survives compaction. Unpartitioned
        tables keep the size-targeted file count.
        """
        import math

        cur = self.current_version(table)
        if cur is None:
            raise FileNotFoundError(f"table {table} does not exist")
        part_cols = self.partition_cols_of(table)
        if part_cols:
            df = self.read(table).repartition(*[F.col(c) for c in part_cols])
            return self.write(df, table, partition_by=part_cols)
        path = self._version_path(table, cur)
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
        n_files = max(1, math.ceil(total / target_file_bytes))
        df = self.read(table).repartition(n_files)
        return self.write(df, table)

    def vacuum(self, table: str, keep_last: int = 2) -> None:
        """Drop version dirs older than the last ``keep_last``, and their
        cached reads."""
        cur = self.current_version(table)
        if cur is None:
            return
        self._evict(table, cur - keep_last)
        for name in os.listdir(self._dir(table)):
            if name.startswith("v="):
                v = int(name.split("=")[1])
                if v <= cur - keep_last:
                    shutil.rmtree(os.path.join(self._dir(table), name), ignore_errors=True)

    def drop(self, table: str) -> None:
        """Delete the table and forget its cached reads: a table written
        again under the same name restarts at version 1."""
        self._evict(table)
        shutil.rmtree(self._dir(table), ignore_errors=True)
