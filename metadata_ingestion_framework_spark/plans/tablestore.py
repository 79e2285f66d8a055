"""Versioned parquet table store — the engine's Delta-table stand-in.

The reference lands every durable dataset in Delta (SURVEY.md §1.1); this
environment has no delta-spark, and a plain ``mode("overwrite")`` parquet
write cannot rewrite a path that the plan is simultaneously reading (the
self-overwrite hazard every join-based MERGE hits). The store gives each
table snapshot isolation the same way Delta does — immutable version
directories plus an atomically-replaced pointer:

    <root>/<table>/v=000001/…parquet
    <root>/<table>/_CURRENT   (text file: "1")

Readers resolve ``_CURRENT`` at plan-build time and scan an immutable dir.
Every version is made by one routine, ``_commit``:

1. pick ``v = current + 1``;
2. write the frame there, clustered on its partition columns, as zstd
   parquet;
3. for a partition delta, hard-link every current top-level partition the
   delta neither names nor wrote (the untouched ones);
4. swap ``_CURRENT`` to ``v`` (fsync'd temp file + rename = atomic on a
   POSIX fs; on object stores use a conditional put);
5. cache the read of ``v`` (``_cache_commit``).

A missing ``_CURRENT`` means the table does not exist; one that does not
parse raises rather than reading as "no table", which would let the next
write overwrite ``v=000001``. Old versions allow time travel and are
pruned with ``vacuum``. ``RunLedger`` is the other durable record a store
keeps: the run ids it already ingested, in ``<root>/_runs.json``.

Every data file the store writes is parquet compressed with zstd
(``PARQUET_CODEC``). Delta writes Spark's default, snappy, which does no
entropy coding: the SHA-256 hex columns the PII step adds stay at their raw
size under it, and zstd stores them in about half the bytes. Files carried
by hard link from an older version keep the codec they were written with;
parquet records the codec per column chunk, so a version that mixes snappy
and zstd files reads as one table.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, IntegralType, StringType, StructType

from metadata_ingestion_framework_spark.operators.joins import partition_in_filter

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


def _atomic_write(path: str, text: str) -> None:
    """Replace ``path`` by a file holding ``text``: write a temp file beside
    it, fsync it, then rename it over ``path`` (atomic on a POSIX fs), so a
    reader sees the old or the new content and a crash leaves no torn file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _link_tree(src: str, dst: str) -> None:
    """Recreate ``src``'s directories under ``dst`` and hard-link its
    visible files into them (copy where the fs has no hard links). Links
    share the immutable inodes, so ``vacuum`` dropping ``src``'s version
    never touches the data ``dst`` carries."""
    for root, _dirs, files in os.walk(src):
        tgt = os.path.normpath(os.path.join(dst, os.path.relpath(root, src)))
        os.makedirs(tgt, exist_ok=True)
        for f in files:
            if f.startswith((".", "_")):
                continue
            s, d = os.path.join(root, f), os.path.join(tgt, f)
            try:
                os.link(s, d)
            except OSError:  # cross-device / fs without hard links
                shutil.copy2(s, d)


class RunLedger:
    """The run ledger of a store: ``_ledger_path`` (``<root>/_runs.json``)
    holds the JSON list of the run ids already ingested, so a retried run is
    a no-op (the offset-bookkeeping analogy of Delta's ``txnAppId``/
    ``txnVersion``). A missing file means no runs; a file that does not parse
    raises, since reading it as empty would re-ingest every earlier run."""

    _ledger_path: str

    def ingested_runs(self) -> list[str]:
        try:
            with open(self._ledger_path) as f:
                text = f.read()
        except FileNotFoundError:
            return []
        try:
            return json.loads(text)
        except ValueError as e:
            raise ValueError(f"run ledger {self._ledger_path} does not parse") from e

    def _record_run(self, run_id: str) -> None:
        _atomic_write(self._ledger_path, json.dumps(self.ingested_runs() + [run_id]))


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

    def _swap_pointer(self, table: str, nxt: int) -> None:
        _atomic_write(self._pointer(table), str(nxt))

    def current_version(self, table: str) -> int | None:
        """The version ``_CURRENT`` names; None only when it is missing."""
        try:
            with open(self._pointer(table)) as f:
                text = f.read()
        except FileNotFoundError:
            return None
        try:
            return int(text)
        except ValueError:
            raise ValueError(
                f"table {table!r}: unreadable pointer {self._pointer(table)} ({text!r})"
            ) from None

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
    def read(
        self,
        table: str,
        version: int | None = None,
        schema: StructType | None = None,
    ) -> DataFrame:
        """Read a version (current by default), CACHED per (table, version):
        a path read builds a fresh file index per call, an O(#partition dirs)
        driver-side listing (r15: 3.4 s per read of a 10x image band table).
        Versions are immutable, so the cached frame never goes stale. A
        version this store commits is usually cached at commit time
        (``_cache_commit``), so its first read runs no Spark job either.
        ``schema`` (the version's, partition columns included; e.g. the
        frame that created the table) skips the schema-inference job of a
        read that is not cached yet; a cached read is returned as it is."""
        v = version if version is not None else self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"table {table} does not exist in {self.root}")
        key = (table, v)
        df = self._read_cache.get(key)
        if df is None:
            reader = self.spark.read if schema is None else self.spark.read.schema(schema)
            df = reader.parquet(self._version_path(table, v))
            self._read_cache[key] = df
        return df

    def read_partitions(
        self,
        table: str,
        partition_col: str,
        values: list,
        schema: StructType | None = None,
    ) -> DataFrame:
        """Rows of the given TOP-LEVEL partition values — row-identical to
        ``read(table).filter(partition_in_filter(values, partition_col, None))``
        (NULL-aware), and exactly that when the read is already cached.
        Otherwise partition DISCOVERY lists only the named directories, so
        planning cost tracks the touched set, not the store (r15: ``read``
        lists every partition dir, 3.4 s per read of a 10x band table), and
        nothing is cached, so the next commit does not list the whole new
        version either (``_cache_commit``). ``schema`` (the table's, partition
        columns included) skips the schema-inference job, and the partition
        columns take its types even when only the NULL directory is named.
        Hierarchical layouts keep their sub-partition columns (basePath).
        Values without a directory contribute no rows; when none has one,
        an empty frame with the table's schema is returned."""
        v = self.current_version(table)
        if v is None:
            raise FileNotFoundError(f"table {table} does not exist in {self.root}")
        cached = self._read_cache.get((table, v))
        if cached is not None:
            return cached.filter(partition_in_filter(values, partition_col, None))
        base = self._version_path(table, v)
        paths = []
        for val in values:
            p = os.path.join(base, partition_dir(partition_col, val))
            if os.path.isdir(p):
                paths.append(p)
        reader = self.spark.read.option("basePath", base)
        if schema is not None:
            reader = reader.schema(schema)
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

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        cluster: bool = True,
    ) -> int:
        """Write a new immutable version and atomically repoint _CURRENT.

        Partitioned writes cluster on the partition columns first, one file
        per leaf (``_commit``; a 10x Bm25Index build measured ~14 files per
        leaf without it). ``cluster=False`` opts out for tables whose leaves
        are NOT bucket-bounded.

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
        return self._commit(df, table, list(partition_by or []), cluster)

    def _commit(
        self,
        df: DataFrame,
        table: str,
        part_cols: list[str],
        cluster: bool,
        touched: list | None = None,
        strict: bool = False,
    ) -> int | None:
        """Make version ``current + 1`` from ``df`` (the module docstring's
        sequence) and return it. With ``touched`` it is a partition delta over
        a layout the caller checked (``_layout_error``): every current
        top-level partition that ``touched`` does not name and ``df`` did not
        write is hard-linked (a partition ``df`` wrote though the caller did
        not name it keeps its fresh contents; linking the old files beside
        them would duplicate rows). ``strict`` refuses that case instead:
        the version is discarded and None returned."""
        cur = self.current_version(table)
        nxt = (cur or 0) + 1
        path = self._version_path(table, nxt)
        # Cluster on the partition columns first (r14, r15): otherwise every
        # upstream task writes a file into every leaf dir it holds rows for,
        # and repeated deltas fragment the touched partitions into hundreds
        # of KB-files (one Bm25Index append took a dense serve from 7 s to
        # 28-33 s). A leaf is bucket-bounded by the store sizing rules, so
        # one writer per leaf is the intended unit of work.
        if part_cols and cluster:
            df = df.repartition(*[F.col(c) for c in part_cols])
        writer = df.write.mode("overwrite").option("compression", PARQUET_CODEC)
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(path)
        if touched is not None:
            # NULL values name the Hive default dir; others go through
            # Spark's path escaping ('=' / ':' / '%'), or an escaped
            # partition would be both rewritten and linked (ADVICE r8).
            keep = {partition_dir(part_cols[0], v) for v in touched}
            written = set(os.listdir(path))
            if strict and any(
                n.startswith(f"{part_cols[0]}=") and n not in keep for n in written
            ):
                shutil.rmtree(path)
                return None
            prev = self._version_path(table, cur)
            for name in os.listdir(prev):
                if not (name.startswith((".", "_")) or name in keep or name in written):
                    _link_tree(os.path.join(prev, name), os.path.join(path, name))
        self._swap_pointer(table, nxt)
        self._cache_commit(df, table, part_cols, cur, nxt)
        return nxt

    def _layout_error(self, table: str, version: int, part_cols: list[str]) -> str | None:
        """Why ``version`` is not laid out exactly as nested ``part_cols``
        partition dirs, or None when it is. A partition delta carries the
        current top-level dirs whole, so a version partitioned by another
        column (or none) would carry nothing and silently truncate the
        table, and a mismatched nesting would link a mixed-depth version
        that fails only at a later read (ADVICE r8, r10). One
        metadata-only walk, O(#partition dirs)."""
        base = self._version_path(table, version)
        for path, dirs, files in os.walk(base):
            dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
            rel = os.path.relpath(path, base)
            level = 0 if rel == "." else rel.count(os.sep) + 1
            if level == len(part_cols):
                if dirs:
                    where = os.path.normpath(os.path.join(rel, dirs[0]))
                    return f"{where!r} nests deeper than partition cols {part_cols}"
                continue
            col = part_cols[level]
            bad = [f for f in files if not f.startswith((".", "_"))]
            bad += [d for d in dirs if not d.startswith(f"{col}=")]
            if bad:
                where = os.path.normpath(os.path.join(rel, bad[0]))
                return f"{where!r} is not a '{col}=' partition dir: " + (
                    f"the version is not partitioned by {col!r}" if level == 0
                    else f"its nesting does not match partition cols {part_cols}"
                )
        return None

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
        - the current version is laid out as ``partition_by`` (``_layout_error``);
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
        if self._layout_error(table, cur, list(partition_by)):
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
        return self._commit(
            df.changed, table, list(partition_by), cluster, df.touched, strict=True
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
        not 64 (``_commit``). The first version of a table is a plain
        write; on an existing table a current layout other than
        ``partition_col`` raises ValueError before anything is written.

        ``partition_col`` may be a LIST for hierarchically partitioned
        tables (r10, the embedding store's ``["vec_bucket", "cell"]``):
        the FIRST column is the delta/carry granularity (``touched_values``
        are its values; untouched top-level dirs hard-link wholesale,
        sub-partition dirs included), the rest only shape the layout the
        writer produces inside rewritten dirs.

        ``cluster=False`` (r17) opts out of the pre-write clustering for
        callers that already repartitioned AND ordered the delta (the corpus
        shard writer); one file per leaf is then the caller's responsibility.
        """
        part_cols = (
            [partition_col] if isinstance(partition_col, str) else list(partition_col)
        )
        cur = self.current_version(table)
        if cur is None:
            return self._commit(df, table, part_cols, cluster)
        err = self._layout_error(table, cur, part_cols)
        if err:
            raise ValueError(
                f"table {table!r} v={cur}: {err} — layout mismatch; rewrite it with "
                "write(..., partition_by=[...]) before using partition-delta writes"
            )
        return self._commit(df, table, part_cols, cluster, touched_values)

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

        PARTITIONED tables keep their layout (r13 review: a plain
        ``repartition(n)`` flattened them, losing pruning and delta writes):
        the partition columns come from the directory structure and the
        rewrite clusters on them, one file per partition dir. Unpartitioned
        tables get the size-targeted file count.
        """
        import math

        cur = self.current_version(table)
        if cur is None:
            raise FileNotFoundError(f"table {table} does not exist")
        part_cols = self.partition_cols_of(table)
        if part_cols:
            return self.write(self.read(table), table, partition_by=part_cols)
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
