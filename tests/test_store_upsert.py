"""The touched-bucket upsert every store table commits a batch through
(``operators/incremental.py::_upsert_touched``): the NULL id bucket through
each caller whose id can be NULL, the Spark jobs of each caller's toy
second batch and of a toy minhash ingest, and the touched-only read of the
old rows."""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.observability import ObservabilityStore
from metadata_ingestion_framework_spark.operators.codecs import encode_bmp
from metadata_ingestion_framework_spark.operators.corpus import CorpusShardStore
from metadata_ingestion_framework_spark.operators.dedup import unpersist_deps
from metadata_ingestion_framework_spark.operators.incremental import (
    EmbeddingDedupStore,
    ImageHashStore,
    MinhashSignatureStore,
    ParagraphHashStore,
)
from metadata_ingestion_framework_spark.operators.ivf_index import IvfIndex
from metadata_ingestion_framework_spark.operators.retrieval import Bm25Index
from metadata_ingestion_framework_spark.plans.tablestore import VersionedParquetStore

# bucket width: stored ids 0-3 and 4-7 fill buckets 0 and 1, NULL a third
W = 4


def _words(seed, n=12):
    return " ".join(f"w{seed}x{k}" for k in range(n))


def _text(spark, rows):
    return spark.createDataFrame(
        [(i, _words(s)) for i, s in rows], "doc_id long, text string"
    )


def _paras(spark, rows):
    return spark.createDataFrame(
        [(i, f"{_words(s, 6)}\n{_words(s + 1000, 6)}") for i, s in rows],
        "doc_id long, text string",
    )


def _vecs(spark, rows):
    def vec(s):
        v = np.random.default_rng(s).normal(size=4)
        return [float(x) for x in v / np.linalg.norm(v)]

    return spark.createDataFrame(
        [(i, vec(s)) for i, s in rows], "vec_id long, embedding array<double>"
    )


def _media(spark, rows):
    def px(s):
        y, x, c = np.ogrid[0:16, 0:16, 0:3]
        return ((s * 7 + y * 13 + x * (17 + s) + c * 29) % 256).astype(np.uint8)

    return spark.createDataFrame(
        [(i, encode_bmp(px(s))) for i, s in rows], "media_id long, payload binary"
    )


def _appender(build, append):
    """``ingest(obj, df, run)`` for an index whose first batch builds it."""
    def ingest(obj, df, run):
        (build if run == 1 else append)(obj, df)
    return ingest


def _dedup_ingest(obj, df, run):
    unpersist_deps(obj.ingest(df, f"r{run}"))


# name -> (store factory, batch frame, ingest, table, id col, bucket col)
CASES = {
    "minhash_sigs": (
        lambda spark, root: MinhashSignatureStore(
            spark, root, n_buckets=4, sig_bucket_width=W),
        _text, _dedup_ingest, MinhashSignatureStore.SIGS, "doc_id", "sig_bucket",
    ),
    "embedding_vecs": (
        lambda spark, root: EmbeddingDedupStore(
            spark, root, dim=4, n_cells=2, n_buckets=4, vec_bucket_width=W),
        _vecs, _dedup_ingest, EmbeddingDedupStore.VECS, "vec_id", "vec_bucket",
    ),
    "image_fps": (
        lambda spark, root: ImageHashStore(
            spark, root, fp_bucket_width=W, n_buckets=4),
        _media, _dedup_ingest, ImageHashStore.FPS, "media_id", "fp_bucket",
    ),
    "paragraph_paras": (
        lambda spark, root: ParagraphHashStore(
            spark, root, n_buckets=4, par_bucket_width=W),
        _paras, _dedup_ingest, ParagraphHashStore.PARAS, "doc_id", "par_bucket",
    ),
    "corpus_members": (
        lambda spark, root: CorpusShardStore(
            spark, root, shard_tokens=5000, member_bucket_width=W, n_buckets=4),
        _text,
        lambda obj, df, run: obj.append_epoch(df, run, f"r{run}"),
        CorpusShardStore.MEMBERS, "doc_id", "member_bucket",
    ),
    "ivf_vectors": (
        lambda spark, root: IvfIndex(
            spark, root, dim=4, n_cells=2, vec_bucket_width=W, n_buckets=4),
        _vecs, _appender(IvfIndex.build, IvfIndex.append),
        IvfIndex.VECS, "vec_id", "vec_bucket",
    ),
    "bm25_postings": (
        lambda spark, root: Bm25Index(
            spark, root, doc_bucket_width=W, n_buckets=4, n_term_buckets=4),
        _text, _appender(Bm25Index.build, Bm25Index.append),
        Bm25Index.POSTINGS, "doc_id", "doc_bucket",
    ),
}


def _inodes(store, table, version, part_dir):
    path = os.path.join(store._version_path(table, version), part_dir)
    return {
        os.stat(f).st_ino
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }


@pytest.mark.parametrize("case", sorted(CASES))
def test_null_bucket_upsert(spark, tmp_path, case):
    """A store holding a NULL-id row ingests two more NULL-id rows and a
    re-ingested id. NULL is not an identity, so every NULL-id row stays,
    the two of one batch included; the re-ingested id keeps exactly one
    set of rows (its new payload has the old one's shape); the bucket the
    batch did not touch carries into the new version as the same inodes."""
    make, frame, ingest, table, id_col, bucket_col = CASES[case]
    obj = make(spark, str(tmp_path / case))
    ingest(obj, frame(spark, [(i, i) for i in range(8)] + [(None, 50)]), 1)
    store = obj.store

    def counts():
        rows = store.read(table).groupBy(id_col).count().collect()
        return {r[id_col]: r["count"] for r in rows}

    before, v1 = counts(), store.current_version(table)
    assert before[None] >= 1 and before[1] >= 1
    nulls = [(None, 60), (None, 61)]
    ingest(obj, frame(spark, nulls + [(1, 101)]), 2)
    after, v2 = counts(), store.current_version(table)
    assert v2 == v1 + 1
    assert after == {**before, None: (1 + len(nulls)) * before[None]}
    untouched = _inodes(store, table, v1, f"{bucket_col}=1")
    assert untouched and _inodes(store, table, v2, f"{bucket_col}=1") == untouched


# Spark jobs of the second batch below, per caller (the first builds the store)
SECOND_BATCH_JOBS = {
    "bm25_postings": 17,
    "corpus_members": 29,
    "embedding_vecs": 13,
    "image_fps": 22,
    "ivf_vectors": 5,
    "minhash_sigs": 23,
    "paragraph_paras": 24,
}


# Spark jobs of the first batch below, per caller (it creates the store)
FIRST_BATCH_JOBS = {
    "bm25_postings": 11,
    "corpus_members": 19,
    "embedding_vecs": 9,
    "image_fps": 17,
    "ivf_vectors": 8,
    "minhash_sigs": 15,
    "paragraph_paras": 10,
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_first_batch_jobs(spark, tmp_path, jobs_in_group, case):
    """The Spark jobs of each caller's toy first batch, the one that
    creates every table of the store."""
    make, frame, ingest, *_ = CASES[case]
    obj = make(spark, str(tmp_path / case))
    batch = frame(spark, [(i, i) for i in range(40)] + [(None, 50)])
    assert jobs_in_group(case, lambda: ingest(obj, batch, 1)) == FIRST_BATCH_JOBS[case]


@pytest.mark.parametrize("case", sorted(CASES))
def test_second_batch_jobs(spark, tmp_path, jobs_in_group, case):
    """The Spark jobs of each caller's toy second batch. The upsert reads
    its old rows with the table's schema, so no caller pays a
    schema-inference job for them. A banded store's first batch builds
    its bands from the primary table, read back with the schema it was
    written with; that read stays cached, so the second batch pays no
    schema-inference job for the primary table either."""
    make, frame, ingest, *_ = CASES[case]
    obj = make(spark, str(tmp_path / case))
    ingest(obj, frame(spark, [(i, i) for i in range(40)] + [(None, 50)]), 1)
    batch = frame(spark, [(None, 60), (1, 101), (45, 45)])
    assert jobs_in_group(case, lambda: ingest(obj, batch, 2)) == SECOND_BATCH_JOBS[case]


@pytest.mark.parametrize(
    "observed, want", [(False, 25), (True, 29)], ids=["plain", "observed"]
)
def test_minhash_second_ingest_jobs(spark, tmp_path, jobs_in_group, observed, want):
    """The Spark jobs of a toy second ``MinhashSignatureStore.ingest``. The
    touched-bucket facts take their counts from the upserts' touched
    values, so observing costs only the batch and drop-set counts."""
    # parquet-backed, so join planning sees file sizes; docs i and i + 120
    # share a text, so both ingests drop duplicates
    _text(spark, [(i, i % 120) for i in range(300)]).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    obs = ObservabilityStore(spark, str(tmp_path / "obs")) if observed else None
    st = MinhashSignatureStore(
        spark, str(tmp_path / "m"), n_buckets=4, sig_bucket_width=64,
        observability=obs,
    )
    unpersist_deps(st.ingest(docs.filter(F.col("doc_id") < 200), "r1"))
    batch = docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
    out = []
    jobs = jobs_in_group("minhash-ingest", lambda: out.append(st.ingest(batch, "r2")))
    unpersist_deps(out[0])
    assert jobs == want


def test_read_partitions_lists_only_the_named_dirs(spark, tmp_path, jobs_in_group):
    """The upsert's read of the old rows: with the table's schema passed,
    ``read_partitions`` on an uncached version runs no Spark job, caches
    nothing (the next commit would otherwise list the whole new version),
    and types the partition column from the schema when the NULL directory
    is the only one named."""
    df = spark.createDataFrame(
        [(1, 0, "a"), (None, None, "b"), (9, 2, "c")], "id long, b long, v string"
    )
    VersionedParquetStore(spark, str(tmp_path / "s")).write(df, "t", partition_by=["b"])
    store = VersionedParquetStore(spark, str(tmp_path / "s"))
    out = []
    jobs = jobs_in_group(
        "read-partitions",
        lambda: out.append(store.read_partitions("t", "b", [None], df.schema)),
    )
    assert jobs == 0
    assert store._read_cache == {}
    assert dict(out[0].dtypes)["b"] == "bigint"
    assert [tuple(r) for r in out[0].select("id", "b", "v").collect()] == [(None, None, "b")]
