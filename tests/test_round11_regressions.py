"""Round-11 regression tests for the r10 ADVICE items.

- tablestore.unescape_partition_value: %XX sequences are BYTES — a
  multi-byte UTF-8 value escaped byte-wise must round-trip, not mojibake
  through per-byte ``chr()``.
- write_partition_delta: the prior version's FULL nesting must match the
  declared partition cols (tested with the other layout mismatches in
  test_merge_commit.py::test_mismatched_layout_refuses_delta_and_carry).
- bpe_train: an exception between distributed rounds must release BOTH
  live persists (the round intermediate and the base vocab).
- IvfIndex.append: persists its Arrow-assigned batch across the two
  consumers and releases it afterwards (no cache survives the call).
"""

from __future__ import annotations

import pytest

from metadata_ingestion_framework_spark.plans.tablestore import (
    VersionedParquetStore,
    escape_partition_value,
    unescape_partition_value,
)


def test_unescape_multibyte_utf8_value():
    # byte-wise escaping of 'é' (0xC3 0xA9) — decode must reassemble the
    # code point, not emit 'Ã©'
    assert unescape_partition_value("%C3%A9") == "é"
    # mixed literal + escaped specials round-trip through our own escape
    val = "é=1:b%"
    assert unescape_partition_value(escape_partition_value(val)) == val
    # lone '%' not followed by two hex digits stays literal
    assert unescape_partition_value("a%zz") == "a%zz"


def test_partition_values_roundtrips_nonascii_and_specials(spark, tmp_path):
    store = VersionedParquetStore(spark, str(tmp_path / "pv11"))
    df = spark.createDataFrame(
        [(1, "é=x"), (2, "plain")], "id int, k string"
    )
    store.write(df, "t", partition_by=["k"])
    assert set(store.partition_values("t", "k")) == {"é=x", "plain"}


def test_bpe_train_releases_persists_on_midround_failure(spark, monkeypatch):
    from metadata_ingestion_framework_spark.functions import bpe

    corpus = spark.createDataFrame(
        [("hi hi there",), ("hi there there",)], "text string"
    )
    real = bpe._pair_counts
    calls = {"n": 0}

    def boom(vocab):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("injected mid-round failure")
        return real(vocab)

    monkeypatch.setattr(bpe, "_pair_counts", boom)
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    with pytest.raises(RuntimeError, match="injected"):
        bpe.bpe_train(corpus, k_merges=4)
    after = dict(spark.sparkContext._jsc.getPersistentRDDs())
    leaked = {k: v for k, v in after.items() if k not in before}
    assert not leaked, f"bpe_train leaked {len(leaked)} cached RDD(s)"


def test_ivf_append_releases_assigned_persist(spark, tmp_path):
    from metadata_ingestion_framework_spark.operators.ivf_index import IvfIndex

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float(i % 3), float((i * 7) % 5)]) for i in ids],
            "vec_id bigint, embedding array<float>",
        )

    idx = IvfIndex(
        spark, str(tmp_path / "ivf11"), dim=2, n_cells=2, vec_bucket_width=8
    )
    idx.build(vecs(range(16)))
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    idx.append(vecs(range(16, 24)))
    after = dict(spark.sparkContext._jsc.getPersistentRDDs())
    leaked = {k: v for k, v in after.items() if k not in before}
    assert not leaked, "IvfIndex.append leaked its assigned persist"
    got = sorted(
        r.vec_id for r in idx.store.read(idx.VECS).select("vec_id").collect()
    )
    assert got == list(range(24))


def _heal_docs(spark, rows):
    return spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog and then naps " * 5
          if same else "entirely different unrelated words " * 10)
         for i, same in rows],
        "doc_id long, text string",
    )


def _heal_media(spark, rows):
    import numpy as np

    from metadata_ingestion_framework_spark.operators.codecs import encode_bmp

    def px(same):
        y, x, c = np.ogrid[0:16, 0:16, 0:3]
        k = 1 if same else 5
        return ((y * 13 * k + x * 17 + c * 29 * k) % 256).astype(np.uint8)

    return spark.createDataFrame(
        [(i, encode_bmp(px(same))) for i, same in rows],
        "media_id long, payload binary",
    )


def _heal_minhash(spark, root):
    from metadata_ingestion_framework_spark.operators.incremental import (
        MinhashSignatureStore,
    )

    return MinhashSignatureStore(spark, root, jaccard_threshold=0.5)


def _heal_image(spark, root):
    from metadata_ingestion_framework_spark.operators.incremental import (
        ImageHashStore,
    )

    return ImageHashStore(spark, root)


@pytest.mark.parametrize(
    "make, frame, id_col",
    [
        (_heal_minhash, _heal_docs, "doc_id"),
        (_heal_image, _heal_media, "media_id"),
    ],
    ids=["minhash", "image"],
)
def test_minhash_store_heals_missing_bands_table(
    spark, tmp_path, make, frame, id_col
):
    """r11 review: a first-ingest crash between the primary (sigs, fps)
    and bands writes leaves the primary table committed and BANDS absent
    — the retry (and any later ingest) of either banded store must heal
    by deriving the store side in-plan and rebuilding the bands table,
    not raise FileNotFoundError."""
    import shutil

    from metadata_ingestion_framework_spark.operators.dedup import (
        unpersist_deps,
    )

    store = make(spark, str(tmp_path / "heal"))
    s1 = store.ingest(frame(spark, [(1, True)]), "r1")
    s1.count()
    unpersist_deps(s1)
    # simulate the crash aftermath: BANDS table gone, primary intact
    shutil.rmtree(str(tmp_path / "heal" / store.BANDS))
    assert store.store.exists(store._PRIMARY)
    assert not store.store.exists(store.BANDS)
    # near-dup of the stored doc must STILL drop (store side derived
    # in-plan), and the bands table must be rebuilt covering id 1
    s2 = store.ingest(frame(spark, [(2, True), (3, False)]), "r2")
    got = {r[id_col] for r in s2.collect()}
    unpersist_deps(s2)
    assert got == {3}
    bands = store.store.read(store.BANDS)
    assert bands.filter(f"{id_col} = 1").count() > 0  # rebuilt, not batch-only


@pytest.mark.parametrize(
    "make, frame",
    [(_heal_minhash, _heal_docs), (_heal_image, _heal_media)],
    ids=["minhash", "image"],
)
def test_first_ingest_bands_follow_the_stored_rows(spark, tmp_path, make, frame):
    """A first batch that carries one id twice with different payloads
    stores one of them in the primary table (sigs, fps); the band table,
    built from the primary table as stored, holds that payload's band
    rows and none of the other's."""
    from metadata_ingestion_framework_spark.operators.dedup import (
        unpersist_deps,
    )

    store = make(spark, str(tmp_path / "dup"))
    unpersist_deps(store.ingest(frame(spark, [(1, True), (1, False)]), "r1"))
    bands = store.store.read(store.BANDS)
    cols = sorted(bands.columns)  # a partitioned read puts them last
    want = store._band_rows(store.store.read(store._PRIMARY))
    assert sorted(map(tuple, bands.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )


def test_later_ingest_bands_follow_the_stored_rows(spark, tmp_path, monkeypatch):
    """The second-batch twin of the test above: a later minhash batch that
    carries one id twice with different texts upserts the band rows of the
    signature the sigs table keeps, and none of the other text's. Which
    duplicate the SCD1 dedup keeps is arbitrary (``row_number`` over tied
    keys); here it keeps the one of largest row hash, so the choice for a
    band row is made apart from the choice for its signature."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from metadata_ingestion_framework_spark.operators import incremental
    from metadata_ingestion_framework_spark.operators.dedup import (
        unpersist_deps,
    )

    def by_row_hash(rows, keys):
        numbered = F.col(keys[0]).isNotNull()
        w = Window.partitionBy(*keys).orderBy(F.xxhash64(*rows.columns).desc())
        kept = rows.filter(numbered).withColumn("__rn", F.row_number().over(w))
        return kept.filter("__rn = 1").drop("__rn").unionByName(rows.filter(~numbered))

    monkeypatch.setattr(incremental, "_dedup_ids", by_row_hash)
    store = _heal_minhash(spark, str(tmp_path / "dup"))
    unpersist_deps(store.ingest(_heal_docs(spark, [(2, False)]), "r1"))
    unpersist_deps(store.ingest(_heal_docs(spark, [(1, True), (1, False)]), "r2"))
    bands = store.store.read(store.BANDS)
    cols = sorted(bands.columns)
    want = store._band_rows(store.store.read(store.SIGS))
    assert sorted(map(tuple, bands.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )


def test_store_config_guard_refuses_layout_drift(spark, tmp_path):
    """r11 review: reopening a store with different LAYOUT-defining
    parameters must refuse loudly — a silently different bucket width
    ghosts re-ingested rows; different centroids reassign cells under
    the stored layout."""
    from metadata_ingestion_framework_spark.operators.incremental import (
        EmbeddingDedupStore,
        MinhashSignatureStore,
    )

    root = str(tmp_path / "cfg_sig")
    MinhashSignatureStore(spark, root, sig_bucket_width=8192)
    MinhashSignatureStore(spark, root, sig_bucket_width=8192)  # same: ok
    with pytest.raises(ValueError, match="sig_bucket_width"):
        MinhashSignatureStore(spark, root, sig_bucket_width=1024)
    vroot = str(tmp_path / "cfg_vec")
    EmbeddingDedupStore(spark, vroot, dim=8, n_cells=4)
    EmbeddingDedupStore(spark, vroot, dim=8, n_cells=4)  # same: ok
    with pytest.raises(ValueError, match="unit_centroids|n_cells"):
        EmbeddingDedupStore(spark, vroot, dim=8, n_cells=4, seed=99)


def test_ingest_drop_cache_is_releasable(spark, tmp_path):
    """r11 review (CLAUDE.md releasable-state rule): ingest's drop set is
    a persist handed out via _persisted_deps — released, no cached RDD
    survives (the old localCheckpoint pinned blocks until JVM GC)."""
    from metadata_ingestion_framework_spark.operators.dedup import (
        unpersist_deps,
    )
    from metadata_ingestion_framework_spark.operators.incremental import (
        MinhashSignatureStore,
    )

    store = MinhashSignatureStore(
        spark, str(tmp_path / "rel"), jaccard_threshold=0.5
    )
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta " * 6)],
        "doc_id long, text string",
    )
    out = store.ingest(docs, "r1")
    assert out.count() == 1
    assert getattr(out, "_persisted_deps", None), "deps contract missing"
    unpersist_deps(out)
    after = dict(spark.sparkContext._jsc.getPersistentRDDs())
    leaked = {k: v for k, v in after.items() if k not in before}
    assert not leaked, f"ingest leaked {len(leaked)} cached RDD(s)"
