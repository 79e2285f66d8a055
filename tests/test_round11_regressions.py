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


def test_minhash_store_heals_missing_bands_table(spark, tmp_path):
    """r11 review: a first-ingest crash between the sigs and bands writes
    leaves SIGS committed and BANDS absent — the retry (and any later
    ingest) must heal by deriving the store side in-plan and rebuilding
    the bands table, not raise FileNotFoundError."""
    import shutil

    from metadata_ingestion_framework_spark.operators.dedup import (
        unpersist_deps,
    )
    from metadata_ingestion_framework_spark.operators.incremental import (
        MinhashSignatureStore,
    )

    base = "the quick brown fox jumps over the lazy dog and then naps " * 5
    store = MinhashSignatureStore(
        spark, str(tmp_path / "heal"), jaccard_threshold=0.5
    )
    docs1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    s1 = store.ingest(docs1, "r1")
    s1.count()
    unpersist_deps(s1)
    # simulate the crash aftermath: BANDS table gone, SIGS intact
    shutil.rmtree(str(tmp_path / "heal" / store.BANDS))
    assert store.store.exists(store.SIGS)
    assert not store.store.exists(store.BANDS)
    # near-dup of the stored doc must STILL drop (store side derived
    # in-plan), and the bands table must be rebuilt covering doc 1
    docs2 = spark.createDataFrame(
        [(2, base), (3, "entirely different unrelated words " * 10)],
        "doc_id long, text string",
    )
    s2 = store.ingest(docs2, "r2")
    got = {r.doc_id for r in s2.collect()}
    unpersist_deps(s2)
    assert got == {3}
    bands = store.store.read(store.BANDS)
    assert bands.filter("doc_id = 1").count() > 0  # rebuilt, not batch-only


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
