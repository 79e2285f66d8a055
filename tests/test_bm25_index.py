"""Persistent BM25 index (operators/retrieval.py::Bm25Index, r13):
build/append/retire/serve lifecycle — serve row-equal to a fresh
bm25_topk at every stage (the test_ivf_index serve==rebuild convention),
re-ingest vacates stale postings, term-bucket file pruning evidence,
hard-link delta evidence, and the config guard."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.operators.dedup import unpersist_deps
from metadata_ingestion_framework_spark.operators.retrieval import (
    Bm25Index,
    bm25_topk,
)

DOCS = "/root/testdata/sf0.001/documents.parquet"
# small width so the ~500-doc fixture spans several buckets
W, NB, NTB = 128, 16, 16


def _docs(spark):
    return spark.read.parquet(DOCS).select("doc_id", "text")


def _queries(spark, docs):
    return docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )


def _idx(spark, tmp_path, name="bm25"):
    return Bm25Index(
        spark, str(tmp_path / name),
        doc_bucket_width=W, n_buckets=NB, n_term_buckets=NTB,
    )


def _rows(df):
    out = sorted(map(tuple, df.collect()))
    unpersist_deps(df)
    return out


def test_build_serve_equals_fresh_bm25(spark, tmp_path):
    docs = _docs(spark)
    idx = _idx(spark, tmp_path)
    idx.build(docs)
    q = _queries(spark, docs)
    got = _rows(idx.topk(q, k=10))
    want = sorted(map(tuple, bm25_topk(docs, q, k=10).collect()))
    assert got == want and len(got) > 0


def test_append_new_and_reingested_docs(spark, tmp_path):
    """Two-run lifecycle: build on 3/4 of the corpus, append the last
    quarter PLUS re-ingestions of already-stored docs with CHANGED text.
    Serve must equal a fresh rebuild over the updated corpus — in
    particular the re-ingested docs' OLD terms must have vacated (an
    old-text-only query term no longer retrieves them)."""
    docs = _docs(spark)
    stored = docs.filter(F.col("doc_id") % 4 < 3)
    fresh_batch = docs.filter(F.col("doc_id") % 4 == 3)
    reingest = (
        docs.filter(F.col("doc_id") % 16 == 0)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zzrefreshed")))
    )
    batch = fresh_batch.unionByName(reingest)

    idx = _idx(spark, tmp_path)
    idx.build(stored)
    idx.append(batch)

    merged = (
        stored.join(reingest.select("doc_id"), "doc_id", "left_anti")
        .unionByName(fresh_batch)
        .unionByName(reingest)
    )
    q = _queries(spark, merged).unionByName(
        spark.createDataFrame([(900, "zzrefreshed")], "query_id long, text string")
    )
    got = _rows(idx.topk(q, k=10))
    want = sorted(map(tuple, bm25_topk(merged, q, k=10).collect()))
    assert got == want and len(got) > 0
    # the marker term retrieves exactly the re-ingested docs
    marker = {r[1] for r in got if r[0] == 900}
    assert marker == {
        r.doc_id for r in reingest.select("doc_id").limit(10).collect()
    } or len(marker) == 10


def test_append_deltas_hard_link_untouched_buckets(spark, tmp_path):
    """Ingest IO must track the batch: a batch confined to high doc ids
    touches only its own id-range buckets — every other bucket's posting
    files carry into the new version as the SAME inodes."""
    docs = _docs(spark)
    idx = _idx(spark, tmp_path)
    idx.build(docs.filter(F.col("doc_id") < 384))
    v1 = idx.store.current_version(Bm25Index.POSTINGS)
    idx.append(docs.filter(F.col("doc_id") >= 384))
    v2 = idx.store.current_version(Bm25Index.POSTINGS)
    assert v2 == v1 + 1
    p1 = idx.store._version_path(Bm25Index.POSTINGS, v1)
    p2 = idx.store._version_path(Bm25Index.POSTINGS, v2)
    touched = {f"doc_bucket={b}" for b in range(384 // W, NB)}
    untouched = [
        d for d in os.listdir(p1)
        if d.startswith("doc_bucket=") and d not in touched
    ]
    assert untouched, "fixture should span several buckets"
    for d in untouched:
        old = {
            os.stat(f).st_ino
            for f in glob.glob(os.path.join(p1, d, "**", "*.parquet"),
                               recursive=True)
        }
        new = {
            os.stat(f).st_ino
            for f in glob.glob(os.path.join(p2, d, "**", "*.parquet"),
                               recursive=True)
        }
        assert new == old, f"untouched {d} was rewritten"


def test_retire_ids_below(spark, tmp_path):
    """Retention: buckets below the cutoff drop without a rewrite; serve
    equals a fresh index over the survivors (N/avgdl/df all shrink)."""
    docs = _docs(spark)
    idx = _idx(spark, tmp_path)
    idx.build(docs)
    cutoff = 2 * W + 7  # mid-bucket: drops buckets 0-1, rewrites bucket 2
    idx.retire_ids_below(cutoff)
    kept = docs.filter(F.col("doc_id") >= cutoff)
    q = _queries(spark, docs)  # query ids < 3 are retired docs' text — fine
    got = _rows(idx.topk(q, k=10))
    want = sorted(map(tuple, bm25_topk(kept, q, k=10).collect()))
    assert got == want and len(got) > 0
    p = idx.store._version_path(
        Bm25Index.POSTINGS,
        idx.store.current_version(Bm25Index.POSTINGS),
    )
    # exact names (r13 review: startswith('doc_bucket=1') also matched
    # surviving buckets 10-19 on a bigger fixture)
    gone = {"doc_bucket=0", "doc_bucket=1"}
    assert gone.isdisjoint(os.listdir(p))


def test_serve_scan_is_term_bucket_pruned(spark, tmp_path):
    """Corrupt every posting file of term buckets the query does NOT
    probe: the pruned serve path never opens them and still answers
    identically; a full-store scan fails on the corruption."""
    docs = _docs(spark)
    idx = _idx(spark, tmp_path)
    idx.build(docs)

    from metadata_ingestion_framework_spark.operators.retrieval import (
        _terms,
        term_bucket_expr,
    )

    # a NARROW query (first term of the first doc) probes few buckets,
    # leaving populated unprobed buckets to corrupt
    term = (
        docs.orderBy("doc_id")
        .select(F.explode(_terms("text")).alias("t"))
        .first()
        .t
    )
    q = spark.createDataFrame([(50, term)], "query_id long, text string")
    want = _rows(idx.topk(q, k=10))

    probed = {
        r.tb
        for r in q.select(
            F.explode(F.array_distinct(_terms("text"))).alias("term")
        )
        .select(term_bucket_expr(F.col("term"), NTB).alias("tb"))
        .distinct()
        .collect()
    }
    unprobed = set(range(NTB)) - probed
    assert unprobed, "fixture queries should not cover every term bucket"
    p = idx.store._version_path(
        Bm25Index.POSTINGS,
        idx.store.current_version(Bm25Index.POSTINGS),
    )
    # corrupt ONE populated unprobed bucket, picked to not be the
    # first-listed file (read.parquet infers the schema from that footer
    # even before any scan — the ivf-test convention)
    n_corrupted = 0
    for tb in sorted(unprobed, reverse=True):
        files = glob.glob(
            os.path.join(p, "doc_bucket=*", f"term_bucket={tb}", "*.parquet")
        )
        if not files:
            continue
        for f in files:
            with open(f, "wb") as fh:
                fh.write(b"corrupt")
        n_corrupted = len(files)
        break
    assert n_corrupted > 0
    got = _rows(idx.topk(q, k=10))
    assert got == want
    with pytest.raises(Exception):
        idx.store.read(Bm25Index.POSTINGS).count()


def test_tokenless_docs_count_in_stats(spark, tmp_path):
    """NULL/empty docs have no postings but must count in N and avgdl —
    serve equality against bm25_topk (which counts them via its id-only
    scan) proves the doc_stats/bucket_stats path carries them."""
    docs = spark.createDataFrame(
        [(0, "spark engine spark"), (1, "spark data"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    idx = _idx(spark, tmp_path)
    idx.build(docs)
    q = spark.createDataFrame([(9, "spark")], "query_id long, text string")
    got = _rows(idx.topk(q, k=10))
    want = sorted(map(tuple, bm25_topk(docs, q, k=10).collect()))
    assert got == want and len(got) == 2


def test_null_id_docs_survive_lifecycle(spark, tmp_path):
    """A NULL-id doc buckets to the Hive default partition: it must count
    in N/avgdl, serve identically to bm25_topk, and SURVIVE a range
    retirement (NULL ids are never range-retired — including their
    bucket-stats row, the r13 review fix)."""
    docs = spark.createDataFrame(
        [(0, "spark engine"), (1, "spark data"), (None, "spark ghost doc"),
         (300, "spark late")],
        "doc_id long, text string",
    )
    def rows(df):
        out = [tuple(r) for r in df.collect()]
        unpersist_deps(df)
        return sorted(out, key=lambda r: (r[0], r[1] is None, r[1] or 0))

    idx = _idx(spark, tmp_path)
    idx.build(docs)
    q = spark.createDataFrame([(9, "spark")], "query_id long, text string")
    want = sorted(
        map(tuple, bm25_topk(docs, q, k=10).collect()),
        key=lambda r: (r[0], r[1] is None, r[1] or 0),
    )
    assert rows(idx.topk(q, k=10)) == want
    idx.retire_ids_below(100)
    kept = docs.filter(F.col("doc_id").isNull() | (F.col("doc_id") >= 100))
    got2 = rows(idx.topk(q, k=10))
    want2 = sorted(
        map(tuple, bm25_topk(kept, q, k=10).collect()),
        key=lambda r: (r[0], r[1] is None, r[1] or 0),
    )
    assert got2 == want2
    assert any(r[1] is None for r in got2)  # the NULL-id doc survived


def test_append_counts_every_null_id_doc(spark, tmp_path):
    """Two NULL-id docs in one append are two docs, as in the postings
    and as a build of the same docs counts them: the NULL bucket's
    ``n_docs`` reads 2, and each doc keeps its own length, so its
    ``total_dl`` is 2 + 3."""
    ddl = "doc_id long, text string"
    first = [(0, "spark engine"), (1, "spark data")]
    batch = [(None, "ghost one"), (None, "ghost two words"), (5, "spark late")]
    idx = _idx(spark, tmp_path)
    idx.build(spark.createDataFrame(first, ddl))
    idx.append(spark.createDataFrame(batch, ddl))
    fresh = _idx(spark, tmp_path, "fresh")
    fresh.build(spark.createDataFrame(first + batch, ddl))

    def stats(index):
        rows = index.store.read(Bm25Index.BUCKET_STATS).collect()
        return {r.doc_bucket: (r.n_docs, r.total_dl) for r in rows}

    assert stats(idx)[None] == (2, 5)
    assert stats(idx) == stats(fresh)


def test_config_guard(spark, tmp_path):
    idx = _idx(spark, tmp_path)
    idx.build(_docs(spark).limit(50))
    # same config reopens fine
    _idx(spark, tmp_path)
    with pytest.raises(ValueError, match="layout"):
        Bm25Index(
            spark, str(tmp_path / "bm25"),
            doc_bucket_width=W, n_buckets=NB, n_term_buckets=NTB * 2,
        )
    with pytest.raises(FileNotFoundError):
        Bm25Index(
            spark, str(tmp_path / "other"),
            doc_bucket_width=W, n_buckets=NB, n_term_buckets=NTB,
        ).topk(_queries(spark, _docs(spark)))


def test_compact_preserves_layout_and_serving(spark, tmp_path):
    """r13 review: compaction of a partitioned store table must keep the
    partition layout — the earlier plain-repartition rewrite flattened
    it (pruning gone, next delta write refused). After several appends,
    compact coalesces files per partition dir, serve stays row-equal,
    and a further append still delta-writes."""
    import glob as _glob

    docs = _docs(spark)
    idx = _idx(spark, tmp_path)
    idx.build(docs.filter(F.col("doc_id") < 200))
    for lo in (200, 300, 400):
        idx.append(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100))
        )
    q = _queries(spark, docs)
    before = _rows(idx.topk(q, k=10))
    store = idx.store
    assert store.partition_cols_of(Bm25Index.POSTINGS) == [
        "doc_bucket", "term_bucket",
    ]
    pv = store._version_path(
        Bm25Index.POSTINGS, store.current_version(Bm25Index.POSTINGS)
    )
    n_before = len(
        _glob.glob(os.path.join(pv, "**", "*.parquet"), recursive=True)
    )
    store.compact(Bm25Index.POSTINGS)
    pv2 = store._version_path(
        Bm25Index.POSTINGS, store.current_version(Bm25Index.POSTINGS)
    )
    assert any(d.startswith("doc_bucket=") for d in os.listdir(pv2))
    n_after = len(
        _glob.glob(os.path.join(pv2, "**", "*.parquet"), recursive=True)
    )
    assert n_after <= n_before
    assert _rows(idx.topk(q, k=10)) == before
    # the layout survived: a further delta append works and serves right
    idx.append(
        docs.filter(F.col("doc_id") >= 400).withColumn(
            "text", F.concat(F.col("text"), F.lit(" freshened"))
        )
    )
    merged = docs.filter(F.col("doc_id") < 400).unionByName(
        docs.filter(F.col("doc_id") >= 400).withColumn(
            "text", F.concat(F.col("text"), F.lit(" freshened"))
        )
    )
    got = _rows(idx.topk(q, k=10))
    want = sorted(map(tuple, bm25_topk(merged, q, k=10).collect()))
    assert got == want


def test_index_triage_equals_per_call_form(spark, tmp_path):
    """r14 (VERDICT r13 item 1): triage with the index as candidate stage
    must flag the IDENTICAL (pair, shared_grams, rank) set as the
    per-call contamination_triage over the same corpus — the
    serve==rebuild convention composed one level up — including across
    an append (so the amortized recurring-triage path, not just the
    fresh build, is pinned)."""
    from metadata_ingestion_framework_spark.operators.retrieval import (
        contamination_triage,
    )

    docs = _docs(spark)
    evals = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    idx = _idx(spark, tmp_path)
    idx.build(train.filter(F.col("doc_id") % 4 != 3))
    idx.append(train.filter(F.col("doc_id") % 4 == 3))

    served = idx.triage(train, evals, k=50, shingle_n=5, min_shared=3)
    got = {
        (r.train_id, r.eval_id): (r.shared_grams, r.rank)
        for r in served.collect()
    }
    unpersist_deps(served)
    want = {
        (r.train_id, r.eval_id): (r.shared_grams, r.rank)
        for r in contamination_triage(
            train, evals, k=50, shingle_n=5, min_shared=3
        ).collect()
    }
    assert got == want and len(want) > 0


def test_sized_term_buckets_rule(spark, tmp_path):
    """r15 (VERDICT r14 item 2): n_term_buckets=None derives the serve
    layout from the build corpus's vocabulary (sized_term_buckets),
    persists it in the config guard, reopens adopting the stored value,
    and serves row-equal to an explicitly-bucketed index."""
    from metadata_ingestion_framework_spark.operators.retrieval import (
        sized_term_buckets,
    )

    # the rule itself: pow2 of vocab/512, clamped [8, 64] — the cap is
    # the proven fixed default (growing past it A/B'd worse in round 15)
    assert sized_term_buckets(0) == 8
    assert sized_term_buckets(31) == 8       # the synthetic corpus
    assert sized_term_buckets(512 * 16) == 16
    assert sized_term_buckets(512 * 1000) == 64
    assert sized_term_buckets(10**9) == 64   # capped at the proven grid

    docs = _docs(spark)
    root = str(tmp_path / "sized")
    idx = Bm25Index(spark, root, doc_bucket_width=W, n_buckets=NB)
    assert idx.n_term_buckets is None  # deferred until build
    idx.build(docs)
    assert idx.n_term_buckets == 8  # 31-term vocab -> 8 buckets
    # reopen with the default adopts the stored layout
    reopened = Bm25Index(spark, root, doc_bucket_width=W, n_buckets=NB)
    assert reopened.n_term_buckets == 8
    # a mismatched EXPLICIT reopen still fails loudly
    with pytest.raises(ValueError, match="layout"):
        Bm25Index(
            spark, root,
            doc_bucket_width=W, n_buckets=NB, n_term_buckets=64,
        )
    # layout is oracle-invariant: serve == the explicitly-bucketed index
    q = _queries(spark, docs)
    got = _rows(reopened.topk(q, k=10))
    explicit = _idx(spark, tmp_path, "explicit")
    explicit.build(docs)
    want = _rows(explicit.topk(q, k=10))
    assert got == want and len(got) > 0


def test_sized_index_append_keeps_layout(spark, tmp_path):
    """append never re-sizes: the layout is the store's identity (the
    IVF-centroid contract) — and serve over the grown sized store equals
    a fresh bm25 over the merged corpus."""
    docs = _docs(spark)
    old = docs.filter(F.col("doc_id") % 4 < 3)
    new = docs.filter(F.col("doc_id") % 4 == 3)
    root = str(tmp_path / "sized_grow")
    idx = Bm25Index(spark, root, doc_bucket_width=W, n_buckets=NB)
    idx.build(old)
    sized = idx.n_term_buckets
    idx.append(new)
    assert idx.n_term_buckets == sized
    q = _queries(spark, docs)
    got = _rows(idx.topk(q, k=10))
    want = sorted(map(tuple, bm25_topk(docs, q, k=10).collect()))
    assert got == want and len(got) > 0


def test_maxp_served_equals_per_call(spark, tmp_path):
    """bm25_maxp_served (r15): a PASSAGE-grain Bm25Index (packed pids,
    grown via build + append) serves MaxP row-for-row equal to the
    per-call bm25_maxp over the merged corpus — serve==rebuild composes
    through the per-document MAX and both tiebreaks."""
    from pyspark.sql import functions as F

    from metadata_ingestion_framework_spark.operators.dedup import (
        unpersist_deps,
    )
    from metadata_ingestion_framework_spark.operators.retrieval import (
        Bm25Index,
        bm25_maxp,
        bm25_maxp_served,
        packed_passages,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 120)
    )
    pas = packed_passages(docs, chunk_tokens=32, overlap=8)
    idx = Bm25Index(
        spark, str(tmp_path / "pidx"), id_col="__pid", text_col="passage",
        doc_bucket_width=32_000_000,  # pid units: 32 docs per bucket
        n_buckets=16,
    )
    idx.build(pas.filter(F.col("__pid") < 80_000_000))
    idx.append(pas.filter(F.col("__pid") >= 80_000_000))

    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    served = bm25_maxp_served(idx, queries, k=10)
    got = sorted(map(tuple, served.collect()))
    unpersist_deps(served)
    percall = bm25_maxp(docs, queries, k=10, chunk_tokens=32, overlap=8)
    want = sorted(map(tuple, percall.collect()))
    unpersist_deps(percall)
    assert got == want and len(got) == 30


def test_maxp_string_ids_per_call_and_served(spark, tmp_path):
    """VERDICT r15 item 6: non-numeric doc ids ride a (doc, chunk)
    STRUCT pid through the whole MaxP dataflow — per-call results equal
    the packed-id run on the same corpus (modulo the id rename), and a
    struct-pid Bm25Index serves row-for-row equal to per-call."""
    from pyspark.sql import functions as F

    from metadata_ingestion_framework_spark.operators.dedup import (
        unpersist_deps,
    )
    from metadata_ingestion_framework_spark.operators.retrieval import (
        Bm25Index,
        bm25_maxp,
        bm25_maxp_served,
        packed_passages,
    )

    base = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    docs = base.select(
        F.concat(F.lit("doc-"), F.format_string("%04d", "doc_id"))
        .alias("doc_id"),
        "text",
    )
    queries = docs.filter(F.col("doc_id") < "doc-0003").select(
        F.col("doc_id").alias("query_id"), "text"
    )
    assert dict(
        packed_passages(docs, chunk_tokens=32, overlap=8).dtypes
    )["__pid"].startswith("struct")

    got = bm25_maxp(docs, queries, k=10, chunk_tokens=32, overlap=8)
    got_rows = sorted(map(tuple, got.collect()))
    unpersist_deps(got)
    # same corpus under packed numeric ids — results must agree modulo
    # the id rename (the zero-padded string order matches numeric order)
    nq = base.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    num = bm25_maxp(base, nq, k=10, chunk_tokens=32, overlap=8)
    num_rows = sorted(
        (f"doc-{q:04d}", f"doc-{d:04d}", c, s, r)
        for q, d, c, s, r in num.collect()
    )
    unpersist_deps(num)
    assert got_rows == num_rows and len(got_rows) == 30

    pas = packed_passages(docs, chunk_tokens=32, overlap=8)
    idx = Bm25Index(
        spark, str(tmp_path / "sidx"), id_col="__pid", text_col="passage",
        n_buckets=8,
    )
    idx.build(pas.filter(F.col("__pid.doc") < "doc-0040"))
    idx.append(pas.filter(F.col("__pid.doc") >= "doc-0040"))
    served = bm25_maxp_served(idx, queries, k=10)
    served_rows = sorted(map(tuple, served.collect()))
    unpersist_deps(served)
    assert served_rows == got_rows
