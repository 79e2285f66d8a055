"""Dedup family tests: window/exact parity ops + minhash/simhash/ngram
near-dup extensions."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_duplicates,
)
from metadata_ingestion_framework_spark.operators.merge import dedup_window

LOREM = (
    "the quick brown fox jumps over the lazy dog while the sun sets slowly "
    "behind the distant mountains and the river flows quietly through the valley"
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, LOREM),
            (2, LOREM),  # exact dup of 1
            (3, LOREM.replace("quick", "swift")),  # near dup of 1
            (4, "completely different content about spark query engines and "
                "distributed columnar execution with adaptive planning"),
        ],
        "doc_id long, text string",
    )


def test_dedup_window_asc_is_reference_behavior(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 30)], "k int, v string, ts int"
    )
    first = dedup_window(df, ["k"], ["ts"])
    assert {r["v"] for r in first.collect()} == {"a", "c"}  # ASC: earliest wins
    latest = dedup_window(df, ["k"], ["ts"], desc=True)
    assert {r["v"] for r in latest.collect()} == {"b", "c"}


def test_dedup_exact_keeps_min_id(spark):
    out = dedup_exact(_docs(spark), ["text"], "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4]


def test_minhash_signature_shape_and_determinism(spark):
    sigs = minhash_signatures(_docs(spark), "text", "doc_id")
    rows = {r["doc_id"]: r["minhash_sig"] for r in sigs.collect()}
    assert all(len(v) == 64 for v in rows.values())
    assert rows[1] == rows[2]  # identical text -> identical signature
    assert rows[1] != rows[4]


def test_minhash_lsh_pairs(spark):
    pairs = minhash_lsh_duplicates(_docs(spark), "text", "doc_id", jaccard_threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard_est"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0  # exact dup -> every slot equal
    assert (1, 3) in got and got[(1, 3)] >= 0.5  # near dup survives
    assert all(4 not in p for p in got)  # unrelated doc never pairs


def test_simhash_hamming(spark):
    fps = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark), "text", "doc_id").collect()}
    assert fps[1] == fps[2]
    pairs = simhash_duplicates(_docs(spark), "text", "doc_id", max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0
    assert all(4 not in p for p in got)


def test_ngram_jaccard_exact_value(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d", "g"), (2, "a b c e", "g"), (3, "x y z w", "g")],
        "doc_id long, text string, grp string",
    )
    # 3-gram sets: {abc, bcd} vs {abc, bce}: |∩|=1, |∪|=3 -> 1/3
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", ["grp"], threshold=0.1)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert abs(got[(1, 2)] - 1 / 3) < 1e-9
    assert (1, 3) not in got and (2, 3) not in got


def test_short_and_empty_docs_no_crash(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, LOREM)], "doc_id long, text string"
    )
    assert minhash_lsh_duplicates(docs, "text", "doc_id").count() == 0
    assert simhash_duplicates(docs, "text", "doc_id").count() == 0


def test_ngram_contamination_flags_overlap(spark):
    from metadata_ingestion_framework_spark.operators.dedup import (
        decontaminate,
        ngram_contamination,
    )

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated text about spark physical plans"),
            (3, "the quick brown fox jumps over a sleeping cat today"),
        ],
        "doc_id int, text string",
    )
    evals = spark.createDataFrame(
        [(100, "we ask whether the quick brown fox jumps over anything")],
        "doc_id int, text string",
    )
    pairs = ngram_contamination(train, evals, "text", "doc_id", shingle_n=5, min_shared=1)
    got = {(r["train_id"], r["eval_id"]): r["shared_grams"] for r in pairs.collect()}
    # 'the quick brown fox jumps' (+ 'quick brown fox jumps over') shared
    assert got[(1, 100)] == 2 and got[(3, 100)] == 2 and (2, 100) not in got

    clean = decontaminate(train, evals, "text", "doc_id", shingle_n=5, min_shared=1)
    assert sorted(r["doc_id"] for r in clean.collect()) == [2]


def test_ngram_contamination_min_shared_threshold(spark):
    from metadata_ingestion_framework_spark.operators.dedup import ngram_contamination

    train = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id int, text string"
    )
    evals = spark.createDataFrame(
        [(9, "a b c d e x y z")], "doc_id int, text string"
    )
    # shares exactly one 5-gram ('a b c d e')
    assert ngram_contamination(train, evals, "text", "doc_id", 5, 1).count() == 1
    assert ngram_contamination(train, evals, "text", "doc_id", 5, 2).count() == 0


def test_remove_duplicate_spans_semantics(spark):
    """Cross-doc removal, self-overlap, whole-doc wipe, short/empty docs,
    whitespace normalization, and case preservation (spans match on
    verbatim tokens; the rewrite keeps original casing)."""
    from metadata_ingestion_framework_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(
        [
            (1, "A b c d e f tail1"),        # global first occurrence
            (2, "head \t A b c d e f tail2"),  # dup at pos 1 -> 6 tokens out
            (3, "x y"),                       # shorter than W: untouched
            (4, ""),                          # empty
            (5, "A b c d e f"),               # whole doc is the dup span
            (6, "p p p p p p p p"),           # self-overlap: keeps one token
            (7, "a B c d e f"),               # case differs from doc 1: kept
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(df, "text", "doc_id", span_w=6).collect()
    }
    assert (out[1]["clean_text"], out[1]["n_removed"]) == ("A b c d e f tail1", 0)
    assert (out[2]["clean_text"], out[2]["n_removed"]) == ("head tail2", 6)
    assert (out[3]["clean_text"], out[3]["n_removed"]) == ("x y", 0)
    assert (out[4]["clean_text"], out[4]["n_removed"]) == ("", 0)
    assert (out[5]["clean_text"], out[5]["n_removed"]) == ("", 6)
    assert (out[6]["clean_text"], out[6]["n_removed"]) == ("p", 7)
    assert (out[7]["clean_text"], out[7]["n_removed"]) == ("a B c d e f", 0)


def test_remove_duplicate_spans_shuffle_join_parity(spark):
    """broadcast_removals=False (the pathological-corpus fallback) must
    produce identical output to the broadcast path."""
    from metadata_ingestion_framework_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(
        [(i, f"w{i % 4} x y z q r s t{i % 3}") for i in range(40)],
        "doc_id int, text string",
    )
    a = sorted(
        remove_duplicate_spans(df, "text", "doc_id", span_w=6, broadcast_removals=True)
        .collect()
    )
    b = sorted(
        remove_duplicate_spans(df, "text", "doc_id", span_w=6, broadcast_removals=False)
        .collect()
    )
    assert a == b
    assert any(r["n_removed"] > 0 for r in a)  # the corpus must be dirty


def test_bloom_contamination_equals_exact(spark):
    """r10: the fixed-size Bloom prefilter path must produce IDENTICAL
    pairs to the exact gram join — including with a deliberately tiny
    bitmap (256 bits -> heavy false positives) where the exact verify
    stage has to discard nearly every candidate."""
    from metadata_ingestion_framework_spark.operators.dedup import (
        ngram_contamination,
        ngram_contamination_bloom,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    evals = docs.filter("doc_id % 20 = 0")
    train = docs.filter("doc_id % 20 != 0")
    exact = {
        tuple(r)
        for r in ngram_contamination(
            train, evals, "text", "doc_id", shingle_n=5, min_shared=3
        ).collect()
    }
    for bits in (1 << 20, 256):
        bloom = {
            tuple(r)
            for r in ngram_contamination_bloom(
                train, evals, "text", "doc_id", shingle_n=5, min_shared=3,
                n_bits=bits,
            ).collect()
        }
        assert bloom == exact, f"n_bits={bits}"


def test_paragraph_dedup_semantics(spark):
    """Global first-(id,pos) precedence, intra-doc repeats, empty-segment
    normalization, NULL/whitespace-only docs, and the trimmed-match rule
    (paragraphs differing only in surrounding whitespace are the SAME
    paragraph)."""
    from metadata_ingestion_framework_spark.operators.dedup import (
        paragraph_dedup,
    )

    df = spark.createDataFrame(
        [
            (1, "Hello world.\n\nThe quick brown fox.\nHello world."),
            (2, "  Hello world.  \nSomething new.\n   \nThe quick brown fox."),
            (3, None),
            (4, "   \n\n"),
            (5, "Something new."),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in paragraph_dedup(df, "text", "doc_id").collect()
    }
    # doc 1: keeps both distinct paragraphs, loses the intra-doc repeat
    assert (out[1]["clean_text"], out[1]["n_removed"]) == (
        "Hello world.\nThe quick brown fox.", 1,
    )
    # doc 2: both already-seen paragraphs removed DESPITE extra whitespace
    assert (out[2]["clean_text"], out[2]["n_removed"]) == ("Something new.", 2)
    assert (out[3]["clean_text"], out[3]["n_removed"]) == ("", 0)
    assert (out[4]["clean_text"], out[4]["n_removed"]) == ("", 0)
    # doc 5: doc 2's pos-1 occurrence came first globally
    assert (out[5]["clean_text"], out[5]["n_removed"]) == ("", 1)


def test_paragraph_dedup_shuffle_join_parity(spark):
    """broadcast_removals=False must produce identical output, and
    keep_cols must pass through join-free."""
    from metadata_ingestion_framework_spark.operators.dedup import (
        paragraph_dedup,
    )

    df = spark.createDataFrame(
        [(i, f"common footer\npara {i % 5}\nbody {i}", f"s{i % 2}")
         for i in range(40)],
        "doc_id int, text string, source string",
    )
    a = sorted(
        paragraph_dedup(df, "text", "doc_id", broadcast_removals=True,
                        keep_cols=["source"]).collect()
    )
    b = sorted(
        paragraph_dedup(df, "text", "doc_id", broadcast_removals=False,
                        keep_cols=["source"]).collect()
    )
    assert a == b
    assert any(r["n_removed"] > 0 for r in a)
    assert {r["source"] for r in a} == {"s0", "s1"}


def test_paragraph_dedup_viral_boilerplate_no_window(spark):
    """VERDICT r15 item 1: one boilerplate paragraph repeated ~1e5 times
    (the cookie-banner case a real crawl is full of) must (a) resolve to
    exactly one surviving owner with the same first-(id,pos) precedence,
    and (b) run WITHOUT any Window operator in the plan — the old
    ``Window.partitionBy("gh")`` put every occurrence of a viral hash
    into a single task AQE cannot split; the first-owner aggregation is
    partial-aggregable (map-side combine) and its join-back is
    AQE-skew-splittable."""
    import pyspark.sql.functions as F

    from metadata_ingestion_framework_spark.operators.dedup import (
        paragraph_dedup,
    )

    n = 100_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("Accept all cookies to continue.\nunique para "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    out = paragraph_dedup(df, "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "viral-hash-skewed window operator is back"
    agg = out.agg(
        F.sum("n_removed").alias("rm"),
        F.sum(F.when(F.col("n_removed") == 0, 1).otherwise(0)).alias("clean"),
    ).collect()[0]
    # doc 0 owns the boilerplate; every other doc loses exactly it
    assert agg["rm"] == n - 1 and agg["clean"] == 1
    owner = out.filter(F.col("doc_id") == 0).collect()[0]
    assert owner["clean_text"] == (
        "Accept all cookies to continue.\nunique para 0"
    )
    victim = out.filter(F.col("doc_id") == 17).collect()[0]
    assert (victim["clean_text"], victim["n_removed"]) == (
        "unique para 17", 1,
    )


def test_web_pipeline_order(spark):
    """The real web-curation order (VERDICT r14 item 3): html extract +
    boilerplate gate -> paragraph dedup -> quality heuristics. A footer
    paragraph repeated across pages survives only in the first page;
    link-farm pages never reach the dedup stage; the quality gate runs on
    the CLEANED text."""
    from metadata_ingestion_framework_spark.functions.html import (
        boilerplate_gate,
    )
    from metadata_ingestion_framework_spark.functions.text import (
        quality_score,
    )
    from metadata_ingestion_framework_spark.operators.dedup import (
        paragraph_dedup,
    )
    from pyspark.sql import functions as F

    body1 = "unique first page content with plenty of real words here "
    body2 = "a different second page body also full of real words here "
    footer = "copyright footer all rights reserved"
    rows = [
        (1, "<p>" + body1 * 3 + "</p>"),
        (2, "<p>" + body2 * 3 + "</p>"),
        (3, '<a href="u">link</a>'),  # boilerplate: gated out pre-dedup
    ]
    pages = spark.createDataFrame(rows, "doc_id long, html string")
    gated = boilerplate_gate(pages, "html", min_text_chars=50).filter("keep")
    # extraction collapses intra-page whitespace; the paragraph structure
    # is the page boundary here, so append the shared footer as its own
    # paragraph (the wrapper/CMS shape)
    docs = gated.select(
        "doc_id", F.concat_ws("\n", "text", F.lit(footer)).alias("text")
    )
    cleaned = paragraph_dedup(docs, "text", "doc_id")
    out = {r["doc_id"]: r for r in cleaned.collect()}
    assert set(out) == {1, 2}
    assert out[1]["clean_text"].endswith(footer)   # first occurrence kept
    assert footer not in out[2]["clean_text"]      # later occurrence removed
    assert out[2]["n_removed"] == 1
    scored = cleaned.select(
        "doc_id", quality_score(F.col("clean_text")).alias("q")
    )
    assert all(r["q"] is not None for r in scored.collect())


def test_paragraph_dedup_edge_digits_not_trimmed(spark):
    """Regression (r15): F.transform handed a bare F.trim its element
    INDEX as the optional trimStr — a paragraph at position i with its
    own index digits at an edge lost them ("Doc 0" at pos 0 -> "Doc ").
    Caught by the web_curation oracle; pinned here."""
    from metadata_ingestion_framework_spark.operators.dedup import (
        paragraph_dedup,
    )

    df = spark.createDataFrame(
        [(7, "Doc 0\n1 mid 1\ndup"), (8, "dup\n0 tail 0")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in paragraph_dedup(df, "text", "doc_id").collect()
    }
    assert out[7] == ("Doc 0\n1 mid 1\ndup", 0)
    assert out[8] == ("0 tail 0", 1)  # clean_dirty path keeps edge digits
