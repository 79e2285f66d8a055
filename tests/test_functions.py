"""Unit tests for §2.3 row-level transforms (hashing, PII, transforms,
timestamps) — golden asserts per SURVEY.md §5."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.functions.hashing import (
    hash_it,
    hash_it_complete,
    hash_numerical_it,
)
from metadata_ingestion_framework_spark.functions.pii import (
    anonymize_free_text,
    decrypt_it,
    encrypt_it,
    identify_columns,
    mask_it,
)
from metadata_ingestion_framework_spark.functions.timestamps import (
    clean_iso_timestamp,
    epoch_millis_to_timestamp,
)
from metadata_ingestion_framework_spark.functions.transforms import (
    add_flag_columns,
    drop_it,
    has_column,
    reorder_columns,
    serialize_rows,
)


def test_hash_it_null_sentinel(spark):
    df = spark.createDataFrame([(1, None), (2, "x")], "id int, v string")
    out = {r["id"]: r["hashed_jk"] for r in hash_it(df, "hashed_jk", 256, "id", "v").collect()}
    # null coalesces to 'n/a' before concat (Utility.scala:43)
    assert out[1] == hashlib.sha256(b"1n/a").hexdigest()
    assert out[2] == hashlib.sha256(b"2x").hexdigest()


def test_hash_it_complete_per_column(spark):
    df = spark.createDataFrame([("a", "b")], "x string, y string")
    row = hash_it_complete(df, 256, "x", "y").collect()[0]
    assert row["x_hash"] == hashlib.sha256(b"a").hexdigest()
    assert row["y_hash"] == hashlib.sha256(b"b").hexdigest()
    assert row["x"] == "a"  # source kept


def test_hash_numerical_bounds(spark):
    df = spark.range(500).withColumn("k", F.col("id").cast("string"))
    out = hash_numerical_it(df, "grouping_jk", "k")
    mn, mx = out.agg(F.min("grouping_jk"), F.max("grouping_jk")).collect()[0]
    assert 0 <= mn and mx <= 499  # abs(hash) % 500 (Utility.scala:63)


def test_mask_it_in_place_and_suffixed(spark):
    df = spark.createDataFrame([("ssn 123-45-6789",)], "t string")
    masked = mask_it(df, r"\d{3}-\d{2}-\d{4}", "***", True, "t").collect()[0]["t"]
    assert masked == "ssn ***"
    kept = mask_it(df, r"\d{3}-\d{2}-\d{4}", "***", False, "t").collect()[0]
    assert kept["t"] == "ssn 123-45-6789" and kept["t_masked"] == "ssn ***"


def test_anonymize_replaces_pii_with_sha256(spark):
    ssn, email, cc = "123-45-6789", "a@b.com", "4111111111111111"
    df = spark.createDataFrame([(f"ssn {ssn} mail {email} cc {cc} end",)], "t string")
    out = anonymize_free_text(df, "t").collect()[0]["t"]
    for match in (ssn, email, cc):
        assert match not in out
        assert hashlib.sha256(match.encode()).hexdigest() in out
    assert out.startswith("ssn ") and out.endswith(" end")  # non-PII untouched


def test_anonymize_digits_follow_java_ascii_rule(spark):
    """Java's \\d matches ASCII digits only: an SSN written in Arabic-Indic
    digits is not PII to the reference and stays as written."""
    ascii_ssn, arabic_ssn = "123-45-6789", "١٢٣-٤٥-٦٧٨٩"
    df = spark.createDataFrame([(f"a {arabic_ssn} b {ascii_ssn}",)], "t string")
    out = anonymize_free_text(df, "t").collect()[0]["t"]
    assert arabic_ssn in out
    assert ascii_ssn not in out
    assert hashlib.sha256(ascii_ssn.encode()).hexdigest() in out


def test_encrypt_decrypt_roundtrip(spark):
    df = spark.createDataFrame([(1, "secret"), (2, None)], "id int, v string")
    enc = encrypt_it(df, "v", key="k1")
    assert enc.filter(F.col("v") == "secret").count() == 0  # actually encrypted
    # deterministic ciphertext -> joinable (the property the reference needs)
    enc2 = encrypt_it(df, "v", key="k1")
    assert enc.join(enc2, "v").count() >= 2
    dec = {r["id"]: r["v"] for r in decrypt_it(enc, "v", key="k1").collect()}
    assert dec[1] == "secret"
    assert dec[2] is None  # 'n/a' sentinel maps back to null


def test_identify_columns_exact_vs_substring():
    cols = ["email", "user_email", "phone", "notes"]
    # common_flag True -> exact; False -> substring (Utility.scala:209-223)
    assert identify_columns(cols, [("email", True)]) == ["email"]
    assert identify_columns(cols, [("email", False)]) == ["email", "user_email"]
    assert identify_columns(cols, [("zzz", False)]) == []


def test_epoch_millis_to_timestamp(spark):
    df = spark.createDataFrame([(0,), (1609459200000,)], "ts long")
    out = [str(r["ts"]) for r in epoch_millis_to_timestamp(df, "ts").collect()]
    assert out == ["1970-01-01 00:00:00", "2021-01-01 00:00:00"]  # UTC session
    # missing column: no-op (hasColumn guard, Utility.scala:350)
    assert epoch_millis_to_timestamp(df, "nope").columns == ["ts"]


def test_clean_iso_timestamp(spark):
    df = spark.createDataFrame([("2021-01-01T12:00:00Z",)], "created string")
    out = clean_iso_timestamp(df, "created", "created_at").collect()[0]
    assert out["created_at"] == "2021-01-01 12:00:00"


def test_drop_reorder_flags_serialize(spark, emp):
    assert "comm" not in drop_it(emp, "comm", "missing").columns
    assert has_column(emp, "sal") and not has_column(emp, "nope")
    assert reorder_columns(emp, ["deptno", "empid"]).columns[:2] == ["deptno", "empid"]
    flagged = add_flag_columns(emp)
    row = flagged.filter("empid = 5467").collect()[0]
    assert row["row_active"] is True and row["deleted_flag"] is False
    assert row["current_flag"] is True and row["expiry_at"] is None
    ser = serialize_rows(emp.filter("empid = 5467").select("empid", "ename", "comm"))
    assert ser.collect()[0]["row_data"] == "5467|WILSON|400"


def test_repetition_stats_exact_small(spark):
    from metadata_ingestion_framework_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a b"),          # top word a:3/4; distinct 2/4; bigrams: 'a a' 2/3
            (2, "x y z"),            # all distinct; bigrams all distinct 1/2
            (3, "solo"),             # one word, no bigrams
            (4, ""),                 # empty
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(df, "text", "doc_id").collect()}
    assert got[1]["top_word_frac"] == 0.75
    assert got[1]["dup_word_frac"] == 0.5
    assert got[1]["top_bigram_frac"] == round(2 / 3, 6)
    assert got[2]["top_word_frac"] == round(1 / 3, 6)
    assert got[2]["dup_word_frac"] == 0.0
    assert got[2]["top_bigram_frac"] == 0.5
    assert got[3]["top_word_frac"] == 1.0 and got[3]["top_bigram_frac"] == 0.0
    assert got[4]["top_word_frac"] == 0.0 and got[4]["dup_word_frac"] == 0.0


def test_pack_manifest_small(spark):
    """Expectations derived from the SAME 60-bit-md5 shard formula the
    operator uses, then a pure-Python re-pack per shard — so the test
    survives shard-function changes as long as docs pack in id order."""
    import hashlib

    from metadata_ingestion_framework_spark.functions.text import pack_manifest

    rows = [(0, "w1 w2 w3"), (2, "a b c d"), (4, ""), (1, " ".join(["t"] * 5)), (3, "x")]
    budget, shards = 5, 2
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in pack_manifest(df, "text", "doc_id", budget, shards).collect()}

    def shard_of(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % shards

    expected = {}
    nonempty = sorted((i, len(t.split())) for i, t in rows if t)
    for s in range(shards):
        cum = 0
        for i, n in [(i, n) for i, n in nonempty if shard_of(i) == s]:
            expected[i] = (s, n, cum // budget, (cum + n - 1) // budget)
            cum += n
    assert set(out) == set(expected)  # empty doc 4 dropped
    for i, (s, n, sf, sl) in expected.items():
        r = out[i]
        assert (r["shard"], r["n_tokens"], r["seq_first"], r["seq_last"]) == (s, n, sf, sl)
    # at least one doc must straddle a sequence boundary for the test to bite
    assert any(sf != sl for (_, _, sf, sl) in expected.values())


def test_tfidf_top_terms_small(spark):
    import math

    from metadata_ingestion_framework_spark.functions.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
        "doc_id int, text string",
    )
    out = tfidf_top_terms(df, "text", "doc_id", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["tfidf"]))
    # doc 1: apple tf=2 df=1 beats banana tf=1 df=2
    assert sorted(by_doc[1])[0][1] == "apple"
    expected_apple = round(2 * (math.log(4 / 2) + 1), 6)
    assert sorted(by_doc[1])[0][2] == expected_apple
    # doc 3: cherry tf=3 dominates; durian df=1 second
    assert [t for _, t, _ in sorted(by_doc[3])] == ["cherry", "durian"]
    assert all(len(v) <= 2 for v in by_doc.values())


def test_ngram_perplexity_small(spark):
    """Hand-computed bigram NLLs; short/empty docs get (0.0, 0); a doc made
    of the corpus-dominant bigram scores lower than a rare-bigram doc."""
    import math

    from metadata_ingestion_framework_spark.functions.text import ngram_perplexity
    from metadata_ingestion_framework_spark.operators.dedup import unpersist_deps

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # bigrams: (a b)x3, (b a)x2
            (2, "a b"),           # one bigram (a b)
            (3, "x"),             # no bigrams
            (4, ""),              # empty
            (5, "q r"),           # unique bigram -> P=1 under its own count
        ],
        "doc_id int, text string",
    )
    res = ngram_perplexity(df, "text", "doc_id")
    out = {r["doc_id"]: r for r in res.collect()}
    # corpus counts: C(a b)=4, C(b a)=2, C(a .)=4, C(b .)=2, C(q r)=1, C(q .)=1
    nll_ab = -math.log(4 / 4)   # 0.0
    nll_ba = -math.log(2 / 2)   # 0.0
    assert out[1]["avg_nll"] == round((3 * nll_ab + 2 * nll_ba) / 5, 6) == 0.0
    assert out[1]["n_bigrams"] == 5
    assert (out[3]["avg_nll"], out[3]["n_bigrams"]) == (0.0, 0)
    assert (out[4]["avg_nll"], out[4]["n_bigrams"]) == (0.0, 0)
    assert out[5]["avg_nll"] == 0.0  # unique bigram, unique prefix: P=1
    unpersist_deps(res)


def test_ngram_perplexity_separates_common_from_rare(spark):
    """A doc repeating the corpus-dominant bigram must score strictly lower
    than a doc whose bigrams are one-offs against a shared prefix word."""
    from metadata_ingestion_framework_spark.functions.text import ngram_perplexity
    from metadata_ingestion_framework_spark.operators.dedup import unpersist_deps

    rows = [(i, "the cat the cat the cat") for i in range(10)]
    rows.append((99, "the dog the bird the fish"))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    res = ngram_perplexity(df, "text", "doc_id")
    out = {r["doc_id"]: r["avg_nll"] for r in res.collect()}
    assert out[0] < out[99]
    unpersist_deps(res)


def test_pack_manifest_epoch_order(spark):
    """r8: order_col packs each shard in a caller-supplied epoch order
    (the det_shuffle composition) — token spans stay contiguous and
    budget-aligned per shard, default id-order results unchanged."""
    from pyspark.sql import functions as F

    from metadata_ingestion_framework_spark.functions.sampling import (
        deterministic_shuffle,
    )
    from metadata_ingestion_framework_spark.functions.text import pack_manifest

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i % 5 + 1))) for i in range(40)],
        "doc_id long, text string",
    )
    shuffled = deterministic_shuffle(docs, ["doc_id"], salt="ep1", shards=4)
    man = pack_manifest(
        shuffled, "text", "doc_id", budget_tokens=7, shards=4,
        order_col="shuffle_rank",
    ).collect()
    for dep in getattr(shuffled, "_persisted_deps", ()):
        dep.unpersist()
    ranks = {r.doc_id: r for r in shuffled.collect()}
    by_shard: dict = {}
    for r in man:
        by_shard.setdefault(r.shard, []).append(r)
    assert sum(len(v) for v in by_shard.values()) == 40
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: ranks[r.doc_id]["shuffle_rank"])
        offset = 0
        for r in shard_rows:  # spans contiguous in EPOCH order
            assert r.seq_first == offset // 7
            assert r.seq_last == (offset + r.n_tokens - 1) // 7
            offset += r.n_tokens
    # default path unchanged: id order
    man_id = pack_manifest(docs, "text", "doc_id", budget_tokens=7, shards=4).collect()
    for shard_rows in [
        sorted([r for r in man_id if r.shard == s], key=lambda r: r.doc_id)
        for s in {r.shard for r in man_id}
    ]:
        offset = 0
        for r in shard_rows:
            assert r.seq_first == offset // 7
            offset += r.n_tokens


def test_pack_bfd_small(spark):
    """Pure-Python BFD replica on a hand fixture that exercises every
    rule: new-bin open, best-fit choice over two candidates, lowest-
    index tie-break between equal remainders, and an oversized doc
    truncating into its own bin."""
    import hashlib

    from metadata_ingestion_framework_spark.functions.text import pack_bfd

    rows = [
        (0, " ".join(["w"] * 7)),   # 7 tokens
        (1, " ".join(["w"] * 7)),   # 7 tokens (equal-remainder tie later)
        (2, " ".join(["w"] * 3)),   # 3 -> best-fits the fuller bin
        (3, " ".join(["w"] * 12)),  # oversize: truncates to cap=10, own bin
        (4, ""),                    # empty: dropped
        (5, " ".join(["w"] * 2)),
        (6, " ".join(["w"] * 2)),
    ]
    budget, shards = 10, 1
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r["bin"]
        for r in pack_bfd(df, "text", "doc_id", budget, shards).collect()
    }

    def shard_of(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % shards

    lens = sorted(
        ((min(len(t.split()), budget), i) for i, t in rows if t),
        key=lambda p: (-p[0], p[1]),
    )
    rems, expect = [], {}
    for L, i in lens:
        fits = [(r, j) for j, r in enumerate(rems) if r >= L]
        if fits:
            _, j = min(fits)
            expect[i] = j
            rems[j] -= L
        else:
            expect[i] = len(rems)
            rems.append(budget - L)
    assert out == expect and 4 not in out
    # the oversize doc got its own bin, whole docs never split
    assert len([i for i, b in out.items() if b == out[3]]) >= 1


def test_pack_bfd_beats_concat_chunk_waste(spark):
    """Krell et al.'s selling point, asserted on real documents: BFD
    packs WHOLE docs (one manifest row each, per-bin fill <= capacity)
    and its padding fraction is below the token fraction that
    concat-then-chunk damages by splitting docs across boundaries."""
    from metadata_ingestion_framework_spark.functions.text import (
        pack_bfd,
        pack_manifest,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cap = 512
    bfd = pack_bfd(docs, "text", "doc_id", cap, shards=8).collect()
    assert len(bfd) == len({r.doc_id for r in bfd})  # one bin per doc
    fill = {}
    for r in bfd:
        k = (r.shard, r.bin)
        fill[k] = fill.get(k, 0) + min(r.n_tokens, cap)
    assert all(v <= cap for v in fill.values())
    pad_frac = sum(cap - v for v in fill.values()) / (cap * len(fill))

    cm = pack_manifest(docs, "text", "doc_id", cap, shards=8).collect()
    total = sum(r.n_tokens for r in cm)
    split_tokens = sum(r.n_tokens for r in cm if r.seq_first != r.seq_last)
    assert split_tokens > 0  # concat-chunk really does break docs here
    assert pad_frac < split_tokens / total
