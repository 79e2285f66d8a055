"""Deduplication family.

The training-data-pipeline dedup operators (exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding near-dup) — first-class extensions for 100 TB
corpus curation (BASELINE.json north star). The reference's pre-merge dedup,
``dedup_window``, lives with the merge in ``operators/merge.py``.

Design for scale: every operator is expressed as DataFrame transforms whose
shuffles are on bounded keys (hash buckets / LSH bands), never an O(n^2)
cross join. Candidate generation goes through band/bucket equi-joins;
verification only touches candidate pairs.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# RE2 \s (DuckDB) matches [ \t\n\r\f] — ASCII whitespace WITHOUT vertical
# tab (U+000B). Python's str.split() splits on all Unicode whitespace
# (NBSP, U+2028, \v...), and even Java \s includes \x0B, so both would
# silently desync md5-mode token hashes cross-engine on corpora containing
# those characters (VERDICT r3 item 4c / r4 item 5 / r5 ADVICE item 1).
# All Python tokenizer kernels therefore split on the RE2 class exactly.
# The Spark SQL tokenize/count regexes spell out the same class via
# functions.text.WS_RUN/NONWS_RUN (r6 ADVICE closed the last \s-shorthand
# paths: repetition_stats / tfidf / token_count).
_ASCII_WS = re.compile(r"[ \t\n\r\f]+")


def _tokenize(text: str | None) -> list[str]:
    """Lowercase + RE2-whitespace-split, matched EXACTLY to the oracle's
    ``string_split_regex(lower(text), '\\s+')`` with empties filtered
    (RE2 \\s excludes \\v — see _ASCII_WS note; regression-tested against
    DuckDB itself incl. 'a\\x0bb').
    Case-folding is str.lower(); utf8proc (DuckDB) and the JVM agree with
    it on all common text — locale-special cases (dotted İ, Final_Sigma)
    are outside the md5-mode oracle contract."""
    return [w for w in _ASCII_WS.split((text or "").lower()) if w]


def _widen_narrow_input(df: DataFrame) -> DataFrame:
    """Give a CPU-bound Python kernel stage full parallelism.

    ``mapInPandas`` inherits the input partitioning; a small/single-file
    parquet scan arrives as 1-2 splits, which would run the per-doc kernel
    on one core. On a real cluster big inputs already carry >= cores splits
    and pass through untouched — only narrow inputs pay the one extra
    round-robin shuffle (cheap relative to the kernel it parallelizes).
    """
    if df.isStreaming:  # .rdd is illegal on streams; micro-batches keep
        return df       # their source partitioning
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def unpersist_deps(df: DataFrame) -> None:
    """Release intermediate DataFrames an operator persisted on behalf of
    ``df`` (e.g. minhash/simhash signatures). No-op when there are none —
    long-lived sessions call this after consuming the result instead of
    relying on LRU eviction."""
    for dep in getattr(df, "_persisted_deps", ()):
        dep.unpersist()


def carry_deps(out: DataFrame, *parents: DataFrame) -> DataFrame:
    """Propagate ``_persisted_deps`` through a wrapping transformation.

    ``_persisted_deps`` is a plain Python attribute, so ``df.select(...)``
    returns a NEW DataFrame without it — any caller that post-processes an
    operator result would silently leak the operator's persisted
    intermediates in a long-lived session (VERDICT r3 item 4a / r4 item 5).
    Wrap the post-processing: ``carry_deps(result.select(...), result)``.
    """
    deps = list(getattr(out, "_persisted_deps", ()))
    for p in parents:
        deps.extend(getattr(p, "_persisted_deps", ()))
    if deps:
        out._persisted_deps = deps
    return out


def dedup_exact(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup by content hash: keep the min-id row per distinct content.

    One shuffle on a 256-bit content hash (uniform — no skew); the winner per
    group is an arg-min, i.e. a partial-aggregatable min, not a window sort.
    Each column is encoded as (is-null flag, value) so NULL and '' stay
    distinct — matching SQL GROUP BY semantics where NULL is its own group.
    """
    key = F.sha2(
        F.concat_ws(
            "\x1f",
            *[
                F.concat(
                    F.col(c).isNull().cast("string"),
                    F.coalesce(F.col(c).cast("string"), F.lit("")),
                )
                for c in content_cols
            ],
        ),
        256,
    )
    keyed = df.withColumn("__ck", key)
    winners = keyed.groupBy("__ck").agg(F.min(id_col).alias(id_col))
    return keyed.join(winners, ["__ck", id_col], "inner").drop("__ck")


def _token_hash_fn(token_hash: str):
    """64-bit string hash selected by name.

    'blake2b' (default): fastest stdlib choice for short strings.
    'md5': first 8 digest bytes big-endian — bit-identical to DuckDB's
    ``('0x' || substr(md5(s), 1, 16))::UBIGINT``, which makes the operators
    below exactly reproducible in SQL for cross-engine value checks.
    """
    import hashlib

    if token_hash == "blake2b":
        return lambda s: int.from_bytes(
            hashlib.blake2b(s.encode(), digest_size=8).digest(), "big"
        )
    if token_hash == "md5":
        return lambda s: int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
    raise ValueError(f"unknown token_hash: {token_hash}")


def minhash_constants(num_hashes: int, token_hash: str = "blake2b"):
    """Universal-hash family constants (a_i, b_i) as uint64 numpy arrays.

    Deterministic (seeded): the DuckDB oracle embeds the SAME constants as
    literals. In 'md5' mode multipliers stay below 2^32 so the oracle's
    HUGEINT product a*h (< 2^96) cannot overflow 128-bit arithmetic before
    the mod-2^64 reduction; numpy's uint64 wraparound gives the identical
    result on the Spark side.
    """
    import numpy as np

    rng = np.random.RandomState(42)
    if token_hash == "md5":
        mult = rng.randint(1, 2**31, size=num_hashes).astype(np.uint64) * np.uint64(2) + np.uint64(1)
        add = rng.randint(0, 2**62, size=num_hashes, dtype=np.uint64)
    else:
        mult = rng.randint(1, 2**62, size=num_hashes, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
        add = rng.randint(0, 2**62, size=num_hashes, dtype=np.uint64)
    return mult, add


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    token_hash: str = "blake2b",
) -> DataFrame:
    """MinHash signature per document via Arrow-batched ``mapInPandas``.

    Per doc: distinct word n-gram shingles -> 64-bit blake2b base hash per
    shingle -> universal-hash family ``(a_i * h + b_i) mod 2^64`` -> min per
    permutation, as ONE vectorized numpy broadcast. Map-only (no shuffle, no
    state); each Arrow batch yields one signature row per doc.

    Why Python here: this is a per-row kernel with ~400 short-string +
    integer ops per doc. The declarative formulations measured: array HOFs
    with inlined shingles 100x slower (CollapseProject re-splits the text
    per permutation lambda — no CSE across lambdas); explode + 64-way
    partial-agg min 8x slower (interpreted lambda eval per element). The
    numpy kernel is the documented Pandas-UDF fast path and parallelizes
    per partition. Docs with no shingles (< shingle_n words) drop out —
    they can never pair, so dedup semantics hold.
    """
    import numpy as np
    import pandas as pd

    mult, add = minhash_constants(num_hashes, token_hash)
    hash64 = _token_hash_fn(token_hash)
    id_type = dict(df.dtypes)[id_col]
    df = _widen_narrow_input(df.select(id_col, text_col))

    def sig_batches(batches):
        for pdf in batches:
            ids, sigs = [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                words = _tokenize(text)
                sh = {
                    " ".join(words[j : j + shingle_n])
                    for j in range(max(len(words) - shingle_n + 1, 0))
                }
                if not sh:
                    continue
                base = np.fromiter(
                    (hash64(s) for s in sh),
                    dtype=np.uint64,
                    count=len(sh),
                )
                sig = (mult[:, None] * base[None, :] + add[:, None]).min(axis=1)
                ids.append(i)
                sigs.append(sig.astype(np.int64).tolist())
            # explicit dtypes: an all-filtered batch must still carry
            # (int64, object) columns or Arrow rejects the empty frame
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                "minhash_sig": pd.Series(sigs, dtype=object),
            })

    return df.mapInPandas(
        sig_batches, schema=f"{id_col} {id_type}, minhash_sig array<long>"
    )


def minhash_bands(
    sigs: DataFrame, id_col: str, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """Skinny (id, band, band_hash) rows from a signature table.

    band hash = xxhash64 over the band's signature slots + band index
    (multi-arg long hash — no string concat in the hot path). Shared by the
    single-corpus LSH join below and the incremental cross-run dedup
    (operators/incremental.py), so both paths bucket identically.
    """
    rows_per_band = num_hashes // bands
    return sigs.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        *[
                            F.element_at("minhash_sig", b * rows_per_band + j + 1)
                            for j in range(rows_per_band)
                        ],
                        F.lit(b),
                    ).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.band_hash")


def jaccard_estimate_udf():
    """Arrow kernel: fraction of equal signature slots == estimated
    Jaccard; ONE numpy comparison per batch (fixed signature length stacks
    into a rectangular matrix — the per-pair Python loop this replaces paid
    ~3 interpreter calls per pair; VERDICT r4 item 8)."""
    import numpy as np

    @F.pandas_udf("double")
    def _jac(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        lhs = np.stack(a.to_numpy())
        rhs = np.stack(b.to_numpy())
        return pd.Series((lhs == rhs).mean(axis=1))

    return _jac


def minhash_lsh_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    shingle_n: int = 3,
    token_hash: str = "blake2b",
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Pipeline: signatures -> split into ``bands`` bands -> explode (doc, band,
    band_hash) -> self-equi-join on (band, band_hash) for candidates ->
    verify with estimated Jaccard = fraction of equal signature slots.
    Returns (id_a, id_b, jaccard_est) with id_a < id_b.

    Scale: the only shuffles are groupBy/join on (band, band_hash) — bounded
    keys, uniform by construction. Candidate verification is array
    comparison on already-joined rows. No O(n^2) anywhere.
    """
    # Persist signatures: the self-join consumes them on BOTH branches, and
    # without a materialization barrier Spark recomputes the whole Python
    # signature stage twice per action. Signatures are tiny (one 64-long row
    # per doc); at 100 TB you'd checkpoint them to storage — same pattern,
    # durable flavor. MEMORY_AND_DISK + LRU eviction keeps this safe to
    # leave cached; callers may unpersist.
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, token_hash).persist()
    # The banded frame is SKINNY (id, band, band_hash): a duplicate group
    # of g docs emits g*(g-1)/2 pairs per band BEFORE the distinct, so
    # dragging the 64-slot signature arrays through that join multiplied
    # shuffle bytes by bands x group-size (measured 26x wall at a 10x
    # replica probe). Candidates dedup as bare id pairs; signatures
    # re-attach afterwards, once per UNIQUE pair, via two joins against
    # the persisted sigs.
    banded = minhash_bands(sigs, id_col, num_hashes, bands)

    a = banded.alias("a")
    b = banded.alias("b")
    cand_ids = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand_ids.join(
        sigs.select(F.col(id_col).alias("id_a"), F.col("minhash_sig").alias("sig_a")),
        "id_a",
    ).join(
        sigs.select(F.col(id_col).alias("id_b"), F.col("minhash_sig").alias("sig_b")),
        "id_b",
    )
    _jac = jaccard_estimate_udf()

    out = (
        cand.withColumn("jaccard_est", _jac("sig_a", "sig_b"))
        .filter(F.col("jaccard_est") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard_est")
    )
    out._persisted_deps = [sigs]  # release via unpersist_deps(out)
    return out


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = 64, token_hash: str = "blake2b"
) -> DataFrame:
    """64-bit SimHash fingerprint per document via Arrow ``mapInPandas``.

    Each word token (duplicates count) votes +1/-1 on each bit via its
    64-bit hash; the fingerprint takes the sign of the per-bit sum — one
    vectorized numpy unpack/sum per doc. Map-only, no shuffle. Same kernel
    shape (and rationale) as ``minhash_signatures``: per-row bit arithmetic
    is the measured-slow case for both interpreted HOFs and wide codegen'd
    aggregates. Docs with no tokens drop out — they have no meaningful
    fingerprint (an all-zero fp would spuriously pair every empty doc).
    """
    import numpy as np

    assert bits == 64, "64-bit fingerprints only"
    hash64 = _token_hash_fn(token_hash)
    id_type = dict(df.dtypes)[id_col]
    df = _widen_narrow_input(df.select(id_col, text_col))

    def fp_batches(batches):
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            ids, fps = [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                words = _tokenize(text)
                if not words:
                    continue
                h = np.fromiter(
                    (hash64(w) for w in words),
                    dtype=np.uint64,
                    count=len(words),
                )
                bitmat = (h[:, None] >> shifts[None, :]) & np.uint64(1)
                votes = (2 * bitmat.astype(np.int64) - 1).sum(axis=0)
                fp = np.uint64(0)
                for b in np.nonzero(votes > 0)[0]:
                    fp |= np.uint64(1) << np.uint64(b)
                ids.append(i)
                # two's-complement reinterpret (Spark long is signed int64)
                fps.append(fp.astype(np.int64))
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                "simhash": pd.Series(fps, dtype="int64"),
            })

    return df.mapInPandas(
        fp_batches, schema=f"{id_col} {id_type}, simhash long"
    )


def simhash_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
    token_hash: str = "blake2b",
) -> DataFrame:
    """Near-dup pairs with SimHash + block-permutation candidate generation.

    Split the 64-bit fingerprint into ``blocks`` 16-bit blocks; by pigeonhole
    any pair within ``max_hamming <= blocks-1`` shares at least one exact
    block -> equi-join per block, then verify true Hamming distance via
    bit_count(xor). Shuffle key = (block_idx, block_value): bounded, uniform.
    """
    # persisted for the same reason as the minhash signatures: the self-join
    # consumes both branches and would run the Python stage twice otherwise
    fps = simhash(df, text_col, id_col, token_hash=token_hash).persist()
    out = hamming_banded_pairs(fps, "simhash", id_col, max_hamming, blocks)
    out._persisted_deps = [fps]  # release via unpersist_deps(out)
    return out


def hamming_banded_pairs(
    fps: DataFrame,
    fp_col: str,
    id_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Block-permutation candidate join + exact Hamming verify over ANY
    64-bit fingerprint column — the simhash machinery factored out (r13)
    so the perceptual image hashes (multimodal.py::image_hashes) reuse it
    verbatim. Callers should persist ``fps`` (the self-join consumes both
    branches). Pigeonhole exactness requires ``max_hamming <= blocks-1``.
    """
    width = 64 // blocks
    blocked = fps.select(
        id_col,
        fp_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.shiftright(F.col(fp_col), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1)).alias("blk_val"),
                )
                for i in range(blocks)
            ])
        ).alias("b"),
    ).select(id_col, fp_col, "b.blk", "b.blk_val")
    a, b = blocked.alias("a"), blocked.alias("b")
    # Verify BEFORE dedup: the Hamming check is a codegen'd bit_count on the
    # already-joined row, so it streams through the join output without a
    # shuffle — while dropDuplicates IS a shuffle. On a homogeneous corpus
    # the block join can emit orders of magnitude more raw candidates than
    # true pairs (measured 28M raw -> 215k true at a 10x replica probe);
    # dedup-first shuffled all 28M, filter-first shuffles <= 4 rows per
    # true pair (one per matching block).
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.blk_val") == F.col("b.blk_val"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
                F.bit_count(F.col(f"a.{fp_col}").bitwiseXOR(F.col(f"b.{fp_col}"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str] | None = None,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs at corpus scale via prefix filtering
    (the PPJoin family; see Xiao et al., WWW'08 — public algorithm).

    Guarantee: order every doc's grams by one global total order
    (ascending global frequency, then gram). If J(A, B) >= t, the two
    prefixes of length ``|X| - ceil(t*|X|) + 1`` MUST intersect — so the
    equi-join on prefix grams produces a candidate superset, and the exact
    verify keeps precisely the true pairs. Same output as
    ``ngram_jaccard_pairs`` but no O(block^2) stage: a giant block (e.g.
    one language holding half the corpus) parallelizes across gram keys
    instead of serializing into one Python task.

    Shuffle inventory (all bounded keys): gram-frequency agg, freq join,
    per-doc window (id), prefix self-join on (block, gram), candidate
    distinct, two id joins for verify. Rare grams make tiny join buckets;
    the frequency ordering puts each doc's RAREST grams in its prefix,
    which is what keeps candidate counts near the true-pair count.
    """
    import pandas as pd

    id_type = dict(df.dtypes)[id_col]
    blocks = list(block_cols or [])
    dtypes = dict(df.dtypes)
    gram_schema = ", ".join(
        [f"`{c}` {dtypes[c]}" for c in blocks]
        + [f"`{id_col}` {id_type}", "grams array<string>"]
    )

    def build_grams(batches):
        # Arrow kernel, not the zip_with expression pipeline: building ~700
        # grams/doc through interpreted HOF lambdas measured ~4x slower
        # than one Python pass per doc (CLAUDE.md HOF rule).
        for pdf in batches:
            grams = []
            for text in pdf[text_col]:
                words = _tokenize(text)
                grams.append(list({
                    " ".join(words[j : j + shingle_n])
                    for j in range(max(len(words) - shingle_n + 1, 0))
                }))
            out = pdf[[*blocks, id_col]].copy()
            out["grams"] = pd.Series(grams, dtype=object)
            yield out

    docs_g = (
        _widen_narrow_input(df.select(*blocks, id_col, text_col))
        .mapInPandas(build_grams, schema=gram_schema)
        .filter(F.size("grams") > 0)
        .withColumn("__sz", F.size("grams"))
        .persist()
    )
    freq = (
        docs_g.select(F.explode("grams").alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    exploded = docs_g.select(*blocks, id_col, "__sz", F.explode("grams").alias("gram")).join(
        freq, "gram"
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__cnt").asc(), F.col("gram").asc())
    # every ceil/compare derived from threshold*size subtracts 1e-9 first:
    # float error (e.g. 0.2*15 = 3.0000000000000004) would otherwise round
    # the bound UP — shorter prefix / stricter filter — and silently DROP
    # true pairs; the slack only ever admits extra candidates, which the
    # exact verify removes
    prefix_len = F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz") - F.lit(1e-9)) + 1
    # persisted: the self-join below would otherwise recompute the whole
    # explode -> freq-join -> window pipeline for BOTH branches (CLAUDE.md
    # self-join rule; measured ~25% off the flagship at sf0.1). Skinny
    # rows only (blocks, id, sz, gram, rn) — bounded by sum of prefix
    # lengths, far below the exploded gram table.
    prefix = (
        exploded.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= prefix_len)
        .persist()
    )

    a, b = prefix.alias("a"), prefix.alias("b")
    cond = (F.col("a.gram") == F.col("b.gram")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for c in blocks:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # PPJoin pruning (both exact, applied inside the join so rejected pairs
    # never reach the shuffle):
    # - length filter: J >= t forces t*|A| <= |B| <= |A|/t;
    # - positional filter: a shared prefix gram at sorted positions
    #   (rnA, rnB) can still lead to overlap alpha = ceil(t/(1+t)(|A|+|B|))
    #   only if 1 + min(|A|-rnA, |B|-rnB) >= alpha.
    # Measured: 105k -> ~2k candidates for 215 true pairs at sf0.1, which
    # also shrinks the gram-array attach join ~50x.
    sz_a, sz_b = F.col("a.__sz"), F.col("b.__sz")
    cond = cond & (sz_b >= F.lit(threshold) * sz_a - F.lit(1e-9)) & (
        sz_a >= F.lit(threshold) * sz_b - F.lit(1e-9)
    )
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (sz_a + sz_b) - F.lit(1e-9)
    )
    ubound = F.lit(1) + F.least(sz_a - F.col("a.__rn"), sz_b - F.col("b.__rn"))
    cond = cond & (ubound >= alpha)
    cand = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    @F.pandas_udf("double")
    def _jac(ga: pd.Series, gb: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(ga, gb):
            sx, sy = set(x), set(y)
            union = len(sx | sy)
            out.append(len(sx & sy) / union if union else 0.0)
        return pd.Series(out)

    ga = docs_g.select(F.col(id_col).alias("id_a"), F.col("grams").alias("__ga"))
    gb = docs_g.select(F.col(id_col).alias("id_b"), F.col("grams").alias("__gb"))
    out = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("jaccard", _jac("__ga", "__gb"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    out._persisted_deps = [docs_g, prefix]  # release via unpersist_deps
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within blocking keys.

    Pairs are generated only within ``block_cols`` groups (at 100 TB you
    block on LSH buckets — see minhash_lsh_duplicates; this exact variant is
    the verifier / small-block path). Jaccard = |A ∩ B| / |A ∪ B| over
    distinct word n-grams.

    The within-block pairwise work runs as ``applyInPandas`` Python-set
    kernels (one shuffle on the block key) — a self-join with
    ``array_intersect``/``array_union`` per pair measured ~8x slower (JVM
    set ops allocate per pair). The UDF emits raw ratios with epsilon
    slack; the authoritative ROUND-free threshold filter happens in Spark
    so oracle semantics stay exact.
    """
    eps = 1e-9

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = pdf[id_col].tolist()
        sets = []
        for text in pdf[text_col]:
            words = _tokenize(text)
            sets.append(frozenset(
                " ".join(words[j : j + shingle_n])
                for j in range(max(len(words) - shingle_n + 1, 0))
            ))
        out_a, out_b, out_j = [], [], []
        for x in range(len(ids)):
            sx = sets[x]
            for y in range(x + 1, len(ids)):
                sy = sets[y]
                union = len(sx | sy)
                j = len(sx & sy) / union if union else 0.0
                if j >= threshold - eps:
                    out_a.append(ids[x])
                    out_b.append(ids[y])
                    out_j.append(j)
        return pd.DataFrame({
            "id_a": pd.Series(out_a, dtype=pdf[id_col].dtype),
            "id_b": pd.Series(out_b, dtype=pdf[id_col].dtype),
            "jaccard": pd.Series(out_j, dtype="float64"),
        })

    id_type = dict(df.dtypes)[id_col]
    cand = (
        df.select(id_col, text_col, *block_cols)
        .groupBy(*block_cols)
        .applyInPandas(pairs, f"id_a {id_type}, id_b {id_type}, jaccard double")
    )
    return cand.filter(F.col("jaccard") >= threshold)


def _distinct_gram_rows(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int, out_id: str
) -> DataFrame:
    """(out_id, gram) rows — one per DISTINCT word n-gram per document.

    Arrow kernel tokenize + per-doc set, then explode: the gram build is one
    Python pass per doc (the HOF expression pipeline measured ~4x slower —
    CLAUDE.md rule), and the explode output is skinny, so the downstream
    equi-join shuffles (id, gram) only.
    """
    id_type = dict(df.dtypes)[id_col]

    def build(batches):
        for pdf in batches:
            ids, grams = [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                words = _tokenize(text)
                for g in {
                    " ".join(words[j : j + shingle_n])
                    for j in range(max(len(words) - shingle_n + 1, 0))
                }:
                    ids.append(i)
                    grams.append(g)
            yield pd.DataFrame({out_id: pd.Series(ids, dtype=pdf[id_col].dtype),
                                "gram": pd.Series(grams, dtype=object)})

    return _widen_narrow_input(df.select(id_col, text_col)).mapInPandas(
        build, schema=f"`{out_id}` {id_type}, gram string"
    )


def ngram_contamination(
    train: DataFrame,
    evals: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 13,
    min_shared: int = 1,
    broadcast_evals: bool = True,
) -> DataFrame:
    """Train/eval overlap pairs: (train_id, eval_id, shared_grams) where a
    training document shares >= ``min_shared`` distinct word ``shingle_n``-
    grams with an eval document — the standard n-gram decontamination test
    LLM training pipelines run before training (13-gram overlap in the
    GPT-3/PaLM data papers; public methodology).

    No reference analogue (north-star extension, BASELINE.json).

    Scale shape: both sides explode to skinny (id, gram) rows; the join is
    a bounded-key equi-join on gram. Eval suites are small next to a 100 TB
    corpus, so ``broadcast_evals`` ships the eval gram set to every executor
    and the train side NEVER shuffles — the whole check is one map-side join
    plus a partial-aggregated count. Set it False for giant eval sets to
    fall back to a shuffle equi-join on gram.
    """
    tg = _distinct_gram_rows(train, text_col, id_col, shingle_n, "train_id")
    eg = _distinct_gram_rows(evals, text_col, id_col, shingle_n, "eval_id")
    if broadcast_evals:
        eg = F.broadcast(eg)
    return (
        tg.join(eg, "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .filter(F.col("shared_grams") >= min_shared)
    )


def ngram_contamination_bloom(
    train: DataFrame,
    evals: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 13,
    min_shared: int = 1,
    n_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> DataFrame:
    """:func:`ngram_contamination` behind a deterministic Bloom prefilter —
    IDENTICAL output (the Bloom has no false negatives; flagged candidates
    are exact-verified), different scale shape for when the eval-suite
    gram set outgrows a row-broadcast:

    - the filter is a ``(word, bits)`` bitmap table of FIXED size
      ``n_bits/64`` rows (2^20 bits = 16K rows = 128 KB here; 2^30 bits =
      128 MB covers billions of grams) — broadcast cost is a constant of
      the CONFIG, not of the eval suite;
    - every train gram probes it with ``n_hashes`` positions via a
      broadcast equi-join on the word index + codegen bit tests (all JVM,
      no Python, no Bloom library): a gram survives only if ALL probes
      hit, so the expensive exact gram join runs over the surviving
      sliver of the corpus (true overlaps + the Bloom's false-positive
      rate) instead of every train gram.

    Bit positions are ``pmod(xxhash64(gram, seed), n_bits)`` — engine-
    internal values (never oracle-compared; the oracle checks the EXACT
    final output, which the no-false-negative property makes identical to
    :func:`ngram_contamination`'s).
    """
    m = int(n_bits)
    tg = _distinct_gram_rows(train, text_col, id_col, shingle_n, "train_id")
    # persist: the eval gram rows feed BOTH the bitmap build and the
    # final exact-verify join — unpersisted, the Python gram kernel would
    # run twice over the eval corpus (CLAUDE.md self-join rule); released
    # via _persisted_deps / unpersist_deps
    eg = _distinct_gram_rows(evals, text_col, id_col, shingle_n, "eval_id").persist()

    def positions(df: DataFrame) -> DataFrame:
        out = df.withColumn(
            "__seed",
            F.explode(F.array(*[F.lit(i) for i in range(n_hashes)])),
        )
        pos = F.pmod(F.xxhash64(F.col("gram"), F.col("__seed")), F.lit(m))
        return out.withColumn("__w", F.shiftright(pos, 6)).withColumn(
            "__b", (pos % 64).cast("int")
        )

    bitmap = (
        positions(eg.select("gram").distinct())
        .groupBy("__w")
        .agg(
            # expr: pyspark's shiftleft() only takes an INT shift amount
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), __b)")).alias(
                "__bits"
            )
        )
    )
    probes = positions(tg).join(F.broadcast(bitmap), "__w")
    hit = F.expr("(shiftrightunsigned(__bits, __b) & 1) = 1")
    cand = (
        probes.filter(hit)
        .groupBy("train_id", "gram")
        .agg(F.count(F.lit(1)).alias("__h"))
        .filter(F.col("__h") == n_hashes)  # ALL probes hit -> maybe present
        .select("train_id", "gram")
    )
    out = (
        cand.join(eg, "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .filter(F.col("shared_grams") >= min_shared)
    )
    out._persisted_deps = [eg]
    return out


def decontaminate(
    train: DataFrame,
    evals: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 13,
    min_shared: int = 1,
) -> DataFrame:
    """Drop training documents contaminated by eval overlap (left-anti join
    against :func:`ngram_contamination`'s flagged train ids)."""
    flagged = ngram_contamination(
        train, evals, text_col, id_col, shingle_n, min_shared
    ).select(F.col("train_id").alias(id_col)).distinct()
    return train.join(F.broadcast(flagged), id_col, "left_anti")


def _span_rows(
    df: DataFrame, text_col: str, id_col: str, span_w: int
) -> DataFrame:
    """(id, pos, gh) — one row per token-window span occurrence.

    ``gh`` is the 60-bit md5 of the span's space-joined tokens (15 hex
    chars — the shared cross-engine primitive, CLAUDE.md hashing rule;
    60 bits keeps it inside a signed BIGINT on both engines). Tokens are
    split on the RE2 whitespace class WITHOUT lowercasing: span dedup
    rewrites documents, so matching is done on the verbatim tokens the
    rewrite preserves. Arrow kernel per doc (house style of
    ``_distinct_gram_rows``); output is skinny (id + 2 ints), so the
    downstream first-occurrence shuffle moves ~16 bytes per span, not the
    span text.
    """
    import hashlib

    id_type = dict(df.dtypes)[id_col]

    def build(batches):
        for pdf in batches:
            ids, poss, hs = [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in _ASCII_WS.split(text or "") if t]
                for p in range(len(toks) - span_w + 1):
                    g = " ".join(toks[p : p + span_w])
                    ids.append(i)
                    poss.append(p)
                    hs.append(int(hashlib.md5(g.encode()).hexdigest()[:15], 16))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "pos": pd.Series(poss, dtype="int32"),
                    "gh": pd.Series(hs, dtype="int64"),
                }
            )

    return _widen_narrow_input(df.select(id_col, text_col)).mapInPandas(
        build, schema=f"`{id_col}` {id_type}, pos int, gh long"
    )


def _first_owner_dups(paras: DataFrame, id_col: str) -> DataFrame:
    """(id, pos) occurrence rows that are NOT the global first occurrence
    of their ``gh`` — first = smallest (id, pos), the shared precedence of
    the whole rewrite-dedup family.

    Skew-immune by construction (r16, VERDICT r15 item 1): the previous
    ``Window.partitionBy("gh")`` form single-tasked EVERY occurrence of a
    viral hash — on a real crawl the duplicate paragraphs are exactly the
    boilerplate repeated 10^8-10^9 times, and AQE cannot split a window
    partition. This form is a partial-aggregable ``groupBy("gh").agg(
    min(struct(id, pos)))`` — map-side combine collapses a hot key to one
    row per input partition BEFORE the shuffle — plus a join-back to mark
    non-owners, which AQE's skew-join CAN split. Struct min orders fields
    lexicographically, matching ``orderBy(id, pos)`` ascending exactly.
    """
    owners = paras.groupBy("gh").agg(
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
        ).alias("__own")
    )
    return (
        paras.join(owners, "gh")
        .filter(
            ~(
                F.col(id_col).eqNullSafe(F.col("__own.i"))
                & F.col("pos").eqNullSafe(F.col("__own.p"))
            )
        )
        .select(id_col, "pos")
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_w: int = 6,
    broadcast_removals: bool = True,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Duplicate token-span REMOVAL: rewrite every document so that any
    window of ``span_w`` consecutive tokens that already occurred earlier
    in the corpus (earlier = smaller (id, pos), the global first
    occurrence) is deleted, exact-substring-dedup style (the
    "Deduplicating Training Data Makes Language Models Better" operation,
    Lee et al. 2022, at token-window granularity — public methodology).
    Unlike the pair-flagging dedup family this operator emits a CLEANED
    corpus: (id, clean_text, n_removed), where ``clean_text`` is the
    surviving tokens joined by single spaces (whitespace-normalized;
    untouched docs pass through normalized too, so the output is uniform)
    and ``n_removed`` counts deleted tokens. Overlapping duplicate spans
    union their token ranges; a repeated span INSIDE one document removes
    the later occurrences too.

    No reference analogue (north-star training-data extension;
    BASELINE.json).

    Scale shape: span rows are skinny (id, pos, 60-bit hash); the only
    full-corpus shuffles are the skew-immune first-owner aggregation +
    join-back on the span hash (:func:`_first_owner_dups` — partial-
    aggregable, no hot-key window). Duplicate occurrences are a small fraction of
    any real corpus, so the removal set is tiny: it broadcasts back to
    the documents (set ``broadcast_removals=False`` to fall back to a
    shuffle join for pathological corpora), and the rewrite itself is a
    map-only expression — clean docs take a pure-codegen regex
    normalization, only dirty docs pay the indexed-filter lambda.
    """
    from metadata_ingestion_framework_spark.functions.text import WS_RUN

    # persist: the first-owner rule consumes the span rows twice (r16
    # review, self-join rule) — unpersisted, the Arrow span-hash kernel
    # (the dominant cost here) would run twice over the corpus.
    # Released via _persisted_deps.
    spans = _span_rows(df, text_col, id_col, span_w).persist()
    dups = _first_owner_dups(spans, id_col)
    removed = dups.select(
        id_col,
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(span_w - 1))
        ).alias("__idx"),
    ).distinct()
    rm = removed.groupBy(id_col).agg(F.collect_set("__idx").alias("__rm"))
    if broadcast_removals:
        rm = F.broadcast(rm)

    toks = F.filter(F.split(F.col(text_col), WS_RUN), lambda x: x != F.lit(""))
    kept = F.filter(
        toks,
        lambda x, i: ~F.array_contains(F.col("__rm"), i),
    )
    normalized = F.trim(F.regexp_replace(F.col(text_col), WS_RUN, " "))
    out = df.join(rm, id_col, "left").select(
        id_col,
        *(keep_cols or []),  # passthrough (e.g. lang/source) — keeps
        # composites join-free after the rewrite
        F.when(F.col("__rm").isNull(), normalized)
        .otherwise(F.array_join(kept, " "))
        .alias("clean_text"),
        F.coalesce(F.size("__rm"), F.lit(0)).cast("long").alias("n_removed"),
    )
    out._persisted_deps = [spans]
    return out


def paragraph_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    broadcast_removals: bool = True,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Paragraph-level exact dedup — the CCNet/RefinedWeb FIRST stage
    (Wenzek et al. 2020 dedup paragraphs before lang-id; Penedo et al.
    2023 keep it as the cheap pass before fuzzy dedup): every newline-
    delimited paragraph that already occurred earlier in the corpus
    (earlier = smaller (id, pos) — the global first occurrence, matching
    ``remove_duplicate_spans``' precedence) is deleted, and the REWRITTEN
    corpus is emitted as (id, clean_text, n_removed). Matching is on the
    TRIMMED paragraph text; empty-after-trim segments are structure, not
    content — the rewrite drops them, so ``clean_text`` is the surviving
    trimmed paragraphs joined by single newlines (uniform output, the
    span-dedup normalization convention) and ``n_removed`` counts removed
    content paragraphs. A paragraph repeated INSIDE one document keeps
    only its first occurrence too.

    No reference analogue (north-star training-data extension;
    BASELINE.json).

    Scale shape (the ``remove_duplicate_spans`` skinny-removal-set
    design): paragraph rows shuffle only as skinny (id, pos, 60-bit md5)
    — the text itself never shuffles; the first-occurrence rule is the
    skew-immune :func:`_first_owner_dups` aggregation (map-side combine
    collapses viral boilerplate hashes BEFORE the shuffle; no window a
    hot key could single-task). Duplicate occurrences are a small
    fraction of any real corpus, so the removal set broadcasts back
    (``broadcast_removals=False`` for pathological corpora) and the
    rewrite is a map-only per-paragraph expression —
    clean docs take the removal-free form, only dirty docs pay the
    ``array_contains`` per segment. Everything is codegen: split +
    posexplode + md5 — no Python stage at all (unlike the token-window
    variant, whose O(tokens x span_w) gram build needs an Arrow kernel).
    """
    # persist: the first-owner rule feeds the paragraph rows into BOTH
    # the owners aggregation and the join-back probe (r16 review — the
    # CLAUDE.md self-join rule); unpersisted, the split+md5 pass over
    # the corpus text runs twice. Released via _persisted_deps.
    paras = _paragraph_rows(df, text_col, id_col).persist()
    dups = _first_owner_dups(paras, id_col)
    rm = dups.groupBy(id_col).agg(F.collect_set("pos").alias("__rm"))
    if broadcast_removals:
        rm = F.broadcast(rm)
    out = _apply_paragraph_removals(df, rm, text_col, id_col, keep_cols)
    out._persisted_deps = [paras]
    return out


#: paragraph boundary — CR-tolerant newline split, the CCNet convention.
PARA_RE = r"\r?\n"


def _paragraph_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, gh) paragraph rows: trimmed newline-delimited segments,
    empties dropped, ``pos`` = the segment's ORIGINAL array index (so a
    removal set addresses the unsplit document), ``gh`` = the 60-bit md5
    content hash. Shared verbatim by the one-shot :func:`paragraph_dedup`
    and the cross-run ``ParagraphHashStore`` — both faces hash, order and
    rewrite with the same expressions, so the store's sequential-ingest
    replay oracle is the one-shot oracle with batch-major precedence."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    return (
        df.select(
            id_col,
            F.posexplode(F.split(text, PARA_RE)).alias("pos", "__para"),
        )
        .withColumn("__p", F.trim(F.col("__para")))
        .filter(F.col("__p") != "")
        .select(
            id_col,
            "pos",
            # 60-bit md5 — the shared cross-engine hash primitive
            # (CLAUDE.md): DuckDB twin ('0x'||substr(md5(p),1,15))::BIGINT
            F.conv(F.substring(F.md5("__p"), 1, 15), 16, 10)
            .cast("long")
            .alias("gh"),
        )
    )


def _apply_paragraph_removals(
    df: DataFrame,
    rm: DataFrame,
    text_col: str,
    id_col: str,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Rewrite ``df`` dropping the paragraph positions in ``rm``
    (``(id, __rm array<int>)``): map-only per-segment expressions — clean
    docs take the removal-free normalization, only dirty docs pay the
    ``array_contains`` per segment (see :func:`paragraph_dedup`)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    segs = F.split(text, PARA_RE)
    nonempty = lambda x: F.trim(x) != F.lit("")  # noqa: E731
    # single-arg lambda REQUIRED: F.trim has an optional second (trimStr)
    # parameter, so passing it bare makes F.transform hand it the element
    # INDEX — trim(para, trimStr=str(i)), which strips a paragraph's own
    # position digits off its ends ("Doc 0" at pos 0 -> "Doc ").
    # Caught by the r15 web_curation oracle; the plain-text fixtures
    # never put an index-matching digit at a paragraph edge.
    trim1 = lambda x: F.trim(x)  # noqa: E731
    clean_all = F.array_join(
        F.transform(F.filter(segs, nonempty), trim1), "\n"
    )
    kept = F.filter(
        segs,
        lambda x, i: nonempty(x) & ~F.array_contains(F.col("__rm"), i),
    )
    clean_dirty = F.array_join(F.transform(kept, trim1), "\n")
    return df.join(rm, id_col, "left").select(
        id_col,
        *(keep_cols or []),
        F.when(F.col("__rm").isNull(), clean_all)
        .otherwise(clean_dirty)
        .alias("clean_text"),
        F.coalesce(F.size("__rm"), F.lit(0)).cast("long").alias("n_removed"),
    )
