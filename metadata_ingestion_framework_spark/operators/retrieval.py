"""Lexical (BM25) retrieval over a documents table — the text-side twin
of the embedding ANN family (Robertson & Zaragoza 2009, public
methodology). A training-data pipeline uses this for dedup triage,
eval-set contamination review, and quality-by-retrieval audits where no
embeddings exist.

North-star extension (no reference analogue; BASELINE.json).

Spark shape — the inverted-index query plan, not a scan-per-query:

- ONE corpus pass builds the (doc, term, tf, dl) postings and the
  per-term document frequencies — both groupBys shuffle on bounded
  uniform keys (term, (doc, term)); corpus stats (N, avgdl) ride the
  plan as a broadcast 1-row agg, never a driver collect;
- the query side explodes to DISTINCT query terms (tiny) and broadcasts
  into the postings — each query touches only its terms' posting rows,
  the n_probe/n_cells analogue for text;
- the per-(query, doc) accumulation sums per-term contributions ROUNDED
  to 6 decimals as DECIMAL(18,6) — an ORDER-FREE exact sum (the
  CLAUDE.md decimal convention), so the score is reproducible across
  partitionings and engines; the only trans-cendental is ``ln`` in the
  idf, mirrored expression-for-expression in the DuckDB twin.

Dirty contract: NULL/empty text tokenizes to nothing — such a corpus doc
can never match, and such a query returns no rows. Tokens are the
engine's cleaned-token convention (``[a-z]+`` on the lowercased text,
the model-gate/BPE tokenizer), so postings, gates, and tokenizers all
agree on what a "word" is.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.operators.incremental import (
    _check_store_config,
    _dedup_ids,
    _retire_range_ids_below,
    _upsert_touched,
    range_bucket_expr,
)
from metadata_ingestion_framework_spark.operators.joins import (
    distinct_values,
    partition_in_filter,
)
from metadata_ingestion_framework_spark.operators.similarity import _topk


def _terms(text_col: str):
    # Spark's regexp_extract_all defaults to capture-group 1; a plain
    # pattern needs the explicit 0 (DuckDB's defaults to the full match).
    # Column arguments throughout (ADVICE r12): interpolating the raw
    # name into an F.expr SQL string broke (or silently mis-resolved)
    # column names needing backticks — spaces, dots, keywords.
    return F.regexp_extract_all(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))),
        F.lit("[a-z]+"),
        F.lit(0),
    )


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-query BM25 top-k: ``(query_id, doc_id, score, rank)`` with the
    family tiebreak (score desc NULLS LAST, doc id asc).

    idf is the standard robust form ``ln(1 + (N - df + 0.5)/(df + 0.5))``
    (never negative); the term weight is
    ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``. Each term's
    contribution is rounded to 6 decimals BEFORE the per-(query, doc)
    sum so the aggregate is exact-decimal and order-free.

    Dataflow (r14 — the SERVE shape, adopted after an A/B showed the
    old ``tf JOIN dfreq`` SortMergeJoin costing ~4x on a dense query
    batch): restrict the postings to the QUERY TERMS first (a broadcast
    join against the distinct query-term list — bounded by the query
    batch's vocabulary, never the corpus's), persist the skinny result
    (consumed by the df derivation AND the scoring join — the self-join
    rule), and derive df from the restricted rows. df is EXACT: the
    restriction is BY TERM, so every document row of a query term is
    still present. Corpus stats (N, total tokens) are full-corpus
    aggregates regardless — one pass over tf, no join. Broadcasting the
    full-vocabulary dfreq (the alternative fix) would NOT be scale-safe:
    a 100 TB corpus's vocabulary is unbounded, a query batch's is not.

    Result carries ``_persisted_deps`` — release with
    ``dedup.unpersist_deps`` (the catalog/bench harness and
    contamination_triage all do)."""
    docs = corpus.select(
        F.col(id_col), _terms(text_col).alias("__toks")
    ).withColumn("__dl", F.size("__toks"))

    tf = (
        docs.select(id_col, "__dl", F.explode("__toks").alias("term"))
        .groupBy(id_col, "__dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )

    # corpus stats as a broadcast 1-row agg (in-DAG, no driver collect).
    # Total tokens come from the tf AGGREGATE (sum of tf == sum of dl)
    # and n_docs from an id-only column scan (token-less docs count in
    # the denominator). avgdl = exact LONG sum / exact count -> ONE
    # double division, order-free and bit-identical cross-engine
    # (built-in AVG on integral inputs accumulates DOUBLE partials —
    # order-dependent).
    n_docs_df = corpus.select(id_col).agg(
        F.count(F.lit(1)).alias("__n_docs")
    )
    stats = (
        tf.agg(F.sum("tf").alias("__total"))
        .crossJoin(n_docs_df)
        .select(
            "__n_docs",
            (F.col("__total").cast("double") / F.col("__n_docs")).alias(
                "__avgdl"
            ),
        )
    )

    qterms = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(_terms(text_col))).alias("term"),
    ).persist()  # consumed twice: the term restriction + the scoring join
    # r18 OPT (guide §2.3/§2.4): repartition the restricted postings by
    # DOC id before persisting. The scoring join explodes to
    # |postings| x |queries-per-term| rows, and with term-hash-partitioned
    # postings the (query, doc) partial aggregation barely reduced them
    # (measured at sf0.1: 21.0M joined rows -> 15.9M partial rows ->
    # 162 MiB exchange). Doc-local postings make every (query, doc)
    # group COMPLETE within its task, so the partial agg collapses to
    # exactly Q x D skinny rows before the shuffle (1.19M rows / ~6 MiB
    # at sf0.1). The repartition itself moves only the skinny restricted
    # postings (110k rows / 2 MiB). Explicit partition count (cluster
    # defaultParallelism — scale-derived, not a local constant) keeps
    # AQE from coalescing the tiny table to 1 task ahead of the dense
    # scoring join. Scores are sums of DECIMAL(18,6) — order-free, so
    # partitioning cannot change any value.
    posts_q = (
        tf.join(F.broadcast(qterms.select("term").distinct()), "term")
        .repartition(
            corpus.sparkSession.sparkContext.defaultParallelism,
            F.col(id_col),
        )
        .persist()
    )  # consumed twice: df derivation + scoring (self-join rule)
    try:
        dfreq = posts_q.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        full = posts_q.join(F.broadcast(dfreq), "term").crossJoin(
            F.broadcast(stats)
        )
        scored = _score_qterms_scored(full, qterms, k1, b, query_id_col, id_col)
        out = _topk(scored, k, query_id_col, id_col)
        out._persisted_deps = [qterms, posts_q]
        return out
    except Exception:
        qterms.unpersist()
        posts_q.unpersist()
        raise


def bm25_maxp(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    k: int = 10,
    chunk_tokens: int = 64,
    overlap: int = 16,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Passage-level BM25 with MaxP document aggregation (Dai & Callan
    2019's BM25-MaxP, public methodology): documents are chunked into
    overlapping fixed-token passages (``functions.text.chunk_passages``),
    passages are scored by the exact :func:`bm25_topk` dataflow with
    PASSAGE-level statistics (N = passage count, avgdl over passages —
    the MaxP convention), and each document scores as its BEST passage.
    Long documents stop diluting their strongest section into one big
    dl-normalized bag — the standard fix for BM25 over book/article-
    length training documents.

    Returns ``(query_id, doc_id, best_chunk, score, rank)`` — the
    winning passage rides along for snippet/provenance use. Ties inside
    a document resolve to the smallest chunk_id; the document top-k uses
    the family tiebreak. NUMERIC doc ids pack as ``doc_id * 1e6 +
    chunk_id`` (contract: ``0 <= doc_id`` — a negative id mis-unpacks
    under ``div``/``pmod`` (r15 ADVICE) — and under 1e6 chunks per doc);
    string/other ids ride a ``(doc, chunk)`` STRUCT pid instead (r16,
    VERDICT r15 item 6 — the image/frames struct-key precedent), same
    dataflow end to end. Negative numeric corpora can force the struct
    path with ``packed_passages(..., packed=False)``.

    Scale shape: identical to :func:`bm25_topk` — chunking is map-only
    codegen (~1/(chunk-overlap) text duplication), the passage postings
    restrict to the query vocabulary through the same broadcast, and the
    MaxP window adds one Q*passages-bounded shuffle on already-skinny
    scored rows. Release ``_persisted_deps`` when done."""
    pas = packed_passages(
        docs, text_col, id_col, chunk_tokens=chunk_tokens, overlap=overlap
    )
    topk_pass = bm25_topk(
        pas,
        queries.select(
            F.col(query_id_col), F.col(text_col).alias("passage")
        ),
        "passage", "__pid", query_id_col,
        k=2_000_000_000, k1=k1, b=b,
    )
    # k = 2e9 disables the passage cut (MaxP needs EVERY passage score:
    # a doc's best passage may rank arbitrarily low globally) — the rank
    # window it pays is the same one _topk would run anyway, on rows
    # already bounded by Q x query-term postings.
    out = _maxp_aggregate(topk_pass, "__pid", id_col, query_id_col, k)
    deps = list(getattr(topk_pass, "_persisted_deps", ()))
    if deps:
        out._persisted_deps = deps
    return out


def packed_passages(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
    packed: bool | None = None,
) -> DataFrame:
    """``(__pid, passage)`` — the MaxP passage corpus: chunk_passages
    output keyed by the passage id. Integral doc ids pack as ``doc_id *
    1e6 + chunk_id`` (contract: nonnegative ids, under 1e6 chunks —
    r15 ADVICE: a negative id mis-unpacks under ``div``/``pmod``); any
    other id type keys a ``(doc, chunk)`` STRUCT pid (struct group-by /
    ordering are native, the image-frames precedent). ``packed=None``
    auto-selects by dtype; pass ``packed=False`` to force the struct
    path (e.g. negative numeric corpora). Shared by the per-call
    :func:`bm25_maxp` and the index-served face (build a
    :class:`Bm25Index` over this frame with ``id_col='__pid'``,
    ``text_col='passage'`` and serve through :func:`bm25_maxp_served`)."""
    from metadata_ingestion_framework_spark.functions.text import (
        chunk_passages,
    )

    passages = chunk_passages(
        docs.select(id_col, text_col), text_col, id_col,
        chunk_tokens=chunk_tokens, overlap=overlap,
    )
    if packed is None:
        packed = dict(docs.dtypes)[id_col] in (
            "tinyint", "smallint", "int", "bigint"
        )
    if packed:
        pid = (
            F.col(id_col).cast("long") * F.lit(1_000_000)
            + F.col("chunk_id").cast("long")
        )
    else:
        pid = F.struct(
            F.col(id_col).alias("doc"),
            F.col("chunk_id").cast("int").alias("chunk"),
        )
    return passages.select(pid.alias("__pid"), F.col("passage"))


def _maxp_aggregate(
    scored: DataFrame,
    pid_col: str,
    doc_id_col: str,
    query_id_col: str,
    k: int,
) -> DataFrame:
    """The MaxP tail shared by the per-call and served faces: unpack the
    passage id (packed-long div/pmod, or struct field access for the
    string-id path — dtype-dispatched), keep each document's best
    passage (ties to the smallest chunk), family-tiebreak doc top-k."""
    if dict(scored.dtypes)[pid_col].startswith("struct"):
        doc_expr = F.col(pid_col)["doc"]
        chunk_expr = F.col(pid_col)["chunk"].cast("int")
    else:
        doc_expr = F.expr(f"`{pid_col}` div 1000000")
        chunk_expr = F.pmod(F.col(pid_col), F.lit(1_000_000)).cast("int")
    per_doc = scored.select(
        query_id_col,
        doc_expr.alias(doc_id_col),
        chunk_expr.alias("best_chunk"),
        "score",
    )
    w = Window.partitionBy(query_id_col, doc_id_col).orderBy(
        F.col("score").desc_nulls_last(), F.col("best_chunk").asc()
    )
    best = (
        per_doc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return _topk(
        best.select(query_id_col, doc_id_col, "best_chunk", "score"),
        k, query_id_col, doc_id_col,
    )


def bm25_maxp_served(
    bm25_index: "Bm25Index",
    queries: DataFrame,
    k: int = 10,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
) -> DataFrame:
    """MaxP served from a PASSAGE-grain persistent index (r15): the
    index holds :func:`packed_passages` rows (``id_col='__pid'``,
    ``text_col='passage'``), so recurring query batches run
    :meth:`Bm25Index.topk` — term-bucket directory pruning, df from the
    pruned rows, exact composed stats — with the passage cut disabled,
    then the shared :func:`_maxp_aggregate` tail. Served == per-call
    :func:`bm25_maxp` over the same corpus row-for-row (pytest-pinned:
    serve==rebuild equality composes through the per-document MAX and
    the family tiebreak, both deterministic on the identical scores).
    Release ``_persisted_deps`` when done."""
    lex = bm25_index.topk(
        queries.select(
            F.col(query_id_col),
            F.col(text_col).alias(bm25_index.text_col),
        ),
        k=2_000_000_000, k1=k1, b=b, query_id_col=query_id_col,
    )
    out = _maxp_aggregate(
        lex, bm25_index.id_col, doc_id_col, query_id_col, k
    )
    deps = list(getattr(lex, "_persisted_deps", ()))
    if deps:
        out._persisted_deps = deps
    return out


def _term_score(k1: float, b: float):
    """The per-(doc, term) BM25 contribution over columns ``tf`` / ``df``
    / ``__dl`` / ``__n_docs`` / ``__avgdl`` — ONE definition shared by
    the per-call :func:`bm25_topk` and the :class:`Bm25Index` serve face,
    so the serve==rebuild equality holds expression-for-expression."""
    tf_d = F.col("tf").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm = tf_d + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("__dl") / F.col("__avgdl")
    )
    return idf * (tf_d * F.lit(k1 + 1.0)) / norm


def _score_qterms(
    postings: DataFrame,
    qterms: DataFrame,
    k: int,
    k1: float,
    b: float,
    query_id_col: str,
    id_col: str,
) -> DataFrame:
    """Shared scoring tail: broadcast the (query, term) rows into the
    postings, accumulate 6-decimal term contributions as DECIMAL(18,6)
    (order-free exact sum), family tiebreak top-k."""
    scored = _score_qterms_scored(
        postings, qterms, k1, b, query_id_col, id_col
    )
    return _topk(scored, k, query_id_col, id_col)


def _score_qterms_scored(
    postings: DataFrame,
    qterms: DataFrame,
    k1: float,
    b: float,
    query_id_col: str,
    id_col: str,
) -> DataFrame:
    """The scoring aggregate alone (no top-k cut) — :func:`bm25_maxp`
    needs every passage score before its per-document MAX."""
    return (
        postings.join(F.broadcast(qterms), "term")
        .groupBy(query_id_col, id_col)
        .agg(
            F.sum(
                F.round(_term_score(k1, b), 6).cast("decimal(18,6)")
            ).cast("double").alias("score")
        )
    )


# ---------------------------------------------------------------------------
# Persistent BM25 index (r13, VERDICT r12 item 1)
# ---------------------------------------------------------------------------
#
# bm25_topk rebuilds postings + document frequencies + corpus stats on
# every call; at 100 TB the index build IS the job. Bm25Index is the
# lexical twin of IvfIndex: build once into a hierarchically partitioned
# VersionedParquetStore, append incrementally through hard-link partition
# deltas, retire by id range, serve partition-pruned — value-identical to
# a fresh bm25_topk over the same corpus (the serve==rebuild convention).
#
# Layout (the embedding-store playbook, incremental.py):
#   postings:   doc_bucket=<b>/term_bucket=<t>/  (doc_id, term, tf, __dl)
#   doc_stats:  doc_bucket=<b>/                  (doc_id, __dl)
#   bucket_stats: unpartitioned n_buckets-row    (doc_bucket, n_docs, total_dl)
#
# - doc_bucket = id-RANGE bucket (pure function of the id): a re-ingested
#   doc's OLD postings live in the same top-level dirs its new ones land
#   in, so the bucket rewrite both upserts and vacates stale terms, and
#   monotone ingest ids concentrate a batch into its own buckets (delta
#   write cost tracks the batch, not the index).
# - term_bucket = xxhash64(term) % n_term_buckets: the SERVE granularity.
#   A query's terms map to a bounded set of term buckets, and the serve
#   scan filters on the partition column — directory pruning opens a
#   |query terms| / n_term_buckets fraction of each doc bucket, the
#   n_probe/n_cells analogue for text.
# - df is NOT materialized: every posting row of a query term lives in
#   that term's (pruned) buckets, so the serve pass derives exact df from
#   the rows it already scans — always fresh, no merge bookkeeping, no
#   ghost class (the minhash-bands "candidates-only" tolerance argument,
#   but exact).
# - N / avgdl ARE materialized, per doc bucket: exact integer (n_docs,
#   total_dl) sums recomputed ONLY for touched buckets at append and
#   summed at serve (n_buckets rows) — order-free by construction, so
#   serve's avgdl is bit-identical to bm25_topk's long-sum/count.


#: serve-layout sizing target (r15, VERDICT r14 item 2): aim for ~this
#: many distinct terms per term bucket, capped at the proven 64-bucket
#: grid. The rule only SHRINKS the grid for small vocabularies — the
#: documented r14 gap was tiny mostly-empty leaves (a 31-word synthetic
#: corpus under 64 buckets; dense serves pay per-file open costs for
#: files that hold nothing). Growing BEYOND 64 was A/B'd at 1x/10x
#: (round 15) and bought nothing: a bounded query of T distinct
#: terms touches min(T, n) buckets either way — T is the binding term
#: for every realistic batch — while build cost and leaf-file count
#: (leaves = doc_buckets x term_buckets) grow with the grid; the
#: 128-bucket arm measured strictly worse on build, bounded serve, and
#: dense serve. Negative result recorded, cap kept at 64.
_TERMS_PER_BUCKET = 512


def sized_term_buckets(vocab: int) -> int:
    """Corpus-sized ``n_term_buckets``: the next power of two of
    ``vocab / _TERMS_PER_BUCKET``, clamped to [8, 64] (the
    sig_bucket_width sizing precedent — layout keys derive from the data
    they shard, then persist in the config guard; see _TERMS_PER_BUCKET
    for why the cap is the old fixed default)."""
    target = max(1, vocab // _TERMS_PER_BUCKET)
    return max(8, min(64, 1 << (target - 1).bit_length()))


def term_bucket_expr(term_col, n_term_buckets: int):
    """Partition key of a posting row: engine-side hash (xxhash64) of the
    term, modulo the bucket count. Engine-specific by design (the oracle
    contract is serve == fresh bm25_topk, never the bucket values)."""
    return F.pmod(F.xxhash64(term_col), F.lit(n_term_buckets))


def build_postings(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    doc_bucket_width: int,
    n_buckets: int,
    n_term_buckets: int,
) -> DataFrame:
    """ONE tokenize pass -> the partitioned posting rows
    ``(doc_id, term, tf, __dl, doc_bucket, term_bucket)``. Token-less
    (NULL/empty) docs produce no posting rows — they still count in N
    via ``doc_stats_of``. NULL is not an identity: each NULL-id doc
    counts its terms in a group of its own (``__doc``), so two NULL-id
    docs never share a postings row."""
    doc = F.when(F.col(id_col).isNull(), F.monotonically_increasing_id())
    toks = docs.select(
        F.col(id_col), doc.alias("__doc"), _terms(text_col).alias("__toks")
    ).withColumn("__dl", F.size("__toks"))
    tf = (
        toks.select(id_col, "__doc", "__dl", F.explode("__toks").alias("term"))
        .groupBy(id_col, "__doc", "__dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .drop("__doc")
    )
    return tf.withColumn(
        "doc_bucket",
        range_bucket_expr(tf, id_col, doc_bucket_width, n_buckets),
    ).withColumn("term_bucket", term_bucket_expr(F.col("term"), n_term_buckets))


def doc_stats_of(
    docs: DataFrame,
    postings: DataFrame,
    id_col: str,
    text_col: str,
    doc_bucket_width: int,
    n_buckets: int,
) -> DataFrame:
    """``(doc_id, __dl, doc_bucket)`` for EVERY doc in ``docs`` — a
    numbered doc's ``__dl`` comes from its postings (no second tokenize
    pass; ``__dl`` rides every posting row) over an id-only scan of the
    numbered docs, left-joined so token-less docs appear with ``__dl =
    0`` (they count in N and avgdl's denominator — the bm25_topk
    contract). NULL is not an identity: the postings of every NULL-id doc
    share one id group, so a NULL-id doc tokenizes its own ``text_col``
    (only those rows read the text)."""
    numbered = F.col(id_col).isNotNull()
    dls = (
        postings.filter(numbered)
        .groupBy(id_col)
        .agg(F.min("__dl").alias("__dl"))
    )
    out = (
        docs.filter(numbered)
        .select(id_col)
        .join(dls, id_col, "left")
        .select(id_col, F.coalesce("__dl", F.lit(0)).alias("__dl"))
        .unionByName(
            docs.filter(~numbered).select(
                id_col, F.size(_terms(text_col)).alias("__dl")
            )
        )
    )
    return out.withColumn(
        "doc_bucket",
        range_bucket_expr(out, id_col, doc_bucket_width, n_buckets),
    )


def bucket_stats_of(doc_stats: DataFrame) -> DataFrame:
    """Per-doc-bucket exact corpus stats ``(doc_bucket, n_docs,
    total_dl)`` — BIGINT sums, so any partial recomputation (touched
    buckets only) composes to the same global N / avgdl as a full
    rebuild."""
    return doc_stats.groupBy("doc_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__dl").cast("bigint").alias("total_dl"),
    )


def serve_topk(
    postings: DataFrame,
    bucket_stats: DataFrame,
    queries: DataFrame,
    n_term_buckets: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """The serve dataflow over ALREADY-BUILT index tables — shared by
    :meth:`Bm25Index.topk` (where the ``term_bucket`` filter becomes
    partition-directory pruning on the store scan) and the catalog's
    in-memory emulation (where it is a plain filter; identical values
    either way, which is exactly the pruning contract).

    Returns ``(query_id, doc_id, score, rank)`` == ``bm25_topk`` over
    the corpus the index holds. The result carries ``_persisted_deps``
    (release with ``unpersist_deps``)."""
    qterms = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(_terms(text_col))).alias("term"),
    ).persist()  # consumed twice: bucket collect + the scoring join
    posts_q = None
    try:
        # bounded driver collect: one value per query term
        tbs = distinct_values(
            qterms, term_bucket_expr(F.col("term"), n_term_buckets)
        )
        pruned = postings.filter(F.col("term_bucket").isin(tbs))
        # exact term filter BEFORE df: collisions share a bucket, so the
        # pruned scan still holds foreign terms — join the (tiny,
        # distinct) query-term list first, then derive df from rows the
        # pass already reads. Persist: consumed by dfreq AND the scoring
        # join (self-join rule) — skinny (id, term, tf, __dl).
        # repartition by DOC id before persisting (r18 OPT, guide
        # §2.3/§2.4 — supersedes the r15 round-robin widen): the store
        # scan is term_bucket-partitioned, so a doc's postings spread
        # across files and the (query, doc) scoring partial agg barely
        # reduced the dense join explosion before its exchange (the
        # bm25_topk measurement: 21M joined rows -> 162 MiB shuffle at
        # sf0.1). Doc-local postings collapse each (query, doc) group
        # within its task, and the explicit repartition also provides
        # the parallelism the widen existed for. The shuffle moves only
        # the skinny restricted postings. Scores are DECIMAL(18,6) sums
        # — order-free, partitioning cannot change values.
        posts_q = (
            pruned.join(
                F.broadcast(qterms.select("term").distinct()), "term"
            )
            .select(id_col, "term", "tf", "__dl")
            .repartition(
                postings.sparkSession.sparkContext.defaultParallelism,
                F.col(id_col),
            )
            .persist()
        )
        dfreq = posts_q.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        stats = bucket_stats.agg(
            F.sum("n_docs").cast("bigint").alias("__n_docs"),
            (
                F.sum("total_dl").cast("double")
                / F.sum("n_docs").cast("double")
            ).alias("__avgdl"),
        )
        full = posts_q.join(F.broadcast(dfreq), "term").crossJoin(
            F.broadcast(stats)
        )
        out = _score_qterms(full, qterms, k, k1, b, query_id_col, id_col)
        out._persisted_deps = [qterms, posts_q]
        return out
    except Exception:
        qterms.unpersist()
        if posts_q is not None:
            posts_q.unpersist()
        raise


class Bm25Index:
    """Persistent incremental BM25 index over a ``VersionedParquetStore``
    (r13) — build / append / retire_ids_below / topk, the IvfIndex
    lifecycle for lexical retrieval. See the module-section comment for
    the layout rationale; the layout-defining config is guarded exactly
    like the dedup stores (``_check_store_config``), with query-time
    knobs (k, k1, b) deliberately excluded."""

    POSTINGS = "postings"
    DOC_STATS = "doc_stats"
    BUCKET_STATS = "bucket_stats"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        doc_bucket_width: int = 8192,
        n_buckets: int = 64,
        n_term_buckets: int | None = None,
    ):
        from metadata_ingestion_framework_spark.plans.tablestore import (
            VersionedParquetStore,
        )

        self.spark = spark
        self.root = root
        self.store = VersionedParquetStore(spark, root)
        self.id_col = id_col
        self.text_col = text_col
        self.doc_bucket_width = doc_bucket_width
        self.n_buckets = n_buckets
        # n_term_buckets sizing (r15, VERDICT r14 item 2): None (the
        # default) = adopt the stored layout on reopen, or derive from
        # the build corpus's vocabulary at build() (sized_term_buckets)
        # and persist it in the config guard then. An EXPLICIT value is
        # guarded exactly as before (a mismatched reopen re-buckets
        # query terms away from their stored postings — loud failure).
        cfg_path = os.path.join(root, "_config.json")
        if n_term_buckets is None and os.path.exists(cfg_path):
            with open(cfg_path) as f:
                n_term_buckets = json.load(f).get("n_term_buckets")
        self.n_term_buckets = n_term_buckets
        if n_term_buckets is not None:
            self._stamp_config()

    def _stamp_config(self) -> None:
        _check_store_config(
            self.root,
            {
                "id_col": self.id_col,
                "text_col": self.text_col,
                "doc_bucket_width": self.doc_bucket_width,
                "n_buckets": self.n_buckets,
                "n_term_buckets": self.n_term_buckets,
            },
        )

    # -- building ---------------------------------------------------------
    def _postings(self, batch: DataFrame) -> DataFrame:
        return build_postings(
            batch, self.id_col, self.text_col,
            self.doc_bucket_width, self.n_buckets, self.n_term_buckets,
        )

    def build(self, corpus: DataFrame) -> None:
        """One tokenize pass writes the postings; doc stats derive from
        the WRITTEN postings (read-back — no second tokenize) plus an
        id-only corpus scan for token-less docs; only NULL-id docs read
        their text (``doc_stats_of``).

        When ``n_term_buckets`` was not given, it is sized HERE from the
        build corpus's distinct-term count (``sized_term_buckets``) and
        stamped into the config guard — one extra tokenize+distinct pass
        (map-only + a bounded-key agg; pass an explicit value to skip
        it). Sized from the FIRST corpus only: ``append`` never re-sizes
        (the layout is the store's identity, like IVF centroids)."""
        if self.n_term_buckets is None:
            vocab = (
                corpus.select(
                    F.explode(
                        F.array_distinct(_terms(self.text_col))
                    ).alias("term")
                )
                .agg(F.count_distinct("term").alias("v"))
                .collect()[0]["v"]
            )
            self.n_term_buckets = sized_term_buckets(vocab)
            self._stamp_config()
        self.store.write(
            self._postings(corpus),
            self.POSTINGS,
            partition_by=["doc_bucket", "term_bucket"],
        )
        stats = doc_stats_of(
            corpus,
            self.store.read(self.POSTINGS),
            self.id_col, self.text_col, self.doc_bucket_width, self.n_buckets,
        )
        self.store.write(stats, self.DOC_STATS, partition_by=["doc_bucket"])
        self.store.write(
            bucket_stats_of(self.store.read(self.DOC_STATS)),
            self.BUCKET_STATS,
        )

    def append(self, batch: DataFrame) -> None:
        """Incremental ingest: partition-delta ONLY the batch ids' doc
        buckets (old rows of re-ingested ids vacate in the same rewrite;
        untouched buckets hard-link), then recompute bucket stats for the
        touched buckets alone — write cost tracks the batch at any index
        size.

        NULL ids are NOT an identity: merge keys never match on NULL
        (SQL MERGE semantics, the ``_dedup_ids`` convention), so a NULL-id
        row in the batch APPENDS a new doc rather than replacing a
        stored NULL-id row."""
        if not self.store.exists(self.POSTINGS):
            return self.build(batch)
        posts_b = self._postings(batch).persist()
        stats_b = doc_stats_of(
            batch, posts_b,
            self.id_col, self.text_col, self.doc_bucket_width, self.n_buckets,
        ).persist()  # consumed: touched collect + both upserts
        try:
            # the touched buckets and vacated ids come from the doc stats
            # (every batch doc, token-less ones included), so a re-ingested
            # doc whose new text has no terms still drops its old postings
            touched = _upsert_touched(
                self.store, self.POSTINGS, posts_b, self.id_col,
                ["doc_bucket", "term_bucket"], batch=stats_b,
            )
            # numbered ids only: every NULL-id doc keeps its stats row,
            # as the postings keep its rows
            stats = _dedup_ids(stats_b, [self.id_col])
            _upsert_touched(
                self.store, self.DOC_STATS, stats,
                self.id_col, "doc_bucket", touched=touched, batch=stats_b,
            )
            # bucket stats: recompute touched rows from the WRITTEN doc
            # stats, carry the rest — BIGINT sums compose exactly
            fresh = bucket_stats_of(
                self.store.read_partitions(
                    self.DOC_STATS, "doc_bucket", touched, stats.schema
                )
            )
            keep = self.store.read(self.BUCKET_STATS).filter(
                ~F.coalesce(
                    partition_in_filter(touched, "doc_bucket", None), F.lit(False)
                )
            )
            self.store.write(keep.unionByName(fresh), self.BUCKET_STATS)
        finally:
            posts_b.unpersist()
            stats_b.unpersist()

    def retire_ids_below(self, cutoff_id: int) -> None:
        """Retention: drop every doc with ``id < cutoff_id`` — whole
        id-range buckets below the cutoff are simply not carried (zero
        bytes rewritten), only the boundary bucket rewrites filtered
        (the shared ``_retire_range_ids_below`` machinery). BM25 is
        ghost-intolerant three ways (stale postings score directly, stale
        doc-stats skew N/avgdl, stale df would too) — which is why df is
        derived, and postings + doc stats + bucket stats all retire in
        one call. Numeric-id stores only."""
        changed_p = _retire_range_ids_below(
            self.store, self.POSTINGS, "doc_bucket", self.doc_bucket_width,
            self.id_col, cutoff_id, ["doc_bucket", "term_bucket"],
        )
        changed_s = _retire_range_ids_below(
            self.store, self.DOC_STATS, "doc_bucket", self.doc_bucket_width,
            self.id_col, cutoff_id, ["doc_bucket"],
        )
        if not (changed_p or changed_s):
            return
        boundary = (
            -((-cutoff_id) // self.doc_bucket_width)
            if cutoff_id < 0
            else cutoff_id // self.doc_bucket_width
        )
        # NULL-bucket rows (NULL-id docs) are never range-retired — keep
        # their stats too, or serve's N/avgdl would drift from a rebuild
        keep = self.store.read(self.BUCKET_STATS).filter(
            (F.col("doc_bucket") > boundary) | F.col("doc_bucket").isNull()
        )
        fresh = bucket_stats_of(
            self.store.read_partitions(
                self.DOC_STATS, "doc_bucket", [boundary]
            )
        )
        self.store.write(keep.unionByName(fresh), self.BUCKET_STATS)

    # -- serving ----------------------------------------------------------
    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        query_id_col: str = "query_id",
    ) -> DataFrame:
        """Partition-pruned BM25 top-k == ``bm25_topk`` over the indexed
        corpus: the ``term_bucket`` filter prunes the store scan to the
        query terms' directories, df derives from the pruned rows, N /
        avgdl sum the bucket-stats table. Release the returned frame's
        ``_persisted_deps`` when done."""
        if not self.store.exists(self.POSTINGS):
            raise FileNotFoundError(f"index at {self.root} is not built")
        return serve_topk(
            self.store.read(self.POSTINGS),
            self.store.read(self.BUCKET_STATS),
            queries, self.n_term_buckets,
            text_col=self.text_col, id_col=self.id_col,
            query_id_col=query_id_col, k=k, k1=k1, b=b,
        )

    def triage(
        self,
        train: DataFrame,
        evals: DataFrame,
        k: int = 20,
        shingle_n: int = 5,
        min_shared: int = 3,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """:func:`contamination_triage` with THIS index as the candidate
        stage (r14, VERDICT r13 item 1): the ``term_bucket`` filter
        becomes partition-directory pruning on the store scan, and the
        per-call postings+df+stats rebuild disappears — the recurring-
        triage amortization the r13 probe proved. ``train`` must be the
        corpus the index holds (it supplies the gram-verify text; see
        :func:`triage_served`). Flagged pair set == the per-call form
        (pytest-pinned). Release ``_persisted_deps`` when done."""
        if not self.store.exists(self.POSTINGS):
            raise FileNotFoundError(f"index at {self.root} is not built")
        return triage_served(
            self.store.read(self.POSTINGS),
            self.store.read(self.BUCKET_STATS),
            train, evals, self.n_term_buckets,
            text_col=self.text_col, id_col=self.id_col,
            k=k, shingle_n=shingle_n, min_shared=min_shared, k1=k1, b=b,
        )


def rrf_fuse(
    lex: DataFrame,
    sem: DataFrame,
    k: int,
    rrf_k: int,
    id_col: str,
    query_id_col: str = "query_id",
    lex_id_col: str | None = None,
    sem_id_col: str | None = None,
) -> DataFrame:
    """THE rank-only Reciprocal Rank Fusion tail (r15 factor-out of
    ``hybrid_topk`` so the per-call and served faces share one fusion
    plan): take two leg frames carrying ``(query_id, <id>, rank)``,
    full-outer join them per (query, doc) — Q*k_each-bounded by
    construction, the one SortMergeJoin in the hybrid plan — and emit
    ``(query_id, id_col, rrf_score, lex_rank, sem_rank, rank)`` with the
    family tiebreak. The fused score is one double division per leg plus
    a fixed-order two-term sum: bit-equal cross-engine (the reason RRF
    was chosen over score-weighted fusion)."""
    from pyspark.sql import Window

    l_leg = lex.select(
        query_id_col,
        F.col(lex_id_col or id_col).alias("__doc"),
        F.col("rank").alias("lex_rank"),
    )
    s_leg = sem.select(
        query_id_col,
        F.col(sem_id_col or id_col).alias("__doc"),
        F.col("rank").alias("sem_rank"),
    )
    fused = l_leg.join(s_leg, [query_id_col, "__doc"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("sem_rank")), F.lit(0.0)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("rrf_score").desc_nulls_last(), F.col("__doc").asc()
    )
    return (
        fused.withColumn("rrf_score", rrf)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            F.col("__doc").alias(id_col),
            "rrf_score",
            "lex_rank",
            "sem_rank",
            "rank",
        )
    )


def hybrid_topk(
    corpus: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k_each: int = 20,
    rrf_k: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Hybrid lexical+semantic retrieval via Reciprocal Rank Fusion
    (r14; Cormack, Clarke & Buettcher, SIGIR'09 — public methodology,
    the standard production hybrid-search combiner): take each leg's
    top-``k_each`` (BM25 over ``corpus``, exact cosine over ``vectors``
    — ids aligned, the repo's doc_id == vec_id convention), score every
    retrieved doc ``sum over legs of 1/(rrf_k + rank)`` and keep the
    fused top-``k``.

    RRF is rank-only (score scales never mix — the reason it needs no
    per-leg normalization) and the fused score here is EXACTLY
    cross-engine checkable: each term is one double division and the
    sum is two doubles added in a fixed expression order, so the DuckDB
    oracle reproduces it bit-for-bit (no accumulation ordering, unlike
    score-weighted fusion). ``queries`` carries BOTH faces:
    ``(query_id, text, embedding)``.

    Returns ``(query_id, doc_id, rrf_score, lex_rank, sem_rank, rank)``
    — per-leg ranks ride along (NULL when a doc surfaced in one leg
    only) so the driver value-checks the fusion inputs, not just the
    output order. Family tiebreak (score desc NULLS LAST, doc id asc).
    Scale shape: both legs are the existing audited dataflows (the
    serve-shape BM25, the broadcast-query brute-force scorer); the
    fusion itself joins two Q*k_each frames — broadcast-sized by
    construction. Release ``_persisted_deps`` when done (the BM25
    leg's caches)."""
    from metadata_ingestion_framework_spark.operators.similarity import (
        brute_force_topk,
    )

    lex = bm25_topk(
        corpus,
        queries.select(query_id_col, text_col),
        text_col, id_col, query_id_col, k=k_each, k1=k1, b=b,
    )
    sem = brute_force_topk(
        vectors,
        queries.select(query_id_col, vec_col),
        k=k_each, id_col=vec_id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    out = rrf_fuse(
        lex, sem, k, rrf_k, id_col, query_id_col, sem_id_col=vec_id_col
    )
    deps = list(getattr(lex, "_persisted_deps", ()))
    if deps:
        out._persisted_deps = deps
    return out


def hybrid_served(
    bm25_index: "Bm25Index",
    ivf_index,
    queries: DataFrame,
    k: int = 10,
    k_each: int = 20,
    rrf_k: int = 60,
    n_probe: int = 2,
    query_id_col: str = "query_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Hybrid retrieval served FROM the persistent indexes (r15, VERDICT
    r14 item 1 — the last per-call-only retrieval surface closed):
    lexical leg = :meth:`Bm25Index.topk` (term-bucket directory pruning,
    df derived from pruned rows), semantic leg = ``IvfIndex.topk`` (IVF
    cell directory pruning, exact round(cosine, 6) rerank inside probed
    cells), fused by the identical rank-only :func:`rrf_fuse` arithmetic
    as :func:`hybrid_topk`. Recurring query batches over a growing corpus
    thus run index-to-index: neither leg rebuilds anything, and neither
    scans the full corpus — the semantic leg was previously a
    brute-force full scan per batch.

    Candidate-superset contract (pytest-pinned): at full probe
    (``n_probe = ivf_index.n_cells``) the semantic leg scores the whole
    corpus with the same ``round(cosine(), 6)`` expression, the lexical
    leg is serve==rebuild exact, and rank-only fusion composes both —
    full-probe served hybrid == per-call :func:`hybrid_topk` row-for-row
    (on fixtures where the brute-force Arrow kernel and the fold cosine
    agree at round-6 rank boundaries — everywhere in practice; the
    recall floor at production ``n_probe`` is a separate contract).
    ``queries`` carries both faces: (query_id, <text_col>, <vec_col>).
    Release ``_persisted_deps`` when done (both legs' caches)."""
    lex = bm25_index.topk(
        queries.select(query_id_col, bm25_index.text_col),
        k=k_each, k1=k1, b=b, query_id_col=query_id_col,
    )
    sem = ivf_index.topk(
        queries.select(query_id_col, ivf_index.vec_col),
        k=k_each, n_probe=n_probe, query_id_col=query_id_col,
    )
    out = rrf_fuse(
        lex, sem, k, rrf_k, bm25_index.id_col, query_id_col,
        sem_id_col=ivf_index.id_col,
    )
    deps = list(getattr(lex, "_persisted_deps", ())) + list(
        getattr(sem, "_persisted_deps", ())
    )
    if deps:
        out._persisted_deps = deps
    return out


def contamination_triage(
    train: DataFrame,
    evals: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    shingle_n: int = 5,
    min_shared: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25-gated contamination REVIEW (r13, VERDICT r12 item 6): for
    each eval doc, retrieve its top-``k`` train docs by BM25, then run
    the exact n-gram overlap check ONLY on those candidate pairs —
    ``(train_id, eval_id, shared_grams, rank)``.

    This is the production review shape: the exact operator
    (``dedup.ngram_contamination``) stays authoritative for the
    pre-training gate; triage bounds the REVIEW working set to Q*k pairs
    so a human/secondary pass can rank and inspect suspected leaks with
    retrieval context (the BM25 rank). Every stage is the already-proven
    machinery: ``bm25_topk`` for candidates, ``_distinct_gram_rows`` for
    the gram sets, and the overlap count restricted by a broadcast of the
    (tiny) candidate pair list — train never shuffles (candidates and
    eval grams both broadcast; one partial-aggregated count).

    Tokenizers differ by stage ON PURPOSE: retrieval uses the cleaned
    ``[a-z]+`` term convention, the overlap check uses the dedup
    family's whitespace tokens — each mirrored in its oracle."""
    queries = evals.select(
        F.col(id_col).alias("__eval_qid"), F.col(text_col)
    )
    topk = bm25_topk(
        train, queries, text_col, id_col, "__eval_qid", k=k, k1=k1, b=b
    )
    return _triage_overlap(
        train, evals, topk, text_col, id_col, shingle_n, min_shared
    )


def _triage_overlap(
    train: DataFrame,
    evals: DataFrame,
    topk: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    min_shared: int,
) -> DataFrame:
    """The exact-overlap verify stage shared by the per-call and the
    index-served triage faces: restrict the gram-intersect count to the
    broadcast Q*k candidate list (train never shuffles). ``topk`` is the
    candidate frame ``(__eval_qid, id_col, score, rank)`` from either
    candidate generator; its ``_persisted_deps`` (the serve face's
    qterms / posts_q caches) carry through to the result."""
    from metadata_ingestion_framework_spark.operators.dedup import (
        _distinct_gram_rows,
    )

    cand = topk.select(
        F.col("__eval_qid").alias("eval_id"),
        F.col(id_col).alias("train_id"),
        "rank",
    )
    tg = _distinct_gram_rows(train, text_col, id_col, shingle_n, "train_id")
    eg = _distinct_gram_rows(evals, text_col, id_col, shingle_n, "eval_id")
    out = (
        tg.join(F.broadcast(cand), "train_id")
        .join(F.broadcast(eg), ["eval_id", "gram"])
        .groupBy("train_id", "eval_id", "rank")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .filter(F.col("shared_grams") >= min_shared)
        .select("train_id", "eval_id", "shared_grams", "rank")
    )
    deps = list(getattr(topk, "_persisted_deps", ()))
    if deps:
        out._persisted_deps = deps
    return out


def triage_served(
    postings: DataFrame,
    bucket_stats: DataFrame,
    train: DataFrame,
    evals: DataFrame,
    n_term_buckets: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    shingle_n: int = 5,
    min_shared: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Contamination triage whose candidate stage is the SERVED index
    dataflow (r14, VERDICT r13 item 1): ``serve_topk`` over already-built
    postings/stats tables instead of ``bm25_topk``'s per-call
    postings+df+stats rebuild — the amortization case the Bm25Index
    probe proved (serve beats per-call 1.9x@sf0.1 / 2.2x@10x, widening
    with corpus size; recurring triage over a growing train corpus is
    exactly that shape). serve==rebuild is row-equal (the shared
    ``_term_score`` contract), so the flagged pair set is IDENTICAL to
    :func:`contamination_triage` whenever the index holds ``train``.

    ``train`` supplies the TEXT for the exact gram verify and must be
    the corpus the index holds (candidates referencing retired ids
    would silently drop in the gram join — same id-authority rule as
    every store verify reading fresh rows by id). Release the result's
    ``_persisted_deps`` (the serve caches) with ``unpersist_deps``."""
    queries = evals.select(
        F.col(id_col).alias("__eval_qid"), F.col(text_col)
    )
    topk = serve_topk(
        postings, bucket_stats, queries, n_term_buckets,
        text_col=text_col, id_col=id_col, query_id_col="__eval_qid",
        k=k, k1=k1, b=b,
    )
    return _triage_overlap(
        train, evals, topk, text_col, id_col, shingle_n, min_shared
    )


def bm25_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    positive_id_col: str = "positive_id",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """DPR-style hard-negative mining (r18; Karpukhin et al. 2020,
    public methodology): for each (query, positive-doc) pair, the top-k
    BM25 hits EXCLUDING the positive — the negatives a contrastive
    retriever/embedding trainer pairs against the gold passage. The
    training-data face of the retrieval family (no reference analogue;
    north-star extension).

    ``queries`` must carry ``query_id_col``, ``text_col`` and
    ``positive_id_col`` (ONE positive per query — the DPR setup; mine
    multi-positive sets by exploding upstream). Depth k+1 is EXACT for
    one excluded positive: if the positive sits in the top-(k+1),
    removing it leaves >= k hits; if not, the top-k of the rest IS the
    original top-k. Output ``(query_id, doc_id, score, neg_rank)`` with
    ``neg_rank`` densely renumbered 1..k in the family order.

    Scale shape: :func:`bm25_topk`'s serve-shaped dataflow verbatim
    (broadcast query terms, bounded term-key shuffles) plus one
    BROADCAST positives join (query-batch-sized) and a per-query window
    over <= k+1 rows (skew-free by construction). Release
    ``_persisted_deps`` when done."""
    from pyspark.sql import Window

    hits = bm25_topk(
        corpus,
        queries.select(query_id_col, text_col),
        text_col,
        id_col,
        query_id_col,
        k=k + 1,
        k1=k1,
        b=b,
    )
    negs = hits.join(
        F.broadcast(queries.select(query_id_col, positive_id_col)),
        query_id_col,
    ).filter(F.col(id_col) != F.col(positive_id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.col("rank").asc())
    out = (
        negs.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(query_id_col, id_col, "score", "neg_rank")
    )
    out._persisted_deps = list(getattr(hits, "_persisted_deps", ()))
    return out
