"""Lexical + hybrid retrieval over the documents corpus.

Two operators a training-data / RAG pipeline runs at scale:

 - BM25 top-k: the standard lexical ranker, here in an exact-integer
   formulation so the whole score is BIGINT arithmetic and the DuckDB
   oracle matches bit-for-bit.  The classic log-idf is replaced by the
   rational odds idf (N - df + 0.5)/(df + 0.5) scaled to an integer —
   a legitimate (Robertson-Sparck-Jones without the log) variant chosen
   so no transcendental function enters the plan; per-term ranking is
   identical to log-idf (both are monotone in the odds), and the summed
   score is a valid BM25-family score.
 - Hybrid search via Reciprocal Rank Fusion: fuse the BM25 ranking with
   an embedding dot-product ranking by rrf(d) = sum over signals of
   SCALE div (60 + rank_signal(d)) — rank fusion is integer by nature,
   which is exactly why RRF is the robust choice when signal scores
   live on incomparable scales.

Scale notes (100 TB): BM25 is two corpus scans (df/stats + score) and
one shuffle keyed by term for df; the per-doc score needs only the
doc's own row plus broadcast (N, total_tokens, df) — no quadratic
anything.  The integer scales bound exactness to N <= ~1e8 docs with
IDF_SCALE*NORM_SCALE = 1e7 (product must stay under 2^63 /
(22 * max_tf * odds)); past that, shrink NORM_SCALE or shard the
corpus — the formula degrades by choice, never silently.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pithos_spark.functions.layoutcommit import (
    append_segment,
    live_staged_segs,
    read_current,
    staged_counters,
    staged_rows,
    write_segment_rows,
)

IDF_SCALE = 10_000
NORM_SCALE = 1_000
RRF_SCALE = 1_000_000
RRF_K = 60

DEFAULT_TERMS = ("spark", "window", "hash")


def _tokens(col: F.Column) -> F.Column:
    return F.split(F.trim(col), r"\s+")


def bm25_scores(
    documents: DataFrame, terms: tuple[str, ...] = DEFAULT_TERMS
) -> DataFrame:
    """Per-document integer BM25 score for a bag-of-terms query.

    score(d) = sum over query terms t with tf(t,d) > 0 of
        (22 * tf * idf_q(t) * NORM_SCALE) div (10*tf*TL + 3*TL + 9*dl*N)

    where the denominator is the BM25 length normalization
    tf + k1*(1 - b + b*dl/avgdl) with k1=1.2, b=0.75 multiplied through
    by 10*TL (TL = total corpus tokens, so avgdl = TL/N) to clear every
    fraction, and idf_q(t) = ((2*(N-df)+1) * IDF_SCALE) div (2*df+1) is
    the scaled odds idf.  Everything is BIGINT; div is truncating
    integer division (all operands non-negative, so Spark's `div` and
    DuckDB's `//` agree).

    Plan: the tokenized projection ``toks`` (doc_id, dl, per-term tf
    structs — narrow, the text column is gone) is persisted: its three
    consumers (tf rows, corpus stats, and the df-per-term fork above
    the explode) each column-prune a different copy, which defeats
    ReuseExchange and would otherwise run the tokenizer over the full
    corpus three times.  One scan + one tokenize, cache bounded at
    |docs| x |terms| integers.
    """
    toks = documents.select(
        "doc_id", _tokens(F.col("text")).alias("_toks")
    ).select(
        "doc_id",
        F.size(F.col("_toks")).cast("long").alias("dl"),
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("term"),
                    F.size(
                        F.filter(F.col("_toks"), lambda x: x == F.lit(t))
                    )
                    .cast("long")
                    .alias("tf"),
                )
                for t in terms
            ]
        ).alias("_tfs"),
    )
    from pithos_spark.plans.helpers import bounded_persist

    toks = bounded_persist(toks, "bm25_scores.toks")
    tf_rows = (
        toks.select("doc_id", "dl", F.explode("_tfs").alias("e"))
        .select("doc_id", "dl", "e.term", "e.tf")
        .filter(F.col("tf") > 0)
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    df_per_term = tf_rows.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = (
        tf_rows.join(F.broadcast(df_per_term), "term")
        .join(F.broadcast(stats))
        .withColumn(
            "idf_q",
            F.expr(
                f"((2 * (n_docs - df) + 1) * {IDF_SCALE}) div (2 * df + 1)"
            ),
        )
        .withColumn(
            "term_score_q",
            F.expr(
                f"(22 * tf * idf_q * {NORM_SCALE}) div "
                "(10 * tf * total_len + 3 * total_len + 9 * dl * n_docs)"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("term_score_q").alias("score_q")
    )


def bm25_topk(
    documents: DataFrame,
    terms: tuple[str, ...] = DEFAULT_TERMS,
    k: int = 20,
) -> DataFrame:
    """Top-k documents by integer BM25; ties break on doc_id."""
    return (
        bm25_scores(documents, terms)
        .orderBy(F.col("score_q").desc(), F.col("doc_id"))
        .limit(k)
    )


def build_postings(documents: DataFrame) -> DataFrame:
    """Full-vocabulary postings: one (term, doc_id, tf, dl) row per
    distinct term per document — the inverted index as a TABLE, built
    with one linear token explode and one map-side-combined shuffle."""
    toks = documents.select("doc_id", _tokens(F.col("text")).alias("_toks"))
    return (
        toks.select(
            "doc_id",
            F.size("_toks").cast("long").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


# The postings table's physical format, declared once (base, staged
# segment and fold are read with it, so no read infers it), and its
# sort key.
POSTINGS_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("doc_id", LongType()),
        StructField("dl", LongType()),
        StructField("tf", LongType()),
    ]
)
POSTINGS_KEY = ("term", "doc_id")


def order_postings(postings: DataFrame) -> DataFrame:
    """Row order of the postings table — build, batch append and fold:
    hash-clustered on term, sorted by :data:`POSTINGS_KEY` within
    files, so a pushed ``term IN (...)`` filter skips row groups inside
    every file (see write_postings_layout's r14 note on why hash, not
    range).  A delta-sized staged segment only sorts within its own
    partitions."""
    return postings.repartition("term").sortWithinPartitions(*POSTINGS_KEY)


def write_postings_stats(spark, path: str, n_docs: int, total_len: int) -> None:
    """The layout's 1-row additive corpus counters table."""
    from pithos_spark.functions.layoutcommit import write_tiny_table

    write_tiny_table(
        spark.createDataFrame(
            [(int(n_docs), int(total_len))], "n_docs long, total_len long"
        ),
        path,
    )


def delta_postings_stats(documents: DataFrame) -> DataFrame:
    """The 1-row (n_docs, total_len) counters a batch of NEW documents
    adds to the layout's stats — the batch append's and the staged
    segment's delta, one definition."""
    toks = documents.select(F.size(_tokens(F.col("text"))).alias("_n"))
    return toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("total_len"),
    )


def write_postings_layout(documents: DataFrame, path: str) -> None:
    """The retrieval analog of store.write_objects_layout: materialize
    the inverted index hash-clustered by term and sorted within files,
    so a query's term filter becomes row-group skipping over a
    contiguous posting list instead of a full-corpus tokenize.  Corpus
    stats (n_docs, total_len — what every BM25 score needs) persist
    alongside as a 1-row table.  Build cost is one pass over the
    corpus; every query thereafter reads only its own terms' postings.

    r14 note: this used ``repartitionByRange``, whose RangePartitioner
    runs a SAMPLING JOB over the child — i.e. a second full corpus
    tokenize per build.  Hash-clustering (``repartition`` on term)
    places each term's whole posting list in one file's sorted run
    exactly the same for the pushed ``term IN`` min/max skipping, with
    no sampling pass — one tokenize instead of two.
    """
    from pithos_spark.plans.helpers import overlap_jobs

    p = build_postings(documents)
    toks = documents.select(F.size(_tokens(F.col("text"))).alias("_n"))
    # the postings write and the 1-row stats aggregate are independent
    # jobs — overlapped (guide §2.6); finalize_rebuild runs after both
    overlap_jobs(
        lambda: order_postings(p)
        .write.mode("overwrite")
        .parquet(f"{path}/postings"),
        lambda: (
            toks.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("_n").cast("long").alias("total_len"),
            )
            .write.mode("overwrite")
            .parquet(f"{path}/stats")
        ),
    )
    from pithos_spark.functions.layoutcommit import finalize_rebuild

    # cut CURRENT back to this fresh generation 0 and GC old
    # generations/staging, so a rebuild of a previously-compacted
    # layout is what readers see (ADVICE r15)
    finalize_rebuild(path)


def write_postings_segment(documents: DataFrame, tmp: str) -> DataFrame:
    """The postings layout's segment writer, shared by the stream and
    the batch append: one delta-linear :func:`build_postings` pass
    written in :data:`POSTINGS_SCHEMA`, sorted on :data:`POSTINGS_KEY`
    within the batch's partitions (``layoutcommit.write_segment_rows``
    — the pushed ``term IN`` filter row-group-skips inside it); the
    segment's (n_docs, total_len) counters are its stats row."""
    write_segment_rows(
        build_postings(documents), POSTINGS_SCHEMA, POSTINGS_KEY, tmp
    )
    return delta_postings_stats(documents)


def append_to_postings_layout(delta_documents: DataFrame, path: str) -> None:
    """Crawl-delta maintenance for the postings layout (VERDICT r13
    task 4 — the ``append_to_ivfpq_residual_index`` contract
    transplanted to the lexical side): a daily ingest of NEW documents
    installs its postings rows and additive corpus counters as one
    staged segment (:func:`write_postings_segment`, the streaming
    ingest's writer); work is delta-linear — no full-corpus
    re-tokenize, no vocabulary rewrite — and :func:`bm25_topk_from_postings`
    serves it at once.

    Why pure row-append is exact here: the postings table keys on
    (term, doc_id) and a crawl delta is new doc_ids, so delta rows are
    disjoint from the base's; per-term df is derived from posting rows
    AT QUERY TIME (a count over the query terms' pruned lists), so it
    refreshes for free; and the (n_docs, total_len) counters are
    additive.  ``write_postings_layout(base)`` + append(delta) serves
    bit-identically to a one-pass build over base ∪ delta (contract
    test in tests/test_layout.py).  Updates to EXISTING doc_ids are
    out of scope — those go through a rebuild, same as the ANN layouts.

    Retry contract: a delta equal in content to one already appended
    IS a retry — its segment key is the content hash
    (``layoutcommit.append_key``), so re-running the append after a
    crash at any step, or after it succeeded, leaves exactly one
    installed copy (and the counters of a segment whose stats row a
    crash ate are derived from its rows)."""
    append_segment(path, delta_documents, write_postings_segment)


def _staged_postings_counters(
    spark, layout_path: str, live: list[str]
) -> tuple[int, int]:
    """(n_docs, total_len) contributed by the live staged segments
    (``layoutcommit.staged_counters``).  The derivation for stats-less
    segments counts distinct (doc_id, dl) pairs over exactly those
    segments' rows (read by path), so a document with zero tokens —
    which has no posting rows and affects no score — is the one thing
    it can't see."""

    def derive(missing):
        return (
            staged_rows(spark, layout_path, missing, POSTINGS_SCHEMA)
            .select("doc_id", "dl")
            .distinct()
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.coalesce(F.sum("dl"), F.lit(0))
                .cast("long")
                .alias("total_len"),
            )
            .collect()[0]
        )

    c = staged_counters(layout_path, live, ("n_docs", "total_len"), derive)
    return c["n_docs"], c["total_len"]


def load_postings_layout(spark, path: str):
    """THE loader of the postings layout: (posting rows, 1-row corpus
    counters) of the live generation (layoutcommit.read_current — one
    tiny pointer-file read) with its live staged segments.  Posting
    rows are base ∪ segments (one multi-path scan; df derives from the
    union at query time, so appended and streamed documents
    participate exactly) and the counters are the generation's plus
    the segments' (stats rows, or derived from the rows — never
    base-only against unioned rows).  With nothing staged this is the
    base read."""
    root = read_current(path)
    post = spark.read.schema(POSTINGS_SCHEMA).parquet(f"{root}/postings")
    stats = spark.read.parquet(f"{root}/stats")
    # ONE listing of the live segments for both the rows and the
    # counters (postings folds are always major: no run)
    live = live_staged_segs(path, root)
    if live:
        dn, dl_sum = _staged_postings_counters(spark, path, live)
        post = post.unionByName(
            staged_rows(spark, path, live, POSTINGS_SCHEMA)
        )
        stats = stats.select(
            (F.col("n_docs") + F.lit(dn)).alias("n_docs"),
            (F.col("total_len") + F.lit(dl_sum)).alias("total_len"),
        )
    return post, stats


def bm25_topk_from_postings(
    spark,
    path: str,
    terms: tuple[str, ...] = DEFAULT_TERMS,
    k: int = 20,
) -> DataFrame:
    """BM25 over the materialized postings layout: bit-identical scores
    to :func:`bm25_topk` (same integer formula, df/tf/dl/stats all
    derivable from the stored rows) but the scan touches ONLY the query
    terms' posting lists — `.explain` shows the `term IN (...)` filter
    pushed into the parquet scan, and the term-range layout makes that
    row-group skipping, not a full read.  The production serving shape:
    build once on ingest, query forever.  Serves the layout's live
    staged segments (:func:`load_postings_layout`): bit-identical to a
    one-pass layout over the union of documents (tested across trigger
    splits, after compaction, and across every injected crash point)."""
    post, stats = load_postings_layout(spark, path)
    post = post.filter(F.col("term").isin(list(terms)))
    df_per_term = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        post.join(F.broadcast(df_per_term), "term")
        .join(F.broadcast(stats))
        .withColumn(
            "idf_q",
            F.expr(
                f"((2 * (n_docs - df) + 1) * {IDF_SCALE}) div (2 * df + 1)"
            ),
        )
        .withColumn(
            "term_score_q",
            F.expr(
                f"(22 * tf * idf_q * {NORM_SCALE}) div "
                "(10 * tf * total_len + 3 * total_len + 9 * dl * n_docs)"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("term_score_q").alias("score_q"))
        .orderBy(F.col("score_q").desc(), F.col("doc_id"))
        .limit(k)
    )


def _bm25_scored_sql(terms: tuple[str, ...]) -> str:
    term_structs = ", ".join(
        f"{{'term': '{t}', 'tf': len(list_filter(_toks, x -> x = '{t}'))::BIGINT}}"
        for t in terms
    )
    return f"""\
WITH toks AS (
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS dl,
           [{term_structs}] AS _tfs
    FROM (SELECT doc_id, text,
                 regexp_split_to_array(trim(text), '\\s+') AS _toks
          FROM documents)
), tf_rows AS (
    SELECT doc_id, dl, e.term AS term, e.tf AS tf
    FROM (SELECT doc_id, dl, unnest(_tfs) AS e FROM toks)
    WHERE e.tf > 0
), stats AS (
    SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM toks
), df_per_term AS (
    SELECT term, count(*) AS df FROM tf_rows GROUP BY term
), scored AS (
    SELECT doc_id,
           (22 * tf * (((2 * (n_docs - df) + 1) * {IDF_SCALE}) // (2 * df + 1))
            * {NORM_SCALE})
           // (10 * tf * total_len + 3 * total_len + 9 * dl * n_docs)
           AS term_score_q
    FROM tf_rows JOIN df_per_term USING (term), stats
), bm25 AS (
    SELECT doc_id, CAST(sum(term_score_q) AS BIGINT) AS score_q
    FROM scored GROUP BY doc_id
)"""


def bm25_topk_oracle(
    terms: tuple[str, ...] = DEFAULT_TERMS, k: int = 20
) -> str:
    return (
        _bm25_scored_sql(terms)
        + f"""
SELECT doc_id, score_q FROM bm25
ORDER BY score_q DESC, doc_id
LIMIT {k}"""
    )


def hybrid_rrf_topk(
    documents: DataFrame,
    embeddings: DataFrame,
    terms: tuple[str, ...] = DEFAULT_TERMS,
    query_vec_id: int = 0,
    k: int = 20,
    depth: int = 100,
) -> DataFrame:
    """Hybrid lexical+vector retrieval by Reciprocal Rank Fusion.

    Signal 1: BM25 rank over the query terms (top ``depth``).
    Signal 2: quantized-dot rank against the query vector (top
    ``depth``; embeddings join documents on vec_id == doc_id).
    rrf(d) = sum over signals present of RRF_SCALE div (60 + rank);
    a doc missing from one signal's top-``depth`` simply contributes
    nothing for it — the standard RRF treatment, and exactly what the
    full-outer join expresses.

    Rank fusion needs only integer ranks, so the whole plan is
    engine-exact; this is also why RRF beats score mixing when the two
    signals' scales are incomparable (integer BM25 vs quantized dots).
    """
    from pithos_spark.functions.similarity import quantized_dot

    # each signal's candidate cut is a DISTRIBUTED top-k
    # (orderBy+limit -> TakeOrderedAndProject: per-partition heaps, then
    # a depth-sized merge) and only the <= depth survivors get a rank —
    # ranking directly with a global row_number window would drag the
    # whole scored corpus into ONE partition (Spark's "No Partition
    # Defined for Window" warning, a 100 TB single-node sort).
    lex = (
        bm25_scores(documents, terms)
        .orderBy(F.col("score_q").desc(), F.col("doc_id"))
        .limit(depth)
        .withColumn(
            "lex_rank",
            F.row_number().over(
                Window.orderBy(F.col("score_q").desc(), F.col("doc_id"))
            ),
        )
        .select("doc_id", "lex_rank")
    )
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("query_embedding")
    )
    vec = (
        embeddings.join(F.broadcast(q))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            F.col("vec_id").alias("doc_id"),
            quantized_dot(
                F.col("embedding"), F.col("query_embedding")
            ).alias("dot_q"),
        )
        .orderBy(F.col("dot_q").desc(), F.col("doc_id"))
        .limit(depth)
        .withColumn(
            "vec_rank",
            F.row_number().over(
                Window.orderBy(F.col("dot_q").desc(), F.col("doc_id"))
            ),
        )
        .select("doc_id", "vec_rank")
    )
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + lex_rank)"),
                    F.lit(0).cast("long"),
                )
                + F.coalesce(
                    F.expr(f"{RRF_SCALE} div ({RRF_K} + vec_rank)"),
                    F.lit(0).cast("long"),
                )
            ).alias("rrf_q"),
        )
    )
    return fused.orderBy(F.col("rrf_q").desc(), F.col("doc_id")).limit(k)


def hybrid_rrf_topk_oracle(
    terms: tuple[str, ...] = DEFAULT_TERMS,
    query_vec_id: int = 0,
    k: int = 20,
    depth: int = 100,
    dim: int = 64,
) -> str:
    return (
        _bm25_scored_sql(terms)
        + f""", lex AS (
    SELECT doc_id, lex_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score_q DESC, doc_id) AS lex_rank
        FROM bm25
    ) WHERE lex_rank <= {depth}
), qv AS (
    SELECT embedding AS query_embedding FROM embeddings
    WHERE vec_id = {query_vec_id}
), vec AS (
    SELECT doc_id, vec_rank FROM (
        SELECT vec_id AS doc_id,
               row_number() OVER (ORDER BY dot_q DESC, vec_id) AS vec_rank
        FROM (
            SELECT e.vec_id,
                   (SELECT CAST(sum(
                        CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                        CAST(floor(CAST(q.query_embedding[i] AS DOUBLE) * 1000) AS BIGINT)
                    ) AS BIGINT)
                    FROM generate_series(1, {dim}) g(i)) AS dot_q
            FROM embeddings e, qv q
            WHERE e.vec_id <> {query_vec_id}
        )
    ) WHERE vec_rank <= {depth}
)
SELECT doc_id,
       CAST(coalesce({RRF_SCALE} // ({RRF_K} + lex_rank), 0)
          + coalesce({RRF_SCALE} // ({RRF_K} + vec_rank), 0) AS BIGINT) AS rrf_q
FROM lex FULL OUTER JOIN vec USING (doc_id)
ORDER BY rrf_q DESC, doc_id
LIMIT {k}"""
    )


def rerank_crossencoder_stub(
    documents: DataFrame,
    terms: tuple[str, ...] = DEFAULT_TERMS,
    k: int = 20,
    depth: int = 100,
) -> DataFrame:
    """Second-stage reranking over the BM25 candidate list with an
    Arrow-batched scoring model — the retrieve-then-rerank serving
    pattern.

    REAL: the candidate cut (BM25 top-``depth``), the
    ``mapInPandas`` batch contract a cross-encoder needs (query+doc
    pairs in, scores out, vectorized per Arrow batch), and the final
    fused ordering.  FAKE: the model itself — a deterministic
    md5-derived pseudo-score (a real build loads an ONNX/torch
    cross-encoder here); because the fake scorer is the portable hash,
    the whole plan still carries a bit-identical DuckDB oracle, which
    checks the *plumbing* — cut, batch schema, join, ordering — not the
    fake weights.
    """
    from typing import Iterator

    query = " ".join(terms)
    # distributed top-k cut first, rank the <= depth survivors after
    # (see hybrid_rrf_topk — a global-window rank would single-partition
    # the whole scored corpus)
    lex = (
        bm25_scores(documents, terms)
        .orderBy(F.col("score_q").desc(), F.col("doc_id"))
        .limit(depth)
        .withColumn(
            "lex_rank",
            F.row_number().over(
                Window.orderBy(F.col("score_q").desc(), F.col("doc_id"))
            ),
        )
    )
    cand = lex.join(documents.select("doc_id", "text"), "doc_id")

    def score_batches(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            scores = pdf["text"].map(
                lambda t: int(
                    hashlib.md5(f"{query}|{t}".encode()).hexdigest()[:15], 16
                )
                % 1000
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lex_rank": pdf["lex_rank"],
                    "ce_score_q": scores,
                }
            )

    scored = cand.mapInPandas(
        score_batches, "doc_id long, lex_rank int, ce_score_q long"
    )
    return scored.orderBy(
        F.col("ce_score_q").desc(), F.col("doc_id")
    ).limit(k)


def rerank_crossencoder_stub_oracle(
    terms: tuple[str, ...] = DEFAULT_TERMS, k: int = 20, depth: int = 100
) -> str:
    query = " ".join(terms)
    return (
        _bm25_scored_sql(terms)
        + f""", lex AS (
    SELECT doc_id, lex_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score_q DESC, doc_id) AS lex_rank
        FROM bm25
    ) WHERE lex_rank <= {depth}
)
SELECT l.doc_id, l.lex_rank::INT AS lex_rank,
       ('0x' || substr(md5('{query}|' || d.text), 1, 15))::BIGINT % 1000
           AS ce_score_q
FROM lex l JOIN documents d USING (doc_id)
ORDER BY ce_score_q DESC, doc_id
LIMIT {k}"""
    )


# serving-side cap on the MMR candidate depth: the greedy reranker is
# driver-side O(k*depth*dim) by design (bounded collect), and this cap
# guarantees the bound can never silently become corpus-sized
MMR_MAX_DEPTH = 10_000


def mmr_rerank(
    documents: DataFrame,
    embeddings: DataFrame,
    terms: tuple[str, ...] = DEFAULT_TERMS,
    k: int = 10,
    depth: int = 50,
    lambda_permille: int = 700,
) -> DataFrame:
    """Maximal-marginal-relevance diversity rerank (Carbonell &
    Goldstein 1998) over the BM25 candidate list: greedily pick the
    document maximizing ``lambda * relevance - (1 - lambda) *
    max-similarity-to-already-picked`` — the second-stage that trades
    redundancy for coverage, complementing rerank_crossencoder_stub's
    pointwise scoring.

    Integer-exact end-to-end so the greedy carries a bit-identical
    DuckDB twin (mmr_rerank_oracle, one unrolled CTE block per pick):
    relevance is BM25 ``score_q`` rescaled to the dot-product range via
    ``(1_000_000 * score_q) div max_score_q`` (all non-negative, so
    Spark ``div`` and DuckDB ``//`` agree), similarity is the exact
    quantized embedding dot (vec_id == doc_id in the testdata model),
    and ties break to the smaller doc_id.  The first pick has no
    selected set, so its penalty term is 0 (pure relevance).

    Scale shape: candidate generation is the DISTRIBUTED part — the
    full-corpus BM25 scan and top-``depth`` cut (or the postings-layout
    serving path upstream); the greedy itself is inherently sequential,
    so it runs driver-side over the <= depth bounded survivors — the
    same bounded-collect pattern as the Lloyd centroid loop, sized by a
    serving parameter, never by the corpus.  ``depth`` is capped at
    MMR_MAX_DEPTH (10_000): the driver-side greedy is O(k*depth*dim)
    memory and time, and the cap makes it impossible to hand it a
    corpus-sized candidate set by accident (VERDICT r9 #3).
    """
    from pithos_spark.functions.similarity import _quantized

    if depth > MMR_MAX_DEPTH:
        raise ValueError(
            f"mmr_rerank depth={depth} exceeds MMR_MAX_DEPTH="
            f"{MMR_MAX_DEPTH}: the greedy stage collects `depth` "
            "candidates to the driver; a corpus-sized depth belongs in "
            "the distributed candidate cut, not here"
        )

    # zero-score survivors of the cut (tf > 0 but the idf/length math
    # floors to 0) carry no relevance signal to rescale — drop them, so
    # the max-score divisor is always positive when candidates exist
    lex = bm25_topk(documents, terms, k=depth).filter(F.col("score_q") > 0)
    cand = (
        lex.join(
            embeddings.select(F.col("vec_id").alias("doc_id"), "embedding"),
            "doc_id",
        )
        .select(
            "doc_id", "score_q", _quantized(F.col("embedding")).alias("q")
        )
        .collect()
    )
    spark = documents.sparkSession
    schema = "rk int, doc_id long, score_q long, mmr_q long"
    if not cand:
        return spark.createDataFrame([], schema)
    score = {int(r["doc_id"]): int(r["score_q"]) for r in cand}
    vec = {int(r["doc_id"]): [int(v) for v in r["q"]] for r in cand}
    m = max(score.values())
    rel = {d: (1_000_000 * s) // m for d, s in score.items()}
    pen = 1000 - lambda_permille
    remaining = set(score)
    # running max-similarity to the selected set, updated with only the
    # newly picked doc each round: O(k * depth * dim), not O(k^2 * ...)
    max_sim: dict[int, int] = {}
    out = []
    while len(out) < k and remaining:
        best = None
        for d in sorted(remaining):
            mmr = lambda_permille * rel[d] - pen * max_sim.get(d, 0)
            if best is None or mmr > best[0]:
                best = (mmr, d)
        picked = best[1]
        out.append((len(out) + 1, picked, score[picked], best[0]))
        remaining.discard(picked)
        for d in remaining:
            dot = sum(x * y for x, y in zip(vec[d], vec[picked]))
            if d not in max_sim or dot > max_sim[d]:
                max_sim[d] = dot
    return spark.createDataFrame(out, schema)


def mmr_rerank_oracle(
    terms: tuple[str, ...] = DEFAULT_TERMS,
    k: int = 10,
    depth: int = 50,
    lambda_permille: int = 700,
    dim: int = 64,
) -> str:
    """DuckDB twin of mmr_rerank: BM25 scored prefix, the top-depth
    cut joined to quantized embeddings, the all-pairs dot table, then
    ONE materialized CTE block per greedy pick (the running selection
    is referenced twice per round — NOT IN plus the max-sim join — so
    plain CTEs would re-evaluate the prefix exponentially; see the BPE
    oracle for the same unroll discipline)."""
    lam, pen = lambda_permille, 1000 - lambda_permille
    parts = [_bm25_scored_sql(terms)]
    parts.append(
        f""", cut AS MATERIALIZED (
    SELECT doc_id, score_q FROM bm25 WHERE score_q > 0
    ORDER BY score_q DESC, doc_id LIMIT {depth}
), cand AS MATERIALIZED (
    SELECT c.doc_id, c.score_q,
           list_transform(e.embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
    FROM cut c JOIN embeddings e ON e.vec_id = c.doc_id
), rel AS MATERIALIZED (
    SELECT doc_id, score_q, q,
           (1000000 * score_q) // (SELECT max(score_q) FROM cand)
               AS rel_scaled
    FROM cand
), dots AS MATERIALIZED (
    SELECT a.doc_id AS da, b.doc_id AS db,
           CAST((SELECT sum(a.q[i] * b.q[i])
                 FROM generate_series(1, {dim}) g(i)) AS BIGINT) AS dot
    FROM rel a JOIN rel b ON a.doc_id <> b.doc_id
), sel1 AS MATERIALIZED (
    SELECT 1 AS rk, doc_id, score_q,
           CAST({lam} * rel_scaled AS BIGINT) AS mmr_q
    FROM rel ORDER BY mmr_q DESC, doc_id LIMIT 1
), selu1 AS MATERIALIZED (SELECT rk, doc_id, score_q, mmr_q FROM sel1)"""
    )
    for i in range(2, k + 1):
        parts.append(
            f""", sel{i} AS MATERIALIZED (
    SELECT {i} AS rk, r.doc_id, r.score_q,
           CAST({lam} * r.rel_scaled - {pen} *
               (SELECT max(d.dot) FROM dots d
                JOIN selu{i - 1} s ON d.db = s.doc_id
                WHERE d.da = r.doc_id) AS BIGINT) AS mmr_q
    FROM rel r
    WHERE r.doc_id NOT IN (SELECT doc_id FROM selu{i - 1})
    ORDER BY mmr_q DESC, r.doc_id LIMIT 1
), selu{i} AS MATERIALIZED (
    SELECT * FROM selu{i - 1} UNION ALL SELECT * FROM sel{i}
)"""
        )
    parts.append(
        f"""
SELECT rk, doc_id, score_q, mmr_q FROM selu{k} ORDER BY rk"""
    )
    return "".join(parts)
