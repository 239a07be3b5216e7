"""Query registry — the driver-facing catalog of implemented operators.

Every operator from SURVEY.md §2 that is implemented gets:
  - a callable (spark, sf_dir) -> DataFrame  in QUERIES
  - a DuckDB-SQL oracle string               in ORACLES (omitted only for
    genuinely non-SQL-expressible operators; the driver then records a
    weaker rows-only check)

Column names are aliased identically on both sides — the driver's compare
sorts columns by name before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pithos_spark import tables as T
from pithos_spark.operators import listing, lookups

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# A1 — ListObjects (flagship).  Parameter sets chosen to exercise every
# branch: delimiter grouping (prefixes + direct keys), marker pagination,
# prefix-only range, bare scan with limit.
# ---------------------------------------------------------------------------

_LIST_CASES = {
    # top level with delimiter: every order priority becomes a common
    # prefix; no direct keys at depth 0.
    "list_objects_root": dict(bucket="NATION_2", prefix="", delimiter="/", max_keys=1000),
    # inside one priority: '-' keys are direct, '/' keys group into prefixes
    "list_objects_flagship": dict(
        bucket="NATION_2", prefix="1-URGENT/", delimiter="/", max_keys=100
    ),
    # marker-resumable page, small max_keys (truncation path)
    "list_objects_paged": dict(
        bucket="NATION_2",
        prefix="1-URGENT/",
        delimiter="/",
        marker="1-URGENT/F-z",
        max_keys=10,
    ),
    # prefix range without delimiter: plain bounded scan
    "list_objects_no_delim": dict(
        bucket="NATION_2", prefix="3-MEDIUM/O", delimiter=None, max_keys=50
    ),
}


def _make_list_query(params):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = T.load_tables(spark, sf_dir)
        return listing.list_objects(T.objects_df(t), **params)

    return q


for _name, _params in _LIST_CASES.items():
    QUERIES[_name] = _make_list_query(_params)
    ORACLES[_name] = T.with_model(listing.list_objects_oracle(**_params))


# ---------------------------------------------------------------------------
# S1/S2 — bucket scans & point lookups
# ---------------------------------------------------------------------------


@register(
    "bucket_by_tenant",
    T.with_model(
        "SELECT bucket, tenant, versioned, acl, bucket_seq FROM buckets "
        "WHERE tenant = 'ASIA' ORDER BY bucket"
    ),
)
def bucket_by_tenant(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = T.load_tables(spark, sf_dir)
    return lookups.buckets_by_tenant(T.buckets_df(t), "ASIA").orderBy("bucket")


@register(
    "fetch_bucket",
    T.with_model(
        "SELECT bucket, tenant, versioned, acl, bucket_seq FROM buckets "
        "WHERE bucket = 'NATION_2' LIMIT 1"
    ),
)
def fetch_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = T.load_tables(spark, sf_dir)
    return lookups.fetch_bucket(T.buckets_df(t), "NATION_2")


@register(
    "objects_page",
    T.with_model(
        "SELECT bucket, object, inode, size, checksum FROM objects "
        "WHERE bucket = 'NATION_2' AND object >= '2-HIGH/' AND object < '2-HIGI/' "
        "ORDER BY object LIMIT 25"
    ),
)
def objects_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = T.load_tables(spark, sf_dir)
    page = lookups.fetch_objects_page(
        T.objects_df(t), "NATION_2", prefix="2-HIGH/", max_keys=25
    )
    return page.select("bucket", "object", "inode", "size", "checksum")


# ---------------------------------------------------------------------------
# J1 — object descriptor (object ⋈ bucket, ACL fallback via coalesce)
# reference: src/io/pithos/desc.clj:59-133
# ---------------------------------------------------------------------------


@register(
    "object_descriptor",
    T.with_model(
        """\
SELECT o.bucket AS bucket, o.object AS object, o.inode AS inode,
       o.size AS size, b.tenant AS tenant,
       coalesce(o.acl, b.acl) AS effective_acl
FROM objects o LEFT JOIN buckets b ON o.bucket = b.bucket
WHERE o.bucket = 'NATION_7'"""
    ),
)
def object_descriptor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    o = T.objects_df(t).filter(F.col("bucket") == "NATION_7")
    b = T.buckets_df(t).select(
        F.col("bucket").alias("b_bucket"), "tenant", F.col("acl").alias("b_acl")
    )
    # bucket dim is tiny -> broadcast left join, no shuffle of the fact side
    return o.join(F.broadcast(b), o.bucket == b.b_bucket, "left").select(
        o.bucket.alias("bucket"),
        "object",
        "inode",
        "size",
        "tenant",
        F.coalesce(o.acl, F.col("b_acl")).alias("effective_acl"),
    )


# ---------------------------------------------------------------------------
# A10 — usage reporting: per-bucket / per-tenant storage accounting
# reference: src/io/pithos/reporter.clj:4-16 (event emission); aggregation
# is the natural batch analog.
# ---------------------------------------------------------------------------


@register(
    "bucket_usage",
    T.with_model(
        """\
SELECT b.tenant AS tenant, o.bucket AS bucket,
       count(*) AS object_count, CAST(sum(o.size) AS BIGINT) AS total_bytes
FROM objects o JOIN buckets b ON o.bucket = b.bucket
GROUP BY b.tenant, o.bucket
ORDER BY tenant, bucket"""
    ),
)
def bucket_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    o = T.objects_df(t)
    b = T.buckets_df(t).select(F.col("bucket").alias("b_bucket"), "tenant")
    return (
        o.join(F.broadcast(b), o.bucket == F.col("b_bucket"))
        .groupBy("tenant", "bucket")
        .agg(
            F.count(F.lit(1)).alias("object_count"),
            F.sum("size").alias("total_bytes"),
        )
        .orderBy("tenant", "bucket")
    )


# ---------------------------------------------------------------------------
# Multipart: A6 assembly offsets, J3 manifest validation, M7/M10 abort GC
# ---------------------------------------------------------------------------

from pithos_spark.operators import analytics, checksums, multipart  # noqa: E402
from pithos_spark.streaming import events as ev  # noqa: E402


@register(
    "part_base_offsets",
    T.with_model(
        """\
SELECT upload, partno, size,
       CAST(coalesce(sum(size) OVER (PARTITION BY upload ORDER BY partno
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS BIGINT) AS base_offset
FROM parts"""
    ),
)
def part_base_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = T.load_tables(spark, sf_dir)
    return multipart.part_base_offsets(T.parts_df(t)).select(
        "upload", "partno", "size", "base_offset"
    )


@register(
    "complete_upload_validate",
    T.with_model(
        """\
, manifest AS (
    SELECT upload, partno,
           CASE WHEN partno % 7 = 0 THEN 'corrupted' ELSE etag END AS etag
    FROM parts
)
SELECT m.upload AS upload, m.partno AS partno, m.etag AS etag
FROM manifest m
LEFT JOIN parts p
  ON m.upload = p.upload AND m.partno = p.partno AND m.etag = p.etag
WHERE p.upload IS NULL"""
    ),
)
def complete_upload_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    parts = T.parts_df(t)
    manifest = parts.select(
        "upload",
        "partno",
        F.when(F.col("partno") % 7 == 0, F.lit("corrupted"))
        .otherwise(F.col("etag"))
        .alias("etag"),
    )
    return multipart.validate_complete_manifest(parts, manifest)


@register(
    "aborted_upload_gc",
    T.with_model(
        """\
, active AS (
    SELECT DISTINCT md5(CAST(l_orderkey AS VARCHAR)) AS upload
    FROM lineitem WHERE l_orderkey % 11 <> 0
)
SELECT p.upload AS upload, p.object AS object, p.partno AS partno, p.size AS size, p.etag AS etag
FROM parts p LEFT JOIN active a ON p.upload = a.upload
WHERE a.upload IS NULL"""
    ),
)
def aborted_upload_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    parts = T.parts_df(t)
    # distinct the integer keys BEFORE hashing: the distinct then
    # shuffles 15k longs (map-side combined) instead of 55k md5 strings
    active = (
        t["lineitem"]
        .select("l_orderkey")
        .distinct()
        .filter(F.col("l_orderkey") % 11 != 0)
        .select(F.md5(F.col("l_orderkey").cast("string")).alias("upload"))
    )
    return multipart.aborted_upload_parts(parts, active).select(
        "upload", "object", "partno", "size", "etag"
    )


# ---------------------------------------------------------------------------
# A5 — order-sensitive checksum aggregation; A7/F6 — range-read math
# ---------------------------------------------------------------------------


@register(
    "object_checksums",
    T.with_model(
        """\
SELECT inode,
       md5(string_agg(payload, '' ORDER BY chunk_seq)) AS checksum,
       CAST(sum(chunksize) AS BIGINT) AS total_bytes,
       count(*) AS chunk_count
FROM chunks
GROUP BY inode
ORDER BY inode"""
    ),
)
def object_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = T.load_tables(spark, sf_dir)
    return checksums.object_checksums(T.chunks_df(t)).orderBy("inode")


@register(
    "range_read_chunks",
    T.with_model(
        """\
, with_offsets AS (
    SELECT inode, chunk_seq, chunksize,
           CAST(coalesce(sum(chunksize) OVER (PARTITION BY inode ORDER BY chunk_seq
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS BIGINT) AS "offset"
    FROM chunks
    WHERE inode = 'src3'
)
SELECT inode, chunk_seq, "offset", chunksize,
       CAST(greatest(1000 - "offset", 0) AS BIGINT) AS skip_head,
       CAST(least(5000, "offset" + chunksize) - greatest(1000, "offset") AS BIGINT) AS take_len
FROM with_offsets
WHERE "offset" < 5000 AND "offset" + chunksize > 1000
  AND least(5000, "offset" + chunksize) - greatest(1000, "offset") > 0
ORDER BY chunk_seq"""
    ),
)
def range_read_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = T.load_tables(spark, sf_dir)
    return checksums.range_read_chunks(T.chunks_df(t), "src3", 1000, 5000)


# ---------------------------------------------------------------------------
# Event-stream operators (batch forms; streaming twins in streaming.events)
# ---------------------------------------------------------------------------

QUERIES["events_hourly_rollup"] = lambda spark, sf_dir: ev.hourly_rollup(
    T.load_tables(spark, sf_dir)["events"]
)
ORACLES["events_hourly_rollup"] = ev.HOURLY_ROLLUP_SQL

QUERIES["events_sliding_activity"] = lambda spark, sf_dir: ev.sliding_activity(
    T.load_tables(spark, sf_dir)["events"]
)
ORACLES["events_sliding_activity"] = ev.SLIDING_ACTIVITY_SQL

QUERIES["events_dedup_first"] = lambda spark, sf_dir: ev.dedup_first_event(
    T.load_tables(spark, sf_dir)["events"]
)
ORACLES["events_dedup_first"] = ev.DEDUP_FIRST_EVENT_SQL

QUERIES["events_sessionize"] = lambda spark, sf_dir: ev.sessionize(
    T.load_tables(spark, sf_dir)["events"]
)
ORACLES["events_sessionize"] = ev.SESSIONIZE_SQL


# ---------------------------------------------------------------------------
# Bulk analytics over the store (bench headliners)
# ---------------------------------------------------------------------------

QUERIES["q1_pricing_summary"] = lambda spark, sf_dir: analytics.pricing_summary(
    T.load_tables(spark, sf_dir)["lineitem"]
)
ORACLES["q1_pricing_summary"] = analytics.PRICING_SUMMARY_SQL


def _q3(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.top_unshipped_orders(t["lineitem"], t["orders"], t["customer"])


QUERIES["q3_top_unshipped"] = _q3
ORACLES["q3_top_unshipped"] = analytics.TOP_UNSHIPPED_SQL


def _q5(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.region_revenue(
        t["lineitem"], t["orders"], t["customer"], t["nation"], t["region"]
    )


QUERIES["q5_region_revenue"] = _q5
ORACLES["q5_region_revenue"] = analytics.REGION_REVENUE_SQL


def _q14(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.promo_revenue_share(t["lineitem"], t["part"])


QUERIES["q14_promo_revenue"] = _q14
ORACLES["q14_promo_revenue"] = analytics.PROMO_REVENUE_SQL


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators: text analysis, dedup, similarity, multimodal
# ---------------------------------------------------------------------------

from pithos_spark.functions import dedup, similarity, text  # noqa: E402
from pithos_spark.sources import multimodal  # noqa: E402


def _doc_query(fn, *args, **kwargs):
    return lambda spark, sf_dir: fn(
        T.load_tables(spark, sf_dir)["documents"], *args, **kwargs
    )


QUERIES["text_token_stats"] = _doc_query(text.token_stats)
ORACLES["text_token_stats"] = text.TOKEN_STATS_SQL

QUERIES["text_token_count_bpe"] = _doc_query(text.token_count_bpe)
ORACLES["text_token_count_bpe"] = text.TOKEN_COUNT_BPE_SQL

QUERIES["text_quality_score"] = _doc_query(text.quality_score)
ORACLES["text_quality_score"] = text.QUALITY_SCORE_SQL

QUERIES["text_language_id"] = _doc_query(text.language_id)
ORACLES["text_language_id"] = text.LANGUAGE_ID_SQL

QUERIES["text_fingerprint"] = _doc_query(text.fingerprint)
ORACLES["text_fingerprint"] = text.FINGERPRINT_SQL


@register(
    "dedup_exact",
    """\
WITH doubled AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
)
SELECT md5(text) AS text_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS copies
FROM doubled
GROUP BY md5(text)""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup demo over a corpus with planted duplicates (the raw
    documents table has none, so we double it — every text then has
    exactly two copies and dedup must collapse back to the original)."""
    import pyspark.sql.functions as F

    d = T.load_tables(spark, sf_dir)["documents"]
    doubled = d.select("doc_id", "text").unionByName(
        d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return dedup.exact_dedup(doubled)


QUERIES["dedup_jaccard_pairs"] = _doc_query(dedup.jaccard_pairs)
ORACLES["dedup_jaccard_pairs"] = dedup.jaccard_pairs_oracle()

# Pair lists -> duplicate clusters (connected components) -> keep-best
# curation verdicts.  Iterative min-label propagation on the Spark side;
# the DuckDB twin is a recursive-CTE transitive closure (exact, tiny at
# oracle scale).
QUERIES["dedup_duplicate_clusters"] = lambda spark, sf_dir: dedup.dup_clusters(
    dedup.jaccard_pairs(T.load_tables(spark, sf_dir)["documents"])
)
ORACLES["dedup_duplicate_clusters"] = dedup.dup_clusters_oracle()

QUERIES["dedup_keep_best"] = _doc_query(dedup.dedup_keep_best)
ORACLES["dedup_keep_best"] = dedup.dedup_keep_best_oracle()

# MinHash-LSH and SimHash hash with the portable 60-bit md5-prefix hash
# (dedup.portable_hash60), so the full pipeline — signatures, banding,
# bucket cap, exact verify — has a bit-identical DuckDB twin.  Recall vs
# the exact jaccard answer is additionally asserted in tests/test_dedup.py.
def _incremental_dedup(spark, sf_dir):
    """Fixture protocol: doc_id >= 400 is the new crawl, the rest the
    existing corpus whose banded signatures act as the dedup index."""
    import pyspark.sql.functions as F

    d = T.load_tables(spark, sf_dir)["documents"]
    return dedup.incremental_dedup_pairs(
        d.filter(F.col("doc_id") >= 400), d.filter(F.col("doc_id") < 400)
    )


QUERIES["dedup_incremental"] = _incremental_dedup
ORACLES["dedup_incremental"] = dedup.incremental_dedup_pairs_oracle(400)


def _incremental_containment(spark, sf_dir):
    """Crawl-delta containment (same fixture split as dedup_incremental):
    which new-crawl docs are contained in the existing corpus.
    threshold 50 keeps the sf0.01 check non-vacuous."""
    import pyspark.sql.functions as F

    d = T.load_tables(spark, sf_dir)["documents"]
    return dedup.incremental_containment_pairs(
        d.filter(F.col("doc_id") >= 400),
        d.filter(F.col("doc_id") < 400),
        threshold_pct=50,
    )


QUERIES["dedup_incremental_containment"] = _incremental_containment
ORACLES["dedup_incremental_containment"] = (
    dedup.incremental_containment_pairs_oracle(400, threshold_pct=50)
)

# the whole-ladder readout: per-tier duplicate-pair counts with the
# same parameters each tier's own gate uses — the per-snapshot summary
# a curation run records, and one query exercising every tier's plan.
QUERIES["dedup_ladder_report"] = _doc_query(dedup.dedup_ladder_report)
ORACLES["dedup_ladder_report"] = dedup.dedup_ladder_report_oracle()

# cap-sizing telemetry for the containment/posting-join family: the
# shingle df histogram + induced pair work (the lsh_bucket_stats
# contract).  max_shingle_df=8 so the per-shingle outside splits
# (shingles/postings/pair_work_outside, exact even in the log2 bucket
# straddling the cap — ADVICE r10) are exercised non-vacuously at
# sf0.01 (max df there is ~20).
QUERIES["dedup_shingle_df_stats"] = _doc_query(
    dedup.shingle_df_stats, max_shingle_df=8
)
ORACLES["dedup_shingle_df_stats"] = dedup.shingle_df_stats_oracle(
    max_shingle_df=8
)

QUERIES["dedup_minhash_lsh"] = _doc_query(dedup.minhash_lsh_pairs)
ORACLES["dedup_minhash_lsh"] = dedup.minhash_lsh_pairs_oracle()
QUERIES["dedup_simhash_pairs"] = _doc_query(dedup.simhash_near_pairs)
ORACLES["dedup_simhash_pairs"] = dedup.simhash_near_pairs_oracle()

# perceptual image near-dup over the multimodal column (dHash, banded
# like simhash).  max_hamming=20 here, not the function's strict 10:
# the synthetic image payloads are word soup, so the corpus's nearest
# perceptual neighbors sit at hamming 14-20 — 20 keeps the driver
# check non-vacuous (2 dozen selective pairs at sf0.01) while the
# planted-near-dup recall test in tests/test_dedup.py exercises the
# tight default on genuinely perturbed payloads.
QUERIES["dedup_image_dhash"] = _doc_query(
    dedup.image_dhash_near_pairs, max_hamming=20
)
ORACLES["dedup_image_dhash"] = dedup.image_dhash_near_pairs_oracle(
    max_hamming=20
)


def _asset_query(fn, *args, **kwargs):
    """Gate form for the real-decode perceptual tiers: derive the asset
    table from documents, then run the asset-fed operator."""

    def q(spark, sf_dir):
        from pithos_spark.sources.multimodal import assets_from_documents

        assets = assets_from_documents(T.load_tables(spark, sf_dir)["documents"])
        return fn(assets, *args, **kwargs)

    return q


# the REAL-decode image tier (VERDICT r10 task 2): pixels come from the
# mapInPandas sampled_pixel_grid stage — PIL / stdlib-PNG decode where
# the payload allows, the ASCII stand-in otherwise.  The synthetic
# corpus carries no decodable media, so every row provably takes the
# stand-in and the STUB tier's oracle covers the real pipeline
# verbatim (the real-pixel branch is fixture-tested in
# tests/test_dedup.py with genuinely-resized PNG/WAV payloads).
QUERIES["dedup_image_dhash_assets"] = _asset_query(
    dedup.image_dhash_near_pairs_assets, max_hamming=20
)
ORACLES["dedup_image_dhash_assets"] = dedup.image_dhash_near_pairs_oracle(
    max_hamming=20
)

# the REAL-decode audio tier: same contract — 16-bit PCM WAV payloads
# yield |amplitude| samples, the corpus's text payloads take the
# stand-in, so the stub oracle is exact here too.
QUERIES["dedup_audio_fingerprint_assets"] = _asset_query(
    dedup.audio_near_pairs_assets, max_hamming=8
)
ORACLES["dedup_audio_fingerprint_assets"] = dedup.audio_near_pairs_oracle(
    max_hamming=8
)

# the REAL-decode video tier: animated-GIF (stdlib LZW) / PIL
# multi-frame payloads yield temporally+spatially sampled frames; the
# corpus's text payloads take the stand-in, so the stub oracle is
# exact here as well.  Completes the modality triple (VERDICT r10
# task 2 named image; audio/video are the analogs).
QUERIES["dedup_video_frames_assets"] = _asset_query(
    dedup.video_near_pairs_assets, max_hamming=20
)
ORACLES["dedup_video_frames_assets"] = dedup.video_near_pairs_oracle(
    max_hamming=20
)

# LSH operational telemetry: per-band bucket occupancy + what the
# max_bucket cap would drop — the sizing report for a 100 TB dedup pass.
# sf0.01 buckets are all tiny, so max_bucket=2 makes the cap columns
# exercise non-zero values under the oracle instead of asserting 0=0.
QUERIES["dedup_lsh_bucket_stats"] = _doc_query(
    dedup.lsh_bucket_stats, max_bucket=2
)
ORACLES["dedup_lsh_bucket_stats"] = dedup.lsh_bucket_stats_oracle(max_bucket=2)

# Source-level MinHash overlap matrix: estimated Jaccard between every
# source pair — crawl mirror detection before mixing (curate.mix_plan's
# upstream diagnostic).
QUERIES["corpus_source_overlap"] = _doc_query(dedup.source_minhash_similarity)
ORACLES["corpus_source_overlap"] = dedup.source_minhash_similarity_oracle()


def _emb_query(fn, *args, **kwargs):
    return lambda spark, sf_dir: fn(
        T.load_tables(spark, sf_dir)["embeddings"], *args, **kwargs
    )


QUERIES["ann_brute_force_topk"] = _emb_query(similarity.brute_force_topk, 0, 10)
ORACLES["ann_brute_force_topk"] = similarity.brute_force_topk_oracle(0, 10)

QUERIES["ann_label_centroids"] = _emb_query(similarity.label_centroid_norms)
ORACLES["ann_label_centroids"] = similarity.LABEL_CENTROID_NORMS_SQL

# LSH ANN: plane weights and bucket sampling derive from the portable
# md5-prefix hash -> full DuckDB twin; recall additionally asserted in
# tests/test_similarity.py against brute force.
QUERIES["ann_lsh_topk"] = _emb_query(similarity.lsh_topk, 0, 10)
ORACLES["ann_lsh_topk"] = similarity.lsh_topk_oracle(0, 10)

# PQ ANN (r11): train-encode-serve product quantization — per-subspace
# Lloyd codebooks (joint rounds, shared seeds), byte codes, broadcast
# ADC lookup table, exact-dot rerank of the top rerank*k estimates.
# The memory-bounded 100 TB serving shape (codes are ~1/32 of the raw
# embedding bytes); whole pipeline integer-exact -> full oracle.
QUERIES["ann_pq_topk"] = _emb_query(similarity.pq_topk, 0, 10)
ORACLES["ann_pq_topk"] = similarity.pq_topk_oracle(0, 10)

# PQ from the PERSISTED layout (r12, VERDICT r11 task 3): codebooks +
# code table built once per (session, sf_dir) via save_pq_index and
# served with pq_topk_from_layout — bit-identical to ann_pq_topk (same
# pq_serve_topk tail over value-identical tables), so the same oracle.
# This is the gate for the "persist the code table once, serve from
# ~1/32 the bytes" claim; bench times the serving read separately.
_PQ_INDEX_CACHE: dict = {}


def _pq_index_path(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PQ_INDEX_CACHE:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="pq_index_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        similarity.save_pq_index(
            T.load_tables(spark, sf_dir)["embeddings"], path
        )
        _PQ_INDEX_CACHE[key] = path
    return _PQ_INDEX_CACHE[key]


def _pq_from_layout(spark, sf_dir):
    return similarity.pq_topk_from_layout(
        T.load_tables(spark, sf_dir)["embeddings"],
        _pq_index_path(spark, sf_dir),
        0,
        10,
    )


QUERIES["ann_pq_topk_from_layout"] = _pq_from_layout
ORACLES["ann_pq_topk_from_layout"] = similarity.pq_topk_oracle(0, 10)

# batched PQ serving over the same layout (r12): many queries, ONE
# pass over the code table — the broadcast LUT grows to |Q| x M x K
# rows, per-query results bit-identical to the single-query form.
_PQ_BATCH_IDS = [0, 7, 42, 99, 123]


def _pq_batch_from_layout(spark, sf_dir):
    return similarity.pq_batch_topk_from_layout(
        T.load_tables(spark, sf_dir)["embeddings"],
        _pq_index_path(spark, sf_dir),
        _PQ_BATCH_IDS,
        10,
    )


QUERIES["ann_pq_batch_from_layout"] = _pq_batch_from_layout
ORACLES["ann_pq_batch_from_layout"] = similarity.pq_batch_topk_oracle(
    _PQ_BATCH_IDS, 10
)

# streamed PQ-index maintenance (r16) — the vector twin of the staged
# postings gates: codebooks trained on 3/4 of the vectors
# (save_pq_index), the remaining 1/4 streamed in as micro-batches of
# staged code segments (streaming_pq_index_ingest — idempotent atomic
# installs, the replay-safe form of append_to_pq_index), served via
# the staged union; the `compacted` twin folds the segments through
# the crash-safe generation commit and serves via the plain layout
# read.  Oracle: the PQ twin with train_pred — Lloyd over the base
# slice only, every vector encoded against the frozen centroids —
# which is exactly what frozen-codebook maintenance computes, so the
# driver hash-proves streamed-ingest == one-pass frozen encode end to
# end.
_PQ_STAGED_PRED = "vec_id % 4 <> 3"
_STAGED_PQ_CACHE: dict = {}


def _staged_pq_path(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _STAGED_PQ_CACHE:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="pq_staged_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        emb = T.load_tables(spark, sf_dir)["embeddings"]
        layout = f"{root}/layout"
        similarity.save_pq_index(emb.filter(_PQ_STAGED_PRED), layout)
        src = f"{root}/delta_src"
        emb.filter(f"NOT ({_PQ_STAGED_PRED})").repartition(
            2
        ).write.parquet(src)
        from pithos_spark.streaming import ingest as _ing

        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = _ing.streaming_pq_index_ingest(stream, layout, f"{root}/ckpt")
        q.awaitTermination(600)
        q.stop()
        _STAGED_PQ_CACHE[key] = layout
    return _STAGED_PQ_CACHE[key]


def _pq_topk_staged(spark, sf_dir):
    from pithos_spark.streaming import ingest as _ing

    return _ing.pq_topk_with_staged(
        T.load_tables(spark, sf_dir)["embeddings"],
        _staged_pq_path(spark, sf_dir),
        0,
        10,
    )


QUERIES["ann_pq_topk_staged"] = _pq_topk_staged
ORACLES["ann_pq_topk_staged"] = similarity.pq_topk_oracle(
    0, 10, train_pred=_PQ_STAGED_PRED
)

_COMPACTED_PQ_CACHE: dict = {}


def _compacted_pq_path(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _COMPACTED_PQ_CACHE:
        import atexit
        import shutil
        import tempfile

        from pithos_spark.streaming import ingest as _ing

        staged = _staged_pq_path(spark, sf_dir)
        root = tempfile.mkdtemp(prefix="pq_compacted_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        layout = f"{root}/layout"
        shutil.copytree(staged, layout)
        _ing.compact_staged_pq(spark, layout)
        _COMPACTED_PQ_CACHE[key] = layout
    return _COMPACTED_PQ_CACHE[key]


def _pq_topk_compacted(spark, sf_dir):
    return similarity.pq_topk_from_layout(
        T.load_tables(spark, sf_dir)["embeddings"],
        _compacted_pq_path(spark, sf_dir),
        0,
        10,
    )


QUERIES["ann_pq_topk_compacted"] = _pq_topk_compacted
ORACLES["ann_pq_topk_compacted"] = similarity.pq_topk_oracle(
    0, 10, train_pred=_PQ_STAGED_PRED
)

# the same streamed lifecycle for the CANONICAL serving index (r16):
# residual IVFADC with coarse centroids AND residual codebooks frozen
# at build time, the delta streamed in as staged code segments
# (cluster carried as a column; the fold restores the directory
# partitioning).  Oracle: the residual twin with train_pred on BOTH
# Lloyd unrolls.
_STAGED_IVFPQ_CACHE: dict = {}


def _staged_ivfpq_path(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _STAGED_IVFPQ_CACHE:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="ivfpq_staged_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        emb = T.load_tables(spark, sf_dir)["embeddings"]
        layout = f"{root}/layout"
        similarity.save_ivfpq_residual_index(
            emb.filter(_PQ_STAGED_PRED), layout
        )
        src = f"{root}/delta_src"
        emb.filter(f"NOT ({_PQ_STAGED_PRED})").repartition(
            2
        ).write.parquet(src)
        from pithos_spark.streaming import ingest as _ing

        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = _ing.streaming_ivfpq_residual_ingest(
            stream, layout, f"{root}/ckpt"
        )
        q.awaitTermination(600)
        q.stop()
        _STAGED_IVFPQ_CACHE[key] = layout
    return _STAGED_IVFPQ_CACHE[key]


def _ivfpq_residual_staged(spark, sf_dir):
    from pithos_spark.streaming import ingest as _ing

    return _ing.ivfpq_residual_topk_with_staged(
        T.load_tables(spark, sf_dir)["embeddings"],
        _staged_ivfpq_path(spark, sf_dir),
        0,
        10,
    )


QUERIES["ann_ivfpq_residual_staged"] = _ivfpq_residual_staged
ORACLES["ann_ivfpq_residual_staged"] = similarity.ivfpq_residual_topk_oracle(
    0, 10, train_pred=_PQ_STAGED_PRED
)

_COMPACTED_IVFPQ_CACHE: dict = {}


def _compacted_ivfpq_path(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _COMPACTED_IVFPQ_CACHE:
        import atexit
        import shutil
        import tempfile

        from pithos_spark.streaming import ingest as _ing

        staged = _staged_ivfpq_path(spark, sf_dir)
        root = tempfile.mkdtemp(prefix="ivfpq_compacted_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        layout = f"{root}/layout"
        shutil.copytree(staged, layout)
        _ing.compact_staged_ivfpq_residual(spark, layout)
        _COMPACTED_IVFPQ_CACHE[key] = layout
    return _COMPACTED_IVFPQ_CACHE[key]


def _ivfpq_residual_compacted(spark, sf_dir):
    return similarity.ivfpq_residual_topk_from_layout(
        T.load_tables(spark, sf_dir)["embeddings"],
        _compacted_ivfpq_path(spark, sf_dir),
        0,
        10,
    )


QUERIES["ann_ivfpq_residual_compacted"] = _ivfpq_residual_compacted
ORACLES["ann_ivfpq_residual_compacted"] = (
    similarity.ivfpq_residual_topk_oracle(
        0, 10, train_pred=_PQ_STAGED_PRED
    )
)


# measured recall@k of the persisted PQ index vs exact brute force
# (r13): the index-quality readout a deployment runs on a query sample
# before trusting an index version — deterministic on both sides, so
# oracle-exact, unlike float-ANN recall harnesses.
def _pq_recall_report(spark, sf_dir):
    return similarity.pq_recall_report(
        T.load_tables(spark, sf_dir)["embeddings"],
        _pq_index_path(spark, sf_dir),
        _PQ_BATCH_IDS,
        10,
    )


QUERIES["ann_pq_recall_report"] = _pq_recall_report
ORACLES["ann_pq_recall_report"] = similarity.pq_recall_report_oracle(
    _PQ_BATCH_IDS, 10
)

# FILTERED vector search (r12): top-k within a metadata label slice —
# exact form (label pushed to the scan) and PQ form over the persisted
# layout (codes semi-joined to the slice BEFORE the ADC estimate, so
# there is no post-filter recall collapse).  Both fully oracle-gated.
QUERIES["ann_filtered_topk"] = _emb_query(
    similarity.brute_force_filtered_topk, 0, 3, 10
)
ORACLES["ann_filtered_topk"] = similarity.brute_force_filtered_topk_oracle(
    0, 3, 10
)


def _pq_filtered_from_layout(spark, sf_dir):
    return similarity.pq_filtered_topk_from_layout(
        T.load_tables(spark, sf_dir)["embeddings"],
        _pq_index_path(spark, sf_dir),
        0,
        3,
        10,
    )


QUERIES["ann_pq_filtered_from_layout"] = _pq_filtered_from_layout
ORACLES["ann_pq_filtered_from_layout"] = similarity.pq_filtered_topk_oracle(
    0, 3, 10
)


def _ivfpq_filtered_from_layout(spark, sf_dir):
    return similarity.ivfpq_residual_filtered_topk_from_layout(
        T.load_tables(spark, sf_dir)["embeddings"],
        _ivfpq_index_path(spark, sf_dir),
        0,
        3,
        10,
    )


QUERIES["ann_ivfpq_filtered_from_layout"] = _ivfpq_filtered_from_layout
ORACLES["ann_ivfpq_filtered_from_layout"] = (
    similarity.ivfpq_residual_topk_oracle(0, 10, label=3)
)

# PQ-code embedding dedup (r12): candidates from >= min_match shared
# subspace codes over the 32x-compressed code table, exact quantized
# dot only on candidates — the embedding-dedup shape that never runs
# an all-pairs cosine sweep.  Fully oracle-gated.
QUERIES["dedup_pq_code_pairs"] = _emb_query(similarity.pq_code_near_pairs)
ORACLES["dedup_pq_code_pairs"] = similarity.pq_code_near_pairs_oracle()

# IVF inverted-list occupancy telemetry (r12): the probe-sizing report
# — per-cluster counts, corpus shares, and cumulative coverage by
# probe rank, the lsh_bucket_stats analog for the ANN index family.
QUERIES["ann_ivf_cluster_stats"] = _emb_query(similarity.ivf_cluster_stats)
ORACLES["ann_ivf_cluster_stats"] = similarity.ivf_cluster_stats_oracle()

# PQ-code bucket-occupancy telemetry (r13, VERDICT r12 task 4): the
# cap-sizing report for the dedup_pq_code_pairs tier — per-subspace
# (m, code) bucket histogram, rows the max_bucket guard drops, and the
# candidate-pair work each side of the cap induces.  With k_codes=16 a
# subspace has at most 16 buckets corpus-wide, so at 100 TB every
# bucket saturates any fixed cap; this readout quantifies the recall
# loss that would otherwise be silent.
QUERIES["dedup_pq_code_stats"] = _emb_query(similarity.pq_code_bucket_stats)
ORACLES["dedup_pq_code_stats"] = similarity.pq_code_bucket_stats_oracle()


# the same occupancy report over the PERSISTED index (r13): what a
# deployment actually runs before sweeping the frozen code table — no
# retrain, no re-encode; stored codes are value-identical to a fresh
# train, so the gate shares the train-in-query oracle.
def _pq_code_stats_from_layout(spark, sf_dir):
    return similarity.pq_code_bucket_stats_from_layout(
        spark, _pq_index_path(spark, sf_dir)
    )


QUERIES["dedup_pq_code_stats_from_layout"] = _pq_code_stats_from_layout
ORACLES["dedup_pq_code_stats_from_layout"] = (
    similarity.pq_code_bucket_stats_oracle()
)

# IVF-PQ (r11): the composed FAISS-style IVFADC serving layout —
# Lloyd coarse pruning to n_probe inverted lists, ADC over the code
# table within them, exact rerank.  Both trainers are the existing
# engine-exact Lloyd forms, so the composition keeps a full oracle.
QUERIES["ann_ivfpq_topk"] = _emb_query(similarity.ivfpq_topk, 0, 10)
ORACLES["ann_ivfpq_topk"] = similarity.ivfpq_topk_oracle(0, 10)

# residual IVFADC (r11): PQ codebooks trained on (vector - assigned
# coarse centroid) — integer differences, so still engine-exact; the
# inner-product ADC adds the per-cluster centroid dot term.
QUERIES["ann_ivfpq_residual_topk"] = _emb_query(
    similarity.ivfpq_residual_topk, 0, 10
)

# residual IVFADC from the PERSISTED layout (r12): coarse centroids +
# residual codebooks + cluster-partitioned code table built once per
# (session, sf_dir); serving is the probe-pruned read through the same
# _residual_topk tail, so bit-identical — same oracle.
_IVFPQ_INDEX_CACHE: dict = {}


def _ivfpq_index_path(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVFPQ_INDEX_CACHE:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="ivfpq_index_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        similarity.save_ivfpq_residual_index(
            T.load_tables(spark, sf_dir)["embeddings"], path
        )
        _IVFPQ_INDEX_CACHE[key] = path
    return _IVFPQ_INDEX_CACHE[key]


def _ivfpq_residual_from_layout(spark, sf_dir):
    return similarity.ivfpq_residual_topk_from_layout(
        T.load_tables(spark, sf_dir)["embeddings"],
        _ivfpq_index_path(spark, sf_dir),
        0,
        10,
    )


QUERIES["ann_ivfpq_residual_from_layout"] = _ivfpq_residual_from_layout
ORACLES["ann_ivfpq_residual_from_layout"] = (
    similarity.ivfpq_residual_topk_oracle(0, 10)
)


# batched serving over the CANONICAL index (r13): |Q| queries in one
# pass over the cluster-partitioned residual code table — per-query
# probe lists, a |Q| x M x K broadcast residual LUT, per-query rerank;
# completes the batch-serving symmetry the plain PQ index got in r12.
def _ivfpq_residual_batch_from_layout(spark, sf_dir):
    return similarity.ivfpq_residual_batch_topk_from_layout(
        T.load_tables(spark, sf_dir)["embeddings"],
        _ivfpq_index_path(spark, sf_dir),
        _PQ_BATCH_IDS,
        10,
    )


QUERIES["ann_ivfpq_residual_batch_from_layout"] = (
    _ivfpq_residual_batch_from_layout
)
ORACLES["ann_ivfpq_residual_batch_from_layout"] = (
    similarity.ivfpq_residual_batch_topk_oracle(_PQ_BATCH_IDS, 10)
)


# recall@k for the CANONICAL serving index (r13): the probe/recall
# tradeoff, measured — run at the operating n_probe before trusting an
# index version; the PQ report's twin for the residual layout.
def _ivfpq_residual_recall(spark, sf_dir):
    return similarity.ivfpq_residual_recall_report(
        T.load_tables(spark, sf_dir)["embeddings"],
        _ivfpq_index_path(spark, sf_dir),
        _PQ_BATCH_IDS,
        10,
    )


QUERIES["ann_ivfpq_residual_recall"] = _ivfpq_residual_recall
ORACLES["ann_ivfpq_residual_recall"] = (
    similarity.ivfpq_residual_recall_oracle(_PQ_BATCH_IDS, 10)
)
ORACLES["ann_ivfpq_residual_topk"] = similarity.ivfpq_residual_topk_oracle(
    0, 10
)

QUERIES["multimodal_features"] = _doc_query(multimodal.media_features)
ORACLES["multimodal_features"] = multimodal.MEDIA_FEATURES_SQL

QUERIES["multimodal_resize"] = _doc_query(multimodal.media_resize)
ORACLES["multimodal_resize"] = multimodal.MEDIA_RESIZE_SQL

# per-modality real-decode-rate telemetry (r13, VERDICT r12 task 5):
# share of assets the header / full-pixel decoders actually handle, by
# media_type x sniffed format — the readout that turns "progressive
# JPEG silently takes the stand-in" into a queryable number.  Text
# payloads are never recognizable media, so the gate's corpus rows all
# land in format 'other' with zero decodes (SQL-exact); the real-format
# rates are fixture-tested in tests/test_multimodal.py.
QUERIES["multimodal_decode_coverage"] = _doc_query(
    multimodal.media_decode_coverage
)
ORACLES["multimodal_decode_coverage"] = multimodal.MEDIA_DECODE_COVERAGE_SQL


# ---------------------------------------------------------------------------
# ACL / permission evaluation + CORS matching (F8-F11, C15, A8, A9)
# ---------------------------------------------------------------------------

from pithos_spark.operators import cors, perms  # noqa: E402


@register(
    "acl_read_grants",
    T.with_model(
        """\
SELECT bucket, perm, grantee_id, grantee_type FROM grants
WHERE perm IN ('READ', 'FULL_CONTROL')
ORDER BY bucket, perm, grantee_id"""
    ),
)
def acl_read_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = T.load_tables(spark, sf_dir)
    return perms.effective_grants(T.grants_df(t), "READ").orderBy(
        "bucket", "perm", "grantee_id"
    )


@register(
    "acl_authorized_buckets",
    T.with_model(
        """\
, matching AS (
    SELECT DISTINCT bucket FROM grants
    WHERE perm IN ('READ', 'FULL_CONTROL')
      AND ((grantee_type = 'canonical' AND grantee_id = 'ASIA')
           OR (grantee_type = 'group' AND grantee_id IN ('AllUsers')))
), allowed AS (
    SELECT bucket FROM matching
    UNION
    SELECT bucket FROM buckets WHERE tenant = 'ASIA'
)
SELECT b.bucket AS bucket, b.tenant AS tenant
FROM buckets b JOIN allowed a ON b.bucket = a.bucket
ORDER BY bucket"""
    ),
)
def acl_authorized_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = T.load_tables(spark, sf_dir)
    return perms.authorized_buckets(
        T.buckets_df(t), T.grants_df(t), "ASIA", ["AllUsers"], "READ"
    )


@register(
    "acl_merged_grants",
    T.with_model(
        """\
SELECT bucket, perm,
       array_to_string(list_sort(list_distinct(list(grantee_id))), ',') AS grantees,
       count(*) AS n_grants
FROM grants
GROUP BY bucket, perm
ORDER BY bucket, perm"""
    ),
)
def acl_merged_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    # arrays hash differently across engines' client layers; expose the
    # merged grantee list as a joined string for the gate
    return perms.merge_grants(T.grants_df(t)).withColumn(
        "grantees", F.array_join("grantees", ",")
    )


@register(
    "cors_preflight",
    T.with_model(
        """\
, matched AS (
    SELECT r.bucket, r.origin, r.method, c.methods, c.headers, c.max_age
    FROM cors_requests r
    JOIN cors_rules c ON r.bucket = c.bucket
    WHERE (CASE WHEN strpos(c.origin_pattern, '*') = 0
                THEN r.origin = c.origin_pattern
                ELSE starts_with(r.origin, substring(c.origin_pattern, 1, strpos(c.origin_pattern, '*') - 1))
                     AND ends_with(r.origin, substring(c.origin_pattern, strpos(c.origin_pattern, '*') + 1))
                     AND length(r.origin) >= length(c.origin_pattern) - 1
           END)
      AND list_contains(c.methods, r.method)
), merged AS (
    SELECT bucket, origin, method,
           list_sort(list_distinct(flatten(list(methods)))) AS allowed_methods,
           list_distinct(flatten(list(headers))) AS header_patterns,
           min(max_age) AS max_age,
           count(*) AS n_rules
    FROM matched
    GROUP BY bucket, origin, method
)
SELECT bucket, origin, method, allowed,
       -- DuckDB's array_to_string([]) is NULL where Spark's array_join
       -- is '' — distinguish NULL-list (no request headers) from
       -- empty-list (nothing matched) explicitly
       coalesce(array_to_string(am, ','), '') AS allowed_methods,
       CASE WHEN ah IS NULL THEN NULL
            ELSE coalesce(array_to_string(ah, ','), '') END AS allowed_headers,
       max_age
FROM (
    SELECT r.bucket AS bucket, r.origin AS origin, r.method AS method,
           m.n_rules IS NOT NULL AS allowed,
           coalesce(m.allowed_methods, []) AS am,
           list_filter(r.req_headers, h ->
               len(list_filter(m.header_patterns, p ->
                   CASE WHEN strpos(p, '*') = 0 THEN lower(h) = lower(p)
                        ELSE starts_with(lower(h), lower(substring(p, 1, strpos(p, '*') - 1)))
                   END)) > 0) AS ah,
           m.max_age AS max_age
    FROM cors_requests r
    LEFT JOIN merged m ON r.bucket = m.bucket AND r.origin = m.origin AND r.method = m.method
)
ORDER BY bucket, origin, method, allowed_headers"""
    ),
)
def cors_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10+F11+A9 end-to-end: origin wildcard + method membership gate
    the rules; the merged rules' AllowedHeader patterns filter the
    requested headers into the Allow-Headers echo (cors.clj:72-112,
    139-145)."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    return (
        cors.preflight_response(T.cors_requests_df(t), T.cors_rules_df(t))
        .withColumn("allowed_methods", F.array_join("allowed_methods", ","))
        .withColumn("allowed_headers", F.array_join("allowed_headers", ","))
        .orderBy("bucket", "origin", "method", "allowed_headers")
    )


# ---------------------------------------------------------------------------
# Mutations as set-based batch plans (M1-M4, M11, A4) + chunked ingest (C13)
# ---------------------------------------------------------------------------

from pithos_spark.sources import store  # noqa: E402


@register(
    "objects_upsert_merge",
    T.with_model(
        """\
, updates AS (
    SELECT bucket, object, inode, size * 2 AS size, atime, checksum,
           'updated' AS acl, storageclass, owner
    FROM objects WHERE size % 13 = 0
), tagged AS (
    SELECT *, 1 AS _pri FROM updates
    UNION ALL
    SELECT *, 2 AS _pri FROM objects
)
SELECT bucket, object, inode, size, acl
FROM tagged
QUALIFY row_number() OVER (PARTITION BY bucket, object ORDER BY _pri) = 1
ORDER BY bucket, object"""
    ),
)
def objects_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/M3: MERGE-upsert of a metadata-update batch; updates win on the
    (bucket, object) key.  Post-state returned for the gate."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    objects = T.objects_df(t)
    updates = objects.filter(F.col("size") % 13 == 0).withColumns(
        {"size": F.col("size") * 2, "acl": F.lit("updated")}
    )
    merged = store.merge_upsert(objects, updates, ["bucket", "object"])
    return merged.select("bucket", "object", "inode", "size", "acl").orderBy(
        "bucket", "object"
    )


@register(
    "objects_delete_where",
    T.with_model(
        """\
SELECT bucket, count(*) AS n_objects, CAST(sum(size) AS BIGINT) AS total_bytes
FROM objects
WHERE NOT (bucket = 'NATION_3' OR size < 500000)
GROUP BY bucket
ORDER BY bucket"""
    ),
)
def objects_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2/M4: DELETE WHERE as surviving-state plan, summarized per
    bucket (the driver compares the aggregate, not 15k raw rows)."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    survivors = store.delete_where(
        T.objects_df(t), (F.col("bucket") == "NATION_3") | (F.col("size") < 500000)
    )
    return (
        survivors.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_objects"), F.sum("size").alias("total_bytes"))
        .orderBy("bucket")
    )


@register(
    "objects_bulk_delete",
    T.with_model(
        """\
, doomed AS (
    SELECT bucket, object FROM objects
    WHERE bucket = 'NATION_2' AND size % 3 = 0
)
SELECT o.bucket AS bucket, o.object AS object, o.size AS size
FROM objects o
LEFT JOIN doomed d ON o.bucket = d.bucket AND o.object = d.object
WHERE o.bucket = 'NATION_2' AND d.object IS NULL
ORDER BY object"""
    ),
)
def objects_bulk_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11: bulk delete by key list (the parsed Delete-XML key set) as
    one anti-join; returns the surviving objects of the bucket."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    objects = T.objects_df(t).filter(F.col("bucket") == "NATION_2")
    doomed = objects.filter(F.col("size") % 3 == 0).select("bucket", "object")
    return (
        store.bulk_delete(objects, doomed, ["bucket", "object"])
        .select("bucket", "object", "size")
        .orderBy("object")
    )


@register(
    "buckets_object_presence",
    T.with_model(
        """\
SELECT b.bucket AS bucket,
       count(o.object) > 0 AS has_objects,
       count(o.object) AS n_objects
FROM buckets b LEFT JOIN objects o ON b.bucket = o.bucket
GROUP BY b.bucket
ORDER BY bucket"""
    ),
)
def buckets_object_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: the bucket-empty check (409 precondition for delete-bucket),
    evaluated for every bucket at once."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    o = T.objects_df(t).select("bucket", "object")
    return (
        T.buckets_df(t)
        .join(o, "bucket", "left")
        .groupBy("bucket")
        .agg(
            (F.count("object") > 0).alias("has_objects"),
            F.count("object").alias("n_objects"),
        )
        .orderBy("bucket")
    )


@register(
    "chunk_ingest_explode",
    T.with_model(
        """\
, offs AS (
    SELECT source AS inode, text, length(text) AS plen,
           unnest(range(0, greatest(length(text), 1), 512)) AS "offset"
    FROM documents WHERE doc_id < 50
)
SELECT inode,
       CAST("offset" // 2048 * 2048 AS BIGINT) AS block,
       CAST("offset" AS BIGINT) AS "offset",
       CAST(least(512, plen - "offset") AS BIGINT) AS chunksize,
       md5(substring(text, CAST("offset" AS INT) + 1, 512)) AS chunk_md5
FROM offs
ORDER BY inode, "offset" """
    ),
)
def chunk_ingest_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13/T2: batch PUT ingest — payloads exploded into chunk rows with
    block assignment (512-byte chunks, 4-chunk blocks)."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    payloads = (
        t["documents"]
        .filter(F.col("doc_id") < 50)
        .select(F.col("source").alias("inode"), F.col("text").alias("payload"))
    )
    chunks = store.chunk_ingest(payloads, chunk_size=512, max_block_chunks=4)
    return chunks.select(
        "inode",
        "block",
        "offset",
        "chunksize",
        F.md5("chunk_payload").alias("chunk_md5"),
    ).orderBy("inode", "offset")


# ---------------------------------------------------------------------------
# Upload listings S5-S7 (+F5 prefix filter), COPY re-base, F7 validation
# ---------------------------------------------------------------------------

from pithos_spark.functions import scalars  # noqa: E402


@register(
    "list_uploads_prefix",
    T.with_model(
        """\
SELECT DISTINCT upload, object FROM parts
WHERE starts_with(object, 'mp/1')
ORDER BY object, upload
LIMIT 200"""
    ),
)
def list_uploads_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 + F5: active uploads filtered by object prefix (the reference
    post-filters the bucket's upload listing, meta.clj:301-303)."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    return (
        T.parts_df(t)
        .filter(F.col("object").startswith("mp/1"))
        .select("upload", "object")
        .distinct()
        .orderBy("object", "upload")
        .limit(200)
    )


@register(
    "upload_details",
    T.with_model(
        """\
, target AS (SELECT min(upload) AS upload FROM parts)
SELECT p.upload AS upload, p.object AS object,
       count(*) AS n_parts, CAST(sum(p.size) AS BIGINT) AS total_size,
       min(p.partno) AS first_partno, max(p.partno) AS last_partno
FROM parts p JOIN target t ON p.upload = t.upload
GROUP BY p.upload, p.object"""
    ),
)
def upload_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (+S8 rollup): one upload's summary — point lookup on the
    composite key, aggregated over its clustered parts."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    parts = T.parts_df(t)
    target = parts.agg(F.min("upload").alias("upload"))
    return (
        parts.join(F.broadcast(target), "upload")
        .groupBy("upload", "object")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("size").alias("total_size"),
            F.min("partno").alias("first_partno"),
            F.max("partno").alias("last_partno"),
        )
    )


@register(
    "copy_range_rebase",
    T.with_model(
        """\
, with_offsets AS (
    SELECT inode, chunk_seq, chunksize,
           CAST(coalesce(sum(chunksize) OVER (PARTITION BY inode ORDER BY chunk_seq
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS BIGINT) AS "offset"
    FROM chunks WHERE inode = 'src5'
)
SELECT 'copy-of-src5' AS inode,
       chunk_seq,
       CAST("offset" - 2000 + greatest(2000 - "offset", 0) AS BIGINT) AS new_offset,
       CAST(least(9000, "offset" + chunksize) - greatest(2000, "offset") AS BIGINT) AS new_chunksize
FROM with_offsets
WHERE "offset" < 9000 AND "offset" + chunksize > 2000
  AND least(9000, "offset" + chunksize) - greatest(2000, "offset") > 0
ORDER BY chunk_seq"""
    ),
)
def copy_range_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranged server-side COPY (stream.clj:163-187): source chunks
    overlapping [2000, 9000) re-based to offset 0 under the target
    inode — pure insert-select, no bytes through the driver."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    src = checksums.range_read_chunks(T.chunks_df(t), "src5", 2000, 9000)
    return src.select(
        F.lit("copy-of-src5").alias("inode"),
        "chunk_seq",
        (F.col("offset") - 2000 + F.col("skip_head")).alias("new_offset"),
        F.col("take_len").alias("new_chunksize"),
    ).orderBy("chunk_seq")


@register(
    "bucket_name_validation",
    """\
SELECT p_name AS candidate,
       regexp_matches(p_name, '^[A-Za-z0-9._-]{3,63}$') AS valid
FROM part
ORDER BY candidate
LIMIT 500""",
)
def bucket_name_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: bucket-name validation over a candidate column (part names
    contain spaces -> invalid; exercises the accept and reject paths)."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    return (
        t["part"]
        .select(
            F.col("p_name").alias("candidate"),
            scalars.valid_bucket_name(F.col("p_name")).alias("valid"),
        )
        .orderBy("candidate")
        .limit(500)
    )


@register(
    "tenant_usage_rollup",
    T.with_model(
        """\
SELECT b.tenant AS tenant,
       count(DISTINCT o.bucket) AS n_buckets,
       count(*) AS n_objects,
       CAST(sum(o.size) AS BIGINT) AS total_bytes,
       max(o.size) AS largest_object
FROM objects o JOIN buckets b ON o.bucket = b.bucket
GROUP BY b.tenant
ORDER BY tenant"""
    ),
)
def tenant_usage_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 rollup: per-tenant storage accounting (reporter.clj events
    aggregated to the billing grain)."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    b = T.buckets_df(t).select(F.col("bucket").alias("b_bucket"), "tenant")
    o = T.objects_df(t)
    return (
        o.join(F.broadcast(b), o.bucket == F.col("b_bucket"))
        .groupBy("tenant")
        .agg(
            F.count_distinct("bucket").alias("n_buckets"),
            F.count(F.lit(1)).alias("n_objects"),
            F.sum("size").alias("total_bytes"),
            F.max("size").alias("largest_object"),
        )
        .orderBy("tenant")
    )


# ---------------------------------------------------------------------------
# Semi-structured extraction, multipart ETag, versioning, orphan GC
# ---------------------------------------------------------------------------


@register(
    "events_json_extract",
    """\
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
       event_type
FROM events
WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 90
ORDER BY event_id""",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props: JSON path extraction + filter, JVM-side
    (get_json_object), mirroring the map<text,text> metadata access
    pattern of the reference (meta.clj:31-32)."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        t["events"]
        .select("event_id", k.alias("k_value"), "event_type")
        .filter(F.col("k_value") >= 90)
        .orderBy("event_id")
    )


@register(
    "multipart_etag",
    T.with_model(
        """\
SELECT upload,
       md5(string_agg(etag, '' ORDER BY partno)) || '-' || CAST(count(*) AS VARCHAR) AS s3_etag,
       count(*) AS n_parts
FROM parts
GROUP BY upload
ORDER BY upload
LIMIT 1000"""
    ),
)
def multipart_etag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partno-ordered checksum-of-checksums per upload (stream.clj:
    209-255 + A5).  NOTE: this oracle-gated query hashes the ordered
    HEX concatenation, because DuckDB 1.0 has no md5(BLOB) and so cannot
    mirror the true S3 law (md5 over the raw 16-byte digests).  What the
    oracle verifies here is the partno ORDERING + concatenation + count;
    the real binary-digest law lives in operators.multipart.s3_etag_agg
    (used by api.complete_multipart_upload) and is vector-tested against
    a hand-computed S3 composite ETag in tests/test_api.py."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    parts = T.parts_df(t)
    ordered = F.array_sort(F.collect_list(F.struct("partno", "etag")))
    concat_etags = F.array_join(F.transform(ordered, lambda s: s["etag"]), "")
    return (
        parts.groupBy("upload")
        .agg(
            F.concat(
                F.md5(concat_etags),
                F.lit("-"),
                F.count(F.lit(1)).cast("string"),
            ).alias("s3_etag"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .orderBy("upload")
        .limit(1000)
    )


@register(
    "objects_latest_version",
    T.with_model(
        """\
, history AS (
    SELECT bucket, object, inode, size, 1 AS version_seq FROM objects
    UNION ALL
    SELECT bucket, object, inode || '-v2' AS inode, size + 1 AS size, 2 AS version_seq
    FROM objects WHERE size % 4 = 0
)
SELECT bucket, object, inode, size, version_seq
FROM history
QUALIFY row_number() OVER (PARTITION BY bucket, object ORDER BY version_seq DESC) = 1
ORDER BY bucket, object"""
    ),
)
def objects_latest_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned objects (SURVEY §7.4-4): append-only version history,
    latest-per-key view via a descending row_number — the clean Spark
    replacement for the reference's overwrite-then-GC (and it activates
    the reference's unused ``versioned`` flag)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    t = T.load_tables(spark, sf_dir)
    v1 = T.objects_df(t).select(
        "bucket", "object", "inode", "size", F.lit(1).alias("version_seq")
    )
    v2 = (
        T.objects_df(t)
        .filter(F.col("size") % 4 == 0)
        .select(
            "bucket",
            "object",
            F.concat("inode", F.lit("-v2")).alias("inode"),
            (F.col("size") + 1).alias("size"),
            F.lit(2).alias("version_seq"),
        )
    )
    w = Window.partitionBy("bucket", "object").orderBy(F.col("version_seq").desc())
    return (
        v1.unionByName(v2)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy("bucket", "object")
    )


@register(
    "orphan_chunk_gc",
    T.with_model(
        """\
, live_refs AS (
    SELECT DISTINCT 'src' || CAST(o_orderkey % 15 AS VARCHAR) AS inode FROM orders
)
SELECT c.inode AS inode, count(*) AS orphan_chunks, CAST(sum(c.chunksize) AS BIGINT) AS reclaimable_bytes
FROM chunks c
LEFT JOIN live_refs r ON c.inode = r.inode
WHERE r.inode IS NULL
GROUP BY c.inode
ORDER BY inode"""
    ),
)
def orphan_chunk_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's acknowledged gap (doc/source/concepts.rst:96-100):
    orphaned-block detection as a set-based reconciliation sweep —
    chunks whose inode has no live reference, with reclaimable bytes.
    (live refs derived from the object table's inode space, which only
    covers src0-src14 — src15-src19 are genuinely orphaned.)"""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    chunks = T.chunks_df(t)
    live = (
        t["orders"]
        .select(
            F.concat(F.lit("src"), (F.col("o_orderkey") % 15).cast("string")).alias(
                "inode"
            )
        )
        .distinct()
    )
    return (
        chunks.join(live, "inode", "left_anti")
        .groupBy("inode")
        .agg(
            F.count(F.lit(1)).alias("orphan_chunks"),
            F.sum("chunksize").alias("reclaimable_bytes"),
        )
        .orderBy("inode")
    )


@register(
    "payload_digest_verify",
    T.with_model(
        """\
SELECT inode, chunk_seq,
       sha256(payload) = md5(payload) AS forged_flag,
       sha256(payload) AS payload_sha256
FROM chunks
WHERE chunk_seq < 100
ORDER BY inode, chunk_seq"""
    ),
)
def payload_digest_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: body-digest verification — recompute sha256 per payload and
    compare against a declared digest (here a deliberately wrong one so
    the mismatch path is exercised; the reference throws on close when
    x-amz-content-sha256 mismatches, sig4.clj:177-199)."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    c = T.chunks_df(t).filter(F.col("chunk_seq") < 100)
    sha = F.sha2(F.col("payload").cast("binary"), 256)
    return c.select(
        "inode",
        "chunk_seq",
        (sha == F.md5(F.col("payload"))).alias("forged_flag"),
        sha.alias("payload_sha256"),
    ).orderBy("inode", "chunk_seq")


# ---------------------------------------------------------------------------
# S4 point lookup, A7 reassembly, embedding near-dup, corpus stats, F12
# ---------------------------------------------------------------------------


@register(
    "get_object_point",
    T.with_model(
        """\
, target AS (
    SELECT min(object) AS object FROM objects WHERE bucket = 'NATION_2'
)
SELECT o.bucket AS bucket, o.object AS object, o.inode AS inode,
       o.size AS size, o.checksum AS checksum, o.storageclass AS storageclass
FROM objects o JOIN target t ON o.object = t.object
WHERE o.bucket = 'NATION_2'
LIMIT 1"""
    ),
)
def get_object_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: point lookup of one object row (head-object's data source);
    the key resolves via a 1-row broadcast min (stable at any SF)."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    o = T.objects_df(t).filter(F.col("bucket") == "NATION_2")
    target = o.agg(F.min("object").alias("object"))
    return (
        o.join(F.broadcast(target), "object")
        .select("bucket", "object", "inode", "size", "checksum", "storageclass")
        .limit(1)
    )


@register(
    "object_reassembly_verify",
    T.with_model(
        """\
SELECT inode,
       md5(string_agg(payload, '' ORDER BY chunk_seq)) =
           md5(string_agg(payload, '' ORDER BY chunk_seq)) AS self_consistent,
       sum(chunksize) = sum(length(payload)) AS sizes_consistent,
       count(*) AS n_chunks
FROM chunks
GROUP BY inode
ORDER BY inode"""
    ),
)
def object_reassembly_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 + A5 reconciliation: reassemble each object from its ordered
    chunks and verify the stored chunk sizes agree with the payload
    bytes — the full-read path's integrity sweep."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    c = T.chunks_df(t)
    ordered = F.array_sort(F.collect_list(F.struct("chunk_seq", "payload")))
    rebuilt = F.array_join(F.transform(ordered, lambda s: s["payload"]), "")
    return (
        c.groupBy("inode")
        .agg(
            (F.md5(rebuilt) == F.md5(rebuilt)).alias("self_consistent"),
            (F.sum("chunksize") == F.sum(F.length("payload"))).alias(
                "sizes_consistent"
            ),
            F.count(F.lit(1)).alias("n_chunks"),
        )
        .orderBy("inode")
    )


@register(
    "dedup_embedding_cosine",
    """\
WITH q AS (
    SELECT vec_id, label, embedding FROM embeddings
), pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           (SELECT CAST(sum(CAST(floor(CAST(a.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                            CAST(floor(CAST(b.embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM generate_series(1, 64) g(i)) AS dot_q
    FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, label, dot_q
FROM pairs
WHERE dot_q >= 300000
ORDER BY vec_a, vec_b""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: label-blocked self-join with the
    exact quantized dot product, threshold 0.3 (unit-norm vectors make
    dot == cosine).  At 100 TB the blocking key becomes the LSH bucket
    (hyperplane_buckets) instead of the label."""
    import pyspark.sql.functions as F

    from pithos_spark.functions.similarity import quantized_dot

    t = T.load_tables(spark, sf_dir)
    e = t["embeddings"]
    a = e.select(
        F.col("vec_id").alias("vec_a"), "label", F.col("embedding").alias("emb_a")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
    )
    return (
        a.join(b, (a.label == b.label_b) & (F.col("vec_a") < F.col("vec_b")))
        .select(
            "vec_a",
            "vec_b",
            "label",
            quantized_dot(F.col("emb_a"), F.col("emb_b")).alias("dot_q"),
        )
        .filter(F.col("dot_q") >= 300000)
        .orderBy("vec_a", "vec_b")
    )


@register(
    "corpus_term_doc_freq",
    """\
WITH terms AS (
    SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
    FROM documents
)
SELECT term, count(*) AS doc_freq
FROM terms
GROUP BY term
ORDER BY doc_freq DESC, term
LIMIT 20""",
)
def corpus_term_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level document frequency (the IDF denominator / stopword
    extraction primitive): explode distinct terms per doc, count docs
    per term, top 20."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    terms = (
        t["documents"]
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
        )
        .distinct()
    )
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "term")
        .limit(20)
    )


@register(
    "corpus_top_terms_tfidf",
    """\
WITH toks AS (
    SELECT source, doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
    FROM documents
), tf AS (
    SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2
), df AS (
    SELECT term, count(*) AS df
    FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT source, term, tf, df,
       tf * ((1000 * n.n_docs) // df) AS tfidf_q
FROM tf JOIN df USING (term) CROSS JOIN n
QUALIFY row_number() OVER (PARTITION BY source
                           ORDER BY tfidf_q DESC, term) <= 5
ORDER BY source, tfidf_q DESC, term""",
)
def corpus_top_terms_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF top terms (r12): the domain-fingerprinting
    readout every mixing/curation decision leans on ("what is this
    source about, in five words").  Integer idf (permille of n_docs
    over df) keeps it engine-exact.

    Scale: ONE corpus-linear token explode (persisted — the tf agg and
    the df distinct both consume ``toks``, and without the persist each
    fork re-reads and re-explodes the full corpus, doubling the most
    expensive scan; VERDICT r12 task 3) feeding two map-side combinable
    aggs; n_docs is a broadcast 1-row agg, the df side is
    vocabulary-sized and joins on term; the per-source cut is a window
    over source partitions — no global sort, no driver collect."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from .plans.helpers import bounded_persist

    d = T.load_tables(spark, sf_dir)["documents"]
    toks = bounded_persist(
        d.select(
            "source",
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
        ),
        "tfidf_toks",
    )
    tf = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = (
        toks.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("source").orderBy(
        F.col("tfidf_q").desc(), F.col("term")
    )
    return (
        tf.join(df_, "term")
        .join(F.broadcast(n))
        .withColumn("tfidf_q", F.expr("tf * ((1000 * n_docs) div df)"))
        .select("source", "term", "tf", "df", "tfidf_q")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .drop("_rn")
        .orderBy("source", F.col("tfidf_q").desc(), "term")
    )


@register(
    "post_policy_validate",
    """\
SELECT doc_id,
       'mp/' || CAST(doc_id AS VARCHAR) AS key,
       starts_with('mp/' || CAST(doc_id AS VARCHAR), 'mp/')
           AND n_chars BETWEEN 100 AND 10000
           AND doc_id % 10 <> 9 AS policy_passes,
       CASE WHEN NOT starts_with('mp/' || CAST(doc_id AS VARCHAR), 'mp/') THEN 'key-prefix'
            WHEN n_chars NOT BETWEEN 100 AND 10000 THEN 'content-length-range'
            WHEN doc_id % 10 = 9 THEN 'expired'
            ELSE NULL END AS deny_reason
FROM documents
ORDER BY doc_id""",
)
def post_policy_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: browser-POST policy conditions — starts-with on the key,
    content-length-range, expiration — evaluated per submission with the
    first failing condition as the deny reason (operations.clj:591-632)."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    d = t["documents"]
    key = F.concat(F.lit("mp/"), F.col("doc_id").cast("string"))
    prefix_ok = key.startswith("mp/")
    size_ok = F.col("n_chars").between(100, 10000)
    not_expired = F.col("doc_id") % 10 != 9
    return d.select(
        "doc_id",
        key.alias("key"),
        (prefix_ok & size_ok & not_expired).alias("policy_passes"),
        F.when(~prefix_ok, F.lit("key-prefix"))
        .when(~size_ok, F.lit("content-length-range"))
        .when(~not_expired, F.lit("expired"))
        .otherwise(F.lit(None).cast("string"))
        .alias("deny_reason"),
    ).orderBy("doc_id")


# IVF ANN: index built ONCE per (kind, session, sf_dir) and cached —
# query calls only probe (VERDICT r2 item 2).  The label-centroid
# variant is exact integer math end-to-end, so it carries a full DuckDB
# oracle (VERDICT r2 item 3); probing a 3-query batch demonstrates
# build-once / probe-many.
_ANN_INDEX_CACHE: dict = {}


def _ivf_index(kind, build, spark, sf_dir):
    key = (kind, spark.sparkContext.applicationId, sf_dir)
    if key not in _ANN_INDEX_CACHE:
        emb = T.load_tables(spark, sf_dir)["embeddings"]
        _ANN_INDEX_CACHE[key] = build(emb)
    return _ANN_INDEX_CACHE[key]


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the cached label-centroid index: per query, rank the
    broadcast centers, probe the 2 best inverted lists, exact-rerank."""
    assigned, centers = _ivf_index(
        "ivf", similarity.build_ivf_index, spark, sf_dir
    )
    return similarity.ivf_query(assigned, centers, [0, 7, 42], 10, 2)


QUERIES["ann_ivf_topk"] = ann_ivf_topk
ORACLES["ann_ivf_topk"] = similarity.ivf_query_oracle([0, 7, 42], 10, 2)


@register(
    "events_top_users_per_type",
    """\
WITH totals AS (
    SELECT event_type, user_id,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_e2
    FROM events
    GROUP BY event_type, user_id
)
SELECT event_type, user_id, n_events, value_e2
FROM totals
QUALIFY row_number() OVER (PARTITION BY event_type
                           ORDER BY n_events DESC, value_e2 DESC, user_id) <= 5
ORDER BY event_type, n_events DESC, value_e2 DESC, user_id""",
)
def events_top_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (heavy hitters): rank users inside each event
    type by activity — the grouped-top-k shape (window rank, one
    shuffle) that plain orderBy/limit can't express."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    t = T.load_tables(spark, sf_dir)
    totals = (
        t["events"]
        .groupBy("event_type", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_e2"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("value_e2").desc(), F.col("user_id")
    )
    return (
        totals.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .drop("_rn")
        .orderBy(
            "event_type", F.col("n_events").desc(), F.col("value_e2").desc(), "user_id"
        )
    )


@register(
    "events_heavy_hitters",
    """\
WITH c AS (
    SELECT event_type, user_id, count(*) AS n_events
    FROM events GROUP BY event_type, user_id
),
t AS (
    SELECT event_type, count(*) AS total FROM events GROUP BY event_type
)
SELECT c.event_type, c.user_id, c.n_events
FROM c JOIN t USING (event_type)
WHERE c.n_events * 128 > t.total
ORDER BY c.event_type, c.user_id""",
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the space-saving sketch (VERDICT r6 task 4 / r7
    task 4): run the deterministic batch twin of
    streaming/heavyhitters.py at m=128, then keep only the users the
    sketch is THEORETICALLY REQUIRED to get right — those with true count
    > N/m per event type — and only where the sketch's bounds actually
    hold (true <= est <= true + err, err <= N/m).  Output values are the
    exact counts, so the DuckDB oracle is plain SQL; if the sketch ever
    drops a guaranteed heavy hitter or violates a bound, the inner join /
    filter loses that row and the driver's row+hash compare goes red.

    Plan: ONE corpus scan — the per-(type, user) count exchange is built
    once and shared (ReuseExchange) by its three consumers: the exact
    side, the per-type totals (re-aggregated from counts, not the raw
    events), and the sketch input; totals and the <=m-row sketch both
    broadcast back onto the count rows.

    m=128 is tuned to the sf0.01 gate fixture (150 users/type, ~25%
    above N/m -> 199 guaranteed rows); on corpora whose distinct-user
    count dwarfs m the guaranteed set shrinks toward empty under a
    uniform distribution, which is the sketch working as designed —
    heavy hitters are a skew phenomenon.
    """
    import pyspark.sql.functions as F

    from pithos_spark.streaming.heavyhitters import sketch_from_counts

    m = 128
    events = T.load_tables(spark, sf_dir)["events"]
    # filter the join keys' null-rejection ONCE below the aggregation:
    # the downstream joins would otherwise push slightly different
    # IsNotNull sets into each consumer's copy of the count subtree and
    # break ReuseExchange (three corpus scans instead of one)
    counts = (
        events.where(
            F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
        )
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.groupBy("event_type").agg(F.sum("cnt").alias("total"))
    sketch = sketch_from_counts(counts, m=m)
    return (
        counts.join(F.broadcast(totals), "event_type")
        .where(F.col("cnt") * m > F.col("total"))
        .join(F.broadcast(sketch), ["event_type", "user_id"])
        .where(
            (F.col("est_count") >= F.col("cnt"))
            & (F.col("est_count") <= F.col("cnt") + F.col("err"))
            & (F.col("err") * m <= F.col("total"))
        )
        .select("event_type", "user_id", F.col("cnt").alias("n_events"))
        .orderBy("event_type", "user_id")
    )


@register(
    "events_heavy_hitters_merged",
    """\
WITH c AS (
    SELECT event_type, user_id, count(*) AS n_events
    FROM events GROUP BY event_type, user_id
),
t AS (
    SELECT event_type, count(*) AS total FROM events GROUP BY event_type
)
SELECT c.event_type, c.user_id, c.n_events
FROM c JOIN t USING (event_type)
WHERE c.n_events * 128 > t.total
ORDER BY c.event_type, c.user_id""",
)
def events_heavy_hitters_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same guaranteed-hitter gate as ``events_heavy_hitters``, but over
    the DISTRIBUTED sketch (heavy_hitters_distributed: per-partition
    partial sketches merged per key — the mergeable-summaries path that
    runs when one event_type's distinct users overflow a single task).
    The mergeable-summaries bounds are partitioning-independent, so the
    identical plain-SQL oracle gates it: a merge that dropped a
    guaranteed hitter or broke a bound loses rows and goes red.
    """
    import pyspark.sql.functions as F

    from pithos_spark.streaming.heavyhitters import heavy_hitters_distributed

    m = 128
    events = T.load_tables(spark, sf_dir)["events"]
    counts = (
        events.where(
            F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
        )
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.groupBy("event_type").agg(F.sum("cnt").alias("total"))
    sketch = heavy_hitters_distributed(counts, m=m)
    return (
        counts.join(F.broadcast(totals), "event_type")
        .where(F.col("cnt") * m > F.col("total"))
        .join(F.broadcast(sketch), ["event_type", "user_id"])
        .where(
            (F.col("est_count") >= F.col("cnt"))
            & (F.col("est_count") <= F.col("cnt") + F.col("err"))
            & (F.col("err") * m <= F.col("total"))
        )
        .select("event_type", "user_id", F.col("cnt").alias("n_events"))
        .orderBy("event_type", "user_id")
    )


# ---------------------------------------------------------------------------
# As-of join, interval trailing window, grouping-sets rollup
# ---------------------------------------------------------------------------


@register("events_hourly_anomalies", ev.hourly_anomalies_oracle())
def events_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier hours per event type over the dense gap-filled
    series (streaming/events.hourly_anomalies)."""
    return ev.hourly_anomalies(T.load_tables(spark, sf_dir)["events"])


@register("events_value_percentiles", ev.VALUE_PERCENTILES_SQL)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type value distribution (p50/p90/p99 over cents-quantized
    values; streaming/events.value_percentiles)."""
    return ev.value_percentiles(T.load_tables(spark, sf_dir)["events"])


@register("events_watermark_lateness", ev.watermark_lateness_oracle())
def events_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing diagnostic: per-type lateness histogram under
    per-source-partition watermarks (streaming/events.watermark_lateness)
    — the offline measurement that picks streamify's delay."""
    return ev.watermark_lateness(T.load_tables(spark, sf_dir)["events"])


@register("events_hourly_gapfill", ev.HOURLY_GAPFILL_SQL)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hour x event_type grid with explicit zeros for silent hours
    (streaming/events.hourly_gapfill) — the hypertable resample shape."""
    return ev.hourly_gapfill(T.load_tables(spark, sf_dir)["events"])


@register("events_retention", ev.RETENTION_COHORTS_SQL)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle (streaming/events.py
    retention_cohorts): first-event week cohorts x weeks-since-cohort
    distinct-user counts."""
    return ev.retention_cohorts(T.load_tables(spark, sf_dir)["events"])


@register("events_funnel", ev.FUNNEL_SQL)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequenced conversion funnel view -> click -> purchase: per-step
    surviving users + integer conversion permille (streaming/events.py
    funnel; min-after-previous-step semantics, strict ordering)."""
    return ev.funnel(T.load_tables(spark, sf_dir)["events"])


@register(
    "events_asof_last_click",
    """\
WITH marked AS (
    SELECT user_id, event_id, event_type, ts,
           max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
    FROM events
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us, last_click_us,
       epoch_us(ts) - last_click_us AS us_since_click
FROM marked
WHERE event_type = 'error'
ORDER BY event_id""",
)
def events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): for every error event, the user's most
    recent prior click — expressed as a running conditional max over the
    user's time-ordered history (one shuffle on user_id; the same plan
    Structured Streaming's state would maintain incrementally).  The
    classic as-of-join semantics without a range-join explosion."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    t = T.load_tables(spark, sf_dir)
    ev = t["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_us = F.when(
        F.col("event_type") == "click", F.unix_micros(F.col("ts"))
    )
    marked = ev.withColumn("last_click_us", F.max(click_us).over(w))
    return (
        marked.filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "last_click_us",
            (F.unix_micros("ts") - F.col("last_click_us")).alias("us_since_click"),
        )
        .orderBy("event_id")
    )


@register(
    "events_trailing_hour_count",
    """\
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS events_last_hour
FROM events
WHERE user_id < 20
ORDER BY user_id, ts_us, event_id""",
)
def events_trailing_hour_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-frame window: per event, how many events the same user
    produced in the trailing hour (RANGE frame over event-time micros —
    the rate-limiting / anomaly primitive).  Restricted to a user slice
    to keep the gate payload small."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    t = T.load_tables(spark, sf_dir)
    ev = t["events"].filter(F.col("user_id") < 20)
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            us.alias("ts_us"),
            F.count(F.lit(1)).over(w).alias("events_last_hour"),
        )
        .orderBy("user_id", "ts_us", "event_id")
    )


@register(
    "usage_grouping_sets",
    T.with_model(
        """\
SELECT coalesce(b.tenant, '(all)') AS tenant,
       coalesce(o.bucket, '(all)') AS bucket,
       count(*) AS n_objects,
       CAST(sum(o.size) AS BIGINT) AS total_bytes
FROM objects o JOIN buckets b ON o.bucket = b.bucket
GROUP BY GROUPING SETS ((b.tenant, o.bucket), (b.tenant), ())
ORDER BY tenant, bucket"""
    ),
)
def usage_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usage accounting at three grains in one pass — GROUPING SETS
    (per-bucket, per-tenant, grand total), the rollup shape the
    reference's reporter events feed (A10 generalized).  Spark executes
    this as a single Expand + aggregation."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    o = T.objects_df(t)
    b = T.buckets_df(t).select(F.col("bucket").alias("b_bucket"), "tenant")
    joined = o.join(F.broadcast(b), o.bucket == F.col("b_bucket"))
    joined.createOrReplaceTempView("_usage_src")
    return joined.sparkSession.sql(
        """SELECT coalesce(tenant, '(all)') AS tenant,
                  coalesce(bucket, '(all)') AS bucket,
                  count(*) AS n_objects,
                  sum(size) AS total_bytes
           FROM _usage_src
           GROUP BY GROUPING SETS ((tenant, bucket), (tenant), ())
           ORDER BY tenant, bucket"""
    )


def _q7(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.nation_pair_volume(
        t["lineitem"], t["orders"], t["customer"], t["supplier"], t["nation"]
    )


QUERIES["q7_nation_pair_volume"] = _q7
ORACLES["q7_nation_pair_volume"] = analytics.NATION_PAIR_VOLUME_SQL


def _q10(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.returned_item_report(
        t["lineitem"], t["orders"], t["customer"], t["nation"]
    )


QUERIES["q10_returned_items"] = _q10
ORACLES["q10_returned_items"] = analytics.RETURNED_ITEM_SQL


QUERIES["ann_batch_topk"] = _emb_query(similarity.batch_topk, [0, 7, 42, 99, 123])
ORACLES["ann_batch_topk"] = similarity.batch_topk_oracle([0, 7, 42, 99, 123])


def ann_ivf_lloyd_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-quantizer IVF that stays engine-exact: deterministic
    integer Lloyd's k-means (fixed seeds + rounds, floor-div centroids)
    built once via the index cache, then the standard l2 probe + exact
    rerank.  Unlike the MLlib KMeans twin this carries a full DuckDB
    oracle — the Lloyd rounds are unrolled CTE blocks."""
    assigned, centers = _ivf_index(
        "ivf_lloyd", similarity.build_ivf_lloyd_index, spark, sf_dir
    )
    return similarity.ivf_query(
        assigned, centers, 0, 10, 4, cluster_col="cluster", metric="l2"
    ).drop("query_id")


QUERIES["ann_ivf_lloyd_topk"] = ann_ivf_lloyd_topk
ORACLES["ann_ivf_lloyd_topk"] = similarity.ivf_lloyd_topk_oracle(0, 10)

# Embedding near-dup blocked by LSH bucket (the 100 TB blocking key)
QUERIES["dedup_embedding_lsh"] = _emb_query(
    similarity.embedding_lsh_dedup_pairs
)
ORACLES["dedup_embedding_lsh"] = (
    similarity.embedding_lsh_dedup_pairs_oracle()
)

# Batched LSH ANN: bucket once, probe a query set
QUERIES["ann_lsh_batch_topk"] = _emb_query(
    similarity.lsh_batch_topk, [0, 7, 42]
)
ORACLES["ann_lsh_batch_topk"] = similarity.lsh_batch_topk_oracle([0, 7, 42])


# KMeans-IVF ANN: NOT registered as a driver query — trained float
# centroids can't be oracled, so a registry entry could only ever read
# `no_oracle` and would burn a correctness-window slot every round
# (VERDICT r5 "What's wrong" #4).  The operator lives on as a library
# function with recall + index-cache tests (tests/test_similarity.py);
# the oracle-exact Lloyd variant (`ann_ivf_lloyd_topk`) is the
# hash-gated IVF representative.
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-quantizer IVF over the cached KMeans index: fit + assign
    happen once at build; the query is pure probe + in-list rerank."""
    assigned, centers = _ivf_index(
        "ivf_kmeans", similarity.build_ivf_kmeans_index, spark, sf_dir
    )
    return similarity.ivf_query(
        assigned, centers, 0, 10, 4, cluster_col="cluster", metric="l2"
    ).drop("query_id")


@register("multimodal_frame_sample", multimodal.FRAME_SAMPLE_SQL)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-expanding multimodal pipeline: video assets -> fixed-window
    frame samples via Arrow mapInPandas (deterministic fake decode; the
    oracle mirrors the windowing arithmetic in SQL)."""
    t = T.load_tables(spark, sf_dir)
    assets = multimodal.assets_from_documents(t["documents"])
    return multimodal.frame_sample(assets).orderBy("asset_id", "frame_idx")


@register(
    "q18_large_orders",
    T.with_model(
        """\
, big AS (
    SELECT l_orderkey
    FROM lineitem
    GROUP BY l_orderkey
    HAVING sum(CAST(floor(l_quantity * 100) AS BIGINT)) > 30000
)
SELECT o.o_orderkey AS o_orderkey, CAST(o.o_orderdate AS VARCHAR) AS o_orderdate,
       CAST(floor(o.o_totalprice * 100) AS BIGINT) AS totalprice_e2
FROM orders o JOIN big ON o.o_orderkey = big.l_orderkey
ORDER BY totalprice_e2 DESC, o_orderkey
LIMIT 50"""
    ),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: magnitude filter AFTER aggregation (HAVING on
    the grouped fact) feeding a semi-join back to the order header —
    the find-the-whales pattern."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).alias("q"))
        .filter(F.col("q") > 30000)
        .select("l_orderkey")
    )
    o = t["orders"]
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("totalprice_e2"),
        )
        .orderBy(F.col("totalprice_e2").desc(), "o_orderkey")
        .limit(50)
    )


@register(
    "list_object_uploads",
    T.with_model(
        """\
, target AS (SELECT min(object) AS object FROM parts)
SELECT p.upload AS upload, p.object AS object,
       count(*) AS n_parts
FROM parts p JOIN target t ON p.object = t.object
GROUP BY p.upload, p.object
ORDER BY upload"""
    ),
)
def list_object_uploads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: the active uploads of ONE object (exact key match —
    meta.clj:147-151), resolved via a 1-row broadcast."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    parts = T.parts_df(t)
    target = parts.agg(F.min("object").alias("object"))
    return (
        parts.join(F.broadcast(target), "object")
        .groupBy("upload", "object")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("upload")
    )


@register(
    "events_type_pivot",
    """\
SELECT user_id,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error
FROM events
GROUP BY user_id
ORDER BY user_id""",
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts spread into one column per type
    (groupBy().pivot() with a declared value list, so the plan needs no
    discovery pass — the wide-activity-matrix shape)."""
    import pyspark.sql.functions as F

    types = ["click", "view", "purchase", "signup", "error"]
    t = T.load_tables(spark, sf_dir)
    pv = (
        t["events"]
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    out = pv.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(f"n_{c}") for c in types],
    )
    return out.orderBy("user_id")


# ---------------------------------------------------------------------------
# Extended TPC-H-shape coverage: scalar subqueries, outer-join histogram,
# count-distinct, OR-of-ANDs pushdown, anti-join with aggregate threshold
# ---------------------------------------------------------------------------


def _q6(spark, sf_dir):
    return analytics.forecast_revenue(T.load_tables(spark, sf_dir)["lineitem"])


QUERIES["q6_forecast_revenue"] = _q6
ORACLES["q6_forecast_revenue"] = analytics.FORECAST_REVENUE_SQL


def _q8(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.market_share(
        t["lineitem"], t["orders"], t["customer"], t["supplier"], t["nation"], t["region"]
    )


QUERIES["q8_market_share"] = _q8
ORACLES["q8_market_share"] = analytics.MARKET_SHARE_SQL


def _q13(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.customer_order_distribution(t["customer"], t["orders"])


QUERIES["q13_customer_distribution"] = _q13
ORACLES["q13_customer_distribution"] = analytics.CUSTOMER_DISTRIBUTION_SQL


def _q15(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.top_supplier(t["lineitem"], t["supplier"])


QUERIES["q15_top_supplier"] = _q15
ORACLES["q15_top_supplier"] = analytics.TOP_SUPPLIER_SQL


def _q16(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.supplier_diversity(t["lineitem"], t["part"])


QUERIES["q16_supplier_diversity"] = _q16
ORACLES["q16_supplier_diversity"] = analytics.SUPPLIER_DIVERSITY_SQL


def _q17(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.small_quantity_revenue(t["lineitem"], t["part"])


QUERIES["q17_small_qty_revenue"] = _q17
ORACLES["q17_small_qty_revenue"] = analytics.SMALL_QUANTITY_SQL


def _q19(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.special_revenue(t["lineitem"], t["part"])


QUERIES["q19_special_revenue"] = _q19
ORACLES["q19_special_revenue"] = analytics.SPECIAL_REVENUE_SQL


def _q22(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.idle_rich_customers(t["customer"], t["orders"])


QUERIES["q22_idle_rich_customers"] = _q22
ORACLES["q22_idle_rich_customers"] = analytics.IDLE_RICH_SQL


def _q2(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.cheapest_supplier_per_nation(t["supplier"], t["nation"])


QUERIES["q2_cheapest_supplier"] = _q2
ORACLES["q2_cheapest_supplier"] = analytics.CHEAPEST_SUPPLIER_SQL


def _q4(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.priority_order_check(t["orders"], t["lineitem"])


QUERIES["q4_priority_order_check"] = _q4
ORACLES["q4_priority_order_check"] = analytics.PRIORITY_ORDER_CHECK_SQL


def _q9(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.product_profit(
        t["lineitem"], t["part"], t["supplier"], t["nation"], t["orders"]
    )


QUERIES["q9_product_profit"] = _q9
ORACLES["q9_product_profit"] = analytics.PRODUCT_PROFIT_SQL


def _q11(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.important_brands(t["lineitem"], t["part"])


QUERIES["q11_important_brands"] = _q11
ORACLES["q11_important_brands"] = analytics.IMPORTANT_BRANDS_SQL


def _q12(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.priority_shipping(t["lineitem"], t["orders"])


QUERIES["q12_priority_shipping"] = _q12
ORACLES["q12_priority_shipping"] = analytics.PRIORITY_SHIPPING_SQL


def _q20(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.excess_shippers(
        t["lineitem"], t["part"], t["supplier"], t["nation"]
    )


QUERIES["q20_excess_shippers"] = _q20
ORACLES["q20_excess_shippers"] = analytics.EXCESS_SHIPPERS_SQL


def _q21(spark, sf_dir):
    t = T.load_tables(spark, sf_dir)
    return analytics.waiting_suppliers(t["lineitem"], t["supplier"], t["nation"])


QUERIES["q21_waiting_suppliers"] = _q21
ORACLES["q21_waiting_suppliers"] = analytics.WAITING_SUPPLIERS_SQL


def _curate(spark, sf_dir):
    from pithos_spark.functions.curate import curate_corpus

    t = T.load_tables(spark, sf_dir)
    return curate_corpus(t["documents"], t["embeddings"])


from pithos_spark.functions.curate import (  # noqa: E402
    CORPUS_PROFILE_SQL,
    CURATE_CORPUS_SQL,
    PACK_SEQUENCES_SQL,
    corpus_profile,
    pii_redact_oracle,
    sample_mix_oracle,
    shard_assign,
    shard_assign_oracle,
)

QUERIES["corpus_curation_pipeline"] = _curate
ORACLES["corpus_curation_pipeline"] = CURATE_CORPUS_SQL


# Lexical + hybrid retrieval (functions/retrieval.py): exact-integer
# BM25 and Reciprocal Rank Fusion of the BM25 rank with an embedding
# dot-product rank — both fully oracle-gated.
def _bm25(spark, sf_dir):
    from pithos_spark.functions import retrieval

    return retrieval.bm25_topk(T.load_tables(spark, sf_dir)["documents"])


def _hybrid(spark, sf_dir):
    from pithos_spark.functions import retrieval

    t = T.load_tables(spark, sf_dir)
    return retrieval.hybrid_rrf_topk(t["documents"], t["embeddings"])


from pithos_spark.functions import retrieval as _retrieval_mod  # noqa: E402

def _pii(spark, sf_dir):
    from pithos_spark.functions.curate import pii_redact

    return pii_redact(T.load_tables(spark, sf_dir)["documents"])


QUERIES["corpus_pii_redact"] = _pii
ORACLES["corpus_pii_redact"] = pii_redact_oracle()

QUERIES["corpus_profile"] = lambda spark, sf_dir: corpus_profile(
    T.load_tables(spark, sf_dir)["documents"]
)
ORACLES["corpus_profile"] = CORPUS_PROFILE_SQL

QUERIES["corpus_shard_assign"] = lambda spark, sf_dir: shard_assign(
    T.load_tables(spark, sf_dir)["documents"]
)
ORACLES["corpus_shard_assign"] = shard_assign_oracle()


def _decontam(spark, sf_dir):
    from pithos_spark.functions.curate import decontaminate

    return decontaminate(T.load_tables(spark, sf_dir)["documents"])


def _bigram(spark, sf_dir):
    from pithos_spark.functions.text import bigram_lm

    return bigram_lm(T.load_tables(spark, sf_dir)["documents"])


from pithos_spark.functions.curate import decontaminate_oracle  # noqa: E402
from pithos_spark.functions.text import bigram_lm_oracle  # noqa: E402

QUERIES["corpus_decontaminate"] = _decontam
ORACLES["corpus_decontaminate"] = decontaminate_oracle()


def _decontam_bloom(spark, sf_dir):
    """Bloom-pre-filtered decontamination (curate.decontaminate_bloom):
    fixed-size bitset broadcast + vectorized membership + exact verify
    on the survivors — bit-identical to corpus_decontaminate (Bloom
    filters have no false negatives; the exact join removes the false
    positives), so the SAME oracle gates the whole pipeline including
    the numpy bit-test stage."""
    from pithos_spark.functions.curate import decontaminate_bloom

    return decontaminate_bloom(T.load_tables(spark, sf_dir)["documents"])


QUERIES["corpus_decontaminate_bloom"] = _decontam_bloom
ORACLES["corpus_decontaminate_bloom"] = decontaminate_oracle()


def _bpe_train(spark, sf_dir):
    """Real BPE training (Sennrich merges) over the documents corpus:
    the corpus collapses to its word-frequency vocabulary in one scan,
    then each round is a vocab-sized pair count + greedy merge rewrite
    expressed as pure window arithmetic — fully mirrored by the
    unrolled SQL oracle (functions/text.bpe_train)."""
    from pithos_spark.functions.text import bpe_train

    return bpe_train(T.load_tables(spark, sf_dir)["documents"])


QUERIES["corpus_bpe_train"] = _bpe_train
from pithos_spark.functions.text import bpe_train_oracle  # noqa: E402

ORACLES["corpus_bpe_train"] = bpe_train_oracle()


def _bpe_segment(spark, sf_dir):
    """Trained-tokenizer fertility: the learned merge table applied
    back to the corpus (the final round's symbol table IS the
    segmentation of every vocabulary word), rolled up per source —
    tokenizer_fertility upgraded from the regex proxy to real BPE."""
    from pithos_spark.functions.text import bpe_segment_stats

    return bpe_segment_stats(T.load_tables(spark, sf_dir)["documents"])


QUERIES["corpus_bpe_segment_stats"] = _bpe_segment
from pithos_spark.functions.text import bpe_segment_stats_oracle  # noqa: E402

ORACLES["corpus_bpe_segment_stats"] = bpe_segment_stats_oracle()


def _temp_weights(spark, sf_dir):
    """T=2 temperature mixing weights per source (sqrt token-share
    smoothing, integer-exact via correctly-rounded sqrt+floor) —
    curate.temperature_mix_weights."""
    from pithos_spark.functions.curate import temperature_mix_weights

    return temperature_mix_weights(T.load_tables(spark, sf_dir)["documents"])


def _temp_mix(spark, sf_dir):
    """End-to-end temperature mixing: derived T=2 weights applied
    through sample_mix's hash selector — curate.temperature_sample_mix."""
    from pithos_spark.functions.curate import temperature_sample_mix

    return temperature_sample_mix(T.load_tables(spark, sf_dir)["documents"])


from pithos_spark.functions.curate import (  # noqa: E402
    TEMPERATURE_MIX_WEIGHTS_SQL,
    TEMPERATURE_SAMPLE_MIX_SQL,
)

QUERIES["corpus_temperature_mix_weights"] = _temp_weights
ORACLES["corpus_temperature_mix_weights"] = TEMPERATURE_MIX_WEIGHTS_SQL
QUERIES["corpus_temperature_sample_mix"] = _temp_mix
ORACLES["corpus_temperature_sample_mix"] = TEMPERATURE_SAMPLE_MIX_SQL


def _span_intervals(spark, sf_dir):
    """Maximal duplicate-span intervals (the ExactSubstr-style mask
    list): overlapping flagged n-gram positions merged into
    [start_tok, end_tok) rows per document — curate.duplicate_span_intervals."""
    from pithos_spark.functions.curate import duplicate_span_intervals

    return duplicate_span_intervals(T.load_tables(spark, sf_dir)["documents"])


def _vocab_overlap(spark, sf_dir):
    """Pairwise source similarity by top-k vocabulary Jaccard
    (permille) — curate.source_vocab_overlap."""
    from pithos_spark.functions.curate import source_vocab_overlap

    return source_vocab_overlap(T.load_tables(spark, sf_dir)["documents"])


from pithos_spark.functions.curate import (  # noqa: E402
    duplicate_span_intervals_oracle,
    source_vocab_overlap_oracle,
)

# added after the r9 window froze (the full-window gate had already
# run): pytest-oracle-proven now, queued for r10's ROUND_NEW alongside
# the canaries that yielded slots this round
QUERIES["corpus_duplicate_span_intervals"] = _span_intervals
ORACLES["corpus_duplicate_span_intervals"] = duplicate_span_intervals_oracle()
QUERIES["corpus_source_vocab_overlap"] = _vocab_overlap
ORACLES["corpus_source_vocab_overlap"] = source_vocab_overlap_oracle()


def _cluster_prototypes(spark, sf_dir):
    """Per-semantic-cluster prototype pick
    (similarity.cluster_prototypes): the per_cluster vectors closest to
    their trained Lloyd centroid — the prototypicality readout
    data-pruning recipes rank by (Sorscher et al., "Beyond neural
    scaling laws").  Reuses the cached engine-exact Lloyd index
    (build once, rank many); also queued for r10's ROUND_NEW."""
    idx = _ivf_index(
        "ivf_lloyd", similarity.build_ivf_lloyd_index, spark, sf_dir
    )
    return similarity.cluster_prototypes(
        T.load_tables(spark, sf_dir)["embeddings"], index=idx
    )


QUERIES["corpus_cluster_prototypes"] = _cluster_prototypes
ORACLES["corpus_cluster_prototypes"] = similarity.cluster_prototypes_oracle()


def _mmr_rerank(spark, sf_dir):
    """MMR diversity rerank (retrieval.mmr_rerank): distributed BM25
    top-depth cut, then the Carbonell-Goldstein greedy over the
    bounded candidate set — relevance traded against max quantized-dot
    similarity to the already-picked list.  Queued for r10's
    ROUND_NEW."""
    from pithos_spark.functions.retrieval import mmr_rerank

    t = T.load_tables(spark, sf_dir)
    return mmr_rerank(t["documents"], t["embeddings"])


from pithos_spark.functions.retrieval import mmr_rerank_oracle  # noqa: E402

QUERIES["corpus_mmr_rerank"] = _mmr_rerank
ORACLES["corpus_mmr_rerank"] = mmr_rerank_oracle()


def _decontam_semantic(spark, sf_dir):
    from pithos_spark.functions.curate import decontaminate_semantic

    return decontaminate_semantic(T.load_tables(spark, sf_dir)["embeddings"])


from pithos_spark.functions.curate import (  # noqa: E402
    decontaminate_semantic_oracle,
)

QUERIES["corpus_decontaminate_semantic"] = _decontam_semantic
ORACLES["corpus_decontaminate_semantic"] = decontaminate_semantic_oracle()


def _leakage_split(spark, sf_dir):
    from pithos_spark.functions.curate import leakage_safe_split

    return leakage_safe_split(T.load_tables(spark, sf_dir)["documents"])


from pithos_spark.functions.curate import (  # noqa: E402
    leakage_safe_split_oracle,
)

QUERIES["corpus_leakage_safe_split"] = _leakage_split
ORACLES["corpus_leakage_safe_split"] = leakage_safe_split_oracle()
QUERIES["corpus_bigram_lm"] = _bigram
ORACLES["corpus_bigram_lm"] = bigram_lm_oracle()


def _novelty(spark, sf_dir):
    from pithos_spark.functions.curate import novelty_scores

    return novelty_scores(T.load_tables(spark, sf_dir)["documents"])


def _gate_report(spark, sf_dir):
    from pithos_spark.functions.curate import quality_gate_report

    return quality_gate_report(T.load_tables(spark, sf_dir)["documents"])


def _mix_plan(spark, sf_dir):
    from pithos_spark.functions.curate import mix_rebalance_plan

    return mix_rebalance_plan(T.load_tables(spark, sf_dir)["documents"])


def _dup_spans(spark, sf_dir):
    from pithos_spark.functions.curate import duplicate_spans

    return duplicate_spans(T.load_tables(spark, sf_dir)["documents"])


def _rep_stats(spark, sf_dir):
    from pithos_spark.functions.text import repetition_stats

    return repetition_stats(T.load_tables(spark, sf_dir)["documents"])


from pithos_spark.functions.curate import duplicate_spans_oracle  # noqa: E402
from pithos_spark.functions.text import repetition_stats_oracle  # noqa: E402

from pithos_spark.functions.curate import mix_rebalance_plan_oracle  # noqa: E402

from pithos_spark.functions.curate import quality_gate_report_oracle  # noqa: E402

from pithos_spark.functions.curate import novelty_scores_oracle  # noqa: E402

QUERIES["corpus_novelty_scores"] = _novelty
ORACLES["corpus_novelty_scores"] = novelty_scores_oracle()
QUERIES["corpus_gate_report"] = _gate_report
ORACLES["corpus_gate_report"] = quality_gate_report_oracle()
QUERIES["corpus_mix_plan"] = _mix_plan
ORACLES["corpus_mix_plan"] = mix_rebalance_plan_oracle()
QUERIES["corpus_duplicate_spans"] = _dup_spans
ORACLES["corpus_duplicate_spans"] = duplicate_spans_oracle()


def _mask_spans(spark, sf_dir):
    from pithos_spark.functions.curate import mask_duplicate_spans

    return mask_duplicate_spans(T.load_tables(spark, sf_dir)["documents"])


from pithos_spark.functions.curate import (  # noqa: E402
    mask_duplicate_spans_oracle,
)

QUERIES["corpus_mask_duplicate_spans"] = _mask_spans
ORACLES["corpus_mask_duplicate_spans"] = mask_duplicate_spans_oracle()
QUERIES["corpus_repetition_stats"] = _rep_stats
ORACLES["corpus_repetition_stats"] = repetition_stats_oracle()

QUERIES["corpus_bm25_topk"] = _bm25
ORACLES["corpus_bm25_topk"] = _retrieval_mod.bm25_topk_oracle()

# per-session materialized postings layout (same build-once/probe-many
# pattern as the IVF index cache): first call writes the term-range
# parquet layout, later calls only read it
_POSTINGS_CACHE: dict = {}


def _postings_path(spark, sf_dir):
    # keyed on applicationId, not id(spark): a new session never aliases
    # a garbage-collected one's stale path; dirs are reaped at exit
    # (ADVICE r8)
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _POSTINGS_CACHE:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="postings_layout_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _retrieval_mod.write_postings_layout(
            T.load_tables(spark, sf_dir)["documents"], path
        )
        _POSTINGS_CACHE[key] = path
    return _POSTINGS_CACHE[key]


def _bm25_postings(spark, sf_dir):
    return _retrieval_mod.bm25_topk_from_postings(
        spark, _postings_path(spark, sf_dir)
    )


QUERIES["corpus_bm25_postings_topk"] = _bm25_postings
# identical results to the tokenize-on-read form, so the same oracle
ORACLES["corpus_bm25_postings_topk"] = _retrieval_mod.bm25_topk_oracle()

# crawl-delta postings maintenance (r14, VERDICT r13 task 4): the gate
# builds the layout on 90% of the corpus, APPENDS the other 10% as a
# crawl delta (append_to_postings_layout — delta-linear, frozen
# layout contract), then serves top-k from the appended layout.  The
# oracle is the FULL-corpus BM25 oracle, so the driver hash-checks the
# append==rebuild equivalence itself, not just a rows count.
_POSTINGS_APPEND_CACHE: dict = {}


def _postings_append_path(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _POSTINGS_APPEND_CACHE:
        import atexit
        import shutil
        import tempfile

        import pyspark.sql.functions as F

        path = tempfile.mkdtemp(prefix="postings_append_layout_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        docs = T.load_tables(spark, sf_dir)["documents"]
        _retrieval_mod.write_postings_layout(
            docs.filter(F.col("doc_id") % 10 != 0), path
        )
        _retrieval_mod.append_to_postings_layout(
            docs.filter(F.col("doc_id") % 10 == 0), path
        )
        _POSTINGS_APPEND_CACHE[key] = path
    return _POSTINGS_APPEND_CACHE[key]


def _bm25_postings_appended(spark, sf_dir):
    return _retrieval_mod.bm25_topk_from_postings(
        spark, _postings_append_path(spark, sf_dir)
    )


QUERIES["corpus_bm25_postings_append_topk"] = _bm25_postings_appended
ORACLES["corpus_bm25_postings_append_topk"] = (
    _retrieval_mod.bm25_topk_oracle()
)

# STREAMED crawl ingest gates (r15, VERDICT r14 task 1's machinery under
# the driver's own hash check): the layout is built on 90% of the
# corpus and the other 10% arrives as a real Structured Streaming run
# (two micro-batches -> two staged segments, installed by atomic
# rename).  `staged` serves the base+staged union; `compacted` folds
# the segments through the crash-safe generation-pointer commit and
# serves the PLAIN layout read, which resolves the CURRENT pointer to
# the new generation.  Both score against the FULL-corpus one-pass
# oracle, so the driver itself proves stream==batch and fold==rebuild.
_STAGED_POSTINGS_CACHE: dict = {}


def _staged_postings_path(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _STAGED_POSTINGS_CACHE:
        import atexit
        import shutil
        import tempfile

        import pyspark.sql.functions as F

        root = tempfile.mkdtemp(prefix="postings_staged_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        docs = T.load_tables(spark, sf_dir)["documents"]
        layout = f"{root}/layout"
        _retrieval_mod.write_postings_layout(
            docs.filter(F.col("doc_id") % 10 != 0), layout
        )
        src = f"{root}/delta_src"
        docs.filter(F.col("doc_id") % 10 == 0).repartition(2).write.parquet(
            src
        )
        from pithos_spark.streaming import ingest as _ing

        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = _ing.streaming_postings_ingest(stream, layout, f"{root}/ckpt")
        q.awaitTermination(600)
        q.stop()
        _STAGED_POSTINGS_CACHE[key] = layout
    return _STAGED_POSTINGS_CACHE[key]


def _bm25_postings_staged(spark, sf_dir):
    from pithos_spark.streaming import ingest as _ing

    return _ing.bm25_topk_with_staged(
        spark, _staged_postings_path(spark, sf_dir)
    )


QUERIES["corpus_bm25_postings_staged_topk"] = _bm25_postings_staged
ORACLES["corpus_bm25_postings_staged_topk"] = (
    _retrieval_mod.bm25_topk_oracle()
)

_COMPACTED_POSTINGS_CACHE: dict = {}


def _compacted_postings_path(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _COMPACTED_POSTINGS_CACHE:
        import atexit
        import shutil
        import tempfile

        from pithos_spark.streaming import ingest as _ing

        staged = _staged_postings_path(spark, sf_dir)
        root = tempfile.mkdtemp(prefix="postings_compacted_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        layout = f"{root}/layout"
        shutil.copytree(staged, layout)
        _ing.compact_staged_postings(spark, layout)
        _COMPACTED_POSTINGS_CACHE[key] = layout
    return _COMPACTED_POSTINGS_CACHE[key]


def _bm25_postings_compacted(spark, sf_dir):
    return _retrieval_mod.bm25_topk_from_postings(
        spark, _compacted_postings_path(spark, sf_dir)
    )


QUERIES["corpus_bm25_postings_compacted_topk"] = _bm25_postings_compacted
ORACLES["corpus_bm25_postings_compacted_topk"] = (
    _retrieval_mod.bm25_topk_oracle()
)
QUERIES["corpus_hybrid_search_rrf"] = _hybrid
ORACLES["corpus_hybrid_search_rrf"] = _retrieval_mod.hybrid_rrf_topk_oracle()


def _rerank(spark, sf_dir):
    from pithos_spark.functions import retrieval

    return retrieval.rerank_crossencoder_stub(
        T.load_tables(spark, sf_dir)["documents"]
    )


QUERIES["corpus_rerank_stub"] = _rerank
ORACLES["corpus_rerank_stub"] = (
    _retrieval_mod.rerank_crossencoder_stub_oracle()
)


def _pack(spark, sf_dir):
    from pithos_spark.functions.curate import pack_sequences

    t = T.load_tables(spark, sf_dir)
    return pack_sequences(t["documents"])


QUERIES["corpus_pack_sequences"] = _pack
ORACLES["corpus_pack_sequences"] = PACK_SEQUENCES_SQL


def _mix(spark, sf_dir):
    from pithos_spark.functions.curate import sample_mix

    t = T.load_tables(spark, sf_dir)
    return sample_mix(t["documents"])


QUERIES["corpus_sample_mix"] = _mix
ORACLES["corpus_sample_mix"] = sample_mix_oracle()


@register(
    "metadata_header_filter",
    """\
SELECT c_custkey,
       concat_ws(',',
           'content-type=' || c_mktsegment,
           CASE WHEN c_custkey % 3 = 0
                THEN 'x-amz-meta-tag=' || CAST(c_nationkey AS VARCHAR) END
       ) AS kept_headers
FROM customer
ORDER BY c_custkey
LIMIT 500""",
)
def metadata_header_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 as a driver-gated map-column query (operations.clj:83-94):
    construct a headers map per customer with whitelisted
    (content-type), x-amz-meta-*, and junk entries; map_filter keeps
    only the legal ones.  The constructed keys are static, so the
    oracle states the surviving entries directly — a green hash proves
    the whitelist predicate keeps exactly the right keys, in
    deterministic (sorted-key) render order."""
    import pyspark.sql.functions as F

    from pithos_spark.functions.scalars import filter_metadata_headers

    t = T.load_tables(spark, sf_dir)
    c = t["customer"]
    headers = F.map_filter(
        F.create_map(
            F.lit("content-type"), F.col("c_mktsegment"),
            F.lit("x-bogus"), F.col("c_name"),
            F.lit("x-amz-meta-tag"), F.col("c_nationkey").cast("string"),
            F.lit("authorization"), F.lit("secret"),
        ),
        # x-amz-meta-tag only for every third customer so both the kept
        # and absent paths appear
        lambda k, _v: (k != F.lit("x-amz-meta-tag"))
        | (F.col("c_custkey") % 3 == 0),
    )
    kept = filter_metadata_headers(headers)
    rendered = F.array_join(
        F.transform(
            F.array_sort(F.map_keys(kept)),
            lambda k: F.concat(k, F.lit("="), F.element_at(kept, k)),
        ),
        ",",
    )
    return (
        c.select("c_custkey", rendered.alias("kept_headers"))
        .orderBy("c_custkey")
        .limit(500)
    )


@register(
    "scalar_conversions",
    """\
SELECT o_orderkey,
       to_base64(encode(o_orderpriority)) AS prio_b64,
       o_orderpriority AS url_roundtrip,
       strftime(o_orderdate, '%a, %d %b %Y %H:%M:%S') || ' GMT' AS rfc822,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso8601
FROM orders
ORDER BY o_orderkey
LIMIT 500""",
)
def scalar_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level twins of the C5/C7/C9 scalar helpers, oracle-gated:
    base64 of utf-8 bytes, url_decode inverting a constructed %-encoding
    (DuckDB lacks url functions, so the oracle yields the decoded
    original directly — the gate proves Spark's decode inverts the
    encoding), and RFC822/ISO8601 timestamp rendering (util.clj:16-33
    date helpers as expressions)."""
    import pyspark.sql.functions as F

    t = T.load_tables(spark, sf_dir)
    o = t["orders"]
    return (
        o.select(
            "o_orderkey",
            F.base64(F.col("o_orderpriority").cast("binary")).alias("prio_b64"),
            F.url_decode(
                F.replace(
                    F.col("o_orderpriority"), F.lit(" "), F.lit("%20")
                )
            ).alias("url_roundtrip"),
            F.concat(
                F.date_format("o_orderdate", "EEE, dd MMM yyyy HH:mm:ss"),
                F.lit(" GMT"),
            ).alias("rfc822"),
            F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias(
                "iso8601"
            ),
        )
        .orderBy("o_orderkey")
        .limit(500)
    )


@register(
    "acl_edn_grants",
    T.with_model(
        """\
SELECT bucket, perm, grantee_id, grantee_type
FROM (
    SELECT bucket, 'FULL_CONTROL' AS perm, tenant AS grantee_id,
           'canonical' AS grantee_type
    FROM buckets
    UNION ALL
    SELECT bucket, 'READ', 'anonymous', 'group'
    FROM buckets WHERE bucket_seq % 2 = 0
    UNION ALL
    SELECT bucket, 'WRITE', 'user_' || CAST(bucket_seq AS VARCHAR), 'canonical'
    FROM buckets WHERE bucket_seq % 3 = 0
)
ORDER BY bucket, perm, grantee_id"""
    ),
)
def acl_edn_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDN migration loader end-to-end (SURVEY §7.4.3; the reference
    persists ACLs as pr-str'd EDN, src/io/pithos/perms.clj:25
    read-string / operations.clj:306 pr-str): construct the stored-EDN
    text per bucket, parse it back with the Arrow-batched EDN UDF, and
    explode into the typed grants table.  The oracle derives the same
    rows directly from the model fields, so a green hash proves the
    parser exactly inverts the pr-str encoding."""
    import pyspark.sql.functions as F

    from pithos_spark.functions import edn as E

    t = T.load_tables(spark, sf_dir)
    b = T.buckets_df(t)
    acl_edn = F.concat(
        F.lit('{:FULL_CONTROL [{:ID "'),
        F.col("tenant"),
        F.lit('", :DisplayName "'),
        F.col("tenant"),
        F.lit('"}]'),
        F.when(
            F.col("bucket_seq") % 2 == 0,
            F.lit(', :READ [{:URI "anonymous", :DisplayName "anonymous"}]'),
        ).otherwise(F.lit("")),
        F.when(
            F.col("bucket_seq") % 3 == 0,
            F.concat(
                F.lit(', :WRITE [{:ID "user_'),
                F.col("bucket_seq").cast("string"),
                F.lit('"}]'),
            ),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    src = b.withColumn("acl_edn", acl_edn)
    return E.grants_from_edn(src, "acl_edn", ["bucket"]).orderBy(
        "bucket", "perm", "grantee_id"
    )


def _semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style near-dup pairs blocked by trained Lloyd cluster
    (similarity.semantic_dedup_pairs) — the semantic complement of the
    random-hyperplane blocking in dedup_embedding_lsh; fully
    oracle-gated (the Lloyd rounds unroll as CTEs)."""
    return similarity.semantic_dedup_pairs(
        T.load_tables(spark, sf_dir)["embeddings"]
    )


QUERIES["dedup_semantic"] = _semantic_dedup
ORACLES["dedup_semantic"] = similarity.semantic_dedup_pairs_oracle()

# SemDeDup over the PERSISTED IVF index (r13): the sweep pays no Lloyd
# passes — it reads the frozen cluster assignments (build_ivf_lloyd_index
# saved by save_ivf_index, same params as dedup_semantic) and runs the
# capped in-cluster pair join.  Stored assignments are value-identical
# to a fresh train, so the gate shares the train-in-query oracle.
_SEM_INDEX_CACHE: dict = {}


def _semantic_index_path(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SEM_INDEX_CACHE:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="sem_ivf_index_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        assigned, centers = similarity.build_ivf_lloyd_index(
            T.load_tables(spark, sf_dir)["embeddings"], 64, 2
        )
        similarity.save_ivf_index(assigned, centers, path)
        _SEM_INDEX_CACHE[key] = path
    return _SEM_INDEX_CACHE[key]


def _semantic_dedup_from_layout(spark, sf_dir):
    return similarity.semantic_dedup_pairs_from_layout(
        spark, _semantic_index_path(spark, sf_dir)
    )


QUERIES["dedup_semantic_from_layout"] = _semantic_dedup_from_layout
ORACLES["dedup_semantic_from_layout"] = similarity.semantic_dedup_pairs_oracle()

# the embedding dedup LADDER (r13): per-tier near-dup pair counts —
# cosine recall ceiling, LSH-bucket, PQ shared-code, semantic cluster —
# the vector-side counterpart of dedup_ladder_report and the measured
# blocking-strategy recall comparison a curation run records per
# snapshot.
QUERIES["dedup_embedding_ladder"] = _emb_query(
    similarity.embedding_dedup_ladder
)
ORACLES["dedup_embedding_ladder"] = (
    similarity.embedding_dedup_ladder_oracle()
)


def _projected_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection ANN (similarity.projected_topk): JL shortlist
    in 16 integer components, exact full-dim rerank — the
    dimensionality-reduction scale path, fully oracle-gated."""
    return similarity.projected_topk(
        T.load_tables(spark, sf_dir)["embeddings"], 0, 10
    )


QUERIES["ann_projected_topk"] = _projected_topk
ORACLES["ann_projected_topk"] = similarity.projected_topk_oracle(0, 10)




def _ppl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity-proxy gate (text.perplexity_filter): the
    CCNet-style 'cheap LM, drop the tails' filter, integer-exact."""
    from pithos_spark.functions.text import perplexity_filter

    return perplexity_filter(T.load_tables(spark, sf_dir)["documents"])


from pithos_spark.functions.text import perplexity_filter_oracle  # noqa: E402

QUERIES["corpus_perplexity_filter"] = _ppl_filter
ORACLES["corpus_perplexity_filter"] = perplexity_filter_oracle()


def _fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source BPE-proxy tokenizer fertility (text.tokenizer_fertility)
    — the words-to-training-tokens conversion a token-budget plan uses."""
    from pithos_spark.functions.text import tokenizer_fertility

    return tokenizer_fertility(T.load_tables(spark, sf_dir)["documents"])


from pithos_spark.functions.text import TOKENIZER_FERTILITY_SQL  # noqa: E402

QUERIES["corpus_tokenizer_fertility"] = _fertility
ORACLES["corpus_tokenizer_fertility"] = TOKENIZER_FERTILITY_SQL


def _topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-semantic-cluster top terms (similarity.semantic_topics) —
    Lloyd clusters joined back to document text; the corpus-region
    readout a mixing decision reviews."""
    t = T.load_tables(spark, sf_dir)
    return similarity.semantic_topics(t["embeddings"], t["documents"])


QUERIES["corpus_semantic_topics"] = _topics
ORACLES["corpus_semantic_topics"] = similarity.semantic_topics_oracle()


def _semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup components (similarity.semantic_dedup_clusters):
    pairs resolved into keep/drop groups via distributed min-label
    propagation; the oracle closes the graph with a recursive CTE."""
    return similarity.semantic_dedup_clusters(
        T.load_tables(spark, sf_dir)["embeddings"]
    )


QUERIES["dedup_semantic_clusters"] = _semantic_clusters
ORACLES["dedup_semantic_clusters"] = similarity.semantic_dedup_clusters_oracle()


def _chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunker (curate.chunk_windows): overlapping token windows
    with deterministic boundaries; chunk text carried as its portable
    hash."""
    from pithos_spark.functions.curate import chunk_windows

    return chunk_windows(T.load_tables(spark, sf_dir)["documents"])


from pithos_spark.functions.curate import chunk_windows_oracle  # noqa: E402

QUERIES["corpus_chunk_windows"] = _chunks
ORACLES["corpus_chunk_windows"] = chunk_windows_oracle()


from pithos_spark.operators import dispatch as _dispatch  # noqa: E402


@register(
    "s3_resolve_operations",
    T.with_model(_dispatch.resolve_operations_summary_oracle()),
)
def s3_resolve_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 request dispatch end-to-end: a synthetic access log (one
    request per object, method/URI-shape/vhost/action keyed off the
    order key) resolved through vhost rewrite → route target →
    ``method-target[-action]`` naming → opmap broadcast join
    (request.clj:106-160,201-217; operations.clj:820-944,999-1034),
    rolled up per resolved operation.  The oracle rebuilds the identical
    log and dispatch table in SQL, so a green hash proves the full
    resolution pipeline — including the unknown-operation fallback —
    agrees row-for-row."""
    t = T.load_tables(spark, sf_dir)
    return _dispatch.resolve_operations_summary(
        _dispatch.synth_requests(t), _dispatch.opmap_df(spark)
    )


@register("events_api_traffic", _dispatch.api_traffic_hourly_oracle())
def events_api_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly API-traffic rollup: the event stream mapped to S3 requests
    and resolved through the dispatch opmap (operators/dispatch.py) —
    §2.11 resolution integrated with event-time windowing; the
    streaming twin binds the same transformation onto a watermarked
    readStream source (tests/test_streaming.py proves convergence)."""
    t = T.load_tables(spark, sf_dir)
    return _dispatch.api_traffic_hourly(t["events"], _dispatch.opmap_df(spark))


# added mid-r10 AFTER this round's window froze (the full-window
# driver_sim had already run): pytest-oracle-proven, queued for r11's
# ROUND_NEW behind the 12 slipped r7s documented at DRIVER_PRIORITY.


def _containment(spark, sf_dir):
    """Asymmetric containment near-dup (dedup.containment_pairs): the
    sub-document duplication pass (|A intersect B| / |A|) that
    resemblance Jaccard misses; prefix-filtered candidates, exact
    verify.  threshold 50 at sf0.01 keeps the check non-vacuous (the
    synthetic corpus has few >=80% containments)."""
    return dedup.containment_pairs(
        T.load_tables(spark, sf_dir)["documents"], threshold_pct=50
    )


QUERIES["dedup_containment"] = _containment
ORACLES["dedup_containment"] = dedup.containment_pairs_oracle(
    threshold_pct=50
)


def _epoch_shuffle(spark, sf_dir):
    """Deterministic multi-epoch training order
    (curate.epoch_shuffle): RNG-free reshuffled (shard, position) per
    epoch — resumable data order for a 100 TB training job."""
    from pithos_spark.functions.curate import epoch_shuffle

    return epoch_shuffle(T.load_tables(spark, sf_dir)["documents"])


from pithos_spark.functions.curate import epoch_shuffle_oracle  # noqa: E402

QUERIES["corpus_epoch_shuffle"] = _epoch_shuffle
ORACLES["corpus_epoch_shuffle"] = epoch_shuffle_oracle()


def _quality_classifier(spark, sf_dir):
    """Linear quality-classifier scoring (text.quality_classifier_score):
    hashed bag-of-tokens features, broadcast weight-table join, integer
    token-averaged logit — the trained-filter stage after the heuristic
    gates.  Deterministic stand-in weights (the rerank-stub pattern); a
    real fastText/logistic export replaces one table."""
    from pithos_spark.functions.text import quality_classifier_score

    return quality_classifier_score(T.load_tables(spark, sf_dir)["documents"])


from pithos_spark.functions.text import (  # noqa: E402
    quality_classifier_score_oracle,
)

QUERIES["corpus_quality_classifier"] = _quality_classifier
ORACLES["corpus_quality_classifier"] = quality_classifier_score_oracle()


# the TRAINED-weights form (VERDICT r10 task 6): weights come from
# train_classifier_weights over a disjoint weak-labeled slice
# (doc_id % 4 == 0, label = n_chars >= 300 — the corpus median is
# ~306, so both classes are populated), scoring over the rest.  The
# whole train-then-score pipeline is oracle-gated; the broadcast-join
# scoring plan is unchanged from the stand-in gate.
_QC_TRAIN_PRED = "doc_id % 4 = 0"
_QC_SCORE_PRED = "doc_id % 4 <> 0"
_QC_LABEL = "n_chars >= 300"


def _quality_classifier_trained(spark, sf_dir):
    """Train the linear gate's weight export on the weak-labeled 1/4
    slice, score the 3/4 slice (text.train_classifier_weights +
    quality_classifier_score)."""
    import pyspark.sql.functions as F

    from pithos_spark.functions.text import (
        quality_classifier_score,
        train_classifier_weights,
    )

    docs = T.load_tables(spark, sf_dir)["documents"]
    weights = train_classifier_weights(
        docs.filter(_QC_TRAIN_PRED).withColumn(
            "label", F.expr(_QC_LABEL).cast("int")
        )
    )
    return quality_classifier_score(
        docs.filter(_QC_SCORE_PRED), weights=weights
    )


def _quality_classifier_from_layout(spark, sf_dir):
    """The weights-layout twin (r12): train_classifier_weights' output
    persisted once per (session, sf_dir), scoring reads + broadcasts
    the stored table — bit-identical to the train-in-query gate, so
    the same oracle."""
    import pyspark.sql.functions as F

    from pithos_spark.functions.text import (
        quality_classifier_from_layout,
        write_classifier_weights_layout,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _QC_WEIGHTS_CACHE:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="classifier_weights_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        docs = T.load_tables(spark, sf_dir)["documents"]
        write_classifier_weights_layout(
            docs.filter(_QC_TRAIN_PRED).withColumn(
                "label", F.expr(_QC_LABEL).cast("int")
            ),
            path,
        )
        _QC_WEIGHTS_CACHE[key] = path
    docs = T.load_tables(spark, sf_dir)["documents"]
    return quality_classifier_from_layout(
        docs.filter(_QC_SCORE_PRED), _QC_WEIGHTS_CACHE[key]
    )


_QC_WEIGHTS_CACHE: dict = {}


from pithos_spark.functions.text import (  # noqa: E402
    quality_classifier_trained_oracle,
)

QUERIES["corpus_quality_classifier_trained"] = _quality_classifier_trained
ORACLES["corpus_quality_classifier_trained"] = (
    quality_classifier_trained_oracle(
        score_pred=_QC_SCORE_PRED,
        train_pred=_QC_TRAIN_PRED,
        label_expr=_QC_LABEL,
    )
)
QUERIES["corpus_quality_classifier_from_layout"] = (
    _quality_classifier_from_layout
)
ORACLES["corpus_quality_classifier_from_layout"] = (
    quality_classifier_trained_oracle(
        score_pred=_QC_SCORE_PRED,
        train_pred=_QC_TRAIN_PRED,
        label_expr=_QC_LABEL,
    )
)

# Jelinek-Mercer interpolated trigram gate (the bigram perplexity
# proxy upgraded to the standard backoff family).  Bands 45/60 instead
# of the defaults: the synthetic corpus's interpolated scores sit in
# [41, 89] permille at sf0.01, so these produce all three verdicts
# non-vacuously.
QUERIES["corpus_trigram_interp"] = _doc_query(
    text.trigram_interp_score, low=45, high=60
)
ORACLES["corpus_trigram_interp"] = text.trigram_interp_score_oracle(
    low=45, high=60
)

# audio near-dup over the multimodal column (Haitsma-Kalker-shaped
# temporal-difference fingerprint, banded like the image dHash).
# max_hamming=8, not the function's strict 6: the synthetic clip
# payloads are word soup, so near neighbors sit at hamming 5-8 — 8
# keeps the driver check non-vacuous (47 selective pairs at sf0.01)
# while the planted-near-dup test exercises the tight default.
QUERIES["dedup_audio_fingerprint"] = _doc_query(
    dedup.audio_near_pairs, max_hamming=8
)
ORACLES["dedup_audio_fingerprint"] = dedup.audio_near_pairs_oracle(
    max_hamming=8
)

# video near-dup (8-frame spatial signature, one band per frame) —
# max_hamming=20 for the same non-vacuity reason as the image/audio
# tiers (word-soup payloads; nearest perceptual neighbors sit higher
# than real re-encodes would).
QUERIES["dedup_video_frames"] = _doc_query(
    dedup.video_near_pairs, max_hamming=20
)
ORACLES["dedup_video_frames"] = dedup.video_near_pairs_oracle(
    max_hamming=20
)


# held-out trigram LM gate (VERDICT r10 task 5): the corpus slice
# doc_id % 4 != 0 is scored under an LM estimated ONLY from the
# disjoint doc_id % 4 == 0 slice — the left-join unseen-gram backoff
# path runs with real zeros (scored docs whose grams the LM never saw).
_TRI_SCORE_PRED = "doc_id % 4 <> 0"
_TRI_LM_PRED = "doc_id % 4 = 0"


def _trigram_heldout(spark, sf_dir):
    """Score the 3/4 corpus slice under the held-out 1/4-slice trigram
    LM (functions/text.trigram_heldout_score)."""
    docs = T.load_tables(spark, sf_dir)["documents"]
    return text.trigram_heldout_score(
        docs.filter(_TRI_SCORE_PRED), docs.filter(_TRI_LM_PRED)
    )


QUERIES["corpus_trigram_heldout"] = _trigram_heldout
ORACLES["corpus_trigram_heldout"] = text.trigram_heldout_score_oracle(
    score_pred=_TRI_SCORE_PRED, lm_pred=_TRI_LM_PRED
)

# held-out scoring from the MATERIALIZED gram layout (r12, VERDICT r11
# task 4): the five LM count tables built once per (session, sf_dir)
# via write_trigram_lm_layout, bucket-partitioned by gram hash; scoring
# joins the stored counts — bit-identical to corpus_trigram_heldout
# (same _trigram_score tail, value-identical counts), so same oracle.
_TRIGRAM_LAYOUT_CACHE: dict = {}


def _trigram_layout_path(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _TRIGRAM_LAYOUT_CACHE:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="trigram_lm_layout_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        text.write_trigram_lm_layout(
            T.load_tables(spark, sf_dir)["documents"].filter(_TRI_LM_PRED),
            path,
        )
        _TRIGRAM_LAYOUT_CACHE[key] = path
    return _TRIGRAM_LAYOUT_CACHE[key]


def _trigram_heldout_from_layout(spark, sf_dir):
    docs = T.load_tables(spark, sf_dir)["documents"]
    return text.trigram_heldout_from_layout(
        docs.filter(_TRI_SCORE_PRED), _trigram_layout_path(spark, sf_dir)
    )


QUERIES["corpus_trigram_heldout_from_layout"] = _trigram_heldout_from_layout
ORACLES["corpus_trigram_heldout_from_layout"] = text.trigram_heldout_score_oracle(
    score_pred=_TRI_SCORE_PRED, lm_pred=_TRI_LM_PRED
)

# crawl-delta gram-table maintenance (r14, VERDICT r13 task 4): build
# the gram layout on the LM slice minus a 10% delta, APPEND the delta
# (append_to_trigram_lm_layout — frozen bucket count, per-segment
# partial rows, LSM read-merge), then score against the appended
# layout.  Oracle = the one-pass full-LM heldout oracle, so the driver
# hash-checks append==rebuild end to end.
_TRIGRAM_APPEND_CACHE: dict = {}


def _trigram_append_path(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _TRIGRAM_APPEND_CACHE:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="trigram_append_layout_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        lm = T.load_tables(spark, sf_dir)["documents"].filter(_TRI_LM_PRED)
        text.write_trigram_lm_layout(lm.filter("doc_id % 40 <> 0"), path)
        text.append_to_trigram_lm_layout(
            lm.filter("doc_id % 40 = 0"), path
        )
        _TRIGRAM_APPEND_CACHE[key] = path
    return _TRIGRAM_APPEND_CACHE[key]


def _trigram_heldout_appended(spark, sf_dir):
    docs = T.load_tables(spark, sf_dir)["documents"]
    return text.trigram_heldout_from_layout(
        docs.filter(_TRI_SCORE_PRED), _trigram_append_path(spark, sf_dir)
    )


QUERIES["corpus_trigram_heldout_appended"] = _trigram_heldout_appended
ORACLES["corpus_trigram_heldout_appended"] = text.trigram_heldout_score_oracle(
    score_pred=_TRI_SCORE_PRED, lm_pred=_TRI_LM_PRED
)


# LSM segment-occupancy telemetry over the appended gram layout (r14):
# per count table, gram keys vs stored partial rows and max/avg
# segments per gram — what the read merge pays per query and the
# compaction-sizing readout.  The oracle derives segments-per-gram
# from the base/delta slices' distinct gram sets directly, so the
# driver hash-proves the layout holds EXACTLY one partial row per gram
# per segment it appears in (queued for the r15 window).
def _trigram_segment_stats(spark, sf_dir):
    return text.trigram_segment_stats(
        spark, _trigram_append_path(spark, sf_dir)
    )


QUERIES["corpus_trigram_segment_stats"] = _trigram_segment_stats
ORACLES["corpus_trigram_segment_stats"] = text.trigram_segment_stats_oracle(
    base_pred=f"({_TRI_LM_PRED}) AND doc_id % 40 <> 0",
    delta_pred="doc_id % 40 = 0",
)


# STREAMED gram-table ingest gate (r15 — the trigram twin of
# corpus_bm25_postings_staged_topk): base layout on the LM slice minus
# a 2.5% delta, the delta arrives as a two-micro-batch stream into
# atomic staged segments, and held-out scoring over base ∪ staged must
# hash-match the one-pass full-LM oracle — stream==batch proven by the
# driver itself.
_TRIGRAM_STAGED_CACHE: dict = {}


def _trigram_staged_path(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _TRIGRAM_STAGED_CACHE:
        import atexit
        import shutil
        import tempfile

        from pithos_spark.streaming import ingest as _ing

        root = tempfile.mkdtemp(prefix="trigram_staged_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        lm = T.load_tables(spark, sf_dir)["documents"].filter(_TRI_LM_PRED)
        layout = f"{root}/layout"
        text.write_trigram_lm_layout(lm.filter("doc_id % 40 <> 0"), layout)
        src = f"{root}/delta_src"
        lm.filter("doc_id % 40 = 0").repartition(2).write.parquet(src)
        stream = (
            spark.readStream.schema(lm.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = _ing.streaming_trigram_ingest(stream, layout, f"{root}/ckpt")
        q.awaitTermination(600)
        q.stop()
        _TRIGRAM_STAGED_CACHE[key] = layout
    return _TRIGRAM_STAGED_CACHE[key]


def _trigram_heldout_staged(spark, sf_dir):
    from pithos_spark.streaming import ingest as _ing

    docs = T.load_tables(spark, sf_dir)["documents"]
    return _ing.trigram_heldout_with_staged(
        docs.filter(_TRI_SCORE_PRED), _trigram_staged_path(spark, sf_dir)
    )


QUERIES["corpus_trigram_heldout_staged"] = _trigram_heldout_staged
ORACLES["corpus_trigram_heldout_staged"] = text.trigram_heldout_score_oracle(
    score_pred=_TRI_SCORE_PRED, lm_pred=_TRI_LM_PRED
)

# the probe-pruned layout read as its own driver gate (r14): scoring a
# SMALL probe slice reads only the gram-bucket partitions the probe's
# grams hash into (static b IN PartitionFilters, plan-pinned in
# tests/test_plans.py) — and the oracle is the full derive-on-read
# heldout oracle restricted to the probe, so the driver hash-proves
# that pruning cannot change a score (a pruned-away bucket holds only
# grams the probe never joins).
_TRI_PROBE_PRED = "doc_id % 16 = 1"  # disjoint from the LM slice (%4=0)


def _trigram_probe_pruned(spark, sf_dir):
    docs = T.load_tables(spark, sf_dir)["documents"]
    return text.trigram_probe_from_layout(
        docs.filter(_TRI_PROBE_PRED), _trigram_layout_path(spark, sf_dir)
    )


QUERIES["corpus_trigram_probe_pruned"] = _trigram_probe_pruned
ORACLES["corpus_trigram_probe_pruned"] = text.trigram_heldout_score_oracle(
    score_pred=_TRI_PROBE_PRED, lm_pred=_TRI_LM_PRED
)


# frozen-tokenizer gate (r11): BPE trained on the held-out 1/4 slice,
# applied to the 3/4 corpus — per-source fertility under a tokenizer
# the scored text never trained (bpe_segment_stats is the self-applied
# twin).  Unseen-word segmentation replays the trained rules.
def _bpe_heldout(spark, sf_dir):
    """Train BPE on the held-out slice, tokenize the rest
    (functions/text.bpe_heldout_fertility)."""
    docs = T.load_tables(spark, sf_dir)["documents"]
    return text.bpe_heldout_fertility(
        docs.filter(_TRI_SCORE_PRED), docs.filter(_TRI_LM_PRED)
    )


QUERIES["corpus_bpe_heldout_fertility"] = _bpe_heldout
ORACLES["corpus_bpe_heldout_fertility"] = text.bpe_heldout_fertility_oracle(
    score_pred=_TRI_SCORE_PRED, lm_pred=_TRI_LM_PRED
)


# ---------------------------------------------------------------------------
# r17: the objects listing layout's LSM lifecycle — streamed mutation
# segments (upserts, inserts, tombstones) served through a
# last-write-wins merge, then folded.  The mutation batches are a
# DETERMINISTIC function of the objects table so the DuckDB oracle can
# replay the final state as a CTE; tests/test_streaming.py proves the
# streamed state equals the batch MERGE/DELETE ops and survives the
# crash matrix, these gates hash-check the end state + listing.
# ---------------------------------------------------------------------------


def objects_lsm_mutations(base: DataFrame):
    """The two demo mutation batches over an objects table (shared by
    the LSM gates, their oracle CTE, and the lifecycle tests): batch 1
    upserts every inode%7==3 key (size+1000, re-checksummed '-v2') and
    inserts a 9-INSERTED/<inode> key per inode%13==7 row; batch 2
    tombstones inode%11==5 and re-upserts inode%21==3 (size+2000,
    '-v3') — overriding batch 1 for the overlap, so cross-segment
    last-write-wins is exercised.  A key appears at most once per
    batch (the ingest contract)."""
    import pyspark.sql.functions as F

    ik = F.col("inode").cast("long")
    up1 = (
        base.filter(ik % 7 == 3)
        .withColumn("size", F.col("size") + 1000)
        .withColumn(
            "checksum", F.md5(F.concat(F.col("inode"), F.lit("-v2")))
        )
    )
    ins1 = base.filter(ik % 13 == 7).withColumn(
        "object", F.concat(F.lit("9-INSERTED/"), F.col("inode"))
    )
    batch1 = up1.unionByName(ins1).withColumn("_tombstone", F.lit(False))
    tomb2 = base.filter(ik % 11 == 5).withColumn("_tombstone", F.lit(True))
    up2 = (
        base.filter((ik % 7 == 3) & (ik % 3 == 0) & ~(ik % 11 == 5))
        .withColumn("size", F.col("size") + 2000)
        .withColumn(
            "checksum", F.md5(F.concat(F.col("inode"), F.lit("-v3")))
        )
        .withColumn("_tombstone", F.lit(False))
    )
    return batch1, tomb2.unionByName(up2)


# the SQL twin of the final LSM state (base -> mutations applied) —
# composes over the model's `objects` CTE
_LSM_STATE_CTE = """lsm_state AS (
    SELECT bucket, object, inode,
           CASE WHEN CAST(inode AS BIGINT) % 7 = 3
                     AND CAST(inode AS BIGINT) % 3 = 0 THEN size + 2000
                WHEN CAST(inode AS BIGINT) % 7 = 3 THEN size + 1000
                ELSE size END AS size,
           atime,
           CASE WHEN CAST(inode AS BIGINT) % 7 = 3
                     AND CAST(inode AS BIGINT) % 3 = 0
                     THEN md5(inode || '-v3')
                WHEN CAST(inode AS BIGINT) % 7 = 3
                     THEN md5(inode || '-v2')
                ELSE checksum END AS checksum,
           acl, storageclass, owner
    FROM objects WHERE CAST(inode AS BIGINT) % 11 <> 5
    UNION ALL
    SELECT bucket, '9-INSERTED/' || inode AS object, inode, size,
           atime, checksum, acl, storageclass, owner
    FROM objects WHERE CAST(inode AS BIGINT) % 13 = 7
)"""

_OBJECTS_LSM_CACHE: dict = {}


def _objects_lsm_paths(spark, sf_dir):
    """Session-cached pair of LSM objects layouts: one left STAGED
    (base + the two streamed mutation segments, unfolded) and one
    COMPACTED (same mutations, folded through the generation commit).
    Built once per (session, sf)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _OBJECTS_LSM_CACHE:
        import atexit
        import shutil
        import tempfile

        import pithos_spark.streaming.ingest as _ing

        base = T.objects_df(T.load_tables(spark, sf_dir))
        batch1, batch2 = objects_lsm_mutations(base)

        def build(fold: bool) -> str:
            root = tempfile.mkdtemp(prefix="objects_lsm_")
            atexit.register(shutil.rmtree, root, ignore_errors=True)
            layout = f"{root}/layout"
            _ing.save_objects_layout(base, layout)
            src = f"{root}/src"
            ckpt = f"{root}/ckpt"
            for batch in (batch1, batch2):
                batch.write.mode("append").parquet(src)
                q = _ing.streaming_objects_ingest(
                    spark.readStream.schema(batch1.schema).parquet(src),
                    layout,
                    ckpt,
                )
                q.awaitTermination(120)
                q.stop()
            if fold:
                _ing.compact_staged_objects(spark, layout)
            return layout

        _OBJECTS_LSM_CACHE[key] = (build(False), build(True))
    return _OBJECTS_LSM_CACHE[key]


def _objects_lsm_staged_listing(spark, sf_dir):
    """Root ListObjects over the STAGED LSM view: streamed PUTs are
    listable (the 9-INSERTED/ prefix appears), DELETEs unlistable,
    upserts override — before any fold."""
    import pithos_spark.streaming.ingest as _ing

    staged, _ = _objects_lsm_paths(spark, sf_dir)
    return _ing.list_objects_with_staged(
        spark, staged, "NATION_2", "", "/", None, 1000
    )


QUERIES["objects_lsm_staged_listing"] = _objects_lsm_staged_listing
ORACLES["objects_lsm_staged_listing"] = T.with_model(
    ", "
    + _LSM_STATE_CTE
    + listing.list_objects_oracle(
        bucket="NATION_2", prefix="", delimiter="/", max_keys=1000
    ).replace("FROM objects WHERE", "FROM lsm_state WHERE", 1)
)


def _objects_lsm_compacted_state(spark, sf_dir):
    """One bucket's full post-fold state: the compacted generation's
    plain partitioned read (no merge window left in the plan)."""
    import pyspark.sql.functions as F

    from pithos_spark.functions.layoutcommit import read_current

    _, compacted = _objects_lsm_paths(spark, sf_dir)
    root = read_current(compacted)
    return (
        spark.read.parquet(f"{root}/objects")
        .filter(F.col("bucket") == "NATION_0")
        .select("bucket", "object", "inode", "size", "checksum")
        .orderBy("object")
    )


QUERIES["objects_lsm_compacted_state"] = _objects_lsm_compacted_state
ORACLES["objects_lsm_compacted_state"] = T.with_model(
    ", "
    + _LSM_STATE_CTE
    + """
SELECT bucket, object, inode, size, checksum FROM lsm_state
WHERE bucket = 'NATION_0' ORDER BY object"""
)


# ---------------------------------------------------------------------------
# Driver verification window ordering.
#
# The driver's CORRECTNESS gate checks the FIRST 50 entries of the mapping
# returned by __spark_entry__.queries(), in insertion order.  Round 1 left
# list(QUERIES)[50:] (31 queries) without a driver verdict (VERDICT.md
# "What's wrong" #1).  DRIVER_PRIORITY places those 31, plus every query
# added in round 2, at the front of the window, keeping a small
# representative already-green core; everything else follows in insertion
# order (still runnable, just outside the 50-entry hard gate this round).
# ---------------------------------------------------------------------------

# Queries changed or added in the CURRENT round (17) — spliced at the
# very front of the window so they get a fresh verdict.  Two are NEW
# gates (the objects listing layout's LSM lifecycle — a brand-new
# operator pair must get its first driver verdict the round it
# lands); the other six are re-gates forced by this round's
# concurrency fixes (ADVICE r16):
#  - ann_pq_topk_staged / ann_ivfpq_residual_staged /
#    corpus_trigram_heldout_staged: the staged serves now resolve the
#    CURRENT generation ONCE and thread it through both the base read
#    and the staged mask (the fold-between-two-resolutions race);
#  - ann_pq_topk_compacted / ann_ivfpq_residual_compacted /
#    corpus_bm25_postings_compacted_topk: the post-fold staged_stats
#    GC is now file-level (never deletes files it didn't snapshot), so
#    a concurrent ingest's stats row can no longer be destroyed.
ROUND_NEW: list[str] = [
    "objects_lsm_staged_listing",
    "objects_lsm_compacted_state",
    "ann_pq_topk_staged",
    "ann_ivfpq_residual_staged",
    "corpus_trigram_heldout_staged",
    "ann_pq_topk_compacted",
    "ann_ivfpq_residual_compacted",
    "corpus_bm25_postings_compacted_topk",
]

# The stale backlog, oldest verdict first.  THIS LIST IS GENERATED,
# not hand-written (VERDICT r12 task 2; r13 task 8 removed the
# hand-written next-round name list that kept drifting): run `python
# scripts/verdict_histogram.py` and splice its stale cohorts (oldest
# verdict first, registry insertion order within a cohort) after
# ROUND_NEW until the 50-slot window is full.  No query names belong
# in this comment — the script is the only source of truth.
DRIVER_PRIORITY: list[str] = [
    # --- the whole r12-stale cohort (7) — r15 task 6's "nothing
    # staler than r13" target, displaced by r16's lifecycle re-gates,
    # finally drained (VERDICT r16 task 2) ---
    "corpus_sample_mix",
    "metadata_header_filter",
    "scalar_conversions",
    "corpus_quality_classifier_from_layout",
    "corpus_trigram_interp",
    "corpus_trigram_heldout",
    "corpus_bpe_heldout_fertility",
    # --- r13-stale, registry insertion order (35 of 48; the 13
    # remaining — corpus_temperature_mix_weights, its sample twin,
    # then corpus_decontaminate_semantic onward per
    # scripts/verdict_histogram.py — lead the r18 queue) ---
    "list_objects_root",
    "list_objects_flagship",
    "list_objects_paged",
    "list_objects_no_delim",
    "bucket_usage",
    "part_base_offsets",
    "complete_upload_validate",
    "object_checksums",
    "events_hourly_rollup",
    "events_sliding_activity",
    "events_dedup_first",
    "events_sessionize",
    "dedup_exact",
    "ann_pq_recall_report",
    "dedup_pq_code_stats",
    "dedup_pq_code_stats_from_layout",
    "ann_ivfpq_residual_batch_from_layout",
    "ann_ivfpq_residual_recall",
    "multipart_etag",
    "objects_latest_version",
    "orphan_chunk_gc",
    "payload_digest_verify",
    "get_object_point",
    "object_reassembly_verify",
    "dedup_embedding_cosine",
    "corpus_term_doc_freq",
    "corpus_top_terms_tfidf",
    "events_top_users_per_type",
    "events_heavy_hitters",
    "events_hourly_anomalies",
    "events_hourly_gapfill",
    "events_funnel",
    "events_asof_last_click",
    "events_trailing_hour_count",
    "usage_grouping_sets",
]

# No canary slots again: every DRIVER_PRIORITY entry doubles as a
# canary (none has ever failed), and 8 ROUND_NEW + 42 DRIVER_PRIORITY
# fills the 50-slot window exactly; after r17 nothing is staler than
# r13, and the 13 r13 leftovers (corpus_temperature_mix_weights and
# corpus_temperature_sample_mix joined the queue when the two NEW LSM
# gates took their slots) lead r18's queue.
GREEN_CORE: list[str] = []


def ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """QUERIES reordered so the driver's 50-entry window covers, in
    order: this round's changed/new queries, anything still lacking a
    verdict, then the green-core canaries; everything else follows in
    insertion order."""
    front = []
    for n in ROUND_NEW + DRIVER_PRIORITY + GREEN_CORE:
        if n not in front:
            front.append(n)
    missing = [n for n in front if n not in QUERIES]
    if missing:  # fail loudly: a typo here would silently shrink coverage
        raise KeyError(f"DRIVER_PRIORITY names not in QUERIES: {missing}")
    out = {n: QUERIES[n] for n in front}
    for n, fn in QUERIES.items():
        if n not in out:
            out[n] = fn
    return out
