"""Similarity search over embedding columns (north-star scope).

Two paths:
 - brute-force cosine top-k: the exactness baseline.  O(N) per query,
   fully distributed (TakeOrdered top-k; no global sort).
 - LSH-bucketed (random hyperplanes): the 100 TB path — candidates come
   from matching sign-bit buckets, then the exact score reranks.  Planes
   are derived from the portable md5-prefix hash (dedup.portable_hash60)
   so the plan is fully deterministic with no side-channel state AND has
   a bit-identical DuckDB twin.

Scoring discipline: dot products are computed on integer-quantized
components (floor(x*1000) as BIGINT), giving bit-identical results in
any engine and any summation order.  For cosine, both sides are
L2-normalized in the same quantized space; ranking by quantized dot
equals ranking by cosine when vectors are pre-normalized (the driver's
embeddings are ~unit-norm; a ``normalize=True`` escape hatch rescales
explicitly).
"""

from __future__ import annotations

import functools

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from pithos_spark.functions.dedup import portable_hash60, portable_hash60_sql
from pithos_spark.functions.layoutcommit import (
    append_segment,
    read_current,
    read_tiny_rows,
    tables_root,
    with_staged,
    write_segment_rows,
    write_tiny_table,
)


def _quantized(col: F.Column, scale: int = 1000) -> F.Column:
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * scale).cast("long")
    )


def quantized_dot(a: F.Column, b: F.Column) -> F.Column:
    """Exact BIGINT dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(_quantized(a), _quantized(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def brute_force_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10
) -> DataFrame:
    """Exact top-k by quantized dot product against one stored vector.

    The 1-row query side broadcasts; ties broken by vec_id.  The scan
    prunes to (vec_id, embedding) columns only.
    """
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("query_embedding")
    )
    return (
        embeddings.join(F.broadcast(q))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            quantized_dot(F.col("embedding"), F.col("query_embedding")).alias(
                "dot_q"
            ),
        )
        .orderBy(F.col("dot_q").desc(), F.col("vec_id"))
        .limit(k)
    )


def brute_force_topk_oracle(query_vec_id: int, k: int = 10, dim: int = 64) -> str:
    return f"""\
WITH q AS (
    SELECT embedding AS query_embedding FROM embeddings WHERE vec_id = {query_vec_id}
), scored AS (
    SELECT e.vec_id, e.label,
           (SELECT CAST(sum(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                            CAST(floor(CAST(q.query_embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM generate_series(1, {dim}) g(i)) AS dot_q
    FROM embeddings e, q
    WHERE e.vec_id <> {query_vec_id}
)
SELECT vec_id, label, dot_q FROM scored
ORDER BY dot_q DESC, vec_id
LIMIT {k}"""


def plane_weight(t: int, p: int, j: int) -> int:
    """Component j of hyperplane (table t, plane p): the portable 60-bit
    md5 hash of 'plane:t:p:j' mapped into [-500, 500).  Bit-identical to
    the oracle's ``{portable_hash60_sql('plane:...')} % 1000 - 500`` and
    to Spark's ``conv(substr(md5(x),1,15),16,10)`` — computed HERE, once,
    driver-side, so the executor plan carries the weights as literals."""
    import hashlib

    h = int(hashlib.md5(f"plane:{t}:{p}:{j}".encode()).hexdigest()[:15], 16)
    return h % 1000 - 500


def hyperplane_buckets(
    embeddings: DataFrame,
    num_planes: int = 16,
    scale: int = 1000,
    num_tables: int = 1,
    dim: int = 64,
    keep_qv: bool = False,
) -> DataFrame:
    """Random-hyperplane LSH buckets: bit_p = sign(v . h_p) where
    component j of plane p is a deterministic pseudo-random value derived
    from the portable hash of 'plane:table:p:j', mapped into [-500, 500)
    — the same value DuckDB computes from the same string, so buckets
    are oracle-checkable.

    ``num_tables`` independent hash tables (LSH-forest style): a vector
    gets one bucket per table; neighbors only need to collide in ANY
    table, turning per-table collision probability p into 1-(1-p)^L.
    Output: (vec_id, label, embedding, table, bucket).

    Everything is integer math on quantized components — reproducible
    across runs, sessions, and cluster sizes.  The plane weights are
    row-independent, so they're hashed ONCE driver-side
    (:func:`plane_weight`) and embedded as literal arrays: the executor
    side is pure integer multiply-add, no per-row md5 (the previous
    in-plan hashing cost planes x dim md5 calls per row — the dominant
    term of the round-5 bench profile for dedup_embedding_lsh).  The
    quantized vector is projected once and reused by all planes.
    ``dim`` must match the stored embedding width (testdata: 64).
    ``keep_qv=True`` also emits the quantized projection as ``_qv`` so
    a pair-scoring consumer can evaluate the exact dot on it directly
    instead of re-quantizing both raw embeddings per candidate pair
    (r17, guide §2.3).
    """
    base = embeddings.select(
        "vec_id",
        "label",
        "embedding",
        _quantized(F.col("embedding"), scale).alias("_qv"),
    )

    def plane_dot(t: int, p: int) -> F.Column:
        weights = F.array(
            *[F.lit(plane_weight(t, p, j)) for j in range(dim)]
        )
        return F.aggregate(
            F.zip_with(F.col("_qv"), weights, lambda x, w: x * w),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    tables = []
    for t in range(num_tables):
        bucket = F.lit(0)
        for p in range(num_planes):  # literal shift amounts, python loop
            bucket = bucket + F.when(plane_dot(t, p) > 0, F.lit(1 << p)).otherwise(
                F.lit(0)
            )
        tables.append(F.struct(F.lit(t).alias("table"), bucket.alias("bucket")))
    tb = F.explode(F.array(*tables)).alias("tb")
    keep = ["vec_id", "label", "embedding"] + (["_qv"] if keep_qv else [])
    return base.select(*keep, tb).select(*keep, "tb.table", "tb.bucket")


def _hyperplane_buckets_gemm(
    embeddings: DataFrame,
    num_planes: int,
    scale: int = 1000,
    dim: int = 64,
) -> DataFrame:
    """(vec_id, bucket, _qv) — the single-table LSH bucketing as ONE
    numpy pass (r18, guide §4.2; VERDICT r17 task 7): value-identical
    to ``hyperplane_buckets(..., num_tables=1, keep_qv=True)
    .select("vec_id", "bucket", "_qv")``, but the per-plane
    zip_with + aggregate expression trees (interpreted higher-order
    lambdas: planes x dim multiply-adds per row) become an int64
    (rows x dim) @ (dim x planes) matmul per Arrow batch.

    Exactness: quantization is ``floor(float64(x) * scale)`` — the
    same IEEE ops `_quantized` runs (float32 -> float64 is exact, one
    double multiply, floor) — and the plane dots are int64 products of
    values < 2^31, exact in both forms.  Proven row-identical against
    the expression form at sf0.001/0.01/0.1/sf1
    (scripts/profile_r18.py gemm_equal) on top of the oracle gate.

    Null/ragged semantics replicate the expression form exactly: a
    NULL embedding yields (_qv NULL, bucket 0); a row whose length is
    not ``dim`` (or with NULL elements) yields bucket 0 with _qv the
    element-wise quantization — zip_with pads the shorter side with
    NULL, so every plane dot is NULL and every sign test falls to the
    otherwise(0) branch.  Those rows take a per-row Python fallback;
    the clean fast path is the matmul.

    ``bucket`` is int32 like the expression form (sum of int
    literals), so downstream schemas — including the oracle-hashed
    dedup_embedding_lsh output — are unchanged."""
    vt = dict(embeddings.dtypes).get("vec_id", "bigint")
    W = None  # built once per task, inside the closure

    def fn(it):
        import math

        import numpy as np
        import pyarrow as pa

        nonlocal W
        if W is None:
            W = np.array(
                [
                    [plane_weight(0, p, j) for j in range(dim)]
                    for p in range(num_planes)
                ],
                dtype=np.int64,
            )
        shifts = 1 << np.arange(num_planes, dtype=np.int64)
        for batch in it:
            vid = batch.column("vec_id")
            e = batch.column("embedding")
            n = len(e)
            if n == 0:
                continue
            offs = None
            if e.null_count == 0:
                ec = e.combine_chunks() if hasattr(e, "combine_chunks") else e
                offs = np.diff(ec.offsets.to_numpy())
            if (
                offs is not None
                and (offs == dim).all()
                and ec.values.null_count == 0
            ):
                flat = np.asarray(ec.flatten(), dtype=np.float32)
                qv = np.floor(
                    flat.astype(np.float64).reshape(n, dim) * scale
                ).astype(np.int64)
                dots = qv @ W.T
                bucket = ((dots > 0).astype(np.int64) * shifts).sum(axis=1)
                qv_col = pa.array(list(qv), pa.list_(pa.int64()))
            else:
                # rare shape: replicate zip_with/aggregate NULL algebra
                # row by row (NULL row -> _qv NULL; wrong length or a
                # NULL element -> every plane dot NULL -> bucket 0)
                rows = e.to_pylist()
                qv_rows, bucket = [], np.zeros(n, dtype=np.int64)
                for i, row in enumerate(rows):
                    if row is None:
                        qv_rows.append(None)
                        continue
                    q = [
                        None if v is None else int(math.floor(v * scale))
                        for v in row
                    ]
                    qv_rows.append(q)
                    if len(q) == dim and all(v is not None for v in q):
                        qa = np.array(q, dtype=np.int64)
                        bucket[i] = int(
                            (((W @ qa) > 0).astype(np.int64) * shifts).sum()
                        )
                qv_col = pa.array(qv_rows, pa.list_(pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [vid, pa.array(bucket.astype(np.int32)), qv_col],
                ["vec_id", "bucket", "_qv"],
            )

    # NOTE: deliberately NOT fanned out (scripts/fanout_ab_r18.py): the
    # GEMM is so cheap per row that repartitioning the vectors first
    # measured as a net loss at every tested size (sf0.1 AND sf1)
    return embeddings.select("vec_id", "embedding").mapInArrow(
        fn, f"vec_id {vt}, bucket int, _qv array<bigint>"
    )


def lsh_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    num_planes: int = 4,
    num_tables: int = 8,
    max_bucket: int = 10000,
) -> DataFrame:
    """ANN top-k: exact rerank restricted to vectors sharing ANY LSH
    bucket with the query (union over ``num_tables`` independent
    tables).  With k=4 planes a table's bucket holds ~N/16 vectors; the
    8-table union lifts per-table collision probability p to
    1-(1-p)^8 while still touching a fraction of the corpus.

    At 100 TB this is the shape that matters: bucket columns are
    precomputed at ingest (one pass), queries prune to matching buckets
    via partition/file skipping, and the exact rerank touches only the
    candidate rows.

    Hot-bucket guard: a candidate bucket is truncated to its
    ``max_bucket`` members with the smallest portable hash of vec_id — a
    deterministic uniform subsample, so one degenerate bucket (all-equal
    vectors, a zero-heavy corpus) bounds the rerank instead of scanning
    millions of rows.  Unlike the dedup caps this samples rather than
    drops: an ANN query inside a hot bucket must still get answers;
    recall within that bucket degrades gracefully (uniformly random
    max_bucket-of-N) rather than collapsing to zero.
    """
    from pyspark.sql import Window

    bucketed = hyperplane_buckets(embeddings, num_planes, num_tables=num_tables)
    wb = Window.partitionBy("table", "bucket").orderBy(
        portable_hash60(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    capped = (
        bucketed.withColumn("_bn", F.row_number().over(wb))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )
    q = bucketed.filter(F.col("vec_id") == query_vec_id).select(
        F.col("table").alias("q_table"),
        F.col("bucket").alias("q_bucket"),
        F.col("embedding").alias("query_embedding"),
    )
    candidates = (
        capped.join(
            F.broadcast(q),
            (F.col("table") == F.col("q_table"))
            & (F.col("bucket") == F.col("q_bucket")),
        )
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", "embedding", "query_embedding")
        .dropDuplicates(["vec_id"])
    )
    return (
        candidates.select(
            "vec_id",
            "label",
            quantized_dot(F.col("embedding"), F.col("query_embedding")).alias(
                "dot_q"
            ),
        )
        .orderBy(F.col("dot_q").desc(), F.col("vec_id"))
        .limit(k)
    )


def lsh_topk_oracle(
    query_vec_id: int,
    k: int = 10,
    num_planes: int = 4,
    num_tables: int = 8,
    max_bucket: int = 10000,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`lsh_topk` — the plane weights, sign-bit
    buckets, hot-bucket sampling order, and quantized rerank all derive
    from the same portable md5-prefix hash, so the candidate set and the
    final top-k are bit-identical."""
    w_expr = portable_hash60_sql(
        "'plane:' || t.t::VARCHAR || ':' || p.p::VARCHAR || ':' || j.j::VARCHAR"
    )
    cap_hash = portable_hash60_sql("vec_id::VARCHAR")
    return f"""\
WITH planes AS (
    SELECT t.t AS tbl, p.p AS p, j.j AS j, {w_expr} % 1000 - 500 AS w
    FROM generate_series(0, {num_tables - 1}) t(t),
         generate_series(0, {num_planes - 1}) p(p),
         generate_series(0, {dim - 1}) j(j)
), dots AS (
    SELECT e.vec_id, pl.tbl, pl.p,
           sum(CAST(floor(CAST(e.embedding[pl.j + 1] AS DOUBLE) * 1000) AS BIGINT) * pl.w) AS dot
    FROM embeddings e, planes pl
    GROUP BY 1, 2, 3
), buckets AS (
    SELECT vec_id, tbl,
           CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)
                AS BIGINT) AS bucket
    FROM dots GROUP BY 1, 2
), capped AS (
    SELECT vec_id, tbl, bucket FROM (
        SELECT *, row_number() OVER (
            PARTITION BY tbl, bucket
            ORDER BY {cap_hash}, vec_id) AS _bn
        FROM buckets
    ) WHERE _bn <= {max_bucket}
), qb AS (
    SELECT tbl, bucket FROM buckets WHERE vec_id = {query_vec_id}
), cand AS (
    SELECT DISTINCT c.vec_id
    FROM capped c JOIN qb ON c.tbl = qb.tbl AND c.bucket = qb.bucket
    WHERE c.vec_id <> {query_vec_id}
), q AS (
    SELECT embedding AS query_embedding FROM embeddings WHERE vec_id = {query_vec_id}
), scored AS (
    SELECT e.vec_id, e.label,
           (SELECT CAST(sum(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                            CAST(floor(CAST(q.query_embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM generate_series(1, {dim}) g(i)) AS dot_q
    FROM embeddings e JOIN cand USING (vec_id), q
)
SELECT vec_id, label, dot_q FROM scored
ORDER BY dot_q DESC, vec_id
LIMIT {k}"""


def label_centroid_norms(embeddings: DataFrame) -> DataFrame:
    """Per-label aggregate geometry: count and quantized sum-of-squares —
    the summary stats an IVF index builder needs for cluster seeding."""
    qv = _quantized(F.col("embedding"))
    sumsq = F.aggregate(
        qv, F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    return (
        embeddings.select("label", sumsq.alias("sumsq_q"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("sumsq_q").alias("total_sumsq_q"),
        )
        .orderBy("label")
    )


LABEL_CENTROID_NORMS_SQL = """\
WITH per_vec AS (
    SELECT label,
           (SELECT CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                            CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM generate_series(1, 64) g(i)) AS sumsq_q
    FROM embeddings
)
SELECT label, count(*) AS n_vectors, CAST(sum(sumsq_q) AS BIGINT) AS total_sumsq_q
FROM per_vec
GROUP BY label
ORDER BY label"""


def ivf_centroids(
    embeddings: DataFrame, scale: int = 1000, cluster_col: str = "label"
) -> DataFrame:
    """IVF coarse quantizer (index-BUILD time): per-cluster centroid in
    the quantized integer space, ``c_i = floor(sum_i / n)`` computed as
    ``(s - pmod(s, n)) div n`` — the numerator is exactly divisible, so
    the integer division is bit-identical in any engine regardless of
    whether its division truncates or floors.  (An ``avg().cast(long)``
    centroid is NOT portable: engines disagree on double rounding and
    on negative-value truncation.)
    """
    qv = _quantized(F.col("embedding"), scale)
    dim_idx = F.sequence(F.lit(0), F.size(qv) - 1)
    exploded = embeddings.select(
        cluster_col,
        F.explode(F.arrays_zip(qv.alias("q"), dim_idx.alias("i"))).alias("z"),
    ).select(cluster_col, F.col("z.q").alias("q"), F.col("z.i").alias("i"))
    per_dim = (
        exploded.groupBy(cluster_col, "i")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn("c", F.expr("(s - pmod(s, n)) div n"))
    )
    return per_dim.groupBy(cluster_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("centroid_q")
    )


def build_ivf_index(
    embeddings: DataFrame, scale: int = 1000, cluster_col: str = "label"
) -> tuple[DataFrame, DataFrame]:
    """One-time IVF index build: (assigned corpus, centers table).

    The centers aggregation scans the corpus ONCE here and is
    materialized into a local (driver-tiny: n_clusters x dim ints)
    DataFrame — queries never re-derive centroids.  At 100 TB the
    assigned corpus would be written cluster-partitioned so probing is
    partition pruning; the centers table is a broadcast dim.
    """
    cents = ivf_centroids(embeddings, scale, cluster_col)
    spark = embeddings.sparkSession
    rows = cents.collect()
    centers = spark.createDataFrame(rows, schema=cents.schema)
    return embeddings, centers


def ivf_query(
    assigned: DataFrame,
    centers: DataFrame,
    query_ids: list[int] | int,
    k: int = 10,
    n_probe: int = 2,
    scale: int = 1000,
    cluster_col: str = "label",
    metric: str = "dot",
) -> DataFrame:
    """Query-time IVF probe — the ONLY per-query work: rank the (few,
    broadcast) centers per query, keep ``n_probe`` inverted lists,
    exact-rerank their members with the quantized dot product.  No
    KMeans fit, no centroid recompute, no driver-side numpy — probe
    selection is a window rank over the centers x queries broadcast
    join.  Accepts a batch of query ids (build once, probe many).

    ``metric`` picks the probe-ranking law: "dot" (max quantized dot,
    right for normalized corpora and SQL-mirrorable) or "l2" (min
    quantized squared distance — the classic IVF coarse ranking, used
    by the trained-KMeans index).  The final rerank is always the exact
    quantized dot product.

    Output: (query_id, vec_id, label, dot_q), top-k per query.
    """
    from pyspark.sql import Window

    if isinstance(query_ids, int):
        query_ids = [query_ids]
    q = assigned.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    qq = _quantized(F.col("query_embedding"), scale)
    cscore = F.aggregate(
        F.zip_with(F.col("centroid_q"), qq, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    if metric == "l2":
        cscore = F.aggregate(
            F.zip_with(F.col("centroid_q"), qq, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        rank_key = F.col("cscore").asc()
    else:
        rank_key = F.col("cscore").desc()
    wp = Window.partitionBy("query_id").orderBy(rank_key, F.col(cluster_col))
    probes = (
        centers.join(F.broadcast(q))
        .select(cluster_col, "query_id", cscore.alias("cscore"))
        .withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= n_probe)
        .select(cluster_col, "query_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), cluster_col)
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            "label",
            quantized_dot(F.col("embedding"), F.col("query_embedding")).alias(
                "dot_q"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("query_id", F.col("dot_q").desc(), "vec_id")
    )


def ivf_query_oracle(
    query_ids: list[int], k: int = 10, n_probe: int = 2, dim: int = 64
) -> str:
    """DuckDB twin of build_ivf_index + ivf_query(metric="dot"): the
    centroid math is exact integer arithmetic (floor-div via the
    mod-adjusted identity), so the whole plan — centroids, probe
    ranking, in-list rerank — is SQL-mirrorable bit-for-bit."""
    ids = ", ".join(str(i) for i in query_ids)
    return f"""\
WITH qe AS (
    SELECT vec_id AS query_id, embedding AS query_embedding
    FROM embeddings WHERE vec_id IN ({ids})
), ex AS (
    SELECT label, i, CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
    FROM embeddings, generate_series(1, {dim}) g(i)
), sums AS (
    SELECT label, i, CAST(sum(q) AS BIGINT) AS s, count(*) AS n
    FROM ex GROUP BY label, i
), cent AS (
    SELECT label, i, (s - ((s % n + n) % n)) // n AS c FROM sums
), cs AS (
    SELECT qe.query_id, cent.label,
           CAST(sum(cent.c * CAST(floor(CAST(qe.query_embedding[cent.i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS cscore
    FROM cent, qe GROUP BY qe.query_id, cent.label
), probes AS (
    SELECT query_id, label FROM cs
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cscore DESC, label) <= {n_probe}
), scored AS (
    SELECT p.query_id, e.vec_id, e.label,
           (SELECT CAST(sum(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                            CAST(floor(CAST(qe.query_embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM generate_series(1, {dim}) g(i)) AS dot_q
    FROM embeddings e
    JOIN probes p ON e.label = p.label
    JOIN qe ON qe.query_id = p.query_id
    WHERE e.vec_id <> p.query_id
)
SELECT query_id, vec_id, label, dot_q FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, vec_id) <= {k}
ORDER BY query_id, dot_q DESC, vec_id"""


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_probe: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Convenience wrapper (tests / one-shot use): build + single-query
    probe.  Long-lived sessions should call build_ivf_index once and
    ivf_query per request — the registry's ann_ivf_topk does exactly
    that through its index cache."""
    assigned, centers = build_ivf_index(embeddings, scale)
    return ivf_query(assigned, centers, query_vec_id, k, n_probe, scale).drop(
        "query_id"
    )


def brute_force_filtered_topk(
    embeddings: DataFrame, query_vec_id: int, label: int, k: int = 10
) -> DataFrame:
    """FILTERED exact vector search (r12): top-k by quantized dot among
    vectors carrying the given metadata label — the vector-database
    operation every retrieval stack needs ("nearest docs IN this
    collection/language/license").  The label equality pushes into the
    parquet scan, so the scored set is pruned before any arithmetic."""
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("query_embedding")
    )
    return (
        embeddings.filter(F.col("label") == label)
        .join(F.broadcast(q))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            quantized_dot(F.col("embedding"), F.col("query_embedding")).alias(
                "dot_q"
            ),
        )
        .orderBy(F.col("dot_q").desc(), F.col("vec_id"))
        .limit(k)
    )


def brute_force_filtered_topk_oracle(
    query_vec_id: int, label: int, k: int = 10, dim: int = 64
) -> str:
    return f"""\
WITH q AS (
    SELECT embedding AS query_embedding FROM embeddings WHERE vec_id = {query_vec_id}
), scored AS (
    SELECT e.vec_id, e.label,
           (SELECT CAST(sum(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                            CAST(floor(CAST(q.query_embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM generate_series(1, {dim}) g(i)) AS dot_q
    FROM embeddings e, q
    WHERE e.vec_id <> {query_vec_id} AND e.label = {label}
)
SELECT vec_id, label, dot_q FROM scored
ORDER BY dot_q DESC, vec_id
LIMIT {k}"""


def pq_filtered_topk_from_layout(
    embeddings: DataFrame,
    path: str,
    query_vec_id: int,
    label: int,
    k: int = 10,
    rerank: int = 4,
) -> DataFrame:
    """Filtered ANN over the persisted PQ index: the code table is
    filtered to the label slice BEFORE the ADC estimate — the label
    rides in the code table (save_pq_index), so the filter is a PUSHED
    predicate on the code scan (asserted in tests/test_plans.py) and
    the full embeddings table is never read except for the 1-row query
    and the tiny rerank set.  Estimates, the rerank cut, and the exact
    rerank all run within the filter — no post-filtering recall
    collapse (the classic failure of filter-after-search at selective
    filters).  Everything else is the shared :func:`pq_serve_topk`
    tail, so the result is engine-exact against the composed SQL twin
    (filtering code rows by their stored label selects exactly the
    slice's vec_ids, which is what the oracle's IN-subquery does)."""
    spark = embeddings.sparkSession
    codes, codebooks, meta = load_pq_index(spark, path)
    return pq_serve_topk(
        embeddings,
        codes.filter(F.col("label") == label).drop("label"),
        codebooks,
        query_vec_id,
        k,
        int(meta["m_sub"]),
        rerank,
        int(meta["scale"]),
        int(meta["dim"]),
    )


def pq_filtered_topk_oracle(
    query_vec_id: int,
    label: int,
    k: int = 10,
    m_sub: int = 8,
    k_codes: int = 16,
    n_iter: int = 2,
    rerank: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`pq_filtered_topk_from_layout`: the PQ
    build unrolled, the estimate restricted to the label slice, then
    the same rerank cut and exact-dot rerank."""
    d = dim // m_sub
    return _pq_cte_sql(m_sub, k_codes, n_iter, dim) + f""", lut AS (
    SELECT c.m, c.code,
           CAST(sum(c.c * q.q[c.m * {d} + c.pos + 1]) AS BIGINT) AS pdot
    FROM cent{n_iter} c,
         (SELECT q FROM qv WHERE vec_id = {query_vec_id}) q(q)
    GROUP BY 1, 2
), est AS (
    SELECT cd.vec_id, CAST(sum(l.pdot) AS BIGINT) AS est_dot
    FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.code
    WHERE cd.vec_id <> {query_vec_id}
      AND cd.vec_id IN (SELECT vec_id FROM embeddings WHERE label = {label})
    GROUP BY 1
), cand AS (
    SELECT vec_id, est_dot FROM est
    QUALIFY row_number() OVER (ORDER BY est_dot DESC, vec_id)
        <= {rerank * k}
)
SELECT c.vec_id, e.label, c.est_dot,
       (SELECT CAST(sum(e2.q[i] * q.q[i]) AS BIGINT)
        FROM generate_series(1, {dim}) g(i)) AS dot_q
FROM cand c
JOIN embeddings e ON e.vec_id = c.vec_id
JOIN qv e2 ON e2.vec_id = c.vec_id,
     (SELECT q FROM qv WHERE vec_id = {query_vec_id}) q(q)
ORDER BY dot_q DESC, c.vec_id
LIMIT {k}"""


def batch_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
) -> DataFrame:
    """Batched exact top-k: many query vectors scored in ONE pass — the
    production shape (per-query broadcast loops don't amortize the
    corpus scan).  Queries broadcast against the corpus, grouped window
    rank keeps k per query.

    Scale: one corpus scan regardless of |queries|; the rank shuffle is
    keyed by query_id so queries parallelize across the cluster.

    Execution (r17, guide §4.2 + §2.3): the scoring core is one Arrow
    pass computing each task's ``X @ Q.T`` int64 GEMM instead of a
    broadcast join evaluating an interpreted ``quantized_dot`` per
    (row, query) pair — the §3-GEMM recipe the blocked pair scorers
    use, bit-identical because floor(x·1000) in float64 and int64
    products are IEEE/exact in both engines.  Each task also keeps only
    its LOCAL top-k per query under the final (dot desc, vec_id) order
    — any global top-k row is inside its task's top-k by the same total
    order — so the rank shuffle carries tasks x |Q| x k candidate rows
    instead of corpus x |Q| scored rows.

    Contract notes (ADVICE r17): the |Q|-row query collect runs EAGERLY
    at call time (bounded by construction — same class as the Lloyd
    K-row collects — but an action, not a lazy plan); rows with a NULL
    embedding are dropped on both sides (the pre-GEMM expression path
    gave them a null dot ranked last — indistinguishable for any corpus
    with >= k non-null candidates, which every declared query has).
    """
    import numpy as np

    from pyspark.sql import Window

    vec_id_t = embeddings.schema["vec_id"].dataType.simpleString()
    out_schema = f"query_id {vec_id_t}, vec_id {vec_id_t}, dot_q long"
    q_rows = (
        embeddings.filter(
            F.col("vec_id").isin(query_ids)
            & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .collect()
    )
    if not q_rows:
        return embeddings.sparkSession.createDataFrame([], out_schema)
    qids = np.array([r["vec_id"] for r in q_rows], np.int64)
    qmat = np.floor(
        np.stack([np.asarray(r["embedding"], np.float64) for r in q_rows])
        * 1000
    ).astype(np.int64)

    def _task_topk(it):
        import pandas as pd

        cand_q: list = []
        cand_v: list = []
        cand_d: list = []
        for pdf in it:
            pdf = pdf[pdf["embedding"].notna()]
            if not len(pdf):
                continue
            X = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * 1000
            ).astype(np.int64)
            vids = pdf["vec_id"].to_numpy().astype(np.int64)
            D = X @ qmat.T
            for j in range(len(qids)):
                mask = vids != qids[j]
                vj, dj = vids[mask], D[mask, j]
                if len(vj) > k:
                    idx = np.lexsort((vj, -dj))[:k]
                    vj, dj = vj[idx], dj[idx]
                cand_q.append(np.full(len(vj), qids[j], np.int64))
                cand_v.append(vj)
                cand_d.append(dj)
        if not cand_q:
            return
        cq = np.concatenate(cand_q)
        cv = np.concatenate(cand_v)
        cd = np.concatenate(cand_d)
        keep = []
        for j in range(len(qids)):
            m = np.flatnonzero(cq == qids[j])
            if len(m) > k:
                m = m[np.lexsort((cv[m], -cd[m]))[:k]]
            keep.append(m)
        sel = np.concatenate(keep)
        yield pd.DataFrame(
            {"query_id": cq[sel], "vec_id": cv[sel], "dot_q": cd[sel]}
        )

    scored = embeddings.select("vec_id", "embedding").mapInPandas(
        _task_topk, out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("query_id", F.col("dot_q").desc(), "vec_id")
    )


def batch_topk_oracle(query_ids: list[int], k: int = 5, dim: int = 64) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""\
WITH q AS (
    SELECT vec_id AS query_id, embedding AS query_embedding
    FROM embeddings WHERE vec_id IN ({ids})
), scored AS (
    SELECT q.query_id, e.vec_id,
           (SELECT CAST(sum(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                            CAST(floor(CAST(q.query_embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
            FROM generate_series(1, {dim}) g(i)) AS dot_q
    FROM embeddings e, q
    WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, dot_q
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, vec_id) <= {k}
ORDER BY query_id, dot_q DESC, vec_id"""


def build_ivf_kmeans_index(
    embeddings: DataFrame,
    n_clusters: int = 16,
    seed: int = 42,
    scale: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """IVF index build with a REAL trained coarse quantizer (run ONCE):
    MLlib KMeans fits the quantizer, one corpus scan assigns every
    vector to its inverted list, and the trained float centers are
    quantized into the integer space as a local (cluster, centroid_q)
    centers table.

    At 100 TB: KMeans trains on a sample, assignment is one scan at
    ingest, and cluster id becomes a partition column — probing is then
    partition pruning.  Queries (ivf_query with cluster_col="cluster",
    metric="l2") touch only the centers broadcast and the probed lists —
    no fit, no driver numpy.
    """
    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = embeddings.withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="features").fit(vecs)
    assigned = (
        model.transform(vecs)
        .withColumnRenamed("prediction", "cluster")
        .drop("features")
    )
    rows = [
        (int(cid), [int(math.floor(float(v) * scale)) for v in c])
        for cid, c in enumerate(model.clusterCenters())
    ]
    centers = embeddings.sparkSession.createDataFrame(
        rows, "cluster int, centroid_q array<bigint>"
    )
    return assigned, centers


def ivf_kmeans_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Convenience wrapper (tests / one-shot use): trained-quantizer
    build + single-query probe.  Long-lived sessions build once via
    build_ivf_kmeans_index and probe via ivf_query.  Library-only since
    round 6: float-trained centroids can never hash-match a DuckDB
    oracle, so this variant is recall-tested (tests/test_similarity.py)
    rather than registry-gated; `ann_ivf_lloyd_topk` is the engine-exact
    trained-IVF representative in the correctness window.  Ranking
    inside lists stays exact either way."""
    assigned, centers = build_ivf_kmeans_index(embeddings, n_clusters, seed)
    return ivf_query(
        assigned,
        centers,
        query_vec_id,
        k,
        n_probe,
        cluster_col="cluster",
        metric="l2",
    ).drop("query_id")


def read_centers(root: str) -> dict[int, list[int]]:
    """The frozen coarse centers of the generation at ``root``:
    {cluster: centroid_q}, read driver-side — a k-row table, so no
    Spark job (r18, the r17 meta-read precedent)."""
    return {
        int(r["cluster"]): [int(v) for v in r["centroid_q"]]
        for r in read_tiny_rows(f"{root}/centers")
    }


def read_codebooks(root: str) -> dict[tuple[int, int], list[int]]:
    """The frozen PQ codebooks of the generation at ``root``:
    {(m, code): centroid_q}, read driver-side — an M x K table, so no
    Spark job (r18)."""
    return {
        (int(r["m"]), int(r["code"])): [int(v) for v in r["centroid_q"]]
        for r in read_tiny_rows(f"{root}/codebooks")
    }


# The plain-IVF assignment rows as a staged segment and a fold write
# them (the Lloyd build's column order; cluster is the fold's partition
# column, so it comes last), and their within-file sort key.
IVF_ASSIGNED_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("label", IntegerType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("cluster", IntegerType()),
    ]
)
IVF_ASSIGNED_KEY = ("vec_id",)


def order_ivf_assigned(assigned: DataFrame) -> DataFrame:
    """Row order of the plain-IVF assignment rows in a fold (the fold
    adds the cluster directory partitioning): clustered on cluster,
    sorted by :data:`IVF_ASSIGNED_KEY` within files."""
    return assigned.repartition("cluster").sortWithinPartitions(
        *IVF_ASSIGNED_KEY
    )


def save_ivf_index(
    assigned: DataFrame,
    centers: DataFrame,
    path: str,
    cluster_col: str = "cluster",
    scale: int = 1000,
) -> None:
    """Persist an IVF index as tables: the assigned corpus written
    PARTITIONED BY the cluster id (probing a list = reading one
    directory — partition pruning does the candidate selection at
    100 TB), the centers as a plain (tiny) parquet dim, and a 1-row
    meta table pinning the build-time quantization ``scale`` —
    ADVICE r14: without it, :func:`append_to_ivf_index` trusted a
    caller-supplied scale, and a mismatched value silently assigned
    new vectors against wrongly-scaled query points.

    This is the 'build once at ingest, probe many' contract made
    durable: index build cost is paid once per corpus version, queries
    across sessions/jobs just load."""
    from pithos_spark.functions.layoutcommit import finalize_rebuild

    part_col = cluster_col if cluster_col in assigned.columns else None
    w = assigned.write.mode("overwrite")
    if part_col:
        w = w.partitionBy(part_col)
    w.parquet(f"{path}/assigned")
    centers.write.mode("overwrite").parquet(f"{path}/centers")
    write_tiny_table(
        assigned.sparkSession.createDataFrame(
            [(int(scale),)], "scale int"
        ),
        f"{path}/meta",
    )
    # finalize cuts the CURRENT pointer back to generation 0 and GCs
    # old fold generations + staging — rebuild parity with every other
    # persisted layout (VERDICT r16 task 7)
    finalize_rebuild(path)


def append_to_ivf_index(
    new_embeddings: DataFrame, path: str, scale: int | None = None
) -> None:
    """Frozen-centroid append for the persisted IVF index (r14 — the
    last persisted layout without a maintenance path; PQ and
    residual-IVFADC got theirs in r13, postings/grams in r14): newly
    ingested vectors assign to the STORED centers (assignment is
    row-local, so ingest order and batch boundaries cannot matter) and
    install as one staged segment (:func:`frozen_segment`, the
    streaming ingest's writer) — no Lloyd passes, work linear in the
    delta.  Every reader of the layout sees the new vectors at once
    through :func:`load_ivf_index`: the SemDeDup sweep
    (:func:`semantic_dedup_pairs_from_layout`) in their cells, the
    probe by row filter until a fold restores the cluster directories
    (the cluster value set is frozen with the centers).  Same
    contract/caveat as the other appends: centroids drift as the
    corpus grows — retrain per major corpus version, append within one.

    The quantization scale comes from the layout's meta table (written
    at save time), never from the caller: pass ``scale`` only for
    pre-meta layouts (it is rejected if it contradicts the stored
    value — ADVICE r14's silent-misassignment fix).

    Retry contract: the delta must be genuinely new vec_ids, and a
    delta equal in content to one already appended IS a retry — its
    segment key is the content hash (``layoutcommit.append_key``), so
    re-running the append after a crash at any step, or after it
    succeeded, leaves exactly one installed copy."""
    append_segment(
        path,
        new_embeddings,
        frozen_segment(
            path,
            functools.partial(ivf_assign_delta, scale=scale),
            IVF_ASSIGNED_SCHEMA,
            IVF_ASSIGNED_KEY,
        ),
    )


def frozen_segment(path: str, encode, schema, key):
    """The ANN layouts' segment writer, shared by their streams and
    batch appends: ``write(batch_df, tmp)`` runs ``encode(spark,
    batch_df, tables)`` against the FROZEN artifacts of the live
    generation's base tables (row-local) and writes the rows in the
    layout's declared ``schema``, sorted on its ``key``
    (``layoutcommit.write_segment_rows``).  ``cluster`` rides as a
    plain column in a segment (directory partitioning is the FOLD's
    job); no stats row — these indexes carry no additive corpus
    counters, so the segment rows ARE the whole delta."""

    def write(batch_df, tmp):
        tables = tables_root(read_current(path))
        rows = encode(batch_df.sparkSession, batch_df, tables)
        write_segment_rows(rows, schema, key, tmp)

    return write


def ivf_assign_delta(
    spark, new_embeddings: DataFrame, gen_root: str, scale: int | None = None
) -> DataFrame:
    """Assign newly-ingested vectors against the FROZEN centers of the
    generation at ``gen_root``: (vec_id, label, embedding, cluster)
    rows, work linear in the delta, no Lloyd passes — the exact
    row-local assignment :func:`append_to_ivf_index` and
    ``streaming/ingest.streaming_ivf_ingest`` stage (the plain-IVF
    twin of :func:`ivfpq_residual_encode_delta`).  The quantization
    scale comes from the layout's meta table; ``scale`` is accepted
    only for pre-meta layouts and rejected on contradiction (ADVICE
    r14)."""
    import os

    if os.path.isdir(f"{gen_root}/meta"):
        meta_rows = read_tiny_rows(f"{gen_root}/meta")
        if not meta_rows:
            # a meta dir that exists but holds no data files is a torn
            # save (crash between mkdir and the parquet write), not a
            # pre-meta layout — refuse loudly instead of IndexError
            # (ADVICE r17)
            raise ValueError(
                f"ivf_assign_delta: {gen_root}/meta exists but holds no "
                "rows — torn index save; rebuild via save_ivf_index"
            )
        stored = int(meta_rows[0]["scale"])
    else:  # pre-meta layout
        stored = None
    if stored is not None:
        if scale is not None and int(scale) != stored:
            raise ValueError(
                f"ivf_assign_delta: scale={scale} contradicts the "
                f"layout's build-time scale {stored} ({gen_root}/meta)"
            )
        scale = stored
    elif scale is None:
        scale = 1000  # pre-meta layout, build-time default
    centers = read_centers(gen_root)
    qv = new_embeddings.select(
        "vec_id",
        "label",
        "embedding",
        _quantized(F.col("embedding"), scale).alias("q"),
    )
    return qv.select(
        "vec_id",
        "label",
        "embedding",
        _lloyd_assign(qv, centers).alias("cluster"),
    )


def load_ivf_index(
    spark, path: str, root: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Load a persisted IVF index: (assigned corpus, centers table) of
    the layout's LIVE generation (layoutcommit.read_current — the
    streamed-ingest compaction swaps a pointer file; a never-compacted
    layout resolves to itself), the assigned rows being base ∪ run ∪
    live staged segments (``layoutcommit.with_staged``, one resolution
    for the base read and the fold mask).  The base side keeps its
    cluster partitioning, so ivf_query's probe filter prunes
    directories; the delta-sized staged rows are filtered by value.
    ``root`` pins an already-resolved generation."""
    if root is None:
        root = read_current(path)
    tables = tables_root(root)
    assigned = spark.read.parquet(f"{tables}/assigned")
    return (
        with_staged(spark, path, root, assigned),
        spark.read.parquet(f"{tables}/centers"),
    )


def ivf_topk_from_layout(
    spark,
    path: str,
    query_vec_id: int,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF probe over the persisted plain-IVF index
    (:func:`load_ivf_index`): a vector appended or streamed in is
    searchable (and probeable as a query) before any fold.
    Bit-identical to a layout whose vectors were all assigned in one
    pass against the same frozen centers (assignment is row-local;
    new vec_ids are disjoint from the base's by the ingest
    contract)."""
    assigned, centers = load_ivf_index(spark, path)
    return ivf_query(
        assigned,
        centers,
        query_vec_id,
        k,
        n_probe,
        cluster_col="cluster",
        metric="l2",
    ).drop("query_id")


# --- deterministic Lloyd IVF (engine-exact trained quantizer) --------------


def _lloyd_assign(qv: DataFrame, centers: dict[int, list[int]]) -> F.Column:
    """Nearest-centroid id, Arrow-vectorized: one numpy integer matmul
    per batch (``-2 Q C^T + |C|^2`` — |q|^2 is constant per row, so the
    argmin equals the full l2 argmin) with ties to the smallest cluster
    id (centroid rows are id-sorted and ``np.argmin`` takes the first
    minimum — the same ORDER BY d, cluster the SQL twin uses).

    Replaces the previous per-cluster expression form: higher-order
    functions aren't whole-stage-codegen'd, so k interpreted
    ``aggregate`` calls per row made the build linear in k with a large
    constant (measured 60 s for k=64 at sf0.1; the matmul form is
    sub-second per pass).  Bit-identical assignments — exact signed-64
    integer arithmetic in both forms.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    ids = sorted(centers)
    C = np.array([centers[c] for c in ids], dtype=np.int64)
    norms = (C * C).sum(axis=1)
    id_arr = np.array(ids, dtype=np.int32)

    @pandas_udf("int")
    def assign(qs: pd.Series) -> pd.Series:
        Q = np.stack(qs.to_numpy()).astype(np.int64)
        scores = -2 * (Q @ C.T) + norms
        return pd.Series(id_arr[np.argmin(scores, axis=1)])

    return assign(F.col("q"))


def _lloyd_round_sums(
    qdf: DataFrame, centers: dict[int, list[int]]
) -> dict[int, tuple[list[int], int]]:
    """One Lloyd round's per-cluster component sums, FUSED: nearest-
    centroid assignment and per-task partial sums happen in a single
    Arrow pass over the quantized vectors, and only (cluster, partial
    sum, n) rows — at most k per task — ever leave Python.

    Replaces the assign-UDF + ``groupBy().applyInPandas`` round shape:
    that exchange carried every row's full integer vector (grouped
    Pandas execution does no map-side combine, guide §2.3) and every
    row crossed the JVM<->Python boundary twice (once for the assign
    projection, once for the grouped sums).  Here each task folds its
    batches into a k x dim int64 accumulator and the driver combines
    the <= k-per-task partials — int64 addition is associative and
    commutative with no overflow at these magnitudes (|component| <=
    scale, corpus rows < 2^40), so the combined sums are bit-identical
    to the single-group sums, and the SQL twin is unchanged.

    Returns {cluster: (component_sums, n_members)} for clusters with
    at least one member."""
    import numpy as np

    ids = sorted(centers)
    C = np.array([centers[c] for c in ids], dtype=np.int64)
    norms = (C * C).sum(axis=1)
    k = len(ids)
    id_arr = np.array(ids, dtype=np.int64)

    def partial(pdfs):
        sums = np.zeros((k, C.shape[1]), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        for pdf in pdfs:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            # -2 Q C^T + |C|^2: |q|^2 is constant per row, so argmin
            # equals the full L2 argmin; ties to the smallest cluster
            # id (rows of C are id-sorted, np.argmin takes the first
            # minimum) — same ORDER BY d, cluster as the SQL twin.
            idx = np.argmin(-2 * (Q @ C.T) + norms, axis=1)
            np.add.at(sums, idx, Q)
            counts += np.bincount(idx, minlength=k)
        live = np.nonzero(counts)[0]
        if not live.size:
            # an all-empty task must yield nothing: an empty list
            # column would infer float64 and break the Arrow cast
            return
        yield pd.DataFrame(
            {
                "cluster": id_arr[live].astype("int32"),
                "s": [sums[i].tolist() for i in live],
                "n": counts[live],
            }
        )

    rows = (
        qdf.select("q")
        .mapInPandas(partial, "cluster int, s array<long>, n long")
        .collect()
    )
    agg: dict[int, tuple[list[int], int]] = {}
    for r in rows:
        c = int(r["cluster"])
        if c in agg:
            s0, n0 = agg[c]
            agg[c] = (
                [a + int(b) for a, b in zip(s0, r["s"])],
                n0 + int(r["n"]),
            )
        else:
            agg[c] = ([int(v) for v in r["s"]], int(r["n"]))
    return agg


def build_ivf_lloyd_index(
    embeddings: DataFrame,
    n_clusters: int = 16,
    n_iter: int = 3,
    scale: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """IVF index with a TRAINED coarse quantizer that is still
    engine-exact: hand-rolled Lloyd's k-means in the quantized integer
    space, a fixed ``n_iter`` rounds from deterministic seeds (the
    ``n_clusters`` vectors with the smallest portable hash of vec_id —
    an unbiased, reproducible sample).  Every quantity is BIGINT
    (distances; floor-div centroids via the exactly-divisible
    ``(s - pmod(s,n)) div n`` identity), so unlike the MLlib variant
    the whole build+probe pipeline has a bit-identical DuckDB twin.

    Per round, only the k x dim integer centroid table leaves the
    cluster (driver-tiny, the classic Lloyd control loop); the corpus
    is scanned once per round and never collected.  At 100 TB you run
    the same rounds on an ingest sample, then one full assignment scan.
    """
    from pithos_spark.functions.dedup import portable_hash60

    qv = embeddings.select(
        "vec_id", "label", "embedding", _quantized(F.col("embedding"), scale).alias("q")
    )
    seed_rows = (
        qv.select(
            "vec_id",
            "q",
            portable_hash60(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(n_clusters)
        .collect()
    )
    centers = {c: [int(v) for v in r["q"]] for c, r in enumerate(seed_rows)}
    for _ in range(n_iter):
        sums = _lloyd_round_sums(qv, centers)
        updated: dict[int, list[int]] = {}
        for c, (s, n) in sums.items():
            # floor division, written to match the SQL twin's
            # (s - pmod(s, n)) div n identity exactly (Python // is
            # floor for any sign, so s // n is the same value)
            updated[c] = [v // n for v in s]
        # clusters that lost every member keep their previous centroid;
        # iterate the EXISTING centers (a corpus smaller than n_clusters
        # seeds fewer than n_clusters)
        centers = {c: updated.get(c, v) for c, v in centers.items()}
    final_assigned = qv.select(
        "vec_id",
        "label",
        "embedding",
        _lloyd_assign(qv, centers).alias("cluster"),
    )
    centers_df = embeddings.sparkSession.createDataFrame(
        [(c, centers[c]) for c in sorted(centers)],
        "cluster int, centroid_q array<bigint>",
    )
    return final_assigned, centers_df


def ivf_cluster_stats(
    embeddings: DataFrame, n_clusters: int = 8, n_iter: int = 2
) -> DataFrame:
    """IVF inverted-list occupancy telemetry (r12) — the probe-sizing
    report, playing the role lsh_bucket_stats / shingle_df_stats play
    for the banded tiers: per trained cluster, its vector count, corpus
    share (permille), its rank by size, and the cumulative share a
    probe of that many largest lists covers.  Reading the cum column at
    the operating n_probe answers "what fraction of the corpus can a
    probe even see" BEFORE paying for recall experiments, and a skewed
    report (one list holding half the corpus) says re-train with more
    clusters — the same telemetry-before-tuning contract as the
    containment cap.  Output ordered by probe_rank."""
    from pyspark.sql import Window

    assigned, _ = build_ivf_lloyd_index(embeddings, n_clusters, n_iter)
    # the unpartitioned rank/cumsum windows below run over the
    # n_clusters-row occupancy table (k rows, not the corpus) — the
    # single-partition WindowExec is by construction tiny
    occ = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    total = occ.agg(F.sum("n_vectors").alias("total"))
    w = Window.orderBy(F.col("n_vectors").desc(), F.col("cluster"))
    return (
        occ.join(F.broadcast(total))
        .withColumn("share_permille", F.expr("(1000 * n_vectors) div total"))
        .withColumn("probe_rank", F.row_number().over(w))
        .withColumn(
            "cum_share_permille",
            F.expr(
                "(1000 * sum(n_vectors) OVER (ORDER BY n_vectors DESC, "
                "cluster ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
                " div total"
            ),
        )
        .select(
            "cluster",
            "n_vectors",
            "share_permille",
            "probe_rank",
            "cum_share_permille",
        )
        .orderBy("probe_rank")
    )


def ivf_cluster_stats_oracle(
    n_clusters: int = 8, n_iter: int = 2, dim: int = 64
) -> str:
    """DuckDB twin of :func:`ivf_cluster_stats`."""
    return _lloyd_cte_sql(n_clusters, n_iter, dim) + """, occ AS (
    SELECT cluster, count(*) AS n_vectors FROM final_assign GROUP BY 1
), n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM embeddings)
SELECT cluster,
       n_vectors,
       (1000 * n_vectors) // total AS share_permille,
       CAST(row_number() OVER (ORDER BY n_vectors DESC, cluster) AS INT)
           AS probe_rank,
       CAST((1000 * sum(n_vectors) OVER (ORDER BY n_vectors DESC, cluster
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) // total
           AS BIGINT) AS cum_share_permille
FROM occ CROSS JOIN n
ORDER BY probe_rank"""


def _lloyd_cte_sql(
    n_clusters: int,
    n_iter: int,
    dim: int,
    train_pred: str | None = None,
) -> str:
    """Shared DuckDB CTE prefix unrolling the Lloyd build
    (build_ivf_lloyd_index) through ``final_assign`` — deterministic
    seeds, integer distances, floor-div centroid updates, empty-cluster
    carry-over.  Consumed by ivf_lloyd_topk_oracle (probe tail) and
    semantic_dedup_pairs_oracle (pair tail).

    ``train_pred`` (r16) restricts the TRAINING corpus (seeds + every
    Lloyd pass) while ``final_assign`` still assigns EVERY vector to
    the trained centroids — the oracle form of frozen-centroid index
    maintenance (assignment is row-local).  ``None`` keeps the
    historical full-corpus SQL byte-identical."""
    h = "('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT"
    tqv = "qv"
    tqv_cte = ""
    seed_where = ""
    if train_pred is not None:
        tqv = "tqv"
        tqv_cte = f"""tqv AS (
    SELECT * FROM qv WHERE {train_pred}
), """
        seed_where = f"\n    WHERE {train_pred}"
    parts = [
        f"""\
WITH qv AS (
    SELECT vec_id, label,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
    FROM embeddings
), {tqv_cte}seeds AS (
    SELECT vec_id, row_number() OVER (ORDER BY {h}, vec_id) - 1 AS cluster
    FROM embeddings{seed_where}
    QUALIFY row_number() OVER (ORDER BY {h}, vec_id) <= {n_clusters}
), cent0 AS (
    SELECT s.cluster, g.i - 1 AS pos, q.q[g.i] AS c
    FROM seeds s JOIN qv q USING (vec_id), generate_series(1, {dim}) g(i)
)"""
    ]
    for j in range(n_iter):
        parts.append(
            f""", dist{j} AS (
    SELECT q.vec_id, c.cluster,
           sum((q.q[c.pos + 1] - c.c) * (q.q[c.pos + 1] - c.c)) AS d
    FROM {tqv} q, cent{j} c GROUP BY 1, 2
), assign{j} AS (
    SELECT vec_id, cluster FROM dist{j}
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1
), sums{j} AS (
    SELECT a.cluster, g.i - 1 AS pos,
           CAST(sum(q.q[g.i]) AS BIGINT) AS s, count(*) AS n
    FROM assign{j} a JOIN {tqv} q USING (vec_id), generate_series(1, {dim}) g(i)
    GROUP BY 1, 2
), cent{j + 1} AS (
    SELECT cluster, pos, (s - ((s % n + n) % n)) // n AS c FROM sums{j}
    UNION ALL
    SELECT p.cluster, p.pos, p.c FROM cent{j} p
    WHERE p.cluster NOT IN (SELECT DISTINCT cluster FROM sums{j})
)"""
        )
    parts.append(
        f""", final_assign AS (
    SELECT vec_id, cluster FROM (
        SELECT q.vec_id, c.cluster,
               sum((q.q[c.pos + 1] - c.c) * (q.q[c.pos + 1] - c.c)) AS d
        FROM qv q, cent{n_iter} c GROUP BY 1, 2
    ) t
    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1
)"""
    )
    return "".join(parts)


def ivf_lloyd_topk_oracle(
    query_vec_id: int,
    k: int = 10,
    n_clusters: int = 16,
    n_iter: int = 3,
    n_probe: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of build_ivf_lloyd_index + ivf_query(metric="l2"):
    the Lloyd rounds are UNROLLED as one CTE block per iteration
    (_lloyd_cte_sql), then the l2 probe ranking and exact dot rerank,
    all bit-identical to the Spark plan."""
    parts = [_lloyd_cte_sql(n_clusters, n_iter, dim)]
    parts.append(
        f""", cdist AS (
    SELECT c.cluster,
           sum((c.c - q.q[c.pos + 1]) * (c.c - q.q[c.pos + 1])) AS cd
    FROM cent{n_iter} c, (SELECT q FROM qv WHERE vec_id = {query_vec_id}) q(q)
    GROUP BY 1
), probes AS (
    SELECT cluster FROM cdist
    QUALIFY row_number() OVER (ORDER BY cd, cluster) <= {n_probe}
), scored AS (
    SELECT e.vec_id, e.label,
           (SELECT CAST(sum(e2.q[i] * q.q[i]) AS BIGINT)
            FROM generate_series(1, {dim}) g(i)) AS dot_q
    FROM final_assign fa
    JOIN probes p ON fa.cluster = p.cluster
    JOIN embeddings e ON e.vec_id = fa.vec_id
    JOIN qv e2 ON e2.vec_id = e.vec_id,
         (SELECT q FROM qv WHERE vec_id = {query_vec_id}) q(q)
    WHERE e.vec_id <> {query_vec_id}
)
SELECT vec_id, label, dot_q FROM scored
ORDER BY dot_q DESC, vec_id
LIMIT {k}"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-bounded serving shape.
#
# At 100 TB of embeddings the full float vectors cannot live in serving
# RAM; PQ stores each vector as M one-byte codes (64-dim -> 8 bytes
# here, a 32x cut) and answers queries through an M x K lookup table
# (asymmetric distance computation, Jegou et al. 2011).  Everything is
# integer (quantized subvectors, Lloyd codebooks via the exact
# floor-div identity, integer partial dots), so train + encode + serve
# has a bit-identical DuckDB twin — the same engine-exactness contract
# as the IVF(Lloyd) index above.
# ---------------------------------------------------------------------------


def _pq_assign(centers: dict, m_sub: int, k_codes: int):
    """Nearest-code id per (subspace, subvector) row, Arrow-vectorized:
    one numpy integer matmul per subspace per batch (the `-2 Q C^T +
    |C|^2` argmin identity, ties to the smallest code — same ORDER BY
    d, code as the SQL twin).  ``centers`` maps (m, code) -> int list."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # positional identity: row index of C[m] IS the code id, so the
    # codebook must be contiguous in code ids — a hole would silently
    # shift every argmin result one code over (ADVICE r11).  Shared
    # seeding always populates 0..k_codes-1; assert rather than trust.
    missing = [
        (m, c)
        for m in range(m_sub)
        for c in range(k_codes)
        if (m, c) not in centers
    ]
    if missing:
        raise AssertionError(
            f"PQ codebook has holes {missing[:8]}...: argmin row index "
            "would diverge from code id"
        )
    C = {
        m: np.array(
            [centers[(m, c)] for c in range(k_codes)],
            dtype=np.int64,
        )
        for m in range(m_sub)
    }
    norms = {m: (C[m] * C[m]).sum(axis=1) for m in range(m_sub)}

    @pandas_udf("int")
    def assign(ms: pd.Series, qs: pd.Series) -> pd.Series:
        import numpy as np

        marr = ms.to_numpy()
        Q = np.stack(qs.to_numpy()).astype(np.int64)
        out = np.empty(len(marr), dtype=np.int32)
        for m in np.unique(marr):
            mask = marr == m
            scores = -2 * (Q[mask] @ C[int(m)].T) + norms[int(m)]
            out[mask] = np.argmin(scores, axis=1)
        return pd.Series(out)

    return assign(F.col("m"), F.col("subq"))


def _pq_assign_all(centers: dict, m_sub: int, k_codes: int):
    """All ``m_sub`` nearest-code ids for a FULL quantized vector in one
    Arrow crossing: numpy reshape slices the subvectors (identical to
    ``F.slice(q, m*d+1, d)``), each subspace runs the same
    ``-2 Q C^T + |C|^2`` first-minimum argmin as :func:`_pq_assign`,
    and the result is one ``array<int>`` of codes indexed by m.

    The encode path pairs this with ``posexplode`` so the long-form
    (vec_id, m, code) output is unchanged while the Python boundary
    carries one row per VECTOR instead of one per (vector, subspace) —
    m_sub x fewer crossings than the exploded form (guide §4)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    missing = [
        (m, c)
        for m in range(m_sub)
        for c in range(k_codes)
        if (m, c) not in centers
    ]
    if missing:
        raise AssertionError(
            f"PQ codebook has holes {missing[:8]}...: argmin row index "
            "would diverge from code id"
        )
    C = np.stack(
        [
            [centers[(m, c)] for c in range(k_codes)]
            for m in range(m_sub)
        ]
    ).astype(np.int64)
    norms = (C * C).sum(axis=2)
    d = C.shape[2]

    @pandas_udf("array<int>")
    def assign(qs: pd.Series) -> pd.Series:
        import numpy as np

        Q = (
            np.stack(qs.to_numpy())
            .astype(np.int64)
            .reshape(len(qs), m_sub, d)
        )
        out = np.empty((len(qs), m_sub), dtype=np.int32)
        for m in range(m_sub):
            out[:, m] = np.argmin(
                -2 * (Q[:, m, :] @ C[m].T) + norms[m], axis=1
            )
        return pd.Series(list(out))

    return assign(F.col("q"))


def _pq_subvectors_from_q(qdf: DataFrame, m_sub: int, dim: int):
    """Long-form (vec_id, m, subq) from a prebuilt (vec_id, q) integer
    vector table — JVM-side slice + posexplode, the corpus-linear
    layout every PQ stage shares.  The residual IVFADC form feeds
    (vec - assigned centroid) vectors through the same split."""
    d = dim // m_sub
    return qdf.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("q", m * d + 1, d) for m in range(m_sub)])
        ).alias("m", "subq"),
    )


def build_pq_codebooks(
    embeddings: DataFrame,
    m_sub: int = 8,
    k_codes: int = 16,
    n_iter: int = 2,
    scale: int = 1000,
    dim: int = 64,
) -> dict:
    """Train the per-subspace PQ codebooks: Lloyd's k-means run JOINTLY
    over all ``m_sub`` subspaces (one corpus pass per round assigns
    every (vector, subspace) subvector; centroid updates are keyed
    (m, code)).  Seeds are the ``k_codes`` vectors with the smallest
    portable hash of vec_id — the SAME seed vectors for every subspace
    (each contributes its m-th slice), which keeps the SQL twin's seed
    CTE shared.  Deterministic, all-integer (exact floor-div centroid
    updates, empty-code carry-over as in build_ivf_lloyd_index).

    Only the m_sub x k_codes x (dim/m_sub) integer codebook crosses the
    driver per round — constant-size control flow; the corpus is
    scanned once per round.  Returns {(m, code): centroid int list}.
    """
    return _build_pq_codebooks_q(
        embeddings.select(
            "vec_id", _quantized(F.col("embedding"), scale).alias("q")
        ),
        m_sub,
        k_codes,
        n_iter,
        dim,
    )


def _build_pq_codebooks_q(
    qdf: DataFrame, m_sub: int, k_codes: int, n_iter: int, dim: int
) -> dict:
    """The trainer core over a prebuilt (vec_id, q) integer table —
    shared by the plain form (quantized embeddings) and the residual
    IVFADC form (vec - assigned centroid)."""
    from pithos_spark.functions.dedup import portable_hash60

    d = dim // m_sub
    seed_rows = (
        qdf.select(
            "vec_id",
            "q",
            portable_hash60(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(k_codes)
        .collect()
    )
    centers: dict = {}
    for code, r in enumerate(seed_rows):
        q = [int(v) for v in r["q"]]
        for m in range(m_sub):
            centers[(m, code)] = q[m * d : (m + 1) * d]
    k_eff = len(seed_rows)

    for _ in range(n_iter):
        sums = _pq_round_sums(qdf, centers, m_sub, k_eff, d)
        updated = {
            mc: [v // n for v in s] for mc, (s, n) in sums.items()
        }
        centers = {mc: updated.get(mc, v) for mc, v in centers.items()}
    return centers


def _pq_round_sums(
    qdf: DataFrame, centers: dict, m_sub: int, k_codes: int, d: int
) -> dict:
    """One PQ training round's per-(subspace, code) component sums,
    FUSED: the full quantized vector crosses into Python ONCE per row,
    is sliced into its ``m_sub`` subvectors by a numpy reshape
    (identical to ``F.slice(q, m*d+1, d)``), assigned per subspace by
    the same ``-2 Q C^T + |C|^2`` first-minimum argmin as
    :func:`_pq_assign`, and folded into a per-task (m_sub x k x d)
    int64 accumulator.  Only <= m_sub*k partial rows leave each task.

    Replaces the posexplode + assign-UDF + ``groupBy().applyInPandas``
    round: that shape multiplied the Python-boundary rows by m_sub and
    shuffled every subvector with no map-side combine (guide §2.3/§4).
    Exact int64 partial sums; results are bit-identical and the
    unrolled SQL twin is unchanged.

    Returns {(m, code): (component_sums, n_members)} for non-empty
    codes."""
    import numpy as np

    C = np.stack(
        [
            [centers[(m, c)] for c in range(k_codes)]
            for m in range(m_sub)
        ]
    ).astype(np.int64)
    norms = (C * C).sum(axis=2)

    def partial(pdfs):
        sums = np.zeros((m_sub, k_codes, d), dtype=np.int64)
        counts = np.zeros((m_sub, k_codes), dtype=np.int64)
        for pdf in pdfs:
            if not len(pdf):
                continue
            Q = (
                np.stack(pdf["q"].to_numpy())
                .astype(np.int64)
                .reshape(len(pdf), m_sub, d)
            )
            for m in range(m_sub):
                Qm = Q[:, m, :]
                idx = np.argmin(-2 * (Qm @ C[m].T) + norms[m], axis=1)
                np.add.at(sums[m], idx, Qm)
                counts[m] += np.bincount(idx, minlength=k_codes)
        ms, cs = np.nonzero(counts)
        if not ms.size:
            # an all-empty task must yield nothing: an empty list
            # column would infer float64 and break the Arrow cast
            return
        yield pd.DataFrame(
            {
                "m": ms.astype("int32"),
                "code": cs.astype("int32"),
                "s": [sums[m, c].tolist() for m, c in zip(ms, cs)],
                "n": counts[ms, cs],
            }
        )

    rows = (
        qdf.select("q")
        .mapInPandas(partial, "m int, code int, s array<long>, n long")
        .collect()
    )
    agg: dict = {}
    for r in rows:
        mc = (int(r["m"]), int(r["code"]))
        if mc in agg:
            s0, n0 = agg[mc]
            agg[mc] = (
                [a + int(b) for a, b in zip(s0, r["s"])],
                n0 + int(r["n"]),
            )
        else:
            agg[mc] = ([int(v) for v in r["s"]], int(r["n"]))
    return agg


def pq_encode(
    embeddings: DataFrame,
    codebooks: dict,
    m_sub: int = 8,
    scale: int = 1000,
    dim: int = 64,
    extra: list[str] | None = None,
) -> DataFrame:
    """Encode the corpus: (vec_id[, *extra], m, code) — each vector
    reduced to ``m_sub`` small code ids (the 32x-compressed
    representation a 100 TB deployment persists and serves from).
    Long form rather than an array column so the serving join stays a
    plain broadcast equi-join on (m, code).

    ``extra`` columns of ``embeddings`` ride along row-locally (e.g.
    ``label`` for the persisted layouts) — carrying them here is free
    while re-attaching them downstream costs a corpus-wide join on
    vec_id (guide §2.4).  Assignment is the wide one-crossing
    :func:`_pq_assign_all` + posexplode; rows identical to the old
    exploded per-subvector form."""
    k_eff = len({c for _, c in codebooks}) or 1
    cols = list(extra or [])
    qdf = embeddings.select(
        "vec_id", *cols, _quantized(F.col("embedding"), scale).alias("q")
    )
    return qdf.select(
        "vec_id",
        *cols,
        F.posexplode(_pq_assign_all(codebooks, m_sub, k_eff)).alias(
            "m", "code"
        ),
    )


def pq_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    m_sub: int = 8,
    k_codes: int = 16,
    n_iter: int = 2,
    rerank: int = 4,
    scale: int = 1000,
    dim: int = 64,
) -> DataFrame:
    """PQ ANN end to end: train codebooks, encode the corpus, serve the
    query by ADC — the M x K lookup table (partial dot of each codebook
    centroid with the query's matching subvector) is built once,
    broadcast, and every encoded vector's estimated dot is the sum of
    its M table hits; the top ``rerank * k`` by estimate are re-scored
    with the EXACT quantized dot and the best ``k`` returned.

    Scale: the serving pass touches only the code table (M rows per
    vector, bytes not floats) and a broadcast LUT — no full-vector
    reads until the tiny rerank set; at 100 TB you persist the code
    table once (build/serve split, as the IVF and postings layouts) and
    this query shape reads ~1/32nd of the raw embedding bytes.  Output
    (vec_id, label, est_dot, dot_q) — estimate and exact, both integer.
    """
    codebooks = build_pq_codebooks(
        embeddings, m_sub, k_codes, n_iter, scale, dim
    )
    codes = pq_encode(embeddings, codebooks, m_sub, scale, dim)
    return pq_serve_topk(
        embeddings, codes, codebooks, query_vec_id, k, m_sub, rerank, scale, dim
    )


def _collect_query_qvs(
    embeddings: DataFrame, query_ids: list[int], scale: int
) -> dict[int, list[int]]:
    """The query vectors' QUANTIZED values, collected once (r18, guide
    §1/§2.6): one pushed-filter scan for all ids instead of one
    broadcast-build scan per derived artifact.  The quantization runs
    through the same `_quantized` Spark expression every serving plan
    used inline, so the collected ints are bit-identical by
    construction.  Bounded: |Q| rows, the Lloyd-collect class.  Query
    ids with a null embedding are absent, exactly like the old inline
    filters (a null quantized array produced no qsub/qrow rows)."""
    rows = (
        embeddings.filter(F.col("vec_id").isin([int(i) for i in query_ids]))
        .select("vec_id", _quantized(F.col("embedding"), scale).alias("q"))
        .collect()
    )
    return {
        int(r["vec_id"]): [int(v) for v in r["q"]]
        for r in rows
        if r["q"] is not None
    }


def _pq_lut_rows(
    codebooks: dict, qq: list[int], m_sub: int, dim: int
) -> list[tuple[int, int, int]]:
    """ADC LUT values (m, code, pdot) computed driver-side: integer
    dot of each M x K codebook centroid with the query's matching
    subvector — Python int arithmetic over values < 2^31, exact and
    equal to the former `_bigint_dot` expression (both are plain int64
    multiply-adds).  M x K rows, KB-sized — metadata-class driver
    work, emitted as a LocalRelation so the broadcast build launches
    NO Spark job (the former form scheduled a scan + join job per
    serve just to build these rows)."""
    d = dim // m_sub
    return [
        (m, c, sum(a * b for a, b in zip(v, qq[m * d : (m + 1) * d])))
        for (m, c), v in sorted(codebooks.items())
    ]


def _adc_topk(
    embeddings: DataFrame,
    codes: DataFrame,
    codebooks: dict,
    qvs: dict[int, list[int]],
    meta,
    k: int,
    rerank: int,
    probes: dict[int, list[tuple[int, int]]] | None = None,
) -> DataFrame:
    """THE ADC serving tail of every PQ-family ANN read — plain PQ,
    residual IVFADC and the train-in-query IVF-PQ, one query or many,
    base or base ∪ staged codes: broadcast (query_id, m, code) LUT ->
    one groupBy(query_id, vec_id) estimate sum over the code table ->
    ``rerank * k`` cut -> exact quantized-dot rerank -> top ``k``.
    Output (query_id, vec_id, label, est_dot, dot_q).

    ``qvs`` maps each query id to its quantized vector
    (:func:`_collect_query_qvs`); ``meta`` carries the ``m_sub``,
    ``scale`` and ``dim`` ints.  The LUT and the query rows are
    computed driver-side in exact integer math and emitted as
    LocalRelations, so their broadcasts launch no job (r18).

    ``probes`` maps each query id to its coarse lists ``(cluster,
    cterm)`` — :func:`_residual_probe_rows` for residual IVFADC, cterm
    0 for the non-residual IVF-PQ — over a code table that carries
    ``cluster``: the probed ids are literals that statically prune the
    cluster-partitioned scan, and a vector's estimate adds its cell's
    centroid dot term.  Plain PQ passes none: one cell at the origin,
    no cluster filter and a cterm of 0.

    One shape difference, decided by the input alone: with at most one
    query both cuts are global (a window and ``orderBy().limit(k)``;
    a per-query window costs one more job here), with more both are
    ``partitionBy(query_id)`` windows.  A query whose vector is NULL
    or empty yields no rows in every shape."""
    from pyspark.sql import Window

    spark = embeddings.sparkSession
    m_sub, scale, dim = (int(meta[c]) for c in ("m_sub", "scale", "dim"))
    queries = sorted((qid, qq) for qid, qq in qvs.items() if qq)
    lut = spark.createDataFrame(
        [
            (qid, m, c, pdot)
            for qid, qq in queries
            for m, c, pdot in _pq_lut_rows(codebooks, qq, m_sub, dim)
        ],
        "query_id long, m int, code int, pdot long",
    )
    per_query = Window.partitionBy("query_id") if len(queries) > 1 else Window
    if len(queries) == 1:
        # a literal anti-query predicate pushes into the code scan
        codes = codes.filter(F.col("vec_id") != queries[0][0])
    keys, est_dot = ["m", "code"], F.sum("pdot")
    if probes is not None:
        rows = [(qid, c, ct) for qid, _ in queries for c, ct in probes[qid]]
        codes = codes.filter(
            F.col("cluster").isin(sorted({c for _, c, _ in rows}))
        ).join(
            F.broadcast(
                spark.createDataFrame(
                    rows, "query_id long, cluster int, cterm long"
                )
            ),
            "cluster",
        )
        keys, est_dot = ["query_id", *keys], est_dot + F.min("cterm")
    est = (
        codes.join(F.broadcast(lut), keys)
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(est_dot.alias("est_dot"))
    )
    cand = (
        est.withColumn(
            "_rk",
            F.row_number().over(
                per_query.orderBy(F.col("est_dot").desc(), F.col("vec_id"))
            ),
        )
        .filter(F.col("_rk") <= rerank * k)
        .drop("_rk")
    )
    qv = embeddings.select(
        "vec_id", "label", _quantized(F.col("embedding"), scale).alias("q")
    )
    qrows = spark.createDataFrame(queries, "query_id long, qq array<bigint>")
    ranked = (
        cand.join(qv, "vec_id")
        .join(F.broadcast(qrows), "query_id")
        .select(
            "query_id",
            "vec_id",
            "label",
            "est_dot",
            _bigint_dot(F.col("q"), F.col("qq")).alias("dot_q"),
        )
    )
    if len(queries) <= 1:
        return ranked.orderBy(F.col("dot_q").desc(), "vec_id").limit(k)
    return (
        ranked.withColumn(
            "_rn",
            F.row_number().over(
                per_query.orderBy(F.col("dot_q").desc(), F.col("vec_id"))
            ),
        )
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("query_id", F.col("dot_q").desc(), "vec_id")
    )


def pq_serve_topk(
    embeddings: DataFrame,
    codes: DataFrame,
    codebooks: dict,
    query_vec_id: int,
    k: int = 10,
    m_sub: int = 8,
    rerank: int = 4,
    scale: int = 1000,
    dim: int = 64,
) -> DataFrame:
    """The plain-PQ single-query serve over an ALREADY-BUILT index —
    the entry of the train-in-query gate (:func:`pq_topk`), the
    persisted layout (:func:`pq_topk_from_layout`) and its filtered
    and staged reads: one pushed-filter collect of the quantized query
    (:func:`_collect_query_qvs`), then the :func:`_adc_topk` tail with
    no probes.  Output (vec_id, label, est_dot, dot_q)."""
    qvs = _collect_query_qvs(embeddings, [query_vec_id], scale)
    meta = {"m_sub": m_sub, "scale": scale, "dim": dim}
    return _adc_topk(
        embeddings, codes, codebooks, qvs, meta, k, rerank
    ).drop("query_id")


# The PQ code table's physical format, declared once: every read of a
# base, staged segment or fold passes this schema, so no read runs a
# schema-inference job; PQ_CODES_KEY is its sort key.
PQ_CODES_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("label", IntegerType()),
        StructField("m", IntegerType()),
        StructField("code", IntegerType()),
    ]
)
PQ_CODES_KEY = ("vec_id", "m")


def order_pq_codes(codes: DataFrame) -> DataFrame:
    """Row order of the PQ code table — build, batch append and fold:
    range-partitioned and sorted on :data:`PQ_CODES_KEY`, so the rerank
    probe's ``vec_id IN (...)`` and the anti-query filter skip row
    groups and a vector's M rows sit together.  A delta-sized staged
    segment sorts on the key within its own partitions only (no range
    sample, no shuffle); the fold restores the range clustering."""
    return codes.repartitionByRange(*PQ_CODES_KEY).sortWithinPartitions(
        *PQ_CODES_KEY
    )


def save_pq_index(
    embeddings: DataFrame,
    path: str,
    m_sub: int = 8,
    k_codes: int = 16,
    n_iter: int = 2,
    scale: int = 1000,
    dim: int = 64,
) -> None:
    """Materialize the PQ index (VERDICT r11 task 3): train once,
    persist three tables, serve forever from ~1/32nd the bytes —
    the durable counterpart of :func:`pq_topk`'s in-query build, same
    contract as :func:`save_ivf_index` / retrieval's postings layout.

    - ``{path}/codes`` — (vec_id, m, code): the compressed corpus.
      Range-partitioned + sorted by vec_id so the rerank stage's
      ``vec_id IN (...)`` probe and the anti-query filter become
      row-group skipping, and M rows per vector are co-located.
    - ``{path}/codebooks`` — (m, code, centroid_q): M x K tiny dim,
      broadcast at serve time.
    - ``{path}/meta`` — 1 row (m_sub, k_codes, scale, dim), so loading
      needs no out-of-band parameters.

    Build cost is the two Lloyd corpus passes, paid once per corpus
    version; the 82.6%-spread bench number r11 flagged was this build
    re-running inside every sample."""
    spark = embeddings.sparkSession
    codebooks = build_pq_codebooks(
        embeddings, m_sub, k_codes, n_iter, scale, dim
    )
    # codes carry the vector's metadata label: one small column per
    # code row buys filtered serving a PUSHED predicate on the code
    # scan itself (pq_filtered_topk_from_layout), instead of scanning
    # the full embeddings table just to build the id slice.  label
    # rides through the encode row-locally (pq_encode extra=) — the
    # former re-attach join shuffled the 8x-exploded code table by
    # vec_id just to pick the column back up (guide §2.4).
    codes = pq_encode(
        embeddings, codebooks, m_sub, scale, dim, extra=["label"]
    )
    # the corpus code write and the two tiny tables are independent
    # jobs — overlapped (guide §2.6); finalize_rebuild below runs only
    # after all three settle
    from pithos_spark.plans.helpers import overlap_jobs

    cb_df = spark.createDataFrame(
        [(m, c, v) for (m, c), v in sorted(codebooks.items())],
        "m int, code int, centroid_q array<bigint>",
    )
    overlap_jobs(
        lambda: order_pq_codes(codes)
        .write.mode("overwrite")
        .parquet(f"{path}/codes"),
        lambda: write_tiny_table(cb_df, f"{path}/codebooks"),
        lambda: write_tiny_table(
            spark.createDataFrame(
                [(m_sub, k_codes, scale, dim)],
                "m_sub int, k_codes int, scale int, dim int",
            ),
            f"{path}/meta",
        ),
    )
    # on a previously-compacted layout this cuts CURRENT back to the
    # fresh generation 0 and GCs old generations/staging (ADVICE r15)
    from pithos_spark.functions.layoutcommit import finalize_rebuild

    finalize_rebuild(path)


def load_pq_index(spark, path: str, root: str | None = None):
    """Load a persisted PQ index: (codes df, codebooks dict, meta row) of
    the layout's LIVE generation (layoutcommit.read_current — the
    streamed-ingest compaction swaps a pointer file, never mutates
    tables in place; a never-compacted layout resolves to itself).
    The codes are base ∪ run ∪ live staged segments
    (``layoutcommit.with_staged``): a vector appended or streamed in is
    served by every reader before any fold.  The generation is
    resolved ONCE for the base read and the staged mask — two
    resolutions race a concurrent fold (ADVICE r16); ``root`` pins an
    already-resolved one.  The tiny tables are the base's."""
    if root is None:
        root = read_current(path)
    tables = tables_root(root)
    codes = spark.read.schema(PQ_CODES_SCHEMA).parquet(f"{tables}/codes")
    # 1-row meta read driver-side: a distributed job per serve just to
    # fetch four ints was pure scheduling overhead (r17, guide §1).
    # r18: the M x K codebooks are the same KB-class artifact — read
    # driver-side too (the serving tail now computes the query LUT on
    # the driver, so a distributed codebook scan per serve bought
    # nothing but a job).  Same parquet bytes, same values.
    return (
        with_staged(spark, path, root, codes),
        read_codebooks(tables),
        read_tiny_rows(f"{tables}/meta")[0],
    )


def append_to_pq_index(new_embeddings: DataFrame, path: str) -> None:
    """Incremental index maintenance — the batch twin of
    streaming_pq_encode: encode newly-ingested vectors with the
    index's FROZEN codebooks (an M x K driver-side read) and install
    their code rows as one staged segment (:func:`frozen_segment`, the
    streaming ingest's writer), which :func:`load_pq_index` serves at
    once.  Serving over the grown index is identical to an index whose
    codes were all encoded in one pass with the same codebooks
    (tested), because encoding is row-local given frozen codebooks.
    Codebook DRIFT is the documented limitation, as for any frozen
    production quantizer: when the vector distribution moves, retrain
    via save_pq_index and re-encode.

    Retry contract: the delta must be genuinely new vec_ids, and a
    delta equal in content to one already appended IS a retry — its
    segment key is the content hash (``layoutcommit.append_key``), so
    re-running the append after a crash at any step, or after it
    succeeded, leaves exactly one installed copy."""
    append_segment(
        path,
        new_embeddings,
        frozen_segment(path, pq_encode_delta, PQ_CODES_SCHEMA, PQ_CODES_KEY),
    )


def pq_encode_delta(
    spark, new_embeddings: DataFrame, gen_root: str
) -> DataFrame:
    """Encode a delta against the FROZEN codebooks of the generation at
    ``gen_root``: (vec_id, m, code, label) rows, row-local — shared by
    :func:`append_to_pq_index` and the staged streaming ingest (the PQ
    twin of :func:`ivfpq_residual_encode_delta`).  Codebooks and meta
    are KB-sized driver-side reads (no Spark job — r17)."""
    meta = read_tiny_rows(f"{gen_root}/meta")[0]
    return pq_encode(
        new_embeddings,
        read_codebooks(gen_root),
        int(meta["m_sub"]),
        int(meta["scale"]),
        int(meta["dim"]),
        extra=["label"],  # rides row-locally; re-attach join removed
    )


def pq_topk_from_layout(
    embeddings: DataFrame,
    path: str,
    query_vec_id: int,
    k: int = 10,
    rerank: int = 4,
) -> DataFrame:
    """PQ ANN served from the persisted layout — bit-identical results
    to :func:`pq_topk` with the same (m_sub, k_codes, n_iter, scale,
    dim) (both run :func:`pq_serve_topk` over value-identical codes and
    codebooks), but the query pays ONLY the serving read: no Lloyd
    passes, no encode, just the code-table scan + broadcast LUT."""
    spark = embeddings.sparkSession
    codes, codebooks, meta = load_pq_index(spark, path)
    return pq_serve_topk(
        embeddings,
        codes,
        codebooks,
        query_vec_id,
        k,
        int(meta["m_sub"]),
        rerank,
        int(meta["scale"]),
        int(meta["dim"]),
    )


def pq_batch_topk_from_layout(
    embeddings: DataFrame,
    path: str,
    query_ids: list[int],
    k: int = 10,
    rerank: int = 4,
) -> DataFrame:
    """Batched PQ ANN over the persisted layout: MANY queries answered
    in ONE pass over the code table — the production serving shape
    (per-query loops re-scan the codes |Q| times; here the broadcast
    LUT simply grows to |Q| x M x K rows, still tiny, and the estimate
    aggregation keys by (query_id, vec_id) so queries parallelize
    across the cluster exactly like :func:`batch_topk`).  Per query:
    ADC estimates, a rerank*k candidate cut, exact quantized-dot rerank
    — each query's rows bit-identical to :func:`pq_topk_from_layout`.

    Output (query_id, vec_id, label, est_dot, dot_q), top-k per query,
    ordered by (query_id, dot_q desc, vec_id)."""
    codes, codebooks, meta = load_pq_index(embeddings.sparkSession, path)
    qvs = _collect_query_qvs(embeddings, query_ids, int(meta["scale"]))
    return _adc_topk(embeddings, codes, codebooks, qvs, meta, k, rerank)


def pq_recall_report(
    embeddings: DataFrame,
    path: str,
    query_ids: list[int],
    k: int = 10,
    rerank: int = 4,
) -> DataFrame:
    """Measured recall@k of the PERSISTED PQ index against exact
    brute-force top-k (r13): for each query id, how many of the true
    top-k the served index returns — the quality readout a deployment
    runs on a query sample BEFORE trusting an index version, completing
    the round's telemetry family (occupancy says what a probe can see,
    decode coverage says what the tiers can read, this says what the
    index actually finds).  Both sides are deterministic integer
    pipelines, so unlike float-ANN recall harnesses this one is
    oracle-exact.

    Scale: the exact side is ONE corpus scan for all |Q| queries
    (:func:`batch_topk`); the served side is one code-table pass
    (:func:`pq_batch_topk_from_layout`); the join/agg after both is
    |Q| x k rows.  At 100 TB you sample query ids — the report's cost
    is the one brute-force scan the recall measurement fundamentally
    requires, paid once per index version, not per query.

    Output (query_id, n_hits, recall_permille) ordered by query_id."""
    approx = pq_batch_topk_from_layout(
        embeddings, path, query_ids, k, rerank
    ).select("query_id", "vec_id")
    return _recall_vs_exact(embeddings, query_ids, approx, k)


def _recall_vs_exact(
    embeddings: DataFrame,
    query_ids: list[int],
    approx: DataFrame,
    k: int,
) -> DataFrame:
    """Shared recall tail: intersect a served (query_id, vec_id) top-k
    with the exact brute-force top-k and report per-query hits —
    one definition for every index family's recall gate."""
    exact = batch_topk(embeddings, query_ids, k).select(
        "query_id", "vec_id"
    )
    # both top-k sides are |Q| x k rows BY CONSTRUCTION, but they sit
    # behind aggregations whose size estimates the planner distrusts —
    # without the hint each recall report paid a sort-merge join's two
    # exchanges+sorts on k-row inputs (guide §3.1)
    hits = (
        exact.join(F.broadcast(approx), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = (
        embeddings.filter(F.col("vec_id").isin(query_ids))
        .select(F.col("vec_id").alias("query_id"))
        .distinct()
    )
    return (
        base.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        )
        .withColumn("recall_permille", F.expr(f"(1000 * n_hits) div {k}"))
        .orderBy("query_id")
    )


def ivfpq_residual_recall_report(
    embeddings: DataFrame,
    path: str,
    query_ids: list[int],
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 4,
) -> DataFrame:
    """Recall@k of the CANONICAL serving index (persisted residual
    IVFADC) against exact brute force — the probe/recall tradeoff
    readout for the index deployments actually serve: run it at the
    operating ``n_probe`` (and again at n_probe+1) on a query sample
    and the difference IS the recall a wider probe buys, measured, not
    estimated.  Same contract as :func:`pq_recall_report`; the approx
    side is the batched one-pass serving read, so the report costs one
    probe-pruned code read plus the one brute-force scan recall
    fundamentally needs."""
    approx = ivfpq_residual_batch_topk_from_layout(
        embeddings, path, query_ids, k, n_probe, rerank
    ).select("query_id", "vec_id")
    return _recall_vs_exact(embeddings, query_ids, approx, k)


def pq_recall_report_oracle(
    query_ids: list[int],
    k: int = 10,
    m_sub: int = 8,
    k_codes: int = 16,
    n_iter: int = 2,
    rerank: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`pq_recall_report`: the stored codes are
    value-identical to a fresh train at the same parameters, so the
    approx side reuses the batch-serving CTE chain
    (pq_batch_topk_oracle's tail) and the exact side is the brute-force
    window over the shared quantized-vector CTE."""
    d = dim // m_sub
    ids = ", ".join(str(i) for i in query_ids)
    return _pq_cte_sql(m_sub, k_codes, n_iter, dim) + f""", qset AS (
    SELECT vec_id AS query_id, q FROM qv WHERE vec_id IN ({ids})
), lut AS (
    SELECT qs.query_id, c.m, c.code,
           CAST(sum(c.c * qs.q[c.m * {d} + c.pos + 1]) AS BIGINT) AS pdot
    FROM cent{n_iter} c, qset qs
    GROUP BY 1, 2, 3
), est AS (
    SELECT l.query_id, cd.vec_id, CAST(sum(l.pdot) AS BIGINT) AS est_dot
    FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.code
    WHERE cd.vec_id <> l.query_id
    GROUP BY 1, 2
), cand AS (
    SELECT query_id, vec_id, est_dot FROM est
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY est_dot DESC, vec_id)
        <= {rerank * k}
), ranked AS (
    SELECT c.query_id, c.vec_id,
           (SELECT CAST(sum(e2.q[i] * qs.q[i]) AS BIGINT)
            FROM generate_series(1, {dim}) g(i)) AS dot_q
    FROM cand c
    JOIN qv e2 ON e2.vec_id = c.vec_id
    JOIN qset qs ON qs.query_id = c.query_id
), approx AS (
    SELECT query_id, vec_id FROM ranked
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY dot_q DESC, vec_id) <= {k}
), exact AS (
    SELECT query_id, vec_id FROM (
        SELECT qs.query_id, v.vec_id,
               (SELECT CAST(sum(v.q[i] * qs.q[i]) AS BIGINT)
                FROM generate_series(1, {dim}) g(i)) AS dot_q
        FROM qv v, qset qs
        WHERE v.vec_id <> qs.query_id
    ) s
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY dot_q DESC, vec_id) <= {k}
)
SELECT q.query_id AS query_id,
       CAST(count(a.vec_id) AS BIGINT) AS n_hits,
       (1000 * CAST(count(a.vec_id) AS BIGINT)) // {k} AS recall_permille
FROM (SELECT DISTINCT query_id FROM qset) q
LEFT JOIN exact e ON e.query_id = q.query_id
LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
GROUP BY 1
ORDER BY q.query_id"""


def _pq_cte_sql(
    m_sub: int,
    k_codes: int,
    n_iter: int,
    dim: int,
    standalone: bool = True,
    qv_name: str = "qv",
    train_pred: str | None = None,
) -> str:
    """DuckDB CTE prefix unrolling the joint per-subspace Lloyd PQ
    build (build_pq_codebooks) through ``codes`` (vec_id, m, code) —
    shared seeds, integer subspace distances, floor-div centroid
    updates keyed (m, code), empty-code carry-over.

    ``standalone=False`` renames every intermediate CTE with a ``p``
    prefix and reuses an existing quantized-vector CTE instead of
    opening its own WITH — so the block composes after
    :func:`_lloyd_cte_sql` (whose CTEs use the same family names) for
    the IVF-PQ oracles.  ``qv_name`` picks that source CTE — the
    residual form trains over ``rqv`` (vec - assigned centroid).

    ``train_pred`` (r16) restricts the TRAINING corpus (seeds + every
    Lloyd pass) to the vectors matching the predicate, while the final
    ``codes`` CTE still encodes EVERY vector against the trained
    centroids — the oracle form of frozen-codebook index maintenance
    (save_pq_index(base) + append/staged-ingest of the rest encodes
    exactly this way, since encoding is row-local).  ``None`` keeps
    the historical full-corpus SQL byte-identical."""
    h = "('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT"
    d = dim // m_sub
    p = "" if standalone else "p"
    qv = qv_name
    head = (
        """\
WITH qv AS (
    SELECT vec_id, label,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
    FROM embeddings
), """
        if standalone
        else ", "
    )
    tqv = qv  # the training-vector CTE the Lloyd passes draw from
    tqv_cte = ""
    seed_where = ""
    if train_pred is not None:
        tqv = f"{p}tqv"
        tqv_cte = f"""{p}tqv AS (
    SELECT * FROM {qv} WHERE {train_pred}
), """
        seed_where = f"\n    WHERE {train_pred}"
    parts = [
        f"""\
{head}{tqv_cte}{p}seeds AS (
    SELECT vec_id, row_number() OVER (ORDER BY {h}, vec_id) - 1 AS code
    FROM embeddings{seed_where}
    QUALIFY row_number() OVER (ORDER BY {h}, vec_id) <= {k_codes}
), {p}cent0 AS (
    SELECT s.code, (g.i - 1) // {d} AS m, (g.i - 1) % {d} AS pos,
           q.q[g.i] AS c
    FROM {p}seeds s JOIN {qv} q USING (vec_id), generate_series(1, {dim}) g(i)
)"""
    ]
    for j in range(n_iter):
        parts.append(
            f""", {p}dist{j} AS (
    SELECT q.vec_id, c.m, c.code,
           sum((q.q[c.m * {d} + c.pos + 1] - c.c)
               * (q.q[c.m * {d} + c.pos + 1] - c.c)) AS dd
    FROM {tqv} q, {p}cent{j} c GROUP BY 1, 2, 3
), {p}assign{j} AS (
    SELECT vec_id, m, code FROM {p}dist{j}
    QUALIFY row_number() OVER (PARTITION BY vec_id, m
                               ORDER BY dd, code) = 1
), {p}sums{j} AS (
    SELECT a.m, a.code, g.i - 1 AS pos,
           CAST(sum(q.q[a.m * {d} + g.i]) AS BIGINT) AS s, count(*) AS n
    FROM {p}assign{j} a JOIN {tqv} q USING (vec_id), generate_series(1, {d}) g(i)
    GROUP BY 1, 2, 3
), {p}cent{j + 1} AS (
    SELECT m, code, pos, (s - ((s % n + n) % n)) // n AS c FROM {p}sums{j}
    UNION ALL
    SELECT pr.m, pr.code, pr.pos, pr.c FROM {p}cent{j} pr
    WHERE NOT EXISTS (SELECT 1 FROM {p}sums{j} s
                      WHERE s.m = pr.m AND s.code = pr.code)
)"""
        )
    parts.append(
        f""", codes AS (
    SELECT vec_id, m, code FROM (
        SELECT q.vec_id, c.m, c.code,
               sum((q.q[c.m * {d} + c.pos + 1] - c.c)
                   * (q.q[c.m * {d} + c.pos + 1] - c.c)) AS dd
        FROM {qv} q, {p}cent{n_iter} c GROUP BY 1, 2, 3
    ) t
    QUALIFY row_number() OVER (PARTITION BY vec_id, m
                               ORDER BY dd, code) = 1
)"""
    )
    return "".join(parts)


def pq_topk_oracle(
    query_vec_id: int,
    k: int = 10,
    m_sub: int = 8,
    k_codes: int = 16,
    n_iter: int = 2,
    rerank: int = 4,
    dim: int = 64,
    train_pred: str | None = None,
) -> str:
    """DuckDB twin of :func:`pq_topk`: the joint Lloyd build unrolled
    (_pq_cte_sql), the ADC lookup table, estimate sums, the rerank cut
    and the exact-dot rerank — bit-identical to the Spark plan.

    With ``train_pred``, the twin of frozen-codebook maintenance:
    codebooks trained on the matching slice, every vector encoded —
    what save_pq_index(base) + appended/staged deltas serve."""
    d = dim // m_sub
    return _pq_cte_sql(
        m_sub, k_codes, n_iter, dim, train_pred=train_pred
    ) + f""", lut AS (
    SELECT c.m, c.code,
           CAST(sum(c.c * q.q[c.m * {d} + c.pos + 1]) AS BIGINT) AS pdot
    FROM cent{n_iter} c,
         (SELECT q FROM qv WHERE vec_id = {query_vec_id}) q(q)
    GROUP BY 1, 2
), est AS (
    SELECT cd.vec_id, CAST(sum(l.pdot) AS BIGINT) AS est_dot
    FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.code
    WHERE cd.vec_id <> {query_vec_id}
    GROUP BY 1
), cand AS (
    SELECT vec_id, est_dot FROM est
    QUALIFY row_number() OVER (ORDER BY est_dot DESC, vec_id)
        <= {rerank * k}
)
SELECT c.vec_id, e.label, c.est_dot,
       (SELECT CAST(sum(e2.q[i] * q.q[i]) AS BIGINT)
        FROM generate_series(1, {dim}) g(i)) AS dot_q
FROM cand c
JOIN embeddings e ON e.vec_id = c.vec_id
JOIN qv e2 ON e2.vec_id = c.vec_id,
     (SELECT q FROM qv WHERE vec_id = {query_vec_id}) q(q)
ORDER BY dot_q DESC, c.vec_id
LIMIT {k}"""


def pq_batch_topk_oracle(
    query_ids: list[int],
    k: int = 10,
    m_sub: int = 8,
    k_codes: int = 16,
    n_iter: int = 2,
    rerank: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`pq_batch_topk_from_layout`: the same
    unrolled Lloyd build (stored codes are value-identical to the
    freshly-trained ones for the same parameters), a (query_id, m,
    code)-keyed lookup table, per-query estimate sums, per-query rerank
    cuts and per-query exact-dot top-k."""
    d = dim // m_sub
    ids = ", ".join(str(i) for i in query_ids)
    return _pq_cte_sql(m_sub, k_codes, n_iter, dim) + f""", qset AS (
    SELECT vec_id AS query_id, q FROM qv WHERE vec_id IN ({ids})
), lut AS (
    SELECT qs.query_id, c.m, c.code,
           CAST(sum(c.c * qs.q[c.m * {d} + c.pos + 1]) AS BIGINT) AS pdot
    FROM cent{n_iter} c, qset qs
    GROUP BY 1, 2, 3
), est AS (
    SELECT l.query_id, cd.vec_id, CAST(sum(l.pdot) AS BIGINT) AS est_dot
    FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.code
    WHERE cd.vec_id <> l.query_id
    GROUP BY 1, 2
), cand AS (
    SELECT query_id, vec_id, est_dot FROM est
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY est_dot DESC, vec_id)
        <= {rerank * k}
), ranked AS (
    SELECT c.query_id, c.vec_id, e.label, c.est_dot,
           (SELECT CAST(sum(e2.q[i] * qs.q[i]) AS BIGINT)
            FROM generate_series(1, {dim}) g(i)) AS dot_q
    FROM cand c
    JOIN embeddings e ON e.vec_id = c.vec_id
    JOIN qv e2 ON e2.vec_id = c.vec_id
    JOIN qset qs ON qs.query_id = c.query_id
)
SELECT query_id, vec_id, label, est_dot, dot_q
FROM ranked
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY dot_q DESC, vec_id) <= {k}
ORDER BY query_id, dot_q DESC, vec_id"""


def ivfpq_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_clusters: int = 8,
    n_iter: int = 2,
    n_probe: int = 2,
    m_sub: int = 8,
    k_codes: int = 16,
    pq_iter: int = 2,
    rerank: int = 4,
    scale: int = 1000,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ — the composed FAISS-style IVFADC layout (non-residual
    variant): the Lloyd coarse quantizer prunes the corpus to
    ``n_probe`` inverted lists, the PQ code table + broadcast ADC
    lookup scores only those lists' members, and the top ``rerank*k``
    estimates are re-scored with the exact quantized dot.

    This is THE 100 TB ANN architecture: the coarse index turns the
    scan into partition pruning (persist the code table
    cluster-partitioned, as ``save_ivf_index`` does for vectors) and
    PQ turns the per-row cost into M byte-code lookups — the serving
    pass reads ~1/32nd of the raw bytes of ~n_probe/n_clusters of the
    corpus.  Both trainers are the existing engine-exact Lloyd forms,
    so the full build+probe pipeline keeps a bit-identical DuckDB
    twin.  Output (vec_id, label, est_dot, dot_q).

    SERVING NOTE (r13, VERDICT r12 task 6): this non-residual variant
    deliberately has NO persisted-layout twin and stays a
    train-in-query reference form.  The canonical serving path is the
    RESIDUAL family — :func:`save_ivfpq_residual_index` /
    :func:`ivfpq_residual_topk_from_layout` — which persists the
    cluster-partitioned code table this docstring describes AND trains
    PQ on (vector − assigned centroid), strictly tightening the
    quantization error for the same bytes (the standard IVFADC recipe).
    A non-residual layout would duplicate that machinery to serve a
    looser estimate, so deployments should build the residual index;
    this form exists to gate the composition itself and to measure how
    much the residual step buys."""
    assigned, centers = build_ivf_lloyd_index(
        embeddings, n_clusters, n_iter, scale
    )
    codebooks = build_pq_codebooks(
        embeddings, m_sub, k_codes, pq_iter, scale, dim
    )
    # the codes carry their vector's assigned cluster row-locally, so
    # the probe is the shared tail's cluster filter; a non-residual
    # estimate has no centroid term (cterm 0)
    codes = pq_encode(assigned, codebooks, m_sub, scale, dim, ["cluster"])
    centers_dict = {
        int(r["cluster"]): [int(v) for v in r["centroid_q"]]
        for r in centers.collect()  # a LocalRelation: no job
    }
    qvs = _collect_query_qvs(embeddings, [query_vec_id], scale)
    probes = {
        qid: [
            (c, 0)
            for c, _ in _residual_probe_rows(centers_dict, qq, n_probe)
        ]
        for qid, qq in qvs.items()
    }
    meta = {"m_sub": m_sub, "scale": scale, "dim": dim}
    return _adc_topk(
        embeddings, codes, codebooks, qvs, meta, k, rerank, probes
    ).drop("query_id")


def ivfpq_residual_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_clusters: int = 8,
    n_iter: int = 2,
    n_probe: int = 2,
    m_sub: int = 8,
    k_codes: int = 16,
    pq_iter: int = 2,
    rerank: int = 4,
    scale: int = 1000,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the true FAISS IVFADC: PQ
    codebooks are trained on (vector - assigned coarse centroid), which
    concentrates the quantizer's budget on the within-cell spread
    instead of re-describing cell positions (the classic recall win
    over plain-vector PQ).  Residuals are integer differences of
    already-quantized vectors, so the whole pipeline stays
    engine-exact.

    Inner-product ADC decomposes per probed cell c:
    dot(q, x) = dot(q, cent_c) + dot(q, res_x)
    — the first term is a per-cluster constant (n_probe rows), the
    second the usual M-lookup sum against the residual codebooks'
    query-subvector LUT.  Serving cost is identical to plain IVF-PQ;
    only training adds the one centroid-subtraction pass.
    Output (vec_id, label, est_dot, dot_q)."""
    assigned, centers = build_ivf_lloyd_index(
        embeddings, n_clusters, n_iter, scale
    )
    # residuals straight off the assigned rows — same join-free shape
    # as save_ivfpq_residual_index (the former corpus-wide vec_id
    # re-attach joins are gone; cluster rides along so codes_assigned
    # is a projection, not a join)
    from pithos_spark.plans.helpers import bounded_persist

    rqv = bounded_persist(
        assigned.join(F.broadcast(centers), "cluster").select(
            "vec_id",
            "cluster",
            F.zip_with(
                _quantized(F.col("embedding"), scale),
                F.col("centroid_q"),
                lambda a, b: a - b,
            ).alias("q"),
        ),
        "ivfpq_residual_topk.rqv",
    )
    codebooks = _build_pq_codebooks_q(rqv, m_sub, k_codes, pq_iter, dim)
    k_eff = len({c for _, c in codebooks}) or 1
    codes_assigned = rqv.select(
        "vec_id",
        "cluster",
        F.posexplode(_pq_assign_all(codebooks, m_sub, k_eff)).alias(
            "m", "code"
        ),
    )
    # centers is a LocalRelation built from the trainer's collected
    # centroids — .collect() here is job-free and hands the serve the
    # same K x dim ints
    centers_dict = {
        int(r["cluster"]): [int(v) for v in r["centroid_q"]]
        for r in centers.collect()
    }
    meta = {"m_sub": m_sub, "scale": scale, "dim": dim}
    return _residual_topk(
        embeddings, codes_assigned, centers_dict, codebooks, meta,
        [query_vec_id], k, n_probe, rerank,
    ).drop("query_id")


def _residual_probe_rows(
    centers: dict, qq: list[int], n_probe: int
) -> list[tuple[int, int]]:
    """The query's ``n_probe`` coarse lists with their centroid dot
    terms, computed driver-side over the K-row centers dict: cd =
    sum((c_i - q_i)^2), cterm = dot(c, q) — exact Python int
    arithmetic, ranked by the same (cd, cluster) total order the old
    row_number window used.  K rows of metadata-class work; emitted as
    a LocalRelation so the broadcast launches no job, and the probed
    cluster ids become LITERALS the code scan can statically prune
    partitions with (stronger than the former runtime join pruning)."""
    scored = sorted(
        (
            sum((a - b) * (a - b) for a, b in zip(v, qq)),
            c,
            sum(a * b for a, b in zip(v, qq)),
        )
        for c, v in centers.items()
    )
    return [(c, cterm) for _cd, c, cterm in scored[:n_probe]]


def _residual_topk(
    embeddings: DataFrame,
    codes: DataFrame,
    centers: dict,
    codebooks: dict,
    meta,
    query_ids: list[int],
    k: int,
    n_probe: int,
    rerank: int,
) -> DataFrame:
    """Residual IVFADC over an ALREADY-BUILT index — train-in-query,
    persisted, filtered or staged, one query or a batch: one collect of
    the quantized queries, each query's own ``n_probe`` coarse lists
    (:func:`_residual_probe_rows`), then the :func:`_adc_topk` tail.
    ``codes`` is (vec_id, cluster, m, code[, label]); ``centers`` and
    ``codebooks`` are the KB-sized driver-side dicts."""
    qvs = _collect_query_qvs(embeddings, query_ids, int(meta["scale"]))
    probes = {
        qid: _residual_probe_rows(centers, qq, n_probe)
        for qid, qq in qvs.items()
    }
    return _adc_topk(
        embeddings, codes, codebooks, qvs, meta, k, rerank, probes
    )


# The residual-IVFADC code table: PQ's columns plus the coarse
# ``cluster``, last because the base and fold partition by it (a
# staged segment writes it as a plain column in the same place).
RESIDUAL_CODES_SCHEMA = StructType(
    PQ_CODES_SCHEMA.fields + [StructField("cluster", IntegerType())]
)


def order_residual_codes(codes: DataFrame) -> DataFrame:
    """Row order of the residual-IVFADC code table — build, batch
    append and fold: clustered on the coarse cluster, sorted by
    :data:`PQ_CODES_KEY` within files.  The base tables add the
    cluster directory partitioning on top; a staged segment keeps
    cluster as a plain column and only sorts within its partitions."""
    return codes.repartition("cluster").sortWithinPartitions(*PQ_CODES_KEY)


def save_ivfpq_residual_index(
    embeddings: DataFrame,
    path: str,
    n_clusters: int = 8,
    n_iter: int = 2,
    m_sub: int = 8,
    k_codes: int = 16,
    pq_iter: int = 2,
    scale: int = 1000,
    dim: int = 64,
) -> None:
    """Materialize the residual-IVFADC index: coarse Lloyd centroids,
    residual PQ codebooks, and the encoded corpus written PARTITIONED
    BY the coarse cluster — probing n_probe lists at serve time is a
    directory-pruned read of those partitions (the save_ivf_index
    contract) over code rows (~1/32 the raw embedding bytes, the
    save_pq_index contract).  The FAISS-style build/serve split made
    durable: Lloyd passes are paid once per corpus version.

    Tables: ``{path}/codes`` (vec_id, cluster, m, code) partitioned by
    cluster + sorted by vec_id; ``{path}/centers`` (cluster,
    centroid_q); ``{path}/codebooks`` (m, code, centroid_q);
    ``{path}/meta`` (1 row of build parameters)."""
    from pithos_spark.plans.helpers import bounded_persist

    spark = embeddings.sparkSession
    assigned, centers = build_ivf_lloyd_index(
        embeddings, n_clusters, n_iter, scale
    )
    # residuals straight off the ASSIGNED rows: `assigned` already
    # carries (vec_id, label, embedding, cluster), so quantizing
    # inline and broadcast-joining the k-row centroid table on
    # `cluster` produces the identical (vec - centroid) vectors
    # WITHOUT the former corpus-wide vec_id re-attach join (guide
    # §2.4).  label and cluster ride along so the code write below
    # needs no joins either.  bounded_persist: the PQ trainer scans
    # rqv once per round and the encode once more — without the
    # persist each pass re-runs the Lloyd assignment UDF over the
    # whole corpus (the plan embeds a fresh UDF instance per build, so
    # the slot re-materializes per invocation, never across them).
    rqv = bounded_persist(
        assigned.join(F.broadcast(centers), "cluster").select(
            "vec_id",
            "label",
            "cluster",
            F.zip_with(
                _quantized(F.col("embedding"), scale),
                F.col("centroid_q"),
                lambda a, b: a - b,
            ).alias("q"),
        ),
        "save_ivfpq_residual_index.rqv",
    )
    codebooks = _build_pq_codebooks_q(rqv, m_sub, k_codes, pq_iter, dim)
    k_eff = len({c for _, c in codebooks}) or 1
    codes = rqv.select(
        "vec_id",
        # label rides in the code table for pushed filtered serving,
        # as in save_pq_index
        "label",
        "cluster",
        F.posexplode(_pq_assign_all(codebooks, m_sub, k_eff)).alias(
            "m", "code"
        ),
    )
    # the four table writes are independent jobs over the persisted
    # rqv / the k-row centers — overlapped (guide §2.6);
    # finalize_rebuild below runs only after all four settle
    from pithos_spark.plans.helpers import overlap_jobs

    overlap_jobs(
        lambda: order_residual_codes(codes)
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{path}/codes"),
        lambda: centers.write.mode("overwrite").parquet(f"{path}/centers"),
        lambda: write_tiny_table(
            spark.createDataFrame(
                [(m, c, v) for (m, c), v in sorted(codebooks.items())],
                "m int, code int, centroid_q array<bigint>",
            ),
            f"{path}/codebooks",
        ),
        lambda: write_tiny_table(
            spark.createDataFrame(
                [(n_clusters, m_sub, k_codes, scale, dim)],
                "n_clusters int, m_sub int, k_codes int, scale int, dim int",
            ),
            f"{path}/meta",
        ),
    )
    # on a previously-compacted layout this cuts CURRENT back to the
    # fresh generation 0 and GCs old generations/staging
    from pithos_spark.functions.layoutcommit import finalize_rebuild

    finalize_rebuild(path)


def append_to_ivfpq_residual_index(
    new_embeddings: DataFrame, path: str
) -> None:
    """Incremental maintenance for the residual-IVFADC layout (r13) —
    the :func:`append_to_pq_index` twin the canonical serving index was
    missing: assign newly-ingested vectors to their nearest FROZEN
    coarse centroid, encode the residual against the FROZEN codebooks,
    and install the code rows as one staged segment
    (:func:`frozen_segment`; cluster rides as a column until a fold
    restores the directory partitioning).  Both steps are row-local
    given the frozen artifacts, so serving over the appended index is
    identical to one-pass encoding of the full corpus under the same
    artifacts regardless of ingest order or batch boundaries (tested).
    Codebook and centroid DRIFT is the documented limitation, as for
    any frozen production quantizer: when the distribution moves,
    retrain via :func:`save_ivfpq_residual_index`.

    Retry contract: the delta must be genuinely new vec_ids, and a
    delta equal in content to one already appended IS a retry — its
    segment key is the content hash (``layoutcommit.append_key``), so
    re-running the append after a crash at any step, or after it
    succeeded, leaves exactly one installed copy."""
    append_segment(
        path,
        new_embeddings,
        frozen_segment(
            path, ivfpq_residual_encode_delta, RESIDUAL_CODES_SCHEMA,
            PQ_CODES_KEY,
        ),
    )


def ivfpq_residual_encode_delta(
    spark, new_embeddings: DataFrame, gen_root: str
) -> DataFrame:
    """Frozen-artifact encode of a delta against the layout generation
    at ``gen_root``: assign each new vector to its nearest STORED
    coarse centroid, encode the residual against the STORED codebooks,
    and return (vec_id, label, cluster, m, code) rows.  Row-local
    given the frozen artifacts — shared by the batch append above and
    the staged streaming ingest
    (``streaming/ingest.streaming_ivfpq_residual_ingest``)."""
    meta = read_tiny_rows(f"{gen_root}/meta")[0]
    centers = read_centers(gen_root)
    codebooks = read_codebooks(gen_root)
    # the residual join's k-row build side, from the same driver-read
    # rows (a local relation — no parquet scan job per micro-batch)
    centers_df = spark.createDataFrame(
        [(c, v) for c, v in sorted(centers.items())],
        "cluster int, centroid_q array<bigint>",
    )
    scale, dim, m_sub = int(meta["scale"]), int(meta["dim"]), int(meta["m_sub"])
    qv = new_embeddings.select(
        "vec_id", "label", _quantized(F.col("embedding"), scale).alias("q")
    )
    assigned = qv.select(
        "vec_id", "label", "q", _lloyd_assign(qv, centers).alias("cluster")
    )
    # label and cluster ride through the residual + encode row-locally;
    # the former two re-attach joins on vec_id are gone (guide §2.4)
    rqv = (
        assigned.join(F.broadcast(centers_df), "cluster")
        .select(
            "vec_id",
            "label",
            "cluster",
            F.zip_with("q", "centroid_q", lambda a, b: a - b).alias("q"),
        )
    )
    k_eff = len({c for _, c in codebooks}) or 1
    return rqv.select(
        "vec_id",
        "label",
        "cluster",
        F.posexplode(_pq_assign_all(codebooks, m_sub, k_eff)).alias(
            "m", "code"
        ),
    )


def load_ivfpq_residual_index(spark, path: str, root: str | None = None):
    """Load a persisted residual-IVFADC index: (codes df, centers dict,
    codebooks dict, meta row) of the layout's LIVE generation — the
    :func:`load_pq_index` contract (codes = base ∪ run ∪ live staged
    segments under one resolution; ``root`` pins it).  The base code
    table keeps its cluster partitioning, so the probed clusters prune
    directories (the delta-sized staged rows are filtered by value);
    centers, codebooks and meta are KB-sized driver-side reads (no
    Spark job, r18)."""
    if root is None:
        root = read_current(path)
    tables = tables_root(root)
    codes = spark.read.schema(RESIDUAL_CODES_SCHEMA).parquet(
        f"{tables}/codes"
    )
    return (
        with_staged(spark, path, root, codes),
        read_centers(tables),
        read_codebooks(tables),
        read_tiny_rows(f"{tables}/meta")[0],
    )


def ivfpq_residual_topk_from_layout(
    embeddings: DataFrame,
    path: str,
    query_vec_id: int,
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 4,
) -> DataFrame:
    """Residual IVFADC served from the persisted layout — bit-identical
    to :func:`ivfpq_residual_topk` with the same build parameters (both
    run :func:`_residual_topk` over value-identical tables); the query
    pays only the probe-pruned code read plus the tiny exact rerank."""
    index = load_ivfpq_residual_index(embeddings.sparkSession, path)
    return _residual_topk(
        embeddings, *index, [query_vec_id], k, n_probe, rerank
    ).drop("query_id")


def ivfpq_residual_batch_topk_from_layout(
    embeddings: DataFrame,
    path: str,
    query_ids: list[int],
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 4,
) -> DataFrame:
    """Batched residual-IVFADC over the persisted layout (r13): MANY
    queries answered in ONE pass over the cluster-partitioned code
    table — the production query-stream shape for the CANONICAL serving
    index (:func:`pq_batch_topk_from_layout` already gave the plain PQ
    index its batch form; the residual index, which deployments should
    actually serve per the ivfpq_topk serving note, was answering one
    query per code read).  Per query: its OWN ``n_probe`` coarse lists,
    a (query_id, m, code)-keyed broadcast residual LUT, the per-cluster
    centroid dot term, a per-query rerank cut and exact-dot top-k —
    each query's rows bit-identical to
    :func:`ivfpq_residual_topk_from_layout` (tested).

    Scale: the code scan reads only the UNION of all queries' probed
    cluster partitions (the probed ids are literals: static partition
    pruning); the LUT grows to |Q| x M x K rows — still
    broadcast-tiny; estimates key by (query_id, vec_id) so queries
    parallelize across the cluster.  Output (query_id, vec_id, label,
    est_dot, dot_q), top-k per query, ordered by (query_id, dot_q desc,
    vec_id)."""
    index = load_ivfpq_residual_index(embeddings.sparkSession, path)
    return _residual_topk(
        embeddings, *index, query_ids, k, n_probe, rerank
    )


def ivfpq_residual_filtered_topk_from_layout(
    embeddings: DataFrame,
    path: str,
    query_vec_id: int,
    label: int,
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 4,
) -> DataFrame:
    """Filtered residual-IVFADC over the persisted layout: the label
    predicate is PUSHED into the cluster-partitioned code scan (the
    label rides in the table, as for PQ), composing both prunings —
    coarse probe selection prunes partitions, the label filter prunes
    row groups within them — before any estimate arithmetic.  Same
    :func:`_residual_topk` tail, so engine-exact against the
    label-extended oracle."""
    codes, *index = load_ivfpq_residual_index(embeddings.sparkSession, path)
    return _residual_topk(
        embeddings,
        codes.filter(F.col("label") == label).drop("label"),
        *index,
        [query_vec_id],
        k,
        n_probe,
        rerank,
    ).drop("query_id")


def ivfpq_residual_topk_oracle(
    query_vec_id: int,
    k: int = 10,
    n_clusters: int = 8,
    n_iter: int = 2,
    n_probe: int = 2,
    m_sub: int = 8,
    k_codes: int = 16,
    pq_iter: int = 2,
    rerank: int = 4,
    dim: int = 64,
    label: int | None = None,
    train_pred: str | None = None,
) -> str:
    """DuckDB twin of :func:`ivfpq_residual_topk`: the Lloyd unroll,
    the residual-vector CTE (vec - assigned centroid), the prefixed PQ
    unroll trained OVER rqv, the probe ranking with per-cluster
    centroid dot terms, the in-list ADC estimate (+ centroid term) and
    the exact-dot tail.  ``label`` restricts the estimate to the
    metadata slice (the filtered layout gate).

    With ``train_pred`` (r16), the twin of frozen-artifact
    maintenance: coarse centroids AND residual codebooks trained on
    the matching slice only, every vector assigned/encoded — what
    save_ivfpq_residual_index(base) + appended/staged deltas serve."""
    d = dim // m_sub
    label_clause = (
        ""
        if label is None
        else f" AND cd2.vec_id IN (SELECT vec_id FROM embeddings"
             f" WHERE label = {label})"
    )
    return (
        _lloyd_cte_sql(n_clusters, n_iter, dim, train_pred=train_pred)
        + f""", rqv AS MATERIALIZED (
    SELECT q.vec_id, list(q.q[c.pos + 1] - c.c ORDER BY c.pos) AS q
    FROM qv q
    JOIN final_assign fa USING (vec_id)
    JOIN cent{n_iter} c ON c.cluster = fa.cluster
    GROUP BY q.vec_id
)"""
        + _pq_cte_sql(
            m_sub,
            k_codes,
            pq_iter,
            dim,
            standalone=False,
            qv_name="rqv",
            train_pred=train_pred,
        )
        + f""", cdist AS (
    SELECT c.cluster,
           sum((c.c - q.q[c.pos + 1]) * (c.c - q.q[c.pos + 1])) AS cd,
           CAST(sum(c.c * q.q[c.pos + 1]) AS BIGINT) AS cterm
    FROM cent{n_iter} c,
         (SELECT q FROM qv WHERE vec_id = {query_vec_id}) q(q)
    GROUP BY 1
), probes AS (
    SELECT cluster, cterm FROM cdist
    QUALIFY row_number() OVER (ORDER BY cd, cluster) <= {n_probe}
), lut AS (
    SELECT c.m, c.code,
           CAST(sum(c.c * q.q[c.m * {d} + c.pos + 1]) AS BIGINT) AS pdot
    FROM pcent{pq_iter} c,
         (SELECT q FROM qv WHERE vec_id = {query_vec_id}) q(q)
    GROUP BY 1, 2
), est AS (
    SELECT cd2.vec_id,
           CAST(sum(l.pdot) + min(p.cterm) AS BIGINT) AS est_dot
    FROM codes cd2
    JOIN final_assign fa ON fa.vec_id = cd2.vec_id
    JOIN probes p ON fa.cluster = p.cluster
    JOIN lut l ON cd2.m = l.m AND cd2.code = l.code
    WHERE cd2.vec_id <> {query_vec_id}{label_clause}
    GROUP BY 1
), cand AS (
    SELECT vec_id, est_dot FROM est
    QUALIFY row_number() OVER (ORDER BY est_dot DESC, vec_id)
        <= {rerank * k}
)
SELECT c.vec_id, e.label, c.est_dot,
       (SELECT CAST(sum(e2.q[i] * q.q[i]) AS BIGINT)
        FROM generate_series(1, {dim}) g(i)) AS dot_q
FROM cand c
JOIN embeddings e ON e.vec_id = c.vec_id
JOIN qv e2 ON e2.vec_id = c.vec_id,
     (SELECT q FROM qv WHERE vec_id = {query_vec_id}) q(q)
ORDER BY dot_q DESC, c.vec_id
LIMIT {k}"""
    )


def ivfpq_residual_batch_topk_oracle(
    query_ids: list[int],
    k: int = 10,
    n_clusters: int = 8,
    n_iter: int = 2,
    n_probe: int = 2,
    m_sub: int = 8,
    k_codes: int = 16,
    pq_iter: int = 2,
    rerank: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`ivfpq_residual_batch_topk_from_layout`:
    the single-query residual oracle's CTE chain with every stage keyed
    by query_id from a qset CTE — per-query probes, per-query LUT,
    per-query estimate/rerank windows.  The stored layout's tables are
    value-identical to a fresh train at the same parameters, so the
    batch serving read shares this twin."""
    return _ivfpq_residual_batch_cte(
        query_ids, k, n_clusters, n_iter, n_probe, m_sub, k_codes,
        pq_iter, rerank, dim,
    ) + f"""
SELECT query_id, vec_id, label, est_dot, dot_q FROM ranked
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY dot_q DESC, vec_id) <= {k}
ORDER BY query_id, dot_q DESC, vec_id"""


def _ivfpq_residual_batch_cte(
    query_ids: list[int],
    k: int = 10,
    n_clusters: int = 8,
    n_iter: int = 2,
    n_probe: int = 2,
    m_sub: int = 8,
    k_codes: int = 16,
    pq_iter: int = 2,
    rerank: int = 4,
    dim: int = 64,
) -> str:
    """The batched residual serving chain through ``ranked`` (qset,
    per-query probes/LUT/estimates, exact rerank scores) — shared by
    the batch top-k oracle and the residual recall-report oracle."""
    d = dim // m_sub
    ids = ", ".join(str(i) for i in query_ids)
    return (
        _lloyd_cte_sql(n_clusters, n_iter, dim)
        + f""", rqv AS MATERIALIZED (
    SELECT q.vec_id, list(q.q[c.pos + 1] - c.c ORDER BY c.pos) AS q
    FROM qv q
    JOIN final_assign fa USING (vec_id)
    JOIN cent{n_iter} c ON c.cluster = fa.cluster
    GROUP BY q.vec_id
)"""
        + _pq_cte_sql(
            m_sub, k_codes, pq_iter, dim, standalone=False, qv_name="rqv"
        )
        + f""", qset AS (
    SELECT vec_id AS query_id, q FROM qv WHERE vec_id IN ({ids})
), cdist AS (
    SELECT qs.query_id, c.cluster,
           sum((c.c - qs.q[c.pos + 1]) * (c.c - qs.q[c.pos + 1])) AS cd,
           CAST(sum(c.c * qs.q[c.pos + 1]) AS BIGINT) AS cterm
    FROM cent{n_iter} c, qset qs
    GROUP BY 1, 2
), probes AS (
    SELECT query_id, cluster, cterm FROM cdist
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY cd, cluster) <= {n_probe}
), lut AS (
    SELECT qs.query_id, c.m, c.code,
           CAST(sum(c.c * qs.q[c.m * {d} + c.pos + 1]) AS BIGINT) AS pdot
    FROM pcent{pq_iter} c, qset qs
    GROUP BY 1, 2, 3
), est AS (
    SELECT p.query_id, cd2.vec_id,
           CAST(sum(l.pdot) + min(p.cterm) AS BIGINT) AS est_dot
    FROM codes cd2
    JOIN final_assign fa ON fa.vec_id = cd2.vec_id
    JOIN probes p ON fa.cluster = p.cluster
    JOIN lut l ON l.query_id = p.query_id
              AND cd2.m = l.m AND cd2.code = l.code
    WHERE cd2.vec_id <> p.query_id
    GROUP BY 1, 2
), cand AS (
    SELECT query_id, vec_id, est_dot FROM est
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY est_dot DESC, vec_id)
        <= {rerank * k}
), ranked AS (
    SELECT c.query_id, c.vec_id, e.label, c.est_dot,
           (SELECT CAST(sum(e2.q[i] * qs.q[i]) AS BIGINT)
            FROM generate_series(1, {dim}) g(i)) AS dot_q
    FROM cand c
    JOIN embeddings e ON e.vec_id = c.vec_id
    JOIN qv e2 ON e2.vec_id = c.vec_id
    JOIN qset qs ON qs.query_id = c.query_id
)"""
    )


def ivfpq_residual_recall_oracle(
    query_ids: list[int],
    k: int = 10,
    n_clusters: int = 8,
    n_iter: int = 2,
    n_probe: int = 2,
    m_sub: int = 8,
    k_codes: int = 16,
    pq_iter: int = 2,
    rerank: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`ivfpq_residual_recall_report`: the batched
    residual serving chain as the approx side, the brute-force window
    over the shared quantized-vector CTE as the exact side."""
    return _ivfpq_residual_batch_cte(
        query_ids, k, n_clusters, n_iter, n_probe, m_sub, k_codes,
        pq_iter, rerank, dim,
    ) + f""", approx AS (
    SELECT query_id, vec_id FROM ranked
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY dot_q DESC, vec_id) <= {k}
), exact AS (
    SELECT query_id, vec_id FROM (
        SELECT qs.query_id, v.vec_id,
               (SELECT CAST(sum(v.q[i] * qs.q[i]) AS BIGINT)
                FROM generate_series(1, {dim}) g(i)) AS dot_q
        FROM qv v, qset qs
        WHERE v.vec_id <> qs.query_id
    ) s
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY dot_q DESC, vec_id) <= {k}
)
SELECT q.query_id AS query_id,
       CAST(count(a.vec_id) AS BIGINT) AS n_hits,
       (1000 * CAST(count(a.vec_id) AS BIGINT)) // {k} AS recall_permille
FROM (SELECT DISTINCT query_id FROM qset) q
LEFT JOIN exact e ON e.query_id = q.query_id
LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
GROUP BY 1
ORDER BY q.query_id"""


def ivfpq_topk_oracle(
    query_vec_id: int,
    k: int = 10,
    n_clusters: int = 8,
    n_iter: int = 2,
    n_probe: int = 2,
    m_sub: int = 8,
    k_codes: int = 16,
    pq_iter: int = 2,
    rerank: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`ivfpq_topk`: the Lloyd coarse unroll
    (_lloyd_cte_sql), the prefixed PQ unroll (_pq_cte_sql composed,
    sharing qv), the probe ranking, the in-list ADC estimate, the
    rerank cut and the exact-dot tail — bit-identical."""
    d = dim // m_sub
    return (
        _lloyd_cte_sql(n_clusters, n_iter, dim)
        + _pq_cte_sql(m_sub, k_codes, pq_iter, dim, standalone=False)
        + f""", cdist AS (
    SELECT c.cluster,
           sum((c.c - q.q[c.pos + 1]) * (c.c - q.q[c.pos + 1])) AS cd
    FROM cent{n_iter} c,
         (SELECT q FROM qv WHERE vec_id = {query_vec_id}) q(q)
    GROUP BY 1
), probes AS (
    SELECT cluster FROM cdist
    QUALIFY row_number() OVER (ORDER BY cd, cluster) <= {n_probe}
), lut AS (
    SELECT c.m, c.code,
           CAST(sum(c.c * q.q[c.m * {d} + c.pos + 1]) AS BIGINT) AS pdot
    FROM pcent{pq_iter} c,
         (SELECT q FROM qv WHERE vec_id = {query_vec_id}) q(q)
    GROUP BY 1, 2
), est AS (
    SELECT cd2.vec_id, CAST(sum(l.pdot) AS BIGINT) AS est_dot
    FROM codes cd2
    JOIN lut l ON cd2.m = l.m AND cd2.code = l.code
    JOIN final_assign fa ON fa.vec_id = cd2.vec_id
    JOIN probes p ON fa.cluster = p.cluster
    WHERE cd2.vec_id <> {query_vec_id}
    GROUP BY 1
), cand AS (
    SELECT vec_id, est_dot FROM est
    QUALIFY row_number() OVER (ORDER BY est_dot DESC, vec_id)
        <= {rerank * k}
)
SELECT c.vec_id, e.label, c.est_dot,
       (SELECT CAST(sum(e2.q[i] * q.q[i]) AS BIGINT)
        FROM generate_series(1, {dim}) g(i)) AS dot_q
FROM cand c
JOIN embeddings e ON e.vec_id = c.vec_id
JOIN qv e2 ON e2.vec_id = c.vec_id,
     (SELECT q FROM qv WHERE vec_id = {query_vec_id}) q(q)
ORDER BY dot_q DESC, c.vec_id
LIMIT {k}"""
    )


def auto_planes(n: int, target_bucket: int = 16) -> int:
    """Plane count that keeps EXPECTED bucket occupancy ~target as the
    corpus grows: ceil(log2(ceil(n / target))), floored at 8 and capped
    at 32.  With a FIXED plane count, occupancy grows linearly with n
    and within-bucket candidate pairs grow QUADRATICALLY — the r9 sf1
    scale run measured exactly that (SCALE_r09.md); scaling planes with
    log2(n) keeps candidates ~linear in n.  Exact integer math
    (bit_length, no float log) so the SQL twin agrees bit-for-bit."""
    k = -(-max(int(n), 1) // target_bucket)  # ceil(n / target)
    return min(32, max(8, (k - 1).bit_length()))


def embedding_lsh_dedup_pairs(
    embeddings: DataFrame,
    num_planes: int | None = None,
    threshold_q: int = 300_000,
    max_bucket: int = 10000,
) -> DataFrame:
    """Embedding near-dup pairs blocked by LSH bucket instead of label —
    the 100 TB blocking strategy dedup_embedding_cosine's docstring
    promises: candidates only form inside a hyperplane sign-bucket
    (single table; near-identical vectors agree on every sign bit), then
    the exact quantized dot keeps pairs scoring >= threshold_q
    (0.3 cosine at scale 1000 for unit-norm inputs).

    ``num_planes=None`` (the default) derives the plane count from the
    corpus size via :func:`auto_planes` — one cheap count() action at
    plan-build, the same price the IVF path pays for centroids — so
    expected bucket occupancy stays constant and the candidate join
    stays ~linear as the corpus grows (fixed planes measured quadratic
    pair growth at the r9 sf1 run; occupancy 8/bucket at sf0.1 became
    78/bucket, i.e. ~100x pairs for 10x data).

    Same portable-hash planes as lsh_topk, so the full pipeline —
    bucketing, capping, pair scoring — is oracle-checkable.  Recall vs
    label blocking: a near-dup pair straddling a sign boundary is
    missed; multi-table banding (lsh_topk's num_tables) is the recall
    dial when that matters (more planes lower per-table recall for
    merely-similar pairs; near-identical vectors agree on sign bits
    regardless).
    """
    from pyspark.sql import Window

    if num_planes is None:
        num_planes = auto_planes(embeddings.count())
    # the pair scorer needs only (vec_id, bucket, _qv): carrying the
    # quantized projection instead of the raw embedding (guide §2.3)
    # narrows both self-join exchanges AND lets the exact dot run on
    # the already-quantized vectors — the executed r17 before-plan
    # showed floor(x*1000) re-evaluated over BOTH raw embeddings per
    # candidate pair, inside the join condition and again in the
    # project.  _bigint_dot(_qv, _qv) == quantized_dot(embedding,
    # embedding) by definition (_qv IS the quantized transform).
    # r18 (guide §4.2, VERDICT r17 task 7): the bucketing runs as one
    # numpy GEMM per Arrow batch instead of planes x dim interpreted
    # zip_with/aggregate lambdas per row — value-identical
    # (_hyperplane_buckets_gemm docstring has the exactness argument;
    # equality proven at every SF incl. sf1).  In-process sf1 A/B:
    # 10.6x on the bucketing stage, 2.4x on this whole query
    # (plans/r18/profile_r18_sf1.json)
    bucketed = _hyperplane_buckets_gemm(embeddings, num_planes)
    wb = Window.partitionBy("bucket").orderBy(
        portable_hash60(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    capped = (
        bucketed.withColumn("_bn", F.row_number().over(wb))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.bucket").alias("bucket"),
            _bigint_dot(F.col("a._qv"), F.col("b._qv")).alias("dot_q"),
        )
        .filter(F.col("dot_q") >= threshold_q)
        .orderBy("vec_a", "vec_b")
    )


def embedding_lsh_dedup_pairs_oracle(
    num_planes: int | None = None,
    threshold_q: int = 300_000,
    max_bucket: int = 10000,
    dim: int = 64,
) -> str:
    w_expr = portable_hash60_sql(
        "'plane:' || t.t::VARCHAR || ':' || p.p::VARCHAR || ':' || j.j::VARCHAR"
    )
    cap_hash = portable_hash60_sql("vec_id::VARCHAR")
    if num_planes is None:
        # auto_planes in SQL: DuckDB's generate_series needs constant
        # bounds, so over-generate the 32-plane ceiling and filter by
        # the derived count.  floor(log2(k-1))+1 == bit_length(k-1)
        # exactly for integer k-1 (doubles are exact below 2^52 and
        # only powers of two land on integers), so the twin matches the
        # Python formula bit-for-bit.
        nplanes_cte = """nplanes AS (
    SELECT least(32, greatest(8, CASE WHEN k <= 1 THEN 0
        ELSE CAST(floor(log2(CAST(k - 1 AS DOUBLE))) AS INT) + 1 END)) AS np
    FROM (SELECT CAST(ceil(count(*) / 16.0) AS BIGINT) AS k
          FROM embeddings)
), """
        plane_bound, plane_filter = 31, "WHERE p.p < (SELECT np FROM nplanes)"
    else:
        nplanes_cte = ""
        plane_bound, plane_filter = num_planes - 1, ""
    return f"""\
WITH {nplanes_cte}planes AS (
    SELECT t.t AS tbl, p.p AS p, j.j AS j, {w_expr} % 1000 - 500 AS w
    FROM generate_series(0, 0) t(t),
         generate_series(0, {plane_bound}) p(p),
         generate_series(0, {dim - 1}) j(j)
    {plane_filter}
), dots AS (
    SELECT e.vec_id, pl.p,
           sum(CAST(floor(CAST(e.embedding[pl.j + 1] AS DOUBLE) * 1000) AS BIGINT) * pl.w) AS dot
    FROM embeddings e, planes pl
    GROUP BY 1, 2
), buckets AS (
    SELECT vec_id,
           CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)
                AS BIGINT) AS bucket
    FROM dots GROUP BY 1
), capped AS (
    SELECT vec_id, bucket FROM (
        SELECT *, row_number() OVER (
            PARTITION BY bucket ORDER BY {cap_hash}, vec_id) AS _bn
        FROM buckets
    ) WHERE _bn <= {max_bucket}
), pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
           (SELECT CAST(sum(
                CAST(floor(CAST(ea.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                CAST(floor(CAST(eb.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
            ) AS BIGINT)
            FROM generate_series(1, {dim}) g(i)) AS dot_q
    FROM capped a
    JOIN capped b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id
)
SELECT vec_a, vec_b, bucket, dot_q FROM pairs
WHERE dot_q >= {threshold_q}
ORDER BY vec_a, vec_b"""


def proj_weight(i: int, j: int) -> int:
    """Component (i, j) of the random-projection matrix: portable 60-bit
    md5 of 'proj:i:j' mapped into [-500, 500) — same derivation family
    as :func:`plane_weight`, distinct namespace."""
    import hashlib

    h = int(hashlib.md5(f"proj:{i}:{j}".encode()).hexdigest()[:15], 16)
    return h % 1000 - 500


def _bigint_dot(a: F.Column, b: F.Column) -> F.Column:
    """Exact dot of two already-integer arrays (no re-quantization)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def project_embeddings(
    embeddings: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    scale: int = 1000,
) -> DataFrame:
    """Johnson-Lindenstrauss-style integer random projection:
    ``proj[i] = sum_j quantized(v)[j] * w(i, j)`` with the deterministic
    portable-hash weight matrix (:func:`proj_weight`, literals in the
    plan — no per-row hashing, no stored model).  Distances are
    approximately preserved at out_dim << in_dim, so downstream
    candidate generation runs on out_dim-component integer vectors —
    the cheap first pass of a project -> shortlist -> exact-rerank ANN.

    Output: (vec_id, label, embedding, proj array<bigint>).  Pure
    scan-side projection: zero shuffles, codegen throughout.
    """
    base = embeddings.select(
        "vec_id",
        "label",
        "embedding",
        _quantized(F.col("embedding"), scale).alias("_qv"),
    )
    comps = [
        F.aggregate(
            F.zip_with(
                F.col("_qv"),
                F.array(*[F.lit(proj_weight(i, j)) for j in range(in_dim)]),
                lambda x, w: x * w,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        for i in range(out_dim)
    ]
    return base.select(
        "vec_id", "label", "embedding", F.array(*comps).alias("proj")
    )


def projected_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_candidates: int = 50,
    out_dim: int = 16,
) -> DataFrame:
    """ANN via random projection: shortlist ``n_candidates`` by dot
    product in the ``out_dim``-component projected space (4x cheaper
    than full-dim at the defaults), then exact-rerank the shortlist with
    the full quantized dot.  Both stages are TakeOrderedAndProject
    plans against a broadcast 1-row query — no global sort, no shuffle
    of the corpus.  Fully oracle-checkable: the projection matrix is
    the portable hash, so DuckDB reproduces the shortlist exactly.
    """
    proj = project_embeddings(embeddings, out_dim)
    q = proj.filter(F.col("vec_id") == query_vec_id).select(
        F.col("proj").alias("query_proj"),
        F.col("embedding").alias("query_embedding"),
    )
    cands = (
        proj.join(F.broadcast(q))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "label",
            "embedding",
            "query_embedding",
            _bigint_dot(F.col("proj"), F.col("query_proj")).alias("pdot"),
        )
        .orderBy(F.col("pdot").desc(), F.col("vec_id"))
        .limit(n_candidates)
    )
    return (
        cands.select(
            "vec_id",
            "label",
            quantized_dot(F.col("embedding"), F.col("query_embedding")).alias(
                "dot_q"
            ),
        )
        .orderBy(F.col("dot_q").desc(), F.col("vec_id"))
        .limit(k)
    )


def projected_topk_oracle(
    query_vec_id: int,
    k: int = 10,
    n_candidates: int = 50,
    out_dim: int = 16,
    in_dim: int = 64,
) -> str:
    w_expr = portable_hash60_sql("'proj:' || i.i::VARCHAR || ':' || j.j::VARCHAR")
    return f"""\
WITH qv AS (
    SELECT vec_id, label,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
    FROM embeddings
), pw AS (
    SELECT i.i, j.j, {w_expr} % 1000 - 500 AS w
    FROM generate_series(0, {out_dim - 1}) i(i),
         generate_series(0, {in_dim - 1}) j(j)
), proj AS (
    SELECT v.vec_id, v.label, pw.i,
           CAST(sum(v.q[pw.j + 1] * pw.w) AS BIGINT) AS p
    FROM qv v, pw GROUP BY 1, 2, 3
), qp AS (
    SELECT i, p FROM proj WHERE vec_id = {query_vec_id}
), cands AS (
    SELECT pr.vec_id, pr.label,
           CAST(sum(pr.p * qp.p) AS BIGINT) AS pdot
    FROM proj pr JOIN qp USING (i)
    WHERE pr.vec_id <> {query_vec_id}
    GROUP BY 1, 2
    QUALIFY row_number() OVER (ORDER BY pdot DESC, vec_id) <= {n_candidates}
), scored AS (
    SELECT c.vec_id, c.label,
           (SELECT CAST(sum(qa.q[i] * qq.q[i]) AS BIGINT)
            FROM generate_series(1, {in_dim}) g(i)) AS dot_q
    FROM cands c
    JOIN qv qa ON qa.vec_id = c.vec_id,
         (SELECT q FROM qv WHERE vec_id = {query_vec_id}) qq(q)
)
SELECT vec_id, label, dot_q FROM scored
ORDER BY dot_q DESC, vec_id
LIMIT {k}"""


def pq_code_near_pairs(
    embeddings: DataFrame,
    threshold_q: int = 300000,
    min_match: int = 4,
    m_sub: int = 8,
    k_codes: int = 16,
    n_iter: int = 2,
    scale: int = 1000,
    dim: int = 64,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding near-duplicate pairs with PQ codes as the candidate
    generator (r12): vectors agreeing on >= ``min_match`` of their
    ``m_sub`` subspace codes become candidates, and only candidates pay
    the exact quantized-dot verify against ``threshold_q`` — the
    all-pairs cosine sweep replaced by a self-join over the
    32x-compressed code table.  The practical embedding-dedup shape at
    100 TB: candidate volume falls geometrically with ``min_match``
    (measured at sf0.01: >=1 code 40k pairs, >=4 codes 124, >=5 just
    8), and each (m, code) bucket is capped like every other banded
    tier (``max_bucket``; never binds at oracle SF, so the SQL twin
    models the uncapped join).

    Output (vec_a, vec_b, n_code_match, dot_q), dot_q >= threshold_q,
    ordered by (vec_a, vec_b)."""
    from pithos_spark.functions.dedup import _cap_buckets
    from pithos_spark.plans.helpers import bounded_persist

    codebooks = build_pq_codebooks(
        embeddings, m_sub, k_codes, n_iter, scale, dim
    )
    codes = bounded_persist(
        pq_encode(embeddings, codebooks, m_sub, scale, dim),
        "pq_code_near_pairs.codes",
    )
    capped = _cap_buckets(codes, ["m", "code"], max_bucket)
    cand = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.m") == F.col("b.m"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_code_match"))
        .filter(F.col("n_code_match") >= min_match)
    )
    qv = embeddings.select(
        "vec_id", _quantized(F.col("embedding"), scale).alias("q")
    )
    return (
        cand.join(
            qv.select(F.col("vec_id").alias("vec_a"), F.col("q").alias("qa")),
            "vec_a",
        )
        .join(
            qv.select(F.col("vec_id").alias("vec_b"), F.col("q").alias("qb")),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            "n_code_match",
            _bigint_dot(F.col("qa"), F.col("qb")).alias("dot_q"),
        )
        .filter(F.col("dot_q") >= threshold_q)
        .orderBy("vec_a", "vec_b")
    )


def pq_code_near_pairs_from_layout(
    embeddings: DataFrame,
    path: str,
    threshold_q: int = 300000,
    min_match: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """PQ-code dedup over the PERSISTED index: the candidate self-join
    runs on the stored code table (frozen codebooks — the index the
    serving queries already read), so a dedup sweep of a freshly
    appended corpus slice needs no retraining and no re-encode.
    Bit-identical to :func:`pq_code_near_pairs` when the layout was
    built with the same parameters on the same corpus (tested)."""
    from pithos_spark.functions.dedup import _cap_buckets

    spark = embeddings.sparkSession
    codes, _, meta = load_pq_index(spark, path)
    capped = _cap_buckets(codes.drop("label"), ["m", "code"], max_bucket)
    cand = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.m") == F.col("b.m"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_code_match"))
        .filter(F.col("n_code_match") >= min_match)
    )
    qv = embeddings.select(
        "vec_id", _quantized(F.col("embedding"), int(meta["scale"])).alias("q")
    )
    return (
        cand.join(
            qv.select(F.col("vec_id").alias("vec_a"), F.col("q").alias("qa")),
            "vec_a",
        )
        .join(
            qv.select(F.col("vec_id").alias("vec_b"), F.col("q").alias("qb")),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            "n_code_match",
            _bigint_dot(F.col("qa"), F.col("qb")).alias("dot_q"),
        )
        .filter(F.col("dot_q") >= threshold_q)
        .orderBy("vec_a", "vec_b")
    )


def pq_code_near_pairs_oracle(
    threshold_q: int = 300000,
    min_match: int = 4,
    m_sub: int = 8,
    k_codes: int = 16,
    n_iter: int = 2,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`pq_code_near_pairs`: PQ unroll, code-match
    candidate self-join, exact-dot verify."""
    return _pq_cte_sql(m_sub, k_codes, n_iter, dim) + f""", cand AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           count(*) AS n_code_match
    FROM codes a
    JOIN codes b ON a.m = b.m AND a.code = b.code
                AND a.vec_id < b.vec_id
    GROUP BY 1, 2
    HAVING count(*) >= {min_match}
), verified AS (
    SELECT c.vec_a, c.vec_b, c.n_code_match,
           (SELECT CAST(sum(qa.q[i] * qb.q[i]) AS BIGINT)
            FROM generate_series(1, {dim}) g(i)) AS dot_q
    FROM cand c
    JOIN qv qa ON qa.vec_id = c.vec_a
    JOIN qv qb ON qb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, n_code_match, dot_q
FROM verified
WHERE dot_q >= {threshold_q}
ORDER BY vec_a, vec_b"""


def _code_bucket_stats(codes: DataFrame, max_bucket: int) -> DataFrame:
    """Aggregate a (vec_id, m, code) table to per-subspace bucket
    occupancy.  Shared by the train-in-query and from-layout stats."""
    sizes = codes.groupBy("m", "code").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    over = F.col("bucket_size") > max_bucket
    pairs = F.expr("bucket_size * (bucket_size - 1) div 2")
    return (
        sizes.groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("bucket_size").alias("n_vecs"),
            F.max("bucket_size").alias("max_bucket_size"),
            F.sum(F.when(over, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_buckets_over_cap"),
            F.sum(F.when(over, F.col("bucket_size")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_vecs_dropped"),
            F.sum(F.when(~over, pairs).otherwise(F.lit(0)))
            .cast("long")
            .alias("cand_pairs_kept"),
            F.sum(F.when(over, pairs).otherwise(F.lit(0)))
            .cast("long")
            .alias("cand_pairs_dropped"),
        )
        .orderBy("m")
    )


def pq_code_bucket_stats(
    embeddings: DataFrame,
    m_sub: int = 8,
    k_codes: int = 16,
    n_iter: int = 2,
    scale: int = 1000,
    dim: int = 64,
    max_bucket: int = 1000,
) -> DataFrame:
    """Bucket-occupancy telemetry for the PQ-code dedup tier (r13) —
    the cap-sizing report :func:`pq_code_near_pairs` was missing while
    its siblings had one (lsh_bucket_stats for the banded tiers,
    ivf_cluster_stats for the probe lists, shingle_df_stats for
    containment).  Per subspace ``m``: how many (m, code) buckets the
    encoder produced, the largest, how many buckets/vectors the
    ``max_bucket`` guard drops, and the candidate-pair work each side
    of the cap induces (sum over buckets of C(size, 2)) — the exact
    self-join volume the dedup sweep will pay, and the recall cost of
    the cap, BEFORE paying for the sweep.  At 100 TB with k_codes=16 a
    subspace has at most 16 buckets over the whole corpus, so buckets
    WILL saturate any fixed cap; this readout is what says whether to
    raise min_match, grow k_codes, or accept the drop (VERDICT r12
    task 4: without it the recall loss is silent).

    Scale: one corpus-linear encode into the (m, code) agg — both
    aggregations combine map-side and the output is exactly ``m_sub``
    rows.  Output (m, n_buckets, n_vecs, max_bucket_size,
    n_buckets_over_cap, n_vecs_dropped, cand_pairs_kept,
    cand_pairs_dropped) ordered by m."""
    codebooks = build_pq_codebooks(
        embeddings, m_sub, k_codes, n_iter, scale, dim
    )
    codes = pq_encode(embeddings, codebooks, m_sub, scale, dim)
    return _code_bucket_stats(codes, max_bucket)


def pq_code_bucket_stats_from_layout(
    spark, path: str, max_bucket: int = 1000
) -> DataFrame:
    """The same occupancy report over the PERSISTED PQ index — what a
    deployment actually runs before a dedup sweep of the frozen code
    table (no retrain, no re-encode; bit-identical to
    :func:`pq_code_bucket_stats` when the layout was built with the
    same parameters on the same corpus, tested)."""
    codes, _, _ = load_pq_index(spark, path)
    return _code_bucket_stats(codes.drop("label"), max_bucket)


def pq_code_bucket_stats_oracle(
    m_sub: int = 8,
    k_codes: int = 16,
    n_iter: int = 2,
    dim: int = 64,
    max_bucket: int = 1000,
) -> str:
    """DuckDB twin of :func:`pq_code_bucket_stats` — same PQ unroll as
    the pair sweep's oracle, aggregated to per-subspace occupancy."""
    return _pq_cte_sql(m_sub, k_codes, n_iter, dim) + f""", sizes AS (
    SELECT m, code, count(*) AS bucket_size FROM codes GROUP BY 1, 2
)
SELECT m,
       count(*) AS n_buckets,
       CAST(sum(bucket_size) AS BIGINT) AS n_vecs,
       max(bucket_size) AS max_bucket_size,
       CAST(sum(CASE WHEN bucket_size > {max_bucket} THEN 1 ELSE 0 END)
           AS BIGINT) AS n_buckets_over_cap,
       CAST(sum(CASE WHEN bucket_size > {max_bucket} THEN bucket_size
                ELSE 0 END) AS BIGINT) AS n_vecs_dropped,
       CAST(sum(CASE WHEN bucket_size <= {max_bucket}
                THEN bucket_size * (bucket_size - 1) // 2
                ELSE 0 END) AS BIGINT) AS cand_pairs_kept,
       CAST(sum(CASE WHEN bucket_size > {max_bucket}
                THEN bucket_size * (bucket_size - 1) // 2
                ELSE 0 END) AS BIGINT) AS cand_pairs_dropped
FROM sizes GROUP BY m ORDER BY m"""


def semantic_dedup_pairs(
    embeddings: DataFrame,
    n_clusters: int = 64,
    n_iter: int = 2,
    threshold_q: int = 300_000,
    max_cluster: int = 500,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: block by TRAINED
    semantic cluster (the engine-exact Lloyd k-means,
    build_ivf_lloyd_index) instead of a random LSH sign-bucket, then
    keep in-cluster pairs whose exact quantized dot clears
    ``threshold_q`` (cos 0.3 at scale 1000 for unit-norm inputs).
    Cluster blocking is the published SemDeDup recipe: semantically
    close points land in the same k-means cell far more reliably than
    in the same random hyperplane bucket, at the cost of the one-time
    index build.

    Scale shape: the Lloyd build scans the corpus n_iter times moving
    only k x dim integer centroids through the driver (at 100 TB: train
    on an ingest sample, one full assignment scan); pair generation is
    per-cluster with a hard ``max_cluster`` cap, so no degenerate cell
    can go quadratic.  ``n_clusters`` must GROW with the corpus the
    same way auto_planes grows the LSH bucket space — SemDeDup sizes k
    so expected occupancy stays ~constant (k ~ n / target_cell); a
    fixed k makes occupancy linear in n and in-cluster pairs quadratic
    until the cap binds, at which point the cap is a recall cliff, not
    a performance guard.  k is an index-build parameter here (the
    cached Lloyd index and the unrolled SQL oracle both take it), so
    the registry demo keeps k=64 for the oracle and deployments set it
    at ingest.  Compose with dedup.duplicate_clusters /
    keep_best to turn pairs into connected keep/drop components.

    Output: (vec_a, vec_b, cluster, dot_q), ordered — bit-identical to
    semantic_dedup_pairs_oracle (the Lloyd rounds unroll as CTEs).
    """
    assigned, _ = build_ivf_lloyd_index(embeddings, n_clusters, n_iter)
    return _semantic_pairs_from_assigned(assigned, threshold_q, max_cluster)


def _semantic_pairs_from_assigned(
    assigned: DataFrame, threshold_q: int, max_cluster: int
) -> DataFrame:
    """The SemDeDup pair tail over an ALREADY-ASSIGNED corpus
    (vec_id, embedding, cluster): hash-deterministic per-cluster cap,
    then one integer Gram matmul per cluster — shared by the
    train-in-query gate and the persisted-index sweep.

    The pair dots run as ONE ``Q @ Q.T`` int64 GEMM per capped cluster
    inside a grouped Arrow pass, replacing the in-cluster self-join
    whose ``quantized_dot`` evaluated an interpreted zip_with/aggregate
    expression per candidate pair (k x cap^2/2 pairs x dim multiplies,
    one expression-tree walk each — guide §4.2: hand whole batches to
    vectorized native code).  The cap bounds a group at ``max_cluster``
    rows, so the grouped pass is safe at any corpus size, and the
    groupBy reuses the cap window's cluster partitioning — exchange
    count unchanged.  floor(x*1000) in float64 and int64 products are
    IEEE/exact in both engines, so pairs and dot_q are bit-identical
    to the join form (oracle-gated)."""
    from pithos_spark.functions.dedup import portable_hash60
    from pyspark.sql import Window

    wb = Window.partitionBy("cluster").orderBy(
        portable_hash60(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    capped = (
        assigned.select("vec_id", "embedding", "cluster")
        .withColumn("_bn", F.row_number().over(wb))
        .filter(F.col("_bn") <= max_cluster)
        .drop("_bn")
    )

    def pairs(pdf):
        import numpy as np

        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        # same value path as quantized_dot: cast double, *scale, floor
        Q = np.floor(
            np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
            * 1000
        ).astype(np.int64)
        G = Q @ Q.T
        iu, ju = np.triu_indices(len(ids), k=1)
        d = G[iu, ju]
        keep = d >= threshold_q
        cl = np.int32(pdf["cluster"].iloc[0])
        return pd.DataFrame(
            {
                "vec_a": ids[iu[keep]],
                "vec_b": ids[ju[keep]],
                "cluster": np.full(int(keep.sum()), cl, dtype=np.int32),
                "dot_q": d[keep],
            }
        )

    return (
        capped.groupBy("cluster")
        .applyInPandas(pairs, "vec_a long, vec_b long, cluster int, dot_q long")
        .orderBy("vec_a", "vec_b")
    )


def semantic_dedup_pairs_from_layout(
    spark,
    path: str,
    threshold_q: int = 300_000,
    max_cluster: int = 500,
) -> DataFrame:
    """SemDeDup sweep over the PERSISTED IVF index (r13): the stored
    ``assigned`` table already carries (vec_id, embedding, cluster) —
    the layout :func:`save_ivf_index` wrote partitioned by cluster —
    so a dedup sweep of a corpus snapshot pays NO Lloyd passes: it
    reads the assignments and runs the capped in-cluster pair join.
    Bit-identical to :func:`semantic_dedup_pairs` when the layout was
    built by build_ivf_lloyd_index at the same parameters (tested; the
    gate shares the train-in-query oracle for the same reason).  The
    per-snapshot economics mirror the other serving layouts: train
    once per corpus version, sweep from the frozen assignment."""
    assigned, _ = load_ivf_index(spark, path)
    return _semantic_pairs_from_assigned(assigned, threshold_q, max_cluster)


def _semantic_pairs_cte_sql(
    n_clusters: int,
    n_iter: int,
    threshold_q: int,
    max_cluster: int,
    dim: int,
) -> str:
    """Lloyd prefix + capped in-cluster pair generation, ending at the
    ``kept_pairs`` CTE (pairs clearing the dot threshold) — shared by
    the pairs oracle and the connected-components clusters oracle."""
    cap_hash = portable_hash60_sql("vec_id::VARCHAR")
    return (
        _lloyd_cte_sql(n_clusters, n_iter, dim)
        + f""", capped AS (
    SELECT vec_id, cluster FROM (
        SELECT *, row_number() OVER (
            PARTITION BY cluster ORDER BY {cap_hash}, vec_id) AS _bn
        FROM final_assign
    ) WHERE _bn <= {max_cluster}
), pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cluster,
           (SELECT CAST(sum(qa.q[i] * qb.q[i]) AS BIGINT)
            FROM generate_series(1, {dim}) g(i)) AS dot_q
    FROM capped a
    JOIN capped b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    JOIN qv qa ON qa.vec_id = a.vec_id
    JOIN qv qb ON qb.vec_id = b.vec_id
), kept_pairs AS (
    SELECT vec_a, vec_b, cluster, dot_q FROM pairs
    WHERE dot_q >= {threshold_q}
)"""
    )


def semantic_dedup_pairs_oracle(
    n_clusters: int = 64,
    n_iter: int = 2,
    threshold_q: int = 300_000,
    max_cluster: int = 500,
    dim: int = 64,
) -> str:
    return (
        _semantic_pairs_cte_sql(n_clusters, n_iter, threshold_q, max_cluster, dim)
        + """
SELECT vec_a, vec_b, cluster, dot_q FROM kept_pairs
ORDER BY vec_a, vec_b"""
    )


def embedding_dedup_ladder(
    embeddings: DataFrame,
    threshold_q: int = 300_000,
    max_label: int = 500,
) -> DataFrame:
    """One operational readout across the EMBEDDING dedup ladder (r13;
    exact tier bounded in r14) — the vector-side counterpart of
    functions/dedup.dedup_ladder_report: per tier, how many
    near-duplicate pairs this corpus carries under each blocking
    strategy, at the same parameters the registry gates individually.
    The per-snapshot drift report a curation run records before
    choosing which tier to sweep with.

    Tiers: label-blocked exact cosine, hyperplane LSH-bucket blocking
    (the 100 TB default), trained-Lloyd semantic clusters (SemDeDup
    blocking), and PQ shared-code candidates over the 32x-compressed
    table.  Every tier scores candidates with the SAME exact quantized
    dot against the SAME threshold — only the blocking key differs —
    so the counts diverge exactly by blocking recall, and the
    comparison cuts both ways: a cheaper tier undercounting the
    label-blocked number is paying its cap/bucket recall cost, while a
    tier OVERCOUNTING it has found cross-label near-dups that metadata
    blocking structurally misses (measured at sf0.01:
    semantic_cluster 236 vs cosine_label_block 113 — blocking on
    metadata is not a recall ceiling, and this report is what shows
    it).

    Scale (VERDICT r13 task 1): the exact-cosine tier used to be an
    UNCAPPED within-label all-pairs join — quadratic whenever one
    label covers most of the corpus (at 100 TB "one language" is
    exactly that).  It now applies the same hash-deterministic
    ``max_label`` window cap the semantic tier applies per cluster
    (row_number over portable_hash60(vec_id) per label, keep the first
    ``max_label``), so its worst case is labels x max_label^2 pairs
    regardless of skew, and the rows it excludes are reported in the
    ``n_capped_ids`` telemetry column.  ``n_capped_ids`` counts ids
    dropped by the LADDER-level cap only: the three delegated tiers
    enforce their own caps internally (bucket caps, ``max_cluster``,
    code-occupancy caps) and report their drop telemetry through their
    dedicated occupancy gates (dedup_lsh_bucket_stats,
    dedup_pq_code_stats, dedup_shingle_df_stats), so their ladder rows
    carry an exact 0, not an unknown.  The report is 4 rows regardless
    of corpus size, and every tier's work is now bounded."""
    from pyspark.sql import Window

    def _count(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(name).alias("tier"),
            F.col("n").cast("long").alias("n_pairs"),
            F.lit(0).cast("long").alias("n_capped_ids"),
        )

    wl = Window.partitionBy("label").orderBy(
        portable_hash60(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    ranked = embeddings.select("vec_id", "label", "embedding").withColumn(
        "_bn", F.row_number().over(wl)
    )
    kept = ranked.filter(F.col("_bn") <= max_label)

    # one int64 Gram matmul per label block instead of a self-join
    # evaluating an interpreted quantized_dot per candidate pair —
    # the semantic tier's shape (guide §4.2); a block is <= max_label
    # rows by the cap, so the grouped pass is bounded at any scale.
    # The tier only reports a COUNT, so each block returns one row.
    def _label_pair_count(pdf):
        import numpy as np

        n = len(pdf)
        Q = np.floor(
            np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * 1000
        ).astype(np.int64)
        G = Q @ Q.T
        iu, ju = np.triu_indices(n, k=1)
        return pd.DataFrame(
            {"n": np.array([int((G[iu, ju] >= threshold_q).sum())], np.int64)}
        )

    cosine_pairs_n = (
        kept.select("label", "embedding")
        .groupBy("label")
        .applyInPandas(_label_pair_count, "n long")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n"))
    )
    dropped = ranked.filter(F.col("_bn") > max_label).agg(
        F.count(F.lit(1)).alias("d")
    )
    cosine = (
        cosine_pairs_n
        .crossJoin(dropped)  # 1x1: two single-row aggregates
        .select(
            F.lit("cosine_label_block").alias("tier"),
            F.col("n").cast("long").alias("n_pairs"),
            F.col("d").cast("long").alias("n_capped_ids"),
        )
    )
    # The pq_code and semantic_cluster tiers train their codebooks /
    # Lloyd centers with eager driver-side collects DURING DataFrame
    # construction, and the two trainers are independent — submitting
    # them from a small thread pool overlaps their Spark jobs (guide
    # §2.6: actions are only sequential because driver code calls them
    # sequentially).  Each trainer is deterministic on its own, so
    # thread scheduling cannot change any tier's result.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        pq_f = pool.submit(pq_code_near_pairs, embeddings, threshold_q=threshold_q)
        sem_f = pool.submit(semantic_dedup_pairs, embeddings, threshold_q=threshold_q)
        lsh_tier = embedding_lsh_dedup_pairs(embeddings, threshold_q=threshold_q)
        pq_tier, sem_tier = pq_f.result(), sem_f.result()
    tiers = [
        cosine,
        _count("lsh_bucket", lsh_tier),
        _count("pq_code", pq_tier),
        _count("semantic_cluster", sem_tier),
    ]
    # Execution note (r17): eagerly collecting the four single-row tier
    # aggregations from a thread pool (guide §2.6) measured NEUTRAL vs
    # this lazy union in the quiet-box interleaved A/B (3.05 s union vs
    # 2.72 s threaded medians, pairwise mixed — within spread;
    # scripts/profile_ladders_r17.py): AQE already overlaps the union's
    # independent stages inside one action.  Kept lazy.
    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)
    return out.orderBy("tier")


def embedding_dedup_ladder_oracle(
    threshold_q: int = 300_000, max_label: int = 500
) -> str:
    """DuckDB twin of :func:`embedding_dedup_ladder` — each tier's own
    gate oracle wrapped as a counted subquery, unioned (the
    dedup_ladder_report_oracle pattern).  The cosine tier mirrors the
    ladder-level per-label cap (row_number over the portable 60-bit
    md5 hash) and its dropped-id telemetry; delegated tiers carry the
    exact 0 the Spark side emits."""
    cap_hash = portable_hash60_sql("vec_id::VARCHAR")
    cosine = f"""\
SELECT 'cosine_label_block' AS tier, n_pairs, n_capped_ids
FROM (
    WITH ranked AS (
        SELECT vec_id, label, embedding, row_number() OVER (
            PARTITION BY label ORDER BY {cap_hash}, vec_id) AS _bn
        FROM embeddings
    ), capped AS (
        SELECT vec_id, label, embedding FROM ranked WHERE _bn <= {max_label}
    ), pairs AS (
        SELECT (SELECT CAST(sum(CAST(floor(CAST(a.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                                 CAST(floor(CAST(b.embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
                FROM generate_series(1, 64) g(i)) AS dot_q
        FROM capped a JOIN capped b
          ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs
            WHERE dot_q >= {threshold_q}) AS n_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM ranked
            WHERE _bn > {max_label}) AS n_capped_ids
) c"""
    parts = [cosine] + [
        f"SELECT '{name}' AS tier, CAST(count(*) AS BIGINT) AS n_pairs,"
        f" CAST(0 AS BIGINT) AS n_capped_ids"
        f" FROM (\n{sql}\n) t"
        for name, sql in [
            (
                "lsh_bucket",
                embedding_lsh_dedup_pairs_oracle(threshold_q=threshold_q),
            ),
            (
                "pq_code",
                pq_code_near_pairs_oracle(threshold_q=threshold_q),
            ),
            (
                "semantic_cluster",
                semantic_dedup_pairs_oracle(threshold_q=threshold_q),
            ),
        ]
    ]
    return "\nUNION ALL\n".join(parts) + "\nORDER BY tier"


def semantic_dedup_clusters(
    embeddings: DataFrame,
    n_clusters: int = 64,
    n_iter: int = 2,
    threshold_q: int = 300_000,
    max_cluster: int = 500,
) -> DataFrame:
    """Semantic near-dup pairs resolved into duplicate components: the
    SemDeDup keep/drop decision needs GROUPS, not pairs (cos-similarity
    is not transitive, so a similar-chain must collapse to one
    representative).  Reuses the distributed min-label-propagation
    fixpoint from the text dedup ladder (dedup.dup_clusters — one
    shuffle join per round, no driver-side graph).  Output:
    (vec_id, cluster_id) for every vector in a pair, cluster_id = the
    smallest member id (the canonical keeper)."""
    from pithos_spark.functions.dedup import dup_clusters

    pairs = semantic_dedup_pairs(
        embeddings, n_clusters, n_iter, threshold_q, max_cluster
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    return (
        dup_clusters(pairs)
        .select(F.col("doc_id").alias("vec_id"), "cluster_id")
        .orderBy("vec_id")
    )


def semantic_dedup_clusters_oracle(
    n_clusters: int = 64,
    n_iter: int = 2,
    threshold_q: int = 300_000,
    max_cluster: int = 500,
    dim: int = 64,
) -> str:
    # transitive closure via recursive CTE (tractable at oracle scale;
    # Spark runs the scalable fixpoint) — same twin strategy as
    # dedup.dup_clusters_oracle
    prefix = _semantic_pairs_cte_sql(
        n_clusters, n_iter, threshold_q, max_cluster, dim
    ).replace("WITH qv AS", "WITH RECURSIVE qv AS", 1)
    return (
        prefix
        + """
, edges AS (
    SELECT vec_a AS src, vec_b AS dst FROM kept_pairs
    UNION
    SELECT vec_b, vec_a FROM kept_pairs
), reach AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), members AS (
    SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
    FROM reach GROUP BY src
)
SELECT vec_id, cluster_id FROM members ORDER BY vec_id"""
    )


def semantic_topics(
    embeddings: DataFrame,
    documents: DataFrame,
    n_clusters: int = 8,
    n_iter: int = 2,
    top_k: int = 5,
) -> DataFrame:
    """Topic-model-lite corpus map: Lloyd-cluster the embedding space
    (engine-exact integer k-means), join each vector back to its
    document (vec_id == doc_id in the testdata model), and surface the
    ``top_k`` most frequent terms per semantic cluster — the cheap
    'what is in this corpus region' readout a curation review uses
    before deciding mixing weights.

    Scale: the Lloyd build is the shared one-time index cost; the term
    rollup is one explode + one (cluster, term) keyed aggregation with
    map-side partial counts, then a per-cluster top-k window over the
    already-aggregated (small) count table.  Fully oracle-gated — the
    Lloyd rounds unroll via the shared CTE prefix.
    """
    from pyspark.sql import Window

    from pithos_spark.functions.text import _tokens

    assigned, _ = build_ivf_lloyd_index(embeddings, n_clusters, n_iter)
    toks = documents.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
    )
    counts = (
        assigned.select(F.col("vec_id").alias("doc_id"), "cluster")
        .join(toks, "doc_id")
        .groupBy("cluster", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cluster").orderBy(F.col("n").desc(), "term")
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_k)
        .drop("_rk")
        .orderBy("cluster", F.col("n").desc(), "term")
    )


def semantic_topics_oracle(
    n_clusters: int = 8, n_iter: int = 2, top_k: int = 5, dim: int = 64
) -> str:
    return (
        _lloyd_cte_sql(n_clusters, n_iter, dim)
        + f""", toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
    FROM documents
), counts AS (
    SELECT fa.cluster, t.term, count(*) AS n
    FROM final_assign fa JOIN toks t ON t.doc_id = fa.vec_id
    GROUP BY 1, 2
)
SELECT cluster, term, n FROM counts
QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY n DESC, term) <= {top_k}
ORDER BY cluster, n DESC, term"""
    )


def lsh_batch_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    num_planes: int = 4,
    num_tables: int = 8,
    max_bucket: int = 10000,
) -> DataFrame:
    """Batched LSH ANN — the bucket table is computed ONCE and a whole
    query set probes it (the build-once / probe-many contract lsh_topk
    demonstrates per query, amortized the way an ingest-time bucketing
    actually runs).  Each query joins only its own (table, bucket)
    cells; candidates dedup per query before the exact rerank.

    Output: (query_id, vec_id, label, dot_q), top-k per query, ordered.
    """
    from pyspark.sql import Window

    bucketed = hyperplane_buckets(embeddings, num_planes, num_tables=num_tables)
    wb = Window.partitionBy("table", "bucket").orderBy(
        portable_hash60(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    capped = (
        bucketed.withColumn("_bn", F.row_number().over(wb))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )
    q = bucketed.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("table").alias("q_table"),
        F.col("bucket").alias("q_bucket"),
        F.col("embedding").alias("query_embedding"),
    )
    candidates = (
        capped.join(
            F.broadcast(q),
            (F.col("table") == F.col("q_table"))
            & (F.col("bucket") == F.col("q_bucket")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "label", "embedding", "query_embedding")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = candidates.select(
        "query_id",
        "vec_id",
        "label",
        quantized_dot(F.col("embedding"), F.col("query_embedding")).alias(
            "dot_q"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("query_id", F.col("dot_q").desc(), "vec_id")
    )


def lsh_batch_topk_oracle(
    query_ids: list[int],
    k: int = 10,
    num_planes: int = 4,
    num_tables: int = 8,
    max_bucket: int = 10000,
    dim: int = 64,
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    w_expr = portable_hash60_sql(
        "'plane:' || t.t::VARCHAR || ':' || p.p::VARCHAR || ':' || j.j::VARCHAR"
    )
    cap_hash = portable_hash60_sql("vec_id::VARCHAR")
    return f"""\
WITH planes AS (
    SELECT t.t AS tbl, p.p AS p, j.j AS j, {w_expr} % 1000 - 500 AS w
    FROM generate_series(0, {num_tables - 1}) t(t),
         generate_series(0, {num_planes - 1}) p(p),
         generate_series(0, {dim - 1}) j(j)
), dots AS (
    SELECT e.vec_id, pl.tbl, pl.p,
           sum(CAST(floor(CAST(e.embedding[pl.j + 1] AS DOUBLE) * 1000) AS BIGINT) * pl.w) AS dot
    FROM embeddings e, planes pl
    GROUP BY 1, 2, 3
), buckets AS (
    SELECT vec_id, tbl,
           CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)
                AS BIGINT) AS bucket
    FROM dots GROUP BY 1, 2
), capped AS (
    SELECT vec_id, tbl, bucket FROM (
        SELECT *, row_number() OVER (
            PARTITION BY tbl, bucket
            ORDER BY {cap_hash}, vec_id) AS _bn
        FROM buckets
    ) WHERE _bn <= {max_bucket}
), cand AS (
    SELECT DISTINCT qb.vec_id AS query_id, c.vec_id
    FROM capped c
    JOIN buckets qb ON qb.vec_id IN ({ids})
                   AND c.tbl = qb.tbl AND c.bucket = qb.bucket
    WHERE c.vec_id <> qb.vec_id
), scored AS (
    SELECT cand.query_id, e.vec_id, e.label,
           (SELECT CAST(sum(
                CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
                CAST(floor(CAST(qe.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
            ) AS BIGINT)
            FROM generate_series(1, {dim}) g(i)) AS dot_q
    FROM cand
    JOIN embeddings e ON e.vec_id = cand.vec_id
    JOIN embeddings qe ON qe.vec_id = cand.query_id
)
SELECT query_id, vec_id, label, dot_q FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, vec_id) <= {k}
ORDER BY query_id, dot_q DESC, vec_id"""


def cluster_prototypes(
    embeddings: DataFrame,
    n_clusters: int = 16,
    n_iter: int = 3,
    per_cluster: int = 5,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Per-semantic-cluster prototype selection: the ``per_cluster``
    vectors CLOSEST to their trained Lloyd centroid (exact quantized-l2
    rank).  This is the prototypicality readout data-pruning recipes
    rank by (keep-hard / drop-easy selects AGAINST closeness to the
    prototype; cluster-balanced sampling keeps the closest) — the
    missing third consumer of the engine-exact k-means alongside
    ivf_lloyd_topk (probe) and semantic_dedup_pairs (dedup blocking).

    Scale shape: the Lloyd build scans the corpus n_iter times moving
    only k x dim integer centroids through the driver; ranking is ONE
    broadcast join of the k-row centroid table plus a per-cluster
    window — no candidate pairs at all, so unlike the dedup consumers
    there is nothing to cap.  ``per_cluster`` bounds the output to
    k x per_cluster rows regardless of corpus size.

    Output: (cluster, rk, vec_id, label, d) ordered by (cluster, rk) —
    bit-identical to cluster_prototypes_oracle (Lloyd rounds unrolled
    as CTEs, floor-div centroids, ties to the smaller vec_id).
    """
    from pyspark.sql import Window

    assigned, centers = index or build_ivf_lloyd_index(
        embeddings, n_clusters, n_iter
    )
    scored = assigned.join(F.broadcast(centers), "cluster").select(
        "cluster",
        "vec_id",
        "label",
        F.aggregate(
            F.zip_with(
                _quantized(F.col("embedding")),
                F.col("centroid_q"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("d"),
    )
    w = Window.partitionBy("cluster").orderBy("d", "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= per_cluster)
        .select("cluster", "rk", "vec_id", "label", "d")
        .orderBy("cluster", "rk")
    )


def cluster_prototypes_oracle(
    n_clusters: int = 16,
    n_iter: int = 3,
    per_cluster: int = 5,
    dim: int = 64,
) -> str:
    """DuckDB twin of cluster_prototypes: the shared Lloyd CTE prefix,
    then quantized-l2 distance of every vector to its OWN final
    centroid and a per-cluster closest-first window."""
    parts = [_lloyd_cte_sql(n_clusters, n_iter, dim)]
    parts.append(
        f""", dists AS (
    SELECT fa.vec_id, fa.cluster, q.label,
           CAST(sum((q.q[c.pos + 1] - c.c) * (q.q[c.pos + 1] - c.c))
                AS BIGINT) AS d
    FROM final_assign fa
    JOIN qv q USING (vec_id)
    JOIN cent{n_iter} c ON c.cluster = fa.cluster
    GROUP BY 1, 2, 3
)
SELECT cluster,
       CAST(row_number() OVER (PARTITION BY cluster ORDER BY d, vec_id)
            AS INT) AS rk,
       vec_id, label, d
FROM dists
QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY d, vec_id)
        <= {per_cluster}
ORDER BY cluster, rk"""
    )
    return "".join(parts)
