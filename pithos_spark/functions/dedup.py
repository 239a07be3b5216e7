"""Deduplication operators for training-data pipelines.

Four tiers, cheapest-first — the standard corpus-dedup ladder:

 1. exact        — hash-groupBy on the full text (or its normalized
                   fingerprint).  One shuffle on the hash.
 2. ngram-jaccard— exact near-dup via shingle set overlap.  Quadratic in
                   colliding docs; the *verification* step of tier 3.
 3. MinHash+LSH  — sub-quadratic candidate generation: shingle → k
                   hashes → per-band signature → bucket join.  The 100 TB
                   path: cost is O(docs x k) + O(candidate pairs).
 4. SimHash      — 64-bit weighted-bit fingerprint; hamming-distance
                   banding for near-dup at scale.

All four tiers are SQL-expressible and oracle-checked: tiers 3-4 hash
with a *portable* 60-bit hash (the first 15 hex digits of md5, identical
in Spark's ``conv(substring(md5(x),1,15),16,10)`` and DuckDB's
``('0x' || substr(md5(x),1,15))::BIGINT``) so the MinHash family and the
SimHash fingerprint compute bit-identically in both engines.  Recall vs
tier 2's exact answer is additionally asserted in tests.

Integer discipline: jaccard thresholds are evaluated as
``scale * |∩| >= thr_scaled * |∪|`` in BIGINT arithmetic — no float
comparisons anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _tokens(col: F.Column) -> F.Column:
    return F.split(F.trim(col), r"\s+")


# --- portable 60-bit hash + MinHash permutation family -------------------
#
# 60 bits = 15 hex digits of md5: small enough to never touch the BIGINT
# sign bit (DuckDB raises on sign-bit shifts; Spark ANSI mode raises on
# signed overflow), large enough for collision-free shingle hashing.
# The permutation family is the classic (a*h + b) mod p universal family
# over the Mersenne prime p = 2^31 - 1: products stay below (p-1)^2 ~
# 4.6e18 < 2^63, so the arithmetic is exact signed-64 in both engines.
# Constants are drawn once from a fixed-seed PRNG and embedded as
# literals in BOTH the Spark plan and the oracle SQL.

_MH_P = 2_147_483_647  # 2^31 - 1

# Broadcast guard for per-doc side tables (containment sizes join):
# rows above this degrade to a shuffled hash join instead of forcing a
# corpus-linear broadcast.  4M rows of (long, long) is ~200 MB as a
# built hash relation — guide §3.1's comfortable band, 128x under the
# 512M-row broadcast hard cap.
_SIZES_BROADCAST_MAX_ROWS = 4_000_000

def _mh_constants(num_hashes: int) -> tuple[list[int], list[int]]:
    import random

    rng = random.Random(0x5EED5EED)
    a = [rng.randrange(1, _MH_P) for _ in range(num_hashes)]
    b = [rng.randrange(0, _MH_P) for _ in range(num_hashes)]
    return a, b


def portable_hash60(col: F.Column) -> F.Column:
    """First 60 bits of md5 as a non-negative BIGINT — bit-identical to
    DuckDB's ``('0x' || substr(md5(x),1,15))::BIGINT`` (PORTABLE_HASH_SQL)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_hash60_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def _shingle_sql(n: int, distinct: bool = True) -> str:
    """Shared DuckDB CTE prefix producing (doc_id, shingle) rows named
    ``sh`` — the SQL twin of :func:`shingles`."""
    k = n - 1
    d = "DISTINCT " if distinct else ""
    return f"""\
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), idx AS (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - {k}, 1) + 1)) AS i FROM toks
), sh AS (
    SELECT {d}doc_id, array_to_string(t[i:i+{k}], ' ') AS shingle FROM idx
)"""


def _grams_expr(n: int) -> F.Column:
    """The word-n-gram array expression over a materialized ``_toks``
    column — all JVM-side; no UDF.

    The token array must be a COLUMN (not the split() expression)
    because referencing split() inside the lambda re-evaluates it once
    per gram (no CSE through higher-order functions) — measured
    4.8s -> 1.1s at sf0.1.
    """
    toks = F.col("_toks")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def _toks_base(documents: DataFrame) -> DataFrame:
    # fan the tokenize stage out across the session's cores (r18,
    # guide §2.5/§2.6): the bench corpora are single-row-group files,
    # so every shingle consumer's heaviest stage — tokenize + gram
    # build + hash — was running on 1 input split.  No-op whenever the
    # scan already has >= parallelism splits (any real layout); doc
    # rows stay atomic, so the per-doc gram/signature invariants hold.
    from pithos_spark.plans.helpers import fan_out

    return fan_out(documents.select("doc_id", "text")).select(
        "doc_id", _tokens(F.col("text")).alias("_toks")
    )


def _gram_array(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, _grams) with _grams the doc's word-n-gram array.

    NOTE for explode consumers: do NOT explode the ``_grams``
    ATTRIBUTE this returns — explode over a plain attribute triggers
    InferFiltersFromGenerate's ``size(_grams) > 0`` filter, and filter
    pushdown then substitutes the full tokenize+gram expression below
    this projection, so every document pays tokenization TWICE (the
    r17 simhash 2.1x regression, caught by plan diff: a
    ``Filter size(transform(...split(text)...)) > 0`` appeared under
    the Generate).  Explode ``_grams_expr(n)`` inline instead — an
    expensive generator child keeps the rule from firing.  Plain
    projections (``shingle_set_sizes``) are safe either way.
    """
    return _toks_base(documents).select(
        "doc_id", _grams_expr(n).alias("_grams")
    )


def shingles(documents: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per document: (doc_id, shingle).

    ``distinct=True`` gives the set view (jaccard/minhash); ``False``
    keeps multiplicity (simhash term weighting).

    A doc's grams all live in its own row, so the set view needs no
    global ``distinct()``: ``array_distinct`` before the explode yields
    the identical (doc_id, shingle) row set NARROWLY — the corpus-wide
    (doc_id, shingle) exchange every consumer used to pay (and that
    AQE then broadcast back, corpus-sized, in the verify joins)
    disappears from all of minhash/jaccard/containment/df-stats
    (guide §2.2).  The gram expression stays INLINE in the explode —
    see the _gram_array note for why exploding the materialized
    attribute doubles the tokenize work.
    """
    grams = _grams_expr(n)
    return _toks_base(documents).select(
        "doc_id",
        F.explode(F.array_distinct(grams) if distinct else grams).alias(
            "shingle"
        ),
    )


def shingle_set_sizes(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, n_shingles) = |distinct shingle set| per doc — a pure
    projection (no explode, no aggregation): the exchange-free twin of
    ``shingles(...).groupBy(doc_id).count()``.  Docs whose token array
    is null (null text) get a null count; such docs produce no shingle
    rows either, so inner joins against shingle-derived pairs treat
    both forms identically.
    """
    return _gram_array(documents, n).select(
        "doc_id",
        F.size(F.array_distinct(F.col("_grams"))).cast("long").alias(
            "n_shingles"
        ),
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Tier 1: collapse byte-identical texts, keeping the smallest doc_id
    as the canonical representative.

    Scale: one shuffle keyed by md5(text) — the hash (not the payload)
    is the shuffle key, so wide rows don't bloat the exchange.
    """
    h = F.md5(F.col("text"))
    return (
        documents.groupBy(h.alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


def jaccard_pairs(
    documents: DataFrame, n: int = 3, threshold_pct: int = 50
) -> DataFrame:
    """Tier 2: all document pairs with shingle-set jaccard >=
    threshold_pct/100, by exact set intersection.

    Plan: shingle explode -> self-join on shingle -> pair-count agg ->
    integer threshold.  The self-join key is the shingle string; hot
    shingles fan out — acceptable as the *verifier* for LSH candidates,
    not as the 100 TB candidate generator (that's minhash_lsh_pairs).

    The shingle set is persisted for the life of the invocation: both
    self-join branches consume it, and with the narrow
    (array_distinct) shingle form there is no distinct exchange left
    for ReuseExchange to share — without the persist each branch would
    re-tokenize the corpus (measured +45% on the pair core at sf0.1).
    """
    from pithos_spark.plans.helpers import bounded_persist

    # the distinct shingle set keyed by the RAW 60-bit hash (r18): the
    # self-join exchanges 8-byte longs instead of full n-gram strings
    # (guide §2.3); injective on every tested corpus's distinct shingle
    # set, so n_common/sizes are value-identical to the string join —
    # proof protocol and collision analysis in minhash_lsh_pairs.
    sh = bounded_persist(
        shingles(documents, n).select(
            "doc_id", portable_hash60(F.col("shingle")).alias("h")
        ),
        "jaccard_pairs.sh",
    )
    # sizes from the SAME cache: count over the materialized distinct
    # shingle rows is value-identical to the shingle_set_sizes
    # projection (docs with shingle rows agree; docs without produce
    # no rows in either form and inner joins drop them), and it costs
    # one tiny partial-aggregated exchange instead of two more full
    # corpus tokenize passes (r17, guide §2.2)
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_union", F.col("size_a") + F.col("size_b") - F.col("n_common"))
        .filter(F.col("n_common") * 100 >= F.col("n_union") * threshold_pct)
        .select("doc_a", "doc_b", "n_common", "n_union")
        .orderBy("doc_a", "doc_b")
    )


def jaccard_pairs_oracle(n: int = 3, threshold_pct: int = 50) -> str:
    k = n - 1
    return f"""\
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), idx AS (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - {k}, 1) + 1)) AS i FROM toks
), sh AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+{k}], ' ') AS shingle FROM idx
), sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       sa.n_shingles + sb.n_shingles - n_common AS n_union
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_common * 100 >= (sa.n_shingles + sb.n_shingles - n_common) * {threshold_pct}
ORDER BY doc_a, doc_b"""


def minhash_signatures(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    _h_rows: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures: one row per doc with ``mh_0..mh_{k-1}``
    columns.  Hash_i(shingle) = (a_i * h60(shingle) + b_i) mod p over the
    portable 60-bit md5-prefix hash; the min over a doc's shingles
    approximates a random permutation's first element, so
    P(min_a = min_b) = jaccard(a, b).

    Computed over the RAW (multiset) shingle rows — min is
    duplicate-insensitive, so the distinct shuffle is skipped entirely.
    The md5-prefix hash is computed JVM-side once per shingle row; the
    ``num_hashes`` multiply-add-mod mins then run as ONE vectorized
    numpy pass per task over (doc_id, h0) rows (task-colocated per doc
    by construction) — the simhash/Lloyd fusion shape (guide §4.2),
    replacing
    ``num_hashes`` interpreted min-aggregate expressions per shingle
    row.  Exact: h0 < p and a < p keep every product below (p-1)^2 <
    2^63, so int64 arithmetic is identical in numpy, the JVM and the
    DuckDB twin; both operands of ``%`` are non-negative, so
    remainder conventions agree.
    """
    import numpy as np

    a_c, b_c = _mh_constants(num_hashes)
    # hash the (possibly long) shingle string ONCE; the k family members
    # are then integer multiply-add-mod over the 8-byte value — k x
    # cheaper than k string hashes, and expressible in DuckDB verbatim
    if _h_rows is not None:
        # r18: reuse a caller-materialized (doc_id, h) table of RAW
        # 60-bit shingle hashes (minhash_lsh_pairs' verify cache —
        # DISTINCT per-doc rows; min is duplicate-insensitive, so the
        # signature over the set equals the one over the multiset,
        # and h % p here is the exact value the inline column
        # computes).  Saves the second full corpus tokenize pass per
        # run.
        sh = _h_rows.select(
            "doc_id", (F.col("h") % F.lit(_MH_P)).alias("h0")
        )
    else:
        sh = shingles(documents, n, distinct=False).withColumn(
            "h0", portable_hash60(F.col("shingle")) % F.lit(_MH_P)
        )

    def signatures(pdfs):
        import pandas as pd

        A = np.array(a_c, dtype=np.int64)
        B = np.array(b_c, dtype=np.int64)
        acc: dict[int, object] = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            d = pdf["doc_id"].to_numpy().astype(np.int64)
            h = pdf["h0"].to_numpy().astype(np.int64)
            uniq, inv = np.unique(d, return_inverse=True)
            H = (h[:, None] * A[None, :] + B[None, :]) % _MH_P
            M = np.full((len(uniq), num_hashes), _MH_P, dtype=np.int64)
            np.minimum.at(M, inv, H)
            for i, doc in enumerate(uniq):
                doc = int(doc)
                if doc in acc:
                    acc[doc] = np.minimum(acc[doc], M[i])
                else:
                    acc[doc] = M[i]
        if not acc:
            return
        docs = np.fromiter(acc, dtype=np.int64, count=len(acc))
        M = np.stack([acc[int(doc)] for doc in docs])
        out = {"doc_id": docs}
        for i in range(num_hashes):
            out[f"mh_{i}"] = M[:, i]
        yield pd.DataFrame(out)

    schema = "doc_id long, " + ", ".join(
        f"mh_{i} long" for i in range(num_hashes)
    )
    # NO shuffle: every shingle row of a document descends from that
    # document's single input row through narrow ops (explode,
    # projections), so a doc's rows are task-colocated by construction
    # and the per-task pass emits complete per-doc signatures — the
    # old 32-min aggregate's exchange (32 longs per doc) is gone
    # outright (guide §2.4).
    return sh.select("doc_id", "h0").mapInPandas(signatures, schema)


def _cap_buckets(df: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Drop every row of an LSH bucket larger than ``max_bucket``.

    The scale guard: one degenerate bucket (a viral boilerplate string,
    an all-zeros signature) makes the band self-join quadratic — at
    100 TB a single 10M-doc bucket is 10^13 candidate pairs.  Capping
    bounds the worst bucket at max_bucket^2/2 pairs.

    Recall impact: pairs living ONLY in dropped buckets are lost.  Those
    are (a) exact/boilerplate duplicates — which tier-1 exact_dedup
    already collapses upstream, and (b) pairs that usually still collide
    in one of the other, smaller bands.

    Implemented as a window count over the bucket key — ONE pass, no
    second aggregation subtree, and the window's hash partitioning on
    ``keys`` is exactly what the downstream candidate self-join needs,
    so the exchange is shared rather than repeated (a groupBy+semi-join
    formulation would re-execute the whole upstream signature plan for
    the size count).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )


def lsh_band_signatures(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    _h_rows: DataFrame | None = None,
) -> DataFrame:
    """Uncapped LSH band signatures: one (doc_id, band, band_key) row per
    document per band — md5 over the band's minhash columns in seed
    order, so two docs collide in a band iff every row value is equal.
    Shared by the candidate generator (minhash_lsh_pairs) and the bucket
    telemetry (lsh_bucket_stats); callers apply _cap_buckets themselves
    because the stats op must see PRE-cap occupancy."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(documents, n, num_hashes, _h_rows=_h_rows)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh_{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", "bs.band", "bs.band_key")


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold_pct: int = 50,
    max_bucket: int = 1000,
    broadcast_candidates: bool = False,
) -> DataFrame:
    """Tier 3: MinHash + LSH banding, verified against exact jaccard.

    num_hashes/bands rows per band; docs sharing any band signature
    become candidates (P(candidate) = 1-(1-j^r)^b — with r=4, b=8 the
    S-curve crosses ~0.5 around j≈0.55).  Candidates then get the exact
    jaccard check, so the output has no false positives; recall on the
    planted >=0.9 pairs is ~1 by construction.

    Scale: candidate generation is linear in corpus size; only
    candidate pairs (not all pairs) reach the quadratic verifier, and
    band buckets over ``max_bucket`` docs are dropped (_cap_buckets) so
    no single hot bucket can go quadratic.
    """
    from pithos_spark.plans.helpers import bounded_persist

    # ONE shingle materialization per run, keyed by the RAW 60-bit
    # hash (r18, guide §2.3/§2.4): the verify joins below shuffle
    # 8-byte longs instead of full n-gram STRINGS, and the signature
    # pass reads the same cache (min is duplicate-insensitive, so
    # distinct rows give bit-identical signatures) — the last full
    # corpus tokenize pass this operator paid beyond the cache build.
    # Exactness: h60 is injective on every tested corpus's distinct
    # shingle set (scripts/hashkey_proof_r18.py — distinct-string ==
    # distinct-hash counts at sf0.001/0.01/0.1 and the replicated sf1,
    # plus exhaustive sf0.1 result equality vs the string-keyed
    # oracle), so per-doc set sizes and pair intersection counts are
    # value-identical to the string join.  Expected collisions are
    # n_distinct^2 / 2^61 (birthday): ~3e-6 at the sf1 vocabulary;
    # a 100 TB deployment sizes the hash width to its vocabulary the
    # same way (two 60-bit prefixes quadruple the width headroom).
    sh = bounded_persist(
        shingles(documents, n).select(
            "doc_id", portable_hash60(F.col("shingle")).alias("h")
        ),
        "minhash_lsh_pairs.sh",
    )
    band_sig = lsh_band_signatures(
        documents, n, num_hashes, bands, _h_rows=sh
    )
    band_sig = _cap_buckets(band_sig, ["band", "band_key"], max_bucket)
    a = band_sig.alias("a")
    b = band_sig.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # broadcast_candidates trades the doc_id shuffle of the shingle rows
    # for a broadcast of the (tiny) candidate list — BUT it also
    # forfeits ReuseExchange on the shingle-explode subtree (the two
    # verify joins then each re-explode and re-hash every shingle),
    # which costs more than the shuffle it saves on a cold run
    # (r8 median-of-3 bench: 2.96 s plain at sf0.1; the r5 head-to-head
    # measured 3.9 s plain vs 4.7 s broadcast cold, inverting to
    # 3.4 vs 2.7 warm with the scan cached).  Default off: one shingle
    # materialization + shuffle is the shape that holds at 100 TB.
    if broadcast_candidates:
        candidates = F.broadcast(candidates)
    # exact verification restricted to candidates — the full quadratic
    # jaccard never runs; intersection counts come from joining each
    # side's (distinct) hashed shingle rows through the candidate pair
    # list.  The hashed set is persisted for the life of the
    # invocation (r17, guide §2.2/§5): the two verify joins exchange
    # on DIFFERENT keys (doc_a vs (doc_b, h)), so nothing is reusable
    # between them; sizes derive from the same cache.  Corpus tokenize
    # passes per run: 5 (pre-r17) -> 2 (r17) -> 1 (the cache build —
    # the signature pass now reads it too).
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("h").alias("h_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b2"), F.col("h").alias("h_b"))
    inter = (
        candidates.join(sh_a, "doc_a")
        .join(
            sh_b,
            (F.col("doc_b") == F.col("doc_b2")) & (F.col("h_a") == F.col("h_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_union", F.col("size_a") + F.col("size_b") - F.col("n_common"))
        .filter(F.col("n_common") * 100 >= F.col("n_union") * threshold_pct)
        .select("doc_a", "doc_b", "n_common", "n_union")
        .orderBy("doc_a", "doc_b")
    )


def minhash_lsh_pairs_oracle(
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold_pct: int = 50,
    max_bucket: int = 1000,
) -> str:
    """DuckDB twin of :func:`minhash_lsh_pairs` — same portable hash,
    same permutation constants, same banding, cap, and exact verify, so
    the candidate set (not just the verified output) is bit-identical."""
    a_c, b_c = _mh_constants(num_hashes)
    rows_per_band = num_hashes // bands
    mins = ",\n           ".join(
        f"min(({a_c[i]} * h0 + {b_c[i]}) % {_MH_P}) AS mh_{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS band_key FROM sig".format(
            b=b,
            cols=", ".join(
                f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return (
        _shingle_sql(n)
        + f""", hashed AS (
    SELECT doc_id, {portable_hash60_sql('shingle')} % {_MH_P} AS h0 FROM sh
), sig AS (
    SELECT doc_id,
           {mins}
    FROM hashed GROUP BY doc_id
), bands AS (
{band_selects}
), capped AS (
    SELECT doc_id, band, band_key FROM (
        SELECT *, count(*) OVER (PARTITION BY band, band_key) AS _bn FROM bands
    ) WHERE _bn <= {max_bucket}
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
), inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS n_common
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       sa.n_shingles + sb.n_shingles - n_common AS n_union
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_common * 100 >= (sa.n_shingles + sb.n_shingles - n_common) * {threshold_pct}
ORDER BY doc_a, doc_b"""
    )


SIMHASH_BITS = 60  # portable md5-prefix hash width; see portable_hash60
_SIMHASH_CHUNK_BITS = 15  # 4 chunks x 15 bits


def simhash_fingerprints(documents: DataFrame, n: int = 2) -> DataFrame:
    """Tier 4: 60-bit SimHash per document, term-frequency weighted
    (each occurrence contributes — the classic Charikar weighting; a
    distinct-set simhash is too noisy on small vocabularies).

    60 bits (not 64) because the portable md5-prefix hash yields 60
    clean bits in both Spark and DuckDB — the sign bit stays untouched
    so neither engine's overflow checks can fire.

    bit_j(doc) = sign of sum over shingle occurrences of (+1 if hash bit
    j set else -1).  The md5-prefix hash is computed JVM-side once per
    shingle row; the 60 per-bit sums then run as ONE vectorized numpy
    pass per task over (doc_id, h) rows (task-colocated per doc by
    construction) — the same fusion shape the Lloyd trainers use
    (guide §4.2):
    the previous 60 ``sum(when(shiftright...))`` aggregate expressions
    evaluated an interpreted 4-op tree per (row, bit) — 60x the corpus
    shingle count — and measured 3.1 s at sf0.1 where the numpy bit
    matrix is ~0.3 s.  Exact equivalence: sum over occurrences of +/-1
    for bit j equals 2*S_j - N with S_j = sum of bit j and N the doc's
    occurrence count — integer arithmetic, and the packed word is the
    same sum of distinct powers of two the DuckDB twin builds.
    """
    import numpy as np

    sh = shingles(documents, n, distinct=False).withColumn(
        "h", portable_hash60(F.col("shingle"))
    )

    def fingerprints(pdfs):
        import pandas as pd

        shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
        weights = (np.int64(1) << shifts).astype(np.int64)
        acc: dict[int, tuple] = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            d = pdf["doc_id"].to_numpy().astype(np.int64)
            h = pdf["h"].to_numpy().astype(np.int64)
            uniq, inv, counts = np.unique(
                d, return_inverse=True, return_counts=True
            )
            bits = ((h[:, None] >> shifts) & 1).astype(np.int64)
            S = np.zeros((len(uniq), SIMHASH_BITS), dtype=np.int64)
            np.add.at(S, inv, bits)
            for i, doc in enumerate(uniq):
                doc = int(doc)
                if doc in acc:
                    s0, n0 = acc[doc]
                    acc[doc] = (s0 + S[i], n0 + int(counts[i]))
                else:
                    acc[doc] = (S[i], int(counts[i]))
        if not acc:
            return
        docs = np.fromiter(acc, dtype=np.int64, count=len(acc))
        S = np.stack([acc[int(doc)][0] for doc in docs])
        N = np.array([acc[int(doc)][1] for doc in docs], dtype=np.int64)
        fp = (((2 * S - N[:, None]) > 0).astype(np.int64) * weights).sum(
            axis=1
        )
        yield pd.DataFrame({"doc_id": docs, "simhash": fp})

    # NO shuffle: a doc's shingle rows are task-colocated by
    # construction (narrow ops from one input row — see
    # minhash_signatures), so per-task accumulation yields complete
    # per-doc fingerprints and the old 60-sum aggregate's exchange is
    # gone outright (guide §2.4).
    return sh.select("doc_id", "h").mapInPandas(
        fingerprints, "doc_id long, simhash long"
    )


def simhash_near_pairs(
    documents: DataFrame, max_hamming: int = 8, max_bucket: int = 1000
) -> DataFrame:
    """SimHash near-dup pairs: banding on 4 x 15-bit chunks (pigeonhole:
    any pair within hamming distance 3 shares a chunk; wider distances
    are caught probabilistically), verified by exact popcount.  Chunk
    buckets over ``max_bucket`` docs are dropped (_cap_buckets) — same
    hot-bucket guard and recall tradeoff as minhash_lsh_pairs."""
    fps = simhash_fingerprints(documents)
    chunk = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("chunk_id"),
                    F.shiftright(F.col("simhash"), i * _SIMHASH_CHUNK_BITS)
                    .bitwiseAND(F.lit(0x7FFF))
                    .alias("chunk_val"),
                )
                for i in range(4)
            ]
        )
    )
    banded = fps.select("doc_id", "simhash", chunk.alias("c")).select(
        "doc_id", "simhash", "c.chunk_id", "c.chunk_val"
    )
    banded = _cap_buckets(banded, ["chunk_id", "chunk_val"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    dist = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


def simhash_near_pairs_oracle(
    n: int = 2, max_hamming: int = 8, max_bucket: int = 1000
) -> str:
    """DuckDB twin of :func:`simhash_near_pairs` — same portable 60-bit
    hash, TF-weighted bit votes, 4 x 15-bit chunk banding, bucket cap,
    and exact popcount verify."""
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS bit_{j}"
        for j in range(SIMHASH_BITS)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN bit_{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    chunk_selects = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, simhash, {i} AS chunk_id,"
        f" (simhash >> {i * _SIMHASH_CHUNK_BITS}) & 32767 AS chunk_val FROM fps"
        for i in range(4)
    )
    return (
        _shingle_sql(n, distinct=False)
        + f""", hashed AS (
    SELECT doc_id, {portable_hash60_sql('shingle')} AS h FROM sh
), bits AS (
    SELECT doc_id,
           {bit_sums}
    FROM hashed GROUP BY doc_id
), fps AS (
    SELECT doc_id, {fp_terms} AS simhash FROM bits
), chunks AS (
{chunk_selects}
), capped AS (
    SELECT doc_id, simhash, chunk_id, chunk_val FROM (
        SELECT *, count(*) OVER (PARTITION BY chunk_id, chunk_val) AS _bn
        FROM chunks
    ) WHERE _bn <= {max_bucket}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM capped a JOIN capped b
  ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY doc_a, doc_b"""
    )


def dup_clusters(pairs: DataFrame, max_iter: int = 10) -> DataFrame:
    """Tier 5: resolve near-dup *pairs* into duplicate *clusters* —
    connected components by min-label propagation.  Output is
    ``(doc_id, cluster_id)`` for every doc appearing in a pair, where
    ``cluster_id`` is the smallest doc_id in the component (the
    canonical representative; reference has no analog — this is the
    step that turns pair-finding into actual corpus dedup).

    Iteration j: label(v) <- min(label(v), min over neighbors u of
    label(u)); stop when no label changes.  Converges in O(component
    diameter) rounds, and near-dup graphs are near-cliques (a cluster of
    k copies of one page is K_k), so 2-3 rounds is typical — each round
    is one shuffle join + one aggregation, all JVM-side.

    Scale: edges are shuffled by node id each round — no driver-side
    graph, no collect; state per round is one (node, label) row per
    node.  For adversarially chain-shaped graphs (diameter >> 3) the
    large-star/small-star variant (Kiveris et al., "Connected
    Components in MapReduce") halves path lengths per round; dedup
    graphs don't need it, so we keep the simpler fixpoint.  Each round's
    labels are persisted and the previous round's unpersisted, keeping
    lineage depth O(1) per round rather than O(rounds) at plan time.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("src").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id")
    ).persist()
    try:
        for _ in range(max_iter):
            nbr_min = (
                edges.join(
                    labels.select(
                        F.col("doc_id").alias("dst"), F.col("label")
                    ),
                    "dst",
                )
                .groupBy("src")
                .agg(F.min("label").alias("nbr_min"))
                .withColumnRenamed("src", "doc_id")
            )
            new_labels = (
                labels.join(nbr_min, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nbr_min"), F.col("label")),
                    ).alias("label"),
                )
                .persist()
            )
            # convergence probe as a 1-row aggregate rather than
            # .isEmpty(): isEmpty's executeTake(1) through AQE proved
            # intermittently flaky in long-lived sessions, and a full
            # count of changed labels costs the same join this loop
            # already pays
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "doc_id")
                .agg(
                    F.sum(
                        F.when(
                            F.col("n.label") != F.col("o.label"), F.lit(1)
                        ).otherwise(F.lit(0))
                    ).alias("n_changed")
                )
                .first()["n_changed"]
                or 0
            ) > 0
            labels.unpersist()
            labels = new_labels
            if not changed:
                break
    finally:
        edges.unpersist()
    return labels.select(
        "doc_id", F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


# DuckDB twin: transitive closure by recursive CTE over the symmetrized
# edge list — tractable because the oracle runs at sf0.01 (dup clusters
# are tiny); the Spark side stays the scalable fixpoint above.
def _cluster_reach_sql(n: int = 3, threshold_pct: int = 50) -> str:
    k = n - 1
    return f"""\
WITH RECURSIVE toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), idx AS (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - {k}, 1) + 1)) AS i FROM toks
), sh AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+{k}], ' ') AS shingle FROM idx
), sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_common * 100 >= (sa.n_shingles + sb.n_shingles - n_common) * {threshold_pct}
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
), reach AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), members AS (
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach GROUP BY src
)"""


def dup_clusters_oracle(n: int = 3, threshold_pct: int = 50) -> str:
    return (
        _cluster_reach_sql(n, threshold_pct)
        + "\nSELECT doc_id, cluster_id FROM members ORDER BY doc_id"
    )


def dedup_keep_best(documents: DataFrame, n: int = 3,
                    threshold_pct: int = 50) -> DataFrame:
    """End-to-end near-dup resolution: jaccard pairs -> connected
    components -> keep the best doc per cluster (most tokens; ties to
    the smallest doc_id).  ``keep=false`` rows are the curation drop
    list.  Score is an integer token count — deterministic under the
    DuckDB oracle, no float comparisons.
    """
    from pyspark.sql import Window

    clusters = dup_clusters(jaccard_pairs(documents, n, threshold_pct))
    toks = documents.select(
        "doc_id", F.size(_tokens(F.col("text"))).cast("long").alias("token_count")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("token_count"), F.asc("doc_id")
    )
    return (
        clusters.join(toks, "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "token_count", "keep")
        .orderBy("cluster_id", "doc_id")
    )


def dedup_keep_best_oracle(n: int = 3, threshold_pct: int = 50) -> str:
    return (
        _cluster_reach_sql(n, threshold_pct)
        + """
, scored AS (
    SELECT m.doc_id, m.cluster_id,
           len(regexp_split_to_array(trim(d.text), '\\s+')) AS token_count
    FROM members m JOIN documents d ON m.doc_id = d.doc_id
)
SELECT doc_id, cluster_id, token_count,
       row_number() OVER (
           PARTITION BY cluster_id ORDER BY token_count DESC, doc_id
       ) = 1 AS keep
FROM scored ORDER BY cluster_id, doc_id"""
    )


# --- incremental dedup: delta vs existing-corpus signature index ----------


def band_signatures(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(doc_id, band, band_key) rows — the banded MinHash signature
    INDEX of a corpus.  Written once at ingest (partitioned by band it
    becomes the persistent dedup index an incremental pipeline probes);
    minhash_lsh_pairs derives the same rows inline."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(documents, n, num_hashes)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh_{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", "bs.band", "bs.band_key")


def incremental_dedup_pairs(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold_pct: int = 50,
    max_bucket: int = 1000,
) -> DataFrame:
    """Incremental near-dup detection: which NEW documents duplicate the
    EXISTING corpus — the shape a rolling crawl actually runs, where the
    existing side's banded signatures are a precomputed index
    (band_signatures, persisted band-partitioned) and only the delta
    pays signature cost.

    Candidates: new x existing pairs sharing any band bucket (bucket cap
    applied to the EXISTING side — the index side is where a viral
    boilerplate family lives; the delta is assumed bounded).  Verify:
    exact jaccard over both sides' shingles, restricted to candidates.
    Output: (new_doc_id, existing_doc_id, n_common, n_union) above the
    threshold — the delta's drop list.

    Scale: cost is O(delta) signatures + one join against the index —
    NOT O(corpus); re-running dedup over 100 TB for each daily crawl is
    exactly what this avoids.
    """
    new_bands = band_signatures(new_docs, n, num_hashes, bands)
    old_bands = _cap_buckets(
        band_signatures(existing_docs, n, num_hashes, bands),
        ["band", "band_key"],
        max_bucket,
    )
    candidates = (
        new_bands.alias("a")
        .join(
            old_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col("a.doc_id").alias("new_doc_id"),
            F.col("b.doc_id").alias("existing_doc_id"),
        )
        .distinct()
    )
    sh_new = shingles(new_docs, n)
    sh_old = shingles(existing_docs, n)
    sizes_new = sh_new.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    sizes_old = sh_old.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    inter = (
        candidates.join(
            sh_new.select(
                F.col("doc_id").alias("new_doc_id"),
                F.col("shingle").alias("sh_a"),
            ),
            "new_doc_id",
        )
        .join(
            sh_old.select(
                F.col("doc_id").alias("existing_doc_id2"),
                F.col("shingle").alias("sh_b"),
            ),
            (F.col("existing_doc_id") == F.col("existing_doc_id2"))
            & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("new_doc_id", "existing_doc_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            sizes_new.select(
                F.col("doc_id").alias("new_doc_id"),
                F.col("n_shingles").alias("size_a"),
            ),
            "new_doc_id",
        )
        .join(
            sizes_old.select(
                F.col("doc_id").alias("existing_doc_id"),
                F.col("n_shingles").alias("size_b"),
            ),
            "existing_doc_id",
        )
        .withColumn(
            "n_union", F.col("size_a") + F.col("size_b") - F.col("n_common")
        )
        .filter(F.col("n_common") * 100 >= F.col("n_union") * threshold_pct)
        .select("new_doc_id", "existing_doc_id", "n_common", "n_union")
        .orderBy("new_doc_id", "existing_doc_id")
    )


def incremental_dedup_pairs_oracle(
    split_doc_id: int,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold_pct: int = 50,
    max_bucket: int = 1000,
) -> str:
    """DuckDB twin for the registry fixture protocol: documents with
    doc_id >= ``split_doc_id`` act as the new crawl, the rest as the
    existing corpus."""
    a_c, b_c = _mh_constants(num_hashes)
    rows_per_band = num_hashes // bands
    mins = ",\n           ".join(
        f"min(({a_c[i]} * h0 + {b_c[i]}) % {_MH_P}) AS mh_{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS band_key FROM sig".format(
            b=b,
            cols=", ".join(
                f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return (
        _shingle_sql(n)
        + f""", hashed AS (
    SELECT doc_id, {portable_hash60_sql('shingle')} % {_MH_P} AS h0 FROM sh
), sig AS (
    SELECT doc_id,
           {mins}
    FROM hashed GROUP BY doc_id
), all_bands AS (
{band_selects}
), new_bands AS (
    SELECT * FROM all_bands WHERE doc_id >= {split_doc_id}
), old_capped AS (
    SELECT doc_id, band, band_key FROM (
        SELECT *, count(*) OVER (PARTITION BY band, band_key) AS _bn
        FROM all_bands WHERE doc_id < {split_doc_id}
    ) WHERE _bn <= {max_bucket}
), cand AS (
    SELECT DISTINCT a.doc_id AS new_doc_id, b.doc_id AS existing_doc_id
    FROM new_bands a JOIN old_capped b
      ON a.band = b.band AND a.band_key = b.band_key
), sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
), inter AS (
    SELECT c.new_doc_id, c.existing_doc_id, count(*) AS n_common
    FROM cand c
    JOIN sh a ON a.doc_id = c.new_doc_id
    JOIN sh b ON b.doc_id = c.existing_doc_id AND a.shingle = b.shingle
    GROUP BY 1, 2
)
SELECT new_doc_id, existing_doc_id, n_common,
       sa.n_shingles + sb.n_shingles - n_common AS n_union
FROM inter
JOIN sizes sa ON new_doc_id = sa.doc_id
JOIN sizes sb ON existing_doc_id = sb.doc_id
WHERE n_common * 100 >= (sa.n_shingles + sb.n_shingles - n_common) * {threshold_pct}
ORDER BY new_doc_id, existing_doc_id"""
    )


def lsh_bucket_stats(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Operational telemetry for the LSH cap: per-band bucket occupancy
    — how many buckets each band produced, the largest bucket, and how
    many buckets/docs the ``max_bucket`` guard would drop.  This is the
    report you run BEFORE a 100 TB dedup pass to size the cap: a band
    whose max bucket is 10^7 docs means 10^13 candidate pairs without
    the guard, and ``n_docs_dropped`` quantifies the recall cost of
    engaging it (reference has no analog; pairs with
    minhash_lsh_pairs / _cap_buckets).

    Scale: the band explode is linear in corpus size; both aggregations
    combine map-side and the final output is exactly ``bands`` rows —
    nothing here grows with the corpus except the one banded shuffle
    the dedup pass itself already needs.
    """
    band_sig = lsh_band_signatures(documents, n, num_hashes, bands)
    sizes = band_sig.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    over = F.col("bucket_size") > max_bucket
    return (
        sizes.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("bucket_size").alias("n_docs"),
            F.max("bucket_size").alias("max_bucket_size"),
            F.sum(F.when(over, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_buckets_over_cap"),
            F.sum(F.when(over, F.col("bucket_size")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_docs_dropped"),
        )
        .orderBy("band")
    )


def lsh_bucket_stats_oracle(
    n: int = 3, num_hashes: int = 32, bands: int = 8, max_bucket: int = 1000
) -> str:
    """DuckDB twin of :func:`lsh_bucket_stats` — same constants, same
    banding as minhash_lsh_pairs_oracle, aggregated to per-band
    occupancy instead of pairs."""
    a_c, b_c = _mh_constants(num_hashes)
    rows_per_band = num_hashes // bands
    mins = ",\n           ".join(
        f"min(({a_c[i]} * h0 + {b_c[i]}) % {_MH_P}) AS mh_{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS band_key FROM sig".format(
            b=b,
            cols=", ".join(
                f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return (
        _shingle_sql(n)
        + f""", hashed AS (
    SELECT doc_id, {portable_hash60_sql('shingle')} % {_MH_P} AS h0 FROM sh
), sig AS (
    SELECT doc_id,
           {mins}
    FROM hashed GROUP BY doc_id
), bands AS (
{band_selects}
), sizes AS (
    SELECT band, band_key, count(*) AS bucket_size
    FROM bands GROUP BY band, band_key
)
SELECT band,
       count(*) AS n_buckets,
       CAST(sum(bucket_size) AS BIGINT) AS n_docs,
       max(bucket_size) AS max_bucket_size,
       CAST(sum(CASE WHEN bucket_size > {max_bucket} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_buckets_over_cap,
       CAST(sum(CASE WHEN bucket_size > {max_bucket} THEN bucket_size ELSE 0 END) AS BIGINT)
           AS n_docs_dropped
FROM sizes GROUP BY band ORDER BY band"""
    )


def source_minhash_similarity(
    documents: DataFrame, n: int = 3, num_hashes: int = 64
) -> DataFrame:
    """Corpus-source overlap matrix by source-level MinHash: estimated
    shingle-set Jaccard between every pair of sources — the
    mirror-detection report a crawl pipeline runs before mixing sources
    (two crawls of the same site waste tokens and skew the mix;
    reference has no analog).

    A source's signature is the min over ALL its docs' shingle hashes
    per permutation — set union commutes with min, so this IS the
    MinHash of the unioned shingle set, and P(sig_a[i] = sig_b[i]) =
    jaccard(union_a, union_b).

    Scale: one corpus scan; the exchange after partial aggregation is
    ``sources x num_hashes`` longs (KBs at any corpus size), and the
    pairwise comparison runs over that tiny table — at 100 TB the whole
    cost is the shingle scan the dedup ladder already pays.  Integer
    estimate (``est_jaccard_pct`` = floor(100 * n_agree / num_hashes))
    keeps the output oracle-exact.
    """
    import numpy as np

    a_c, b_c = _mh_constants(num_hashes)
    base = documents.select("source", _tokens(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    sh = base.select("source", F.explode(grams).alias("shingle")).withColumn(
        "h0", portable_hash60(F.col("shingle")) % F.lit(_MH_P)
    )

    # per-task numpy partial mins (sources span tasks, unlike doc-level
    # signatures, so this is the partial-merge form of the minhash
    # fusion: one vectorized pass per task replaces num_hashes
    # interpreted min-expressions per shingle row, and the JVM merge
    # agg below sees only tasks x sources partial rows — map-side
    # combining preserved, exchange unchanged at sources x num_hashes
    # longs; min of per-task mins == the global min, exact int64)
    def partial_mins(pdfs):
        import pandas as pd

        A = np.array(a_c, dtype=np.int64)
        B = np.array(b_c, dtype=np.int64)
        acc: dict[str, object] = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            src = pdf["source"].to_numpy()
            h = pdf["h0"].to_numpy().astype(np.int64)
            uniq, inv = np.unique(src, return_inverse=True)
            H = (h[:, None] * A[None, :] + B[None, :]) % _MH_P
            M = np.full((len(uniq), num_hashes), _MH_P, dtype=np.int64)
            np.minimum.at(M, inv, H)
            for i, s in enumerate(uniq):
                s = str(s)
                if s in acc:
                    acc[s] = np.minimum(acc[s], M[i])
                else:
                    acc[s] = M[i]
        if not acc:
            return
        srcs = list(acc)
        M = np.stack([acc[s] for s in srcs])
        out = {"source": pd.Series(srcs, dtype="object")}
        for i in range(num_hashes):
            out[f"mh_{i}"] = M[:, i]
        yield pd.DataFrame(out)

    schema = "source string, " + ", ".join(
        f"mh_{i} long" for i in range(num_hashes)
    )
    partials = sh.select("source", "h0").mapInPandas(partial_mins, schema)
    sig = partials.groupBy("source").agg(
        *[F.min(f"mh_{i}").alias(f"mh_{i}") for i in range(num_hashes)]
    )
    stack_args = ", ".join(f"{i}, mh_{i}" for i in range(num_hashes))
    sig_long = sig.selectExpr(
        "source", f"stack({num_hashes}, {stack_args}) AS (i, mh)"
    )
    # the self-join compares the signature table with itself; a broadcast
    # join would leave the two references as SEPARATE subtrees (the
    # BroadcastExchange canonicalizes differently), re-scanning and
    # re-aggregating the whole corpus twice.  Hinting the shuffle join
    # makes both inputs an identical Exchange(hash(i)) over the same
    # aggregate, which ReuseExchange collapses — ONE corpus scan, and the
    # shuffled table is only sources x num_hashes rows.
    a = sig_long.alias("a").hint("shuffle_hash")
    b = sig_long.alias("b").hint("shuffle_hash")
    agree = F.sum(
        F.when(F.col("a.mh") == F.col("b.mh"), F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(agree.alias("n_agree"))
        .withColumn(
            "est_jaccard_pct",
            F.expr(f"(n_agree * 100) div {num_hashes}"),
        )
        .orderBy("source_a", "source_b")
    )


def source_minhash_similarity_oracle(n: int = 3, num_hashes: int = 64) -> str:
    """DuckDB twin of :func:`source_minhash_similarity` — the permutation
    family unrolls as a VALUES table crossed with the hashed shingles
    (min grouped by (source, i) is the same math as the wide Spark
    aggregate)."""
    a_c, b_c = _mh_constants(num_hashes)
    k = n - 1
    perm_rows = ", ".join(
        f"({i}, {a_c[i]}, {b_c[i]})" for i in range(num_hashes)
    )
    return f"""\
WITH toks AS (
    SELECT source, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), idx AS (
    SELECT source, t, unnest(range(1, greatest(len(t) - {k}, 1) + 1)) AS i FROM toks
), sh AS (
    SELECT source, array_to_string(t[i:i+{k}], ' ') AS shingle FROM idx
), hashed AS (
    SELECT source, {portable_hash60_sql('shingle')} % {_MH_P} AS h0 FROM sh
), perms(i, a, b) AS (
    VALUES {perm_rows}
), sig AS (
    SELECT source, p.i, min((p.a * h0 + p.b) % {_MH_P}) AS mh
    FROM hashed CROSS JOIN perms p GROUP BY source, p.i
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) * 100
           // {num_hashes} AS est_jaccard_pct
FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2"""


# ---------------------------------------------------------------------------
# Tier 5: perceptual image near-dup (dHash) over the multimodal column.
# The standard image-dedup pass a multimodal training pipeline runs after
# exact byte dedup: decode -> grayscale downsample -> 8x9 difference hash
# -> banded LSH -> Hamming verify (VERDICT r9 next-round #4).
# ---------------------------------------------------------------------------

_DHASH_ROWS = 8  # 8 rows x 8 difference bits = 64-bit dHash
_DHASH_COLS = 9  # 9 sampled columns -> 8 horizontal gradients per row


def image_dhash_fingerprints(documents: DataFrame) -> DataFrame:
    """Per image asset, the classic dHash: nearest-neighbor downsample
    to an 8x9 grayscale grid, one bit per horizontal gradient
    (pixel < right neighbor), emitted as 8 band values of 8 bits each
    (banding IS the fingerprint layout — 8-bit bands keep every value
    in [0,255], so neither engine's 64-bit shift edge cases can fire,
    the same reason simhash stays at 60 bits).

    The DECODE is the stubbed stand-in the multimodal pipeline uses
    (sources/multimodal.py): image assets are the ``doc_id % 3 == 0``
    slice of ``assets_from_documents``, their payload bytes are the
    utf-8 text, and "grayscale pixel" is the ASCII code of the sampled
    character — deterministic, engine-portable (ascii()/ord() agree on
    single-byte chars), and exactly where a PIL-backed real decode
    would slot in.  Everything AFTER the pixel source — the
    nearest-neighbor sampling arithmetic, gradient bits, band packing,
    LSH, Hamming verify — is the real algorithm, unchanged.

    Scale shape: ONE shuffle-free projection per image row — the
    constant 8x9 grid is sampled, gradient-packed and banded by
    row-local expressions (:func:`_stub_px_cols` +
    :func:`_grad_band_cols`); no explode, window or groupBy anywhere
    in the fingerprint (guide §2.4)."""
    return _wide_to_long(_image_dhash_wide(documents), _DHASH_ROWS)


def _stub_px_cols(grid: int) -> list[F.Column]:
    """The deterministic ASCII stand-in pixel source as ``grid``
    row-local column expressions over (text, n_px) — the same
    ``ascii(substr(text, (g*n) DIV grid + 1, 1))`` value the exploded
    form computed, with g a Python literal instead of an exploded row.
    Replacing the constant explode + window + groupBy with a pure
    projection removes every fingerprint-side shuffle (guide §2.4):
    the grid is constant per row, so nothing about it needs a
    partition boundary."""
    return [
        F.expr(
            f"ascii(substr(text, CAST(({g} * n_px) DIV {grid} + 1 AS INT),"
            " 1))"
        )
        for g in range(grid)
    ]


def _arr_px_cols(col: str, grid: int) -> list[F.Column]:
    """The decoded-grid pixel source (an ``array<long>`` column from
    ``sampled_*_grid_wide``) as ``grid`` row-local element lookups."""
    return [F.col(col).getItem(g) for g in range(grid)]


def _grad_band_cols(
    px: list[F.Column], n_bands: int, n_cols: int
) -> list[F.Column]:
    """Horizontal-gradient band packing as row-local expressions: band
    r = sum over c of (px[r*n_cols+c] < px[r*n_cols+c+1]) << c — the
    same bits the lead()-window + groupBy form produced, per row."""
    bands = []
    for r in range(n_bands):
        terms = [
            F.when(
                px[r * n_cols + c] < px[r * n_cols + c + 1],
                F.lit(1 << c),
            ).otherwise(F.lit(0))
            for c in range(n_cols - 1)
        ]
        bands.append(sum(terms, F.lit(0)).cast("long").alias(f"b{r}"))
    return bands


def _wide_to_long(wide: DataFrame, n_bands: int) -> DataFrame:
    """(doc_id, b0..bN) -> (doc_id, band, band_val): the long-form
    fingerprint contract as a row-local posexplode of the wide form."""
    return wide.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"b{i}") for i in range(n_bands)])
        ).alias("band", "band_val"),
    )


def _image_dhash_wide(documents: DataFrame) -> DataFrame:
    """Wide (doc_id, b0..b7) dHash over the ASCII stand-in pixel
    source — one shuffle-free projection per image row."""
    grid = _DHASH_ROWS * _DHASH_COLS
    # NOTE: deliberately NOT fanned out (scripts/fanout_ab_r18.py): the
    # repartition would exchange the full text payload, which measured
    # as a net loss at sf0.1 AND sf1 against 72 cheap expressions/row
    imgs = documents.filter(
        (F.col("doc_id") % 3 == 0) & (F.length("text") > 0)
    ).select("doc_id", "text", F.length("text").alias("n_px"))
    px = _stub_px_cols(grid)
    return imgs.select(
        "doc_id", *_grad_band_cols(px, _DHASH_ROWS, _DHASH_COLS)
    )


def _image_dhash_assets_wide(assets: DataFrame) -> DataFrame:
    """Wide (doc_id, b0..b7) dHash over the REAL decoded grid: the
    decoder emits one array<long> row per asset, the band packing is a
    row-local projection — no window/pivot/join shuffles."""
    from pithos_spark.sources.multimodal import sampled_pixel_grid_wide

    pix = sampled_pixel_grid_wide(
        assets.filter(F.col("media_type") == "image"),
        _DHASH_ROWS,
        _DHASH_COLS,
    )
    px = _arr_px_cols("px", _DHASH_ROWS * _DHASH_COLS)
    return pix.select(
        F.col("asset_id").alias("doc_id"),
        *_grad_band_cols(px, _DHASH_ROWS, _DHASH_COLS),
    )


def _banded_hamming_pairs(
    wide: DataFrame,
    n_bands: int,
    max_hamming: int,
    max_bucket: int,
    slot: str,
) -> DataFrame:
    """The shared LSH skeleton of every perceptual tier, over WIDE
    (doc_id, b0..bN) fingerprints: posexplode to banded probe rows,
    bucket cap, band-bucket self-join, exact Hamming verify over all
    ``n_bands`` x 8-bit bands.  Output (doc_a, doc_b, hamming),
    doc_a < doc_b, distinct.

    The former long-form skeleton pivoted (doc_id, band, band_val)
    wide and joined it back to the long form — two aggregation
    exchanges plus a corpus-wide join.  With the fingerprints computed
    wide and row-locally upstream, the banded rows are a posexplode of
    the SAME row (guide §2.4): the first shuffle left in the plan is
    the bucket-cap window on (band, band_val), whose partitioning the
    candidate self-join reuses.

    The wide fingerprint still feeds both join sides, so it keeps the
    slot-keyed :func:`bounded_persist` (one cached row per doc — 8x
    smaller than the long form it replaces, ADVICE r10)."""
    from pithos_spark.plans.helpers import bounded_persist

    bcols = [f"b{i}" for i in range(n_bands)]
    wide = bounded_persist(wide, slot)
    banded = _cap_buckets(
        wide.select(
            "doc_id",
            *bcols,
            F.posexplode(F.array(*[F.col(c) for c in bcols])).alias(
                "band", "band_val"
            ),
        ),
        ["band", "band_val"],
        max_bucket,
    )
    a, b = banded.alias("a"), banded.alias("b")
    dist = sum(
        F.bit_count(
            F.col(f"a.b{i}").bitwiseXOR(F.col(f"b.b{i}"))
        ).cast("long")
        for i in range(n_bands)
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


def image_dhash_near_pairs(
    documents: DataFrame, max_hamming: int = 10, max_bucket: int = 1000
) -> DataFrame:
    """Perceptual near-duplicate image pairs: band-bucket LSH over the
    8x8-bit dHash (pigeonhole: hamming <= 7 guarantees a shared band;
    wider distances collide probabilistically), bucket cap against
    degenerate buckets (same guard as minhash/simhash), exact Hamming
    verify over the full 64 bits.  Output (doc_a, doc_b, hamming)."""
    return _banded_hamming_pairs(
        _image_dhash_wide(documents),
        _DHASH_ROWS,
        max_hamming,
        max_bucket,
        "image_dhash_near_pairs.fps",
    )


def image_dhash_near_pairs_assets(
    assets: DataFrame, max_hamming: int = 10, max_bucket: int = 1000
) -> DataFrame:
    """:func:`image_dhash_near_pairs` fed from the REAL decode path:
    genuinely-resized copies of a decodable image land in the same
    near-dup pair (their nearest-neighbor-sampled grids agree), while
    undecodable payloads take the stand-in and reproduce the stub
    tier's pairs exactly.  Output (doc_a, doc_b, hamming)."""
    return _banded_hamming_pairs(
        _image_dhash_assets_wide(assets),
        _DHASH_ROWS,
        max_hamming,
        max_bucket,
        "image_dhash_near_pairs_assets.fps",
    )


def image_dhash_near_pairs_oracle(
    max_hamming: int = 10, max_bucket: int = 1000
) -> str:
    """DuckDB twin of :func:`image_dhash_near_pairs` — same sampled
    pixel source (ord == ascii on single-byte chars), gradient bits,
    8x8-bit band packing, bucket cap, and Hamming verify."""
    grid = _DHASH_ROWS * _DHASH_COLS
    xor_terms = " + ".join(
        f"bit_count(xor(a.b{i}, b.b{i}))" for i in range(_DHASH_ROWS)
    )
    band_cols = ", ".join(
        f"max(CASE WHEN band = {i} THEN band_val END) AS b{i}"
        for i in range(_DHASH_ROWS)
    )
    return f"""
WITH imgs AS (
    SELECT doc_id, text, length(text) AS n_px FROM documents
    WHERE doc_id % 3 = 0 AND length(text) > 0
), pix AS (
    SELECT doc_id,
           g // {_DHASH_COLS} AS r,
           g % {_DHASH_COLS} AS c,
           ord(substr(text, CAST((g * n_px) // {grid} + 1 AS INT), 1)) AS px
    FROM imgs CROSS JOIN (SELECT unnest(range(0, {grid})) AS g)
), bits AS (
    SELECT doc_id, r, c, px,
           lead(px) OVER (PARTITION BY doc_id, r ORDER BY c) AS nx
    FROM pix
), fps AS (
    SELECT doc_id, r AS band,
           CAST(sum(CASE WHEN px < nx THEN (1 << c) ELSE 0 END) AS BIGINT)
               AS band_val
    FROM bits WHERE c < {_DHASH_COLS - 1} GROUP BY doc_id, r
), wide AS (
    SELECT doc_id, {band_cols} FROM fps GROUP BY doc_id
), banded AS (
    SELECT * FROM (
        SELECT f.doc_id, f.band, f.band_val,
               w.b0, w.b1, w.b2, w.b3, w.b4, w.b5, w.b6, w.b7,
               count(*) OVER (PARTITION BY f.band, f.band_val) AS _bn
        FROM fps f JOIN wide w USING (doc_id)
    ) WHERE _bn <= {max_bucket}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({xor_terms} AS BIGINT) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE {xor_terms} <= {max_hamming}
ORDER BY doc_a, doc_b"""


def containment_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold_pct: int = 80,
    max_shingle_df: int = 200,
) -> DataFrame:
    """Asymmetric near-duplicate detection: directed pairs where doc_a's
    shingle set is >= threshold_pct contained in doc_b's
    (|A intersect B| / |A|) — the sub-document duplication resemblance
    Jaccard misses (a paragraph quoted inside a much larger page keeps
    high containment but near-zero Jaccard; RefinedWeb/Dolma-style
    pipelines run this pass alongside MinHash).

    Containment is computed over the BOILERPLATE-INSENSITIVE shingle
    universe: shingles appearing in more than ``max_shingle_df`` docs
    are excluded from candidate generation, from ``n_common``, AND from
    ``size_a`` — a nav-bar shared by a million pages must neither pair
    those pages nor dilute a real quote's score.  Within that universe
    the measure is exact.

    Scale shape: shingle explode (corpus-linear) -> doc-frequency agg
    (map-side combinable) -> hot-shingle anti-join -> POSTING LISTS
    (collect_list per surviving shingle, bounded at
    ``max_shingle_df`` entries because the hot anti-join runs first)
    -> pair explode of each list against itself.  Because every
    posting list has length <= ``max_shingle_df``, total
    pair-generation work is bounded by ``max_shingle_df *
    |postings|`` — LINEAR in corpus size for a fixed cap, with no
    separate verify pass (the pair explode IS the exact intersection
    count).  The list form replaces the r10-r16 posting SELF-JOIN:
    identical pair multiset, but the corpus-wide (doc_id, shingle)
    table is never broadcast and the join machinery drops out —
    measured 4.6 s -> 3.2 s at sf0.1/cap20, result-identical.  The
    cap is the work/recall dial, the same contract as
    ``_cap_buckets`` in the minhash/simhash tiers; size it from the
    ``lsh_bucket_stats``-style df telemetry before a 100 TB pass (a
    flat, non-zipfian df distribution — every shingle near the cap —
    degenerates to cap*n work; SCALE_r10.md measures exactly that
    worst case on the replicated synthetic corpus).

    Output: (doc_a, doc_b, n_common, size_a, containment_pct) with
    containment_pct = floor(100 * n_common / size_a), doc_a != doc_b,
    both directions present when both pass their own thresholds.
    """
    from pithos_spark.plans.helpers import bounded_persist

    # every aggregation/join below keys on the RAW 60-bit shingle hash
    # instead of the n-gram STRING (r18, guide §2.3: shuffle keys, not
    # payloads): the df agg, the hot anti-join and the posting-build
    # exchange — the dominant shuffle of this operator — carry 8-byte
    # longs.  Injective on every tested corpus's distinct shingle set
    # (scripts/hashkey_proof_r18.py), so df counts, the excluded-hot
    # universe, posting lists and every derived pair count are
    # value-identical to the string-keyed form — proof protocol and
    # collision analysis in minhash_lsh_pairs.
    h = portable_hash60(F.col("shingle")).alias("h")
    sh = shingles(documents, n).select("doc_id", h)
    sdf = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    hot = F.broadcast(sdf.filter(F.col("df") > max_shingle_df).select("h"))
    # hot exclusion BEFORE collect_set keeps every list <= cap — the
    # aggregation never materializes a boilerplate shingle's postings.
    # collect_set over the RAW gram stream (multiplicity kept) folds
    # the per-doc dedup into the same exchange as the posting build:
    # one (h)-keyed exchange instead of distinct-by-(doc,gram)
    # followed by collect_list-by-shingle.
    posts = bounded_persist(
        shingles(documents, n, distinct=False)
        .select("doc_id", h)
        .join(hot, "h", "left_anti")
        .groupBy("h")
        .agg(F.collect_set("doc_id").alias("ds"))
        .select("ds"),
        "containment_pairs.posts",
    )
    sizes = (
        posts.select(F.explode("ds").alias("doc_a"))
        .groupBy("doc_a")
        .agg(F.count(F.lit(1)).alias("size_a"))
    )
    # n_common is symmetric, so only (doc_a < doc_b) pairs go through
    # the count exchange — the mirrored direction is reconstructed
    # AFTER the aggregation, halving the shuffled pair rows and the
    # aggregation hash table (the pair-count exchange is the measured
    # floor of this operator; guide §2.4: shuffle fewer bytes).  Both
    # directions then face their own size_a threshold as before.
    inter_half = (
        posts.select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # mirror with a narrow explode, NOT a union — a union would plan
    # the aggregation subtree twice (no cross-branch reuse)
    inter = inter_half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a"), F.col("doc_b"), F.col("n_common")
                ),
                F.struct(
                    F.col("doc_b").alias("doc_a"),
                    F.col("doc_a").alias("doc_b"),
                    F.col("n_common"),
                ),
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b", "p.n_common")
    # sizes is one row per in-universe doc — corpus-LINEAR, so an
    # unconditional broadcast is its own at-scale hazard (VERDICT r17
    # item 3: forcing it turns the join into a driver-side collect of
    # every doc with a surviving shingle).  Guarded broadcast instead:
    # under the row bound it is the measured-right plan (without the
    # hint AQE builds the hash side from the LEFT 2.2M-row pair
    # aggregate, guide §3.1); over the bound, degrade to a SHUFFLED
    # hash join on doc_a — both sides exchange, build side stays
    # per-partition-bounded.  The bound check is one count(*) over
    # ``documents`` (sizes rows <= |documents|): parquet-metadata
    # cheap, never materializes the posting build early.  Threshold
    # rationale: ~16 B/row framed -> ~200 MB built relation at 4M rows
    # — inside guide §3.1's "a few hundred MB is usually fine", an
    # order of magnitude under the 8 GB/512M-row hard cap.
    sizes_side = (
        F.broadcast(sizes)
        if documents.count() <= _SIZES_BROADCAST_MAX_ROWS
        else sizes.hint("shuffle_hash")
    )
    return (
        inter.join(sizes_side, "doc_a")
        .withColumn(
            "containment_pct",
            (F.col("n_common") * 100 / F.col("size_a")).cast("long"),
        )
        .filter(F.col("n_common") * 100 >= F.col("size_a") * threshold_pct)
        .select("doc_a", "doc_b", "n_common", "size_a", "containment_pct")
        .orderBy("doc_a", "doc_b")
    )


def containment_pairs_oracle(
    n: int = 3,
    threshold_pct: int = 80,
    max_shingle_df: int = 200,
) -> str:
    """DuckDB twin of :func:`containment_pairs` — same shingling, df-cap
    universe on both counting and size, exact intersection count via
    the posting self-join, integer floor quantization."""
    return f"""\
{_shingle_sql(n)}
, sdf AS (
    SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
), uni AS (
    SELECT s.doc_id, s.shingle
    FROM sh s JOIN sdf d USING (shingle) WHERE d.df <= {max_shingle_df}
), sizes AS (
    SELECT doc_id, count(*) AS size_a FROM uni GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM uni a JOIN uni b USING (shingle)
    WHERE a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.n_common, z.size_a,
       CAST(i.n_common * 100 // z.size_a AS BIGINT) AS containment_pct
FROM inter i JOIN sizes z ON z.doc_id = i.doc_a
WHERE i.n_common * 100 >= z.size_a * {threshold_pct}
ORDER BY doc_a, doc_b"""


_AFP_FRAMES = 33  # 33 frame energies -> 32 temporal-difference bits
_AFP_SAMPLES = 4  # sample points averaged per frame
_AFP_BANDS = 4  # 4 bands x 8 bits


def _afp_band_cols(px: list[F.Column]) -> list[F.Column]:
    """Haitsma-Kalker band packing as row-local expressions over the
    sampled amplitude columns: frame energies E[f] = sum of that
    frame's ``_AFP_SAMPLES`` amplitudes, one bit per adjacent-frame
    difference (E[f] < E[f+1]), 8 bits per band — the same values the
    (doc,frame) agg + doc-window form produced, per row."""
    energies = [
        sum(
            (px[f * _AFP_SAMPLES + s] for s in range(_AFP_SAMPLES)),
            F.lit(0),
        )
        for f in range(_AFP_FRAMES)
    ]
    bands = []
    for b in range(_AFP_BANDS):
        terms = [
            F.when(
                energies[b * 8 + j] < energies[b * 8 + j + 1],
                F.lit(1 << j),
            ).otherwise(F.lit(0))
            for j in range(8)
            if b * 8 + j < _AFP_FRAMES - 1
        ]
        bands.append(sum(terms, F.lit(0)).cast("long").alias(f"b{b}"))
    return bands


def _afp_wide_stub(documents: DataFrame) -> DataFrame:
    """Wide (doc_id, b0..b3) audio fingerprint over the ASCII stand-in
    amplitude source — one shuffle-free projection per clip row."""
    grid = _AFP_FRAMES * _AFP_SAMPLES
    clips = documents.filter(
        (F.col("doc_id") % 3 == 1) & (F.length("text") > 0)
    ).select("doc_id", "text", F.length("text").alias("n_px"))
    return clips.select("doc_id", *_afp_band_cols(_stub_px_cols(grid)))


def _afp_assets_wide(assets: DataFrame) -> DataFrame:
    """Wide (doc_id, b0..b3) audio fingerprint over the REAL decoded
    sample grid — row-local band packing over the array column."""
    from pithos_spark.sources.multimodal import sampled_pixel_grid_wide

    samples = sampled_pixel_grid_wide(
        assets.filter(F.col("media_type") == "audio"),
        _AFP_FRAMES,
        _AFP_SAMPLES,
    )
    px = _arr_px_cols("px", _AFP_FRAMES * _AFP_SAMPLES)
    return samples.select(
        F.col("asset_id").alias("doc_id"), *_afp_band_cols(px)
    )


def audio_near_pairs(
    documents: DataFrame, max_hamming: int = 6, max_bucket: int = 1000
) -> DataFrame:
    """Near-duplicate audio pairs: band-bucket LSH over the 4x8-bit
    fingerprint (pigeonhole: hamming <= 3 guarantees a shared band),
    bucket cap against degenerate buckets, exact Hamming verify over
    the full 32 bits.  Output (doc_a, doc_b, hamming)."""
    return _banded_hamming_pairs(
        _afp_wide_stub(documents),
        _AFP_BANDS,
        max_hamming,
        max_bucket,
        "audio_near_pairs.fps",
    )


def audio_near_pairs_assets(
    assets: DataFrame, max_hamming: int = 6, max_bucket: int = 1000
) -> DataFrame:
    """:func:`audio_near_pairs` fed from the REAL decode path: trimmed/
    re-sampled copies of a decodable WAV land in the same near-dup pair
    (their frame-energy profiles agree), undecodable payloads reproduce
    the stub tier's pairs exactly.  Output (doc_a, doc_b, hamming)."""
    return _banded_hamming_pairs(
        _afp_assets_wide(assets),
        _AFP_BANDS,
        max_hamming,
        max_bucket,
        "audio_near_pairs_assets.fps",
    )


def audio_near_pairs_oracle(
    max_hamming: int = 6, max_bucket: int = 1000
) -> str:
    """DuckDB twin of :func:`audio_near_pairs` — same sampled amplitude
    source, frame energies, difference bits, 4x8-bit band packing,
    bucket cap, and Hamming verify."""
    grid = _AFP_FRAMES * _AFP_SAMPLES
    xor_terms = " + ".join(
        f"bit_count(xor(a.b{i}, b.b{i}))" for i in range(_AFP_BANDS)
    )
    band_cols = ", ".join(
        f"max(CASE WHEN band = {i} THEN band_val END) AS b{i}"
        for i in range(_AFP_BANDS)
    )
    wide_cols = ", ".join(f"w.b{i}" for i in range(_AFP_BANDS))
    return f"""
WITH clips AS (
    SELECT doc_id, text, length(text) AS n_px FROM documents
    WHERE doc_id % 3 = 1 AND length(text) > 0
), samples AS (
    SELECT doc_id,
           g // {_AFP_SAMPLES} AS f,
           ord(substr(text, CAST((g * n_px) // {grid} + 1 AS INT), 1)) AS amp
    FROM clips CROSS JOIN (SELECT unnest(range(0, {grid})) AS g)
), energy AS (
    SELECT doc_id, f, sum(amp) AS e FROM samples GROUP BY doc_id, f
), bits AS (
    SELECT doc_id, f, e,
           lead(e) OVER (PARTITION BY doc_id ORDER BY f) AS nx
    FROM energy
), fps AS (
    SELECT doc_id, f // 8 AS band,
           CAST(sum(CASE WHEN e < nx THEN (1 << (f % 8)) ELSE 0 END)
                AS BIGINT) AS band_val
    FROM bits WHERE f < {_AFP_FRAMES - 1} GROUP BY doc_id, f // 8
), wide AS (
    SELECT doc_id, {band_cols} FROM fps GROUP BY doc_id
), banded AS (
    SELECT * FROM (
        SELECT f.doc_id, f.band, f.band_val, {wide_cols},
               count(*) OVER (PARTITION BY f.band, f.band_val) AS _bn
        FROM fps f JOIN wide w USING (doc_id)
    ) WHERE _bn <= {max_bucket}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({xor_terms} AS BIGINT) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE {xor_terms} <= {max_hamming}
ORDER BY doc_a, doc_b"""


_VFP_FRAMES = 8  # sampled frames; each frame is an 8-bit band
_VFP_COLS = 9  # 9 pixels per frame -> 8 spatial gradient bits


def video_fingerprints(documents: DataFrame) -> DataFrame:
    """Per video asset, a frame-sampled spatial fingerprint: 8 frames
    evenly sampled along the clip, 9 "pixels" per frame, one bit per
    within-frame horizontal gradient (the per-frame dHash row), packed
    as one 8-bit band per frame — near-dup video detection by frame
    signature, robust to trims that preserve most frames (a shared
    frame band collides in LSH even when other frames differ).

    The DECODE is the stubbed stand-in (sources/multimodal.py): video
    assets are the ``doc_id % 3 == 2`` slice, payload bytes are the
    utf-8 text, frame f's pixel p samples position
    ((f*9 + p) * len) / 72 — a real frame-extract + grayscale resize
    slots in at that one expression.  Framing, gradient bits, band
    packing, LSH and Hamming verify are the real algorithm, identical
    in contract to the image/audio tiers."""
    return _wide_to_long(_vfp_wide_stub(documents), _VFP_FRAMES)


def _vfp_wide_stub(documents: DataFrame) -> DataFrame:
    """Wide (doc_id, b0..b7) frame-signature fingerprint over the
    ASCII stand-in frame source — one shuffle-free projection per clip
    row; the per-frame gradient packing is the same
    :func:`_grad_band_cols` the image dHash uses (frames play the role
    of rows)."""
    grid = _VFP_FRAMES * _VFP_COLS
    clips = documents.filter(
        (F.col("doc_id") % 3 == 2) & (F.length("text") > 0)
    ).select("doc_id", "text", F.length("text").alias("n_px"))
    px = _stub_px_cols(grid)
    return clips.select(
        "doc_id", *_grad_band_cols(px, _VFP_FRAMES, _VFP_COLS)
    )


def video_fingerprints_assets(assets: DataFrame) -> DataFrame:
    """Frame-signature bands over the multimodal asset table with a
    REAL frame source: video assets flow through
    ``sampled_frame_grid`` — PIL's multi-frame reader or the stdlib
    animated-GIF decoder temporally samples 8 frames and spatially
    samples 9 grayscale values per frame (``decoded=true``); a
    decodable still image counts as a 1-frame clip; undecodable
    payloads (including real MP4s — no stdlib frame decoder exists)
    take the ASCII stand-in identical to :func:`video_fingerprints`,
    the oracle twin.  Downstream banding is the shared
    :func:`_grad_band_cols`."""
    return _wide_to_long(_vfp_assets_wide(assets), _VFP_FRAMES)


def _vfp_assets_wide(assets: DataFrame) -> DataFrame:
    """Wide (doc_id, b0..b7) frame-signature fingerprint over the REAL
    decoded frame grid — row-local band packing over the array
    column."""
    from pithos_spark.sources.multimodal import sampled_frame_grid_wide

    pix = sampled_frame_grid_wide(
        assets.filter(F.col("media_type") == "video"),
        _VFP_FRAMES,
        _VFP_COLS,
    )
    px = _arr_px_cols("px", _VFP_FRAMES * _VFP_COLS)
    return pix.select(
        F.col("asset_id").alias("doc_id"),
        *_grad_band_cols(px, _VFP_FRAMES, _VFP_COLS),
    )


def video_near_pairs(
    documents: DataFrame, max_hamming: int = 10, max_bucket: int = 1000
) -> DataFrame:
    """Near-duplicate video pairs: band-bucket LSH over the 8-frame
    signature (a shared frame is a shared band — pigeonhole hamming
    <= 7), bucket cap, exact 64-bit Hamming verify.
    Output (doc_a, doc_b, hamming)."""
    return _banded_hamming_pairs(
        _vfp_wide_stub(documents),
        _VFP_FRAMES,
        max_hamming,
        max_bucket,
        "video_near_pairs.fps",
    )


def video_near_pairs_assets(
    assets: DataFrame, max_hamming: int = 10, max_bucket: int = 1000
) -> DataFrame:
    """:func:`video_near_pairs` fed from the REAL decode path: a
    temporally-trimmed and/or spatially-resized copy of a decodable
    animation lands in the same near-dup pair (its sampled frame grid
    agrees), undecodable payloads reproduce the stub tier's pairs
    exactly.  Output (doc_a, doc_b, hamming)."""
    return _banded_hamming_pairs(
        _vfp_assets_wide(assets),
        _VFP_FRAMES,
        max_hamming,
        max_bucket,
        "video_near_pairs_assets.fps",
    )


def video_near_pairs_oracle(
    max_hamming: int = 10, max_bucket: int = 1000
) -> str:
    """DuckDB twin of :func:`video_near_pairs`."""
    grid = _VFP_FRAMES * _VFP_COLS
    xor_terms = " + ".join(
        f"bit_count(xor(a.b{i}, b.b{i}))" for i in range(_VFP_FRAMES)
    )
    band_cols = ", ".join(
        f"max(CASE WHEN band = {i} THEN band_val END) AS b{i}"
        for i in range(_VFP_FRAMES)
    )
    wide_cols = ", ".join(f"w.b{i}" for i in range(_VFP_FRAMES))
    return f"""
WITH clips AS (
    SELECT doc_id, text, length(text) AS n_px FROM documents
    WHERE doc_id % 3 = 2 AND length(text) > 0
), pix AS (
    SELECT doc_id,
           g // {_VFP_COLS} AS f,
           g % {_VFP_COLS} AS c,
           ord(substr(text, CAST((g * n_px) // {grid} + 1 AS INT), 1)) AS px
    FROM clips CROSS JOIN (SELECT unnest(range(0, {grid})) AS g)
), bits AS (
    SELECT doc_id, f, c, px,
           lead(px) OVER (PARTITION BY doc_id, f ORDER BY c) AS nx
    FROM pix
), fps AS (
    SELECT doc_id, f AS band,
           CAST(sum(CASE WHEN px < nx THEN (1 << c) ELSE 0 END) AS BIGINT)
               AS band_val
    FROM bits WHERE c < {_VFP_COLS - 1} GROUP BY doc_id, f
), wide AS (
    SELECT doc_id, {band_cols} FROM fps GROUP BY doc_id
), banded AS (
    SELECT * FROM (
        SELECT f.doc_id, f.band, f.band_val, {wide_cols},
               count(*) OVER (PARTITION BY f.band, f.band_val) AS _bn
        FROM fps f JOIN wide w USING (doc_id)
    ) WHERE _bn <= {max_bucket}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({xor_terms} AS BIGINT) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE {xor_terms} <= {max_hamming}
ORDER BY doc_a, doc_b"""


def incremental_containment_pairs(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    n: int = 3,
    threshold_pct: int = 80,
    max_shingle_df: int = 200,
) -> DataFrame:
    """Incremental containment: which NEW documents are >= threshold_pct
    contained in an EXISTING-corpus document — the crawl-delta form of
    :func:`containment_pairs` (a re-crawled page that grew a banner, a
    syndicated article inside a new aggregator page).  Only the delta
    pays shingle cost beyond the corpus-side posting index a deployment
    materializes once at ingest.

    The boilerplate universe is defined by the CORPUS: shingles whose
    existing-side doc-frequency exceeds ``max_shingle_df`` are excluded
    from both sides' counting (the index side already knows what is
    ubiquitous; a brand-new shingle trivially has df 0 and stays).
    Work is bounded by ``max_shingle_df * |delta postings|`` — linear
    in the DELTA, never the corpus.

    Output: (new_doc_id, existing_doc_id, n_common, size_a,
    containment_pct), size_a = the new doc's in-universe shingle count.
    """
    from pithos_spark.plans.helpers import bounded_persist

    # delta x corpus join keyed on the RAW 60-bit shingle hash instead
    # of the n-gram string (r18, guide §2.3) — same injectivity proof
    # and collision analysis as containment_pairs/minhash_lsh_pairs.
    h = portable_hash60(F.col("shingle")).alias("h")
    sh_old = bounded_persist(
        shingles(existing_docs, n).select("doc_id", h),
        "incr_containment.sh_old",
    )
    hot = (
        sh_old.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_shingle_df)
        .select("h")
    )
    uni_new = bounded_persist(
        shingles(new_docs, n)
        .select("doc_id", h)
        .join(F.broadcast(hot), "h", "left_anti"),
        "incr_containment.uni_new",
    )
    uni_old = sh_old.join(F.broadcast(hot), "h", "left_anti")
    sizes_new = uni_new.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("size_a")
    )
    inter = (
        uni_new.alias("a")
        .join(uni_old.alias("b"), "h")
        .groupBy(
            F.col("a.doc_id").alias("new_doc_id"),
            F.col("b.doc_id").alias("existing_doc_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            sizes_new.withColumnRenamed("doc_id", "new_doc_id"), "new_doc_id"
        )
        .withColumn(
            "containment_pct",
            (F.col("n_common") * 100 / F.col("size_a")).cast("long"),
        )
        .filter(F.col("n_common") * 100 >= F.col("size_a") * threshold_pct)
        .select(
            "new_doc_id", "existing_doc_id", "n_common", "size_a",
            "containment_pct",
        )
        .orderBy("new_doc_id", "existing_doc_id")
    )


def incremental_containment_pairs_oracle(
    split_doc_id: int,
    n: int = 3,
    threshold_pct: int = 80,
    max_shingle_df: int = 200,
) -> str:
    """DuckDB twin for the registry fixture protocol: documents with
    doc_id >= ``split_doc_id`` act as the new crawl, the rest as the
    existing corpus."""
    return f"""\
{_shingle_sql(n)}
, sh_old AS (
    SELECT doc_id, shingle FROM sh WHERE doc_id < {split_doc_id}
), sh_new AS (
    SELECT doc_id, shingle FROM sh WHERE doc_id >= {split_doc_id}
), hot AS (
    SELECT shingle FROM sh_old GROUP BY shingle
    HAVING count(*) > {max_shingle_df}
), uni_old AS (
    SELECT o.doc_id, o.shingle FROM sh_old o
    ANTI JOIN hot h ON o.shingle = h.shingle
), uni_new AS (
    SELECT nn.doc_id, nn.shingle FROM sh_new nn
    ANTI JOIN hot h ON nn.shingle = h.shingle
), sizes AS (
    SELECT doc_id, count(*) AS size_a FROM uni_new GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS new_doc_id, b.doc_id AS existing_doc_id,
           count(*) AS n_common
    FROM uni_new a JOIN uni_old b USING (shingle)
    GROUP BY 1, 2
)
SELECT i.new_doc_id, i.existing_doc_id, i.n_common, z.size_a,
       CAST(i.n_common * 100 // z.size_a AS BIGINT) AS containment_pct
FROM inter i JOIN sizes z ON z.doc_id = i.new_doc_id
WHERE i.n_common * 100 >= z.size_a * {threshold_pct}
ORDER BY new_doc_id, existing_doc_id"""


def shingle_df_stats(
    documents: DataFrame, n: int = 3, max_shingle_df: int = 200
) -> DataFrame:
    """Operational telemetry for the containment cap: the shingle
    doc-frequency histogram in log2 buckets, plus what the
    ``max_shingle_df`` universe cut would exclude — the report you run
    BEFORE a 100 TB containment pass to size the cap (the
    lsh_bucket_stats contract for the posting-join family).  Per
    bucket: how many distinct shingles, how many posting rows (the
    join's input volume), the pair-generation work they induce
    (sum df^2 — the posting self-join's actual row count), and whether
    the bucket falls outside the capped universe.

    A zipfian corpus concentrates shingles in the df=1 bucket with work
    ~= postings; a flat distribution (every shingle near the cap)
    pushes work toward cap * postings — the two regimes SCALE_r10.md
    measures.  Scale: one explode + two map-side-combinable aggs;
    output is ~32 rows regardless of corpus size.
    """
    sdf = (
        shingles(documents, n)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    bucket = F.floor(F.log2("df")).cast("long")
    # the universe cut applies per SHINGLE (df > cap), not per bucket:
    # the log2 bucket straddling the cap (e.g. cap=200, bucket
    # [128,255]) holds both included and excluded shingles, so each
    # bucket reports exact in/out posting+work splits — a whole-bucket
    # boolean under-reported the exclusions exactly where the cap bites
    # (ADVICE r10)
    out = F.col("df") > max_shingle_df
    return (
        sdf.groupBy(bucket.alias("df_log2_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("df").alias("n_postings"),
            F.sum(F.col("df") * F.col("df")).alias("pair_work"),
            F.max("df").alias("max_df"),
            F.sum(F.when(out, 1).otherwise(0)).alias("shingles_outside"),
            F.sum(F.when(out, F.col("df")).otherwise(0)).alias(
                "postings_outside"
            ),
            F.sum(
                F.when(out, F.col("df") * F.col("df")).otherwise(0)
            ).alias("pair_work_outside"),
        )
        .orderBy("df_log2_bucket")
    )


def shingle_df_stats_oracle(n: int = 3, max_shingle_df: int = 200) -> str:
    """DuckDB twin of :func:`shingle_df_stats`."""
    return f"""\
{_shingle_sql(n)}
, sdf AS (
    SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
)
SELECT CAST(floor(log2(df)) AS BIGINT) AS df_log2_bucket,
       count(*) AS n_shingles,
       CAST(sum(df) AS BIGINT) AS n_postings,
       CAST(sum(df * df) AS BIGINT) AS pair_work,
       CAST(max(df) AS BIGINT) AS max_df,
       CAST(sum(CASE WHEN df > {max_shingle_df} THEN 1 ELSE 0 END)
            AS BIGINT) AS shingles_outside,
       CAST(sum(CASE WHEN df > {max_shingle_df} THEN df ELSE 0 END)
            AS BIGINT) AS postings_outside,
       CAST(sum(CASE WHEN df > {max_shingle_df} THEN df * df ELSE 0 END)
            AS BIGINT) AS pair_work_outside
FROM sdf
GROUP BY 1
ORDER BY 1"""


def dedup_ladder_report(
    documents: DataFrame,
    image_hamming: int = 20,
    audio_hamming: int = 8,
    video_hamming: int = 20,
    containment_threshold: int = 50,
    max_shingle_df: int = 200,
) -> DataFrame:
    """One operational readout across the WHOLE dedup ladder: per tier,
    how many duplicate pairs (or removable exact copies) this corpus
    carries — the summary a curation run records per snapshot to track
    duplication drift over crawls, and the single query that exercises
    every tier's plan end-to-end.

    Tiers: exact (removable copies = sum(copies-1)), MinHash-LSH,
    SimHash, perceptual image/audio/video, and capped-universe
    containment — each with the same parameters the registry gates
    individually.

    Scale: a union of seven independent aggregations; each tier keeps
    its own bucketed/banded candidate bounds, and the report is 7 rows
    regardless of corpus size.  Run it per crawl snapshot, not per
    query.

    Execution note (r17): collecting the seven single-row tier
    aggregations as concurrent thread-pool jobs (guide §2.6) was
    measured A/B against this lazy union and came out NEUTRAL
    (quiet-box interleaved medians 9.22 s union vs 9.45 s threaded at
    sf0.1, scripts/profile_ladders_r17.py) — AQE already materializes
    the union's independent shuffle stages concurrently inside the one
    action, so extra driver threads only add scheduling overhead.  The
    union form is kept: same speed, and the whole report stays one
    declared lazy plan.
    """
    def _count(name, df):
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(name).alias("tier"), F.col("n").cast("long").alias("n_pairs")
        )

    exact = exact_dedup(documents).agg(
        F.coalesce(F.sum(F.col("copies") - 1), F.lit(0))
        .cast("long")
        .alias("n")
    ).select(
        F.lit("exact_removable").alias("tier"), F.col("n").alias("n_pairs")
    )
    tiers = [
        exact,
        _count("minhash_lsh", minhash_lsh_pairs(documents)),
        _count("simhash", simhash_near_pairs(documents)),
        _count(
            "image_dhash",
            image_dhash_near_pairs(documents, max_hamming=image_hamming),
        ),
        _count(
            "audio_fingerprint",
            audio_near_pairs(documents, max_hamming=audio_hamming),
        ),
        _count(
            "video_frames",
            video_near_pairs(documents, max_hamming=video_hamming),
        ),
        _count(
            "containment",
            containment_pairs(
                documents,
                threshold_pct=containment_threshold,
                max_shingle_df=max_shingle_df,
            ),
        ),
    ]
    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)
    return out.orderBy("tier")


def dedup_ladder_report_oracle(
    image_hamming: int = 20,
    audio_hamming: int = 8,
    video_hamming: int = 20,
    containment_threshold: int = 50,
) -> str:
    """DuckDB twin of :func:`dedup_ladder_report` — each tier's own
    oracle wrapped as a counted subquery, unioned."""
    parts = [
        """SELECT 'exact_removable' AS tier,
       CAST(coalesce(sum(copies - 1), 0) AS BIGINT) AS n_pairs
FROM (SELECT count(*) AS copies FROM documents GROUP BY md5(text))""",
    ]
    for name, sql in [
        ("minhash_lsh", minhash_lsh_pairs_oracle()),
        ("simhash", simhash_near_pairs_oracle()),
        ("image_dhash", image_dhash_near_pairs_oracle(max_hamming=image_hamming)),
        ("audio_fingerprint", audio_near_pairs_oracle(max_hamming=audio_hamming)),
        ("video_frames", video_near_pairs_oracle(max_hamming=video_hamming)),
        (
            "containment",
            containment_pairs_oracle(threshold_pct=containment_threshold),
        ),
    ]:
        parts.append(
            f"SELECT '{name}' AS tier, CAST(count(*) AS BIGINT) AS n_pairs "
            f"FROM (\n{sql}\n)"
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY tier"
