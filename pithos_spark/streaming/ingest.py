"""Streaming layout maintenance: the crawl arrives as a STREAM.

Batch form: a daily crawl delta lands and
``retrieval.append_to_postings_layout`` folds it in (VERDICT r13 task
4).  This module is the Structured Streaming twin for the continuous
version of the same ingest — micro-batches keep every persisted
layout (postings, trigram grams, PQ, residual IVFADC, plain IVF,
objects) serveable without ever rebuilding it.

Replay safety is the design constraint (the same one
streaming_decode_coverage documents): foreachBatch is at-least-once,
and duplicated POSTING rows are worse than duplicated telemetry rows —
they corrupt tf/df and every score downstream.  A plain
``mode("append")`` into the layout is therefore wrong for a stream.
Instead each micro-batch writes its rows into a per-segment STAGING
directory — completely, under a temp name, then INSTALLED with one
atomic rename (``layoutcommit.install_staged_segment``), so a replayed
batch either finds its segment already installed (skip) or installs a
byte-equivalent one; a segment directory that exists is always whole.
Segments are keyed ``<checkpoint-token>-<batch_id>`` because bare
batch ids restart at 0 per checkpoint (``layoutcommit.segment_token``).
Each segment's additive stats row lands in a seg-tagged table the
reader dedups on ``seg`` — and if the crash fell between the install
and the stats append, the reader DERIVES the missing segment's
counters from the staged rows instead of serving drifted scores
(ADVICE r14).

Serving unions base + staged segments; COMPACTION folds staged
segments into the base.  Compaction is crash-idempotent (VERDICT r14
task 1) via the generation-pointer commit in
``functions/layoutcommit.py``: it writes a complete, fully-MERGED new
generation to a temp dir, renames it into place, and atomically swaps
the layout's ``CURRENT`` pointer.  Staged segments it folded are
recorded in the generation's ``folded_segments`` table and masked by
every reader, so the window between the pointer swap and the staged
cleanup double-counts nothing, and a re-run of compaction after ANY
crash point is pure recovery: before the swap it redoes the fold;
after it, it only finishes the cleanup.  Because the fold fully merges
per-gram partial rows, a compacted trigram layout returns to
``n_segments == 1`` and the readers' LSM merge fast-path turns back on.

The protocol is written once: :func:`_stage_stream` is every layout's
ingest and :func:`_fold` every layout's compaction.  A layout supplies
only its segment writer, its fold writer and its row order — the row
order declared by the module that owns the layout (``order_postings``,
``order_pq_codes``, ``order_residual_codes``, ``order_ivf_assigned``,
``text.write_gram_tables``, ``store.write_objects_layout``), so every
write of one physical format calls one definition.

Job budget.  The ops are delta-sized (tens to hundreds of rows), so
their cost is Spark's per-job overhead, and every job has a named
reason:

- staging one segment is ONE job, the segment write.  An empty batch
  is found from the temp segment's parquet footers on the driver
  (:func:`layoutcommit.parquet_rows`), and a segment is sorted on the
  layout's key inside the batch's own partitions
  (:func:`_write_segment_rows`) — no range sample, no shuffle; the
  fold restores the clustering;
- defining a staged read runs NO job.  Base tables and segments are
  read with the schema their owning module declares
  (``store.OBJECTS_LAYOUT_SCHEMA``, ``similarity.PQ_CODES_SCHEMA`` /
  ``RESIDUAL_CODES_SCHEMA`` / ``IVF_ASSIGNED_SCHEMA``,
  ``retrieval.POSTINGS_SCHEMA``), so no read infers one, and the tiny
  tables (``CURRENT``, ``folded_segments``, codebooks, centers, meta)
  are driver-side reads.  The action then runs its plan's own jobs:
  one per shuffle map stage AQE schedules (the objects merge window,
  the listing's grouping, the PQ estimate's group-by and rank cut),
  one per broadcast build, one for the result, plus the PQ serve's
  query-vector collect;
- a fold runs only the writes of its merged tables: for the
  range-clustered layouts the range sample, the shuffle map stage
  and the write (plus the merge window's shuffle for objects).  The
  rows folded are counted from the live segments' footers, the frozen
  tiny tables are copied as bytes, and the ``folded_segments`` mask is
  written on the driver.  (The postings and trigram folds also refresh
  their counter tables, which still takes Spark jobs.)

Measured per perfbench ``ingest`` op (4 segments per op, seed 1):
stage 4 jobs, listing 3, PQ read 7 (one is the benchmark's own
embeddings read), objects fold 4, PQ fold 4 (the range partitioner
re-samples a skewed partition with a second job).

When to compact: fold when ``trigram_segment_stats``'s
``avg_segments_x1000`` crosses :data:`COMPACT_WHEN_AVG_SEGMENTS_X1000`
(derivation in SCALE_r15).  The ANN and objects layouts key on live
segment COUNT instead (:data:`COMPACT_ANN_WHEN_SEGMENTS` /
:data:`COMPACT_OBJECTS_WHEN_SEGMENTS`, derivation in SCALE_r17 §3-4):
since the single-scan staged read their tax is per-segment file
overhead, not merge arithmetic, and each ships a telemetry readout
(``ann_staged_stats`` / ``objects_staged_stats``) plus a
``compact_staged_*_if_needed`` policy form.

Reference framing: the reference treats ingest as mutate-in-place
against Cassandra (src/io/pithos/meta.clj:153-251 upserts) and gets
atomicity from the database; a Spark layout is immutable files, so
"mutate" decomposes into idempotent segment installs + unioned reads +
pointer-committed compaction — same results, replay safe, delta-linear
on the ingest path.
"""

from __future__ import annotations

import functools
import logging
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from pithos_spark.functions.layoutcommit import (
    FOLD_TMP,
    assert_not_torn,
    commit_current,
    finalize_rebuild,
    folded_segment_keys,
    gc_generations,
    install_staged_segment,
    next_gen_rel,
    parquet_rows,
    read_current,
    read_tiny_rows,
    segment_token,
    staged_segment_keys,
    write_folded_segments,
    write_tiny_table,
)
from pithos_spark.sources.store import OBJECTS_KEY, OBJECTS_LAYOUT_SCHEMA

_log = logging.getLogger("pithos_spark")

# Fold when the staged-aware segment report's MAX avg_segments_x1000
# (trigram_segment_stats_with_staged; in practice its cw3 row — the
# unigram vocabulary saturates, so that row counts segments directly)
# reaches this value, i.e. as soon as ~one full staged generation sits
# on the base.  Measured derivation (SCALE_r15 §2-4, sf0.1): each
# staged segment taxes a merged serving read ~0.34 s and the
# crash-safe fold costs ~12 s (~2.8x one layout build, and NOT larger
# at sf1 — the gram tables are vocabulary-sized), so folding at 2
# segments breaks even within ~18 reads and everything after is win.
# Raise it only for write-dominated layouts (<~10 reads per delta).
COMPACT_WHEN_AVG_SEGMENTS_X1000 = 2000


# --- the staged-layout lifecycle, written once -------------------------------


def _stage_stream(stream, layout_path: str, checkpoint: str, write_segment):
    """THE staged ingest, shared by every layout: for each micro-batch,
    ``write_segment(batch_df, batch_id, tmp)`` writes the segment's
    tables COMPLETELY under ``{layout}/staged_tmp/seg=<key>``, which
    then installs at ``{layout}/staged/seg=<key>`` with one atomic
    rename.  An empty batch is found AFTER its write, from the temp
    segment's parquet footers (driver-side, so it costs no job), and
    its temp segment is deleted instead of installed.  A layout with
    additive corpus counters returns a 1-row stats DataFrame; it is
    appended seg-tagged under ``{layout}/staged_stats`` only AFTER the
    install — the order :func:`_gc_staged_stats` relies on (a row in
    its snapshot always has its segment visible).  Runs the stream to
    completion of the data available now (``availableNow``)."""
    token = segment_token(checkpoint)

    def _ingest(batch_df, batch_id):
        seg = f"{token}-{batch_id}"
        tmp = f"{layout_path}/staged_tmp/seg={seg}"
        stats = write_segment(batch_df, batch_id, tmp)
        if parquet_rows([tmp]) == 0:
            shutil.rmtree(tmp, ignore_errors=True)
            _log.info(
                "stage %s: batch %s is empty, no segment installed",
                layout_path,
                batch_id,
            )
            return
        install_staged_segment(tmp, f"{layout_path}/staged/seg={seg}")
        if stats is not None:
            (
                stats.withColumn("seg", F.lit(seg))
                .write.mode("append")
                .parquet(f"{layout_path}/staged_stats")
            )

    return (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _fold(spark, layout_path: str, write_generation) -> int:
    """THE compaction, shared by every layout (VERDICT r14 task 1):
    resolve the live generation once and refuse a torn base (never
    bake one into a generation).  If segments are live,
    ``write_generation(root, live, tmp)`` writes the COMPLETE merged
    tables under ``FOLD_TMP``; the folded keys join them (written on
    the driver), the dir is renamed to the next ``fold_gen_<k>`` and
    ``CURRENT`` swaps atomically.  The rows folded are counted from the
    live segments' parquet footers, so the only Spark jobs in a fold
    are the writes of its merged tables.  Everything after the swap is
    pure GC (readers mask folded keys): staged dirs, staged stats,
    superseded generations (VERDICT r15 task 5; never read once
    CURRENT moves).  With nothing live the GC still runs, over the
    previously-folded keys a crashed cleanup left behind.

    Killed at any step, a re-run either redoes the fold from intact
    inputs (pointer still on the old generation) or just finishes the
    cleanup.  Every step is a module-global lookup, so the crash
    matrices can kill the fold at each one.  Cost: O(layout), the
    classic LSM major compaction, while ingest stays delta-linear —
    run it at the policy cadence, not per batch."""
    root = read_current(layout_path)
    assert_not_torn(root)
    live = _live_staged_segs(layout_path, root)
    if not live:
        n, live = 0, sorted(folded_segment_keys(root))
    else:
        tmp = f"{layout_path}/{FOLD_TMP}"
        shutil.rmtree(tmp, ignore_errors=True)
        n = parquet_rows(f"{layout_path}/staged/seg={s}" for s in live)
        write_generation(root, live, tmp)
        write_folded_segments(tmp, _folded_keys(layout_path, root, live))
        gen = next_gen_rel(layout_path)
        os.rename(tmp, f"{layout_path}/{gen}")
        commit_current(layout_path, gen)  # THE commit point
    _gc_staged(layout_path, live)
    _gc_staged_stats(spark, layout_path)
    gc_generations(layout_path)
    return n


def _fold_rows(
    spark,
    layout_path,
    table,
    schema,
    order,
    partition_by=None,
    carry=(),
    finish=None,
) -> int:
    """:func:`_fold` for the layouts whose staged rows are DISJOINT
    from the base (new doc_ids / vec_ids by the ingest contract), so
    the fold is a union, not a merge: read base and staged rows with
    the layout's declared ``schema``, restore its row ``order`` (and
    cluster directory ``partition_by``) over base ∪ staged, copy the
    frozen tiny tables in ``carry`` forward as bytes (they never
    change between generations), and let ``finish(root, live, tmp)``
    write anything else the generation needs (the postings counters).
    Returns the staged rows folded."""

    def write_generation(root, live, tmp):
        base = spark.read.schema(schema).parquet(f"{root}/{table}")
        staged = _staged_rows(spark, layout_path, live, schema)
        w = order(base.unionByName(staged)).write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(f"{tmp}/{table}")
        for t in carry:
            shutil.copytree(f"{root}/{t}", f"{tmp}/{t}")
        if finish:
            finish(root, live, tmp)

    return _fold(spark, layout_path, write_generation)


def _live_staged_segs(layout_path: str, gen_root: str) -> list[str]:
    """Installed staged segment keys NOT yet folded into the live
    generation.  Folded-but-still-present segments are garbage awaiting
    cleanup (the crash window after the pointer swap) and are masked
    here — the masking is what makes that window harmless."""
    folded = folded_segment_keys(gen_root)
    return [s for s in staged_segment_keys(layout_path) if s not in folded]


def _staged_rows(spark, layout_path: str, live: list[str], schema):
    """All live staged segments' rows in ONE multi-path scan, read with
    the layout's declared ``schema`` (no inference job) — the
    serving fast path for the flat segment shape (postings / ANN codes
    / assignments / object mutations), whose consumers drop
    per-segment attribution anyway.  One scan node with N paths
    replaces N scan+union subplans (~0.09 s/segment measured,
    SCALE_r17 §1 — subplan/file-open overhead, not data volume).  Safe
    because these segment dirs hold no partition subdirs, so the
    multi-root conflicting-directory-structures check that forces the
    trigram layout's per-segment reads never applies.  Reads by
    explicit per-segment path: a segment dir exists iff its tables are
    complete (single-rename install)."""
    return spark.read.schema(schema).parquet(
        *[f"{layout_path}/staged/seg={s}" for s in live]
    )


def _with_staged(spark, layout_path: str, root: str, base):
    """``base`` ∪ the live staged rows (read with ``base``'s schema),
    masked against the generation at ``root`` — resolved ONCE by the
    caller and threaded through both the base read and the mask: two
    resolutions race a concurrent fold (segments folded in between
    would be masked while their rows live only in the newer base;
    ADVICE r16)."""
    live = _live_staged_segs(layout_path, root)
    if not live:
        return base
    return base.unionByName(
        _staged_rows(spark, layout_path, live, base.schema)
    )


def _write_segment_rows(rows, schema, key, tmp: str) -> None:
    """Write a staged segment's rows in the layout's declared column
    order, sorted on its ``key`` within the batch's own partitions: a
    delta-sized segment needs no range sample or shuffle (one job);
    the fold restores the layout's clustering."""
    (
        rows.select(*schema.fieldNames())
        .sortWithinPartitions(*key)
        .write.mode("overwrite")
        .parquet(tmp)
    )


def _staged_counters(
    layout_path: str, live: list[str], cols: tuple, derive
) -> dict:
    """Shared staged-stats readout: the deduped seg-tagged counter rows
    for the live segments, with any segment whose stats append a crash
    ate DERIVED from the segment's own rows (ADVICE r14 — serving base
    counters against unioned staged rows drifts every score).
    ``cols`` are the additive counter columns; ``derive(missing_segs)``
    returns their exact values for stats-less segments.  Driver-side:
    the table stays KB-sized (one row per live segment, plus at most
    one replayed duplicate), so :func:`layoutcommit.read_tiny_rows`
    reads it with no distributed job (r17)."""
    stats_dir = f"{layout_path}/staged_stats"
    live_set = set(live)
    rows: list[dict] = []
    if os.path.isdir(stats_dir):
        seen: set[str] = set()
        for r in read_tiny_rows(stats_dir):
            s = str(r["seg"])
            # first row per seg, as dropDuplicates(["seg"]) picked —
            # replayed appends are byte-equivalent by the idempotent
            # ingest contract, so the pick is value-free either way
            if s in live_set and s not in seen:
                seen.add(s)
                rows.append(r)
    out = {c: sum(int(r[c]) for r in rows) for c in cols}
    missing = sorted(set(live) - {str(r["seg"]) for r in rows})
    if missing:
        d = derive(missing)
        for c in cols:
            out[c] += int(d[c])
    return out


def _gc_staged(layout_path: str, segs: list[str]) -> None:
    """Remove folded staged segments (plus any leftover fold temp).
    Pure garbage collection — every reader already masks these keys via
    the live generation's folded_segments table, so a crash anywhere in
    here changes nothing and a re-run finishes the job.  Temp cleanup
    is scoped to the folded keys: a concurrently-ingesting micro-batch
    may be mid-write under ``staged_tmp/seg=<other>`` (an abandoned
    temp from a crashed ingest is harmless — its replay overwrites
    it)."""
    shutil.rmtree(f"{layout_path}/{FOLD_TMP}", ignore_errors=True)
    for s in segs:
        shutil.rmtree(
            f"{layout_path}/staged_tmp/seg={s}", ignore_errors=True
        )
        shutil.rmtree(
            f"{layout_path}/staged/seg={s}", ignore_errors=True
        )
    for d in (f"{layout_path}/staged", f"{layout_path}/staged_tmp"):
        # os.rmdir, NOT listdir-then-rmtree (ADVICE r15): a concurrent
        # micro-batch can rename its segment in between an emptiness
        # check and a recursive delete, losing a committed (therefore
        # never-replayed) segment.  rmdir is atomic — it fails with
        # ENOTEMPTY if the install won the race.
        try:
            os.rmdir(d)
        except OSError:
            pass


def _rmdir_stats_table(stats_dir: str) -> None:
    """Clear writer markers (_SUCCESS etc. — recreated by any later
    append), then take the directory down with an atomic rmdir, which
    fails harmlessly with ENOTEMPTY if a concurrent append just landed
    (its files are live and stay — same rationale as _gc_staged's
    rmdir)."""
    for f in os.listdir(stats_dir):
        if f.startswith((".", "_")):
            try:
                os.remove(os.path.join(stats_dir, f))
            except OSError:
                pass
    try:
        os.rmdir(stats_dir)
    except OSError:
        pass


def _gc_staged_stats(spark, layout_path: str) -> None:
    """Bound the staged_stats table (ADVICE r15): ingest appends one
    small parquet file per micro-batch and nothing ever removed rows
    for folded segments, so the table — and every staged serving
    read's dedup scan over it — grew without bound.  After a fold,
    compact it down to rows whose segment is still installed.

    File-level, never directory-level (ADVICE r16): the old
    rmtree+rename swap could permanently destroy a stats row a
    concurrent ingest appended between the snapshot and the swap — and
    for postings the reader's derivation fallback cannot see
    zero-token documents, so that segment's n_docs would undercount
    forever.  Instead: snapshot the data FILES first, compact the live
    rows FROM THAT SNAPSHOT into new files moved INTO the directory,
    then delete only the snapshotted files.  A file appended after the
    snapshot is never touched; ingest appends a segment's stats row
    only AFTER installing its directory (so a row present in the
    snapshot has its segment visible to the live listing taken after
    it).  Readers dedupe by ``seg`` (:func:`_staged_counters`), so the
    crash window between move-in and delete — duplicate rows per
    segment — is read-transparent, and a re-run finishes the
    cleanup."""
    stats_dir = f"{layout_path}/staged_stats"
    tmp = f"{layout_path}/staged_stats_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        snapshot = [
            f
            for f in os.listdir(stats_dir)
            if not f.startswith((".", "_"))
        ]
    except FileNotFoundError:
        return  # no stats table (readers derive) — nothing to bound
    if not snapshot:
        _rmdir_stats_table(stats_dir)
        return
    # live listed AFTER the file snapshot: any row whose segment was
    # installed later lives in a post-snapshot file we never delete
    live = staged_segment_keys(layout_path)
    paths = [os.path.join(stats_dir, f) for f in snapshot]
    if live:
        keep = (
            spark.read.parquet(*paths)
            .filter(F.col("seg").isin(list(live)))
            .dropDuplicates(["seg"])
        )
        write_tiny_table(keep, tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(tmp, f), os.path.join(stats_dir, f)
                )
    for p in paths:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass
    shutil.rmtree(tmp, ignore_errors=True)
    if not live:
        _rmdir_stats_table(stats_dir)


def _folded_keys(layout_path: str, gen_root: str, live) -> set[str]:
    """Contents for the new generation's folded_segments table: the
    keys folded by THIS fold, plus previously-folded keys whose segment
    dirs a crashed cleanup left behind (their rows are already in the
    base; the mask must outlive the directories)."""
    prev = folded_segment_keys(gen_root)
    return set(str(s) for s in live) | {
        s for s in staged_segment_keys(layout_path) if s in prev
    }


def _staged_stats(spark, layout_path, min_segments, extra_schema="", *aggs):
    """Per-live-segment staged telemetry, shared by the ANN and objects
    readouts: one row per LIVE staged segment with its row count (plus
    ``aggs``), the live-segment total and the fold-due verdict.  One
    scan per segment, because attribution is the point (serving reads
    use :func:`_staged_rows` instead).  Cost: one aggregation over the
    delta-sized segments; nothing staged -> empty report."""
    root = read_current(layout_path)
    live = _live_staged_segs(layout_path, root)
    if not live:
        return spark.createDataFrame(
            [],
            f"seg string, rows long, {extra_schema}"
            "n_live_segments int, fold_due boolean",
        )
    staged = functools.reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.parquet(f"{layout_path}/staged/seg={s}").withColumn(
                "seg", F.lit(s)
            )
            for s in live
        ],
    )
    return (
        staged.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("rows"), *aggs)
        .withColumn("n_live_segments", F.lit(len(live)))
        .withColumn("fold_due", F.lit(len(live) >= min_segments))
        .orderBy("seg")
    )


def _fold_if_due(spark, layout_path: str, min_segments: int, fold) -> int:
    """Segment-count policy form shared by the ANN and objects layouts:
    ``fold`` iff ``min_segments`` staged segments are live, else 0
    without touching Spark or the layout.  Logs the decision."""
    live = len(_live_staged_segs(layout_path, read_current(layout_path)))
    due = live >= min_segments
    n = fold(spark, layout_path) if due else 0
    _log.info(
        "fold policy %s: %d live segments, threshold %d: %s",
        layout_path,
        live,
        min_segments,
        f"folded {n} rows" if due else "skipped",
    )
    return n


# --- BM25 postings -----------------------------------------------------------


def streaming_postings_ingest(
    new_documents_stream,
    layout_path: str,
    checkpoint: str,
):
    """Maintain the postings layout from a stream of NEW documents
    through :func:`_stage_stream`: each micro-batch's segment is one
    delta-linear ``build_postings`` pass in the layout's row order
    (``retrieval.order_postings``, so the pushed ``term IN`` filter
    row-group-skips inside it), and its (n_docs, total_len) counters
    are the segment's stats row (re-derivable from the rows if the
    append is the step a crash ate).

    Serving reads through :func:`bm25_topk_with_staged`; fold segments
    into the base with :func:`compact_staged_postings`.  Assumes the
    stream carries genuinely new doc_ids (the batch append's contract —
    updates go through a rebuild)."""
    from pithos_spark.functions.retrieval import (
        POSTINGS_KEY,
        POSTINGS_SCHEMA,
        build_postings,
        delta_postings_stats,
    )

    def write_segment(batch_df, _batch_id, tmp):
        _write_segment_rows(
            build_postings(batch_df), POSTINGS_SCHEMA, POSTINGS_KEY, tmp
        )
        return delta_postings_stats(batch_df)

    return _stage_stream(
        new_documents_stream, layout_path, checkpoint, write_segment
    )


def _staged_postings_counters(
    spark, layout_path: str, live: list[str]
) -> tuple[int, int]:
    """(n_docs, total_len) contributed by the live staged segments.
    The derivation for stats-less segments counts distinct
    (doc_id, dl) pairs over exactly those segments' rows (read by
    path), so a document with zero tokens — which has no posting rows
    and affects no score — is the one thing it can't see."""
    from pithos_spark.functions.retrieval import POSTINGS_SCHEMA

    def derive(missing):
        return (
            _staged_rows(spark, layout_path, missing, POSTINGS_SCHEMA)
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

    c = _staged_counters(
        layout_path, live, ("n_docs", "total_len"), derive
    )
    return c["n_docs"], c["total_len"]


def bm25_topk_with_staged(
    spark,
    layout_path: str,
    terms: tuple[str, ...] | None = None,
    k: int = 20,
):
    """BM25 serving over base + staged segments: same scoring tail as
    ``retrieval.bm25_topk_from_postings`` (df derived from the unioned
    posting rows, so staged documents participate exactly), stats =
    the live generation's counters + the staged segments' (stats rows
    or row-derived — never base-only against unioned rows).
    Bit-identical to the batch path over the union of documents
    (tested across trigger splits, after compaction, and across every
    injected crash point)."""
    from pithos_spark.functions.retrieval import (
        DEFAULT_TERMS,
        IDF_SCALE,
        NORM_SCALE,
        POSTINGS_SCHEMA,
    )

    terms = terms or DEFAULT_TERMS
    root = read_current(layout_path)
    assert_not_torn(root)
    post = spark.read.schema(POSTINGS_SCHEMA).parquet(f"{root}/postings")
    stats = spark.read.parquet(f"{root}/stats")
    live = _live_staged_segs(layout_path, root)
    if live:
        dn, dl_sum = _staged_postings_counters(spark, layout_path, live)
        post = post.unionByName(
            _staged_rows(spark, layout_path, live, POSTINGS_SCHEMA)
        )
        stats = stats.select(
            (F.col("n_docs") + F.lit(dn)).alias("n_docs"),
            (F.col("total_len") + F.lit(dl_sum)).alias("total_len"),
        )
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


def compact_staged_postings(spark, layout_path: str) -> int:
    """Fold the staged segments into the layout (:func:`_fold_rows`):
    re-clustered merged postings plus the refreshed corpus counters
    (base + staged, stats rows or row-derived).  Returns the number of
    staged posting rows folded."""
    from pithos_spark.functions.retrieval import (
        POSTINGS_SCHEMA,
        order_postings,
        write_postings_stats,
    )

    def stats(root, live, tmp):
        dn, dl_sum = _staged_postings_counters(spark, layout_path, live)
        old = read_tiny_rows(f"{root}/stats")[0]
        write_postings_stats(
            spark,
            f"{tmp}/stats",
            int(old["n_docs"]) + dn,
            int(old["total_len"]) + dl_sum,
        )

    return _fold_rows(
        spark,
        layout_path,
        "postings",
        POSTINGS_SCHEMA,
        order_postings,
        finish=stats,
    )


# --- trigram gram layout -----------------------------------------------------


def streaming_trigram_ingest(
    new_lm_documents_stream,
    layout_path: str,
    checkpoint: str,
):
    """Maintain the trigram gram layout from a stream of new LM
    documents — the gram-table twin of :func:`streaming_postings_ingest`,
    and the continuous form of ``text.append_to_trigram_lm_layout``.

    Each micro-batch derives its five gram count tables (delta-linear)
    and writes ALL FIVE into its one segment through
    ``text.write_gram_tables`` with the layout's FROZEN bucket count —
    so an installed segment always holds five complete,
    mutually-consistent tables (the old per-table staging could crash
    with two of five written).  Its window count is the segment's
    stats row (re-derivable from the c3 sums if a crash ate the
    append).  The readers' LSM merge already sums arbitrary
    per-segment partial rows, so serving needs no new math
    (:func:`trigram_heldout_with_staged`); :func:`compact_staged_trigram`
    folds everything into a fully merged new generation."""
    from pithos_spark.functions.text import _trigram_windows, write_gram_tables

    def write_segment(batch_df, _batch_id, tmp):
        root = read_current(layout_path)
        n_buckets = int(read_tiny_rows(f"{root}/stats")[0]["n_buckets"])
        tri = _trigram_windows(batch_df).persist()
        try:
            d_total = tri.count()
            write_gram_tables(tri, n_buckets, tmp)
        finally:
            tri.unpersist()
        return batch_df.sparkSession.range(1).select(
            F.lit(int(d_total)).alias("n_total")
        )

    return _stage_stream(
        new_lm_documents_stream, layout_path, checkpoint, write_segment
    )


def _staged_trigram_tables(spark, layout_path: str, live: list[str]):
    """Per-count-table rows of the live staged segments, ONE recursive
    multi-path scan per table (the gram twin of :func:`_staged_rows`,
    r17): every consumer drops both ``b`` and the segment attribution
    (the LSM merge keys on the gram), so instead of N scan+union
    subplans per table the ``b=`` partition dirs are simply not
    inferred — ``recursiveFileLookup`` reads the leaf files of all N
    segment table dirs as one scan, sidestepping the
    conflicting-directory-structures check that blocks partitioned
    multi-root unions.  5 scans total instead of 5 x N."""
    from pithos_spark.functions.text import _TRIGRAM_COUNT_TABLES

    return {
        cnt: spark.read.option("recursiveFileLookup", "true").parquet(
            *[f"{layout_path}/staged/seg={s}/{cnt}" for s in live]
        )
        for _key, cnt in _TRIGRAM_COUNT_TABLES
    }


def _staged_trigram_total(spark, layout_path: str, live: list[str]) -> int:
    """Window count contributed by the live staged segments: the
    shared :func:`_staged_counters` readout; the derivation for a
    stats-less segment is exact (a trigram segment's n_total equals
    the sum of its c3 counts — the c3 table groups every window by its
    trigram, so unlike the postings derivation this one has no blind
    spot)."""

    def derive(missing):
        total = 0
        for s in missing:
            total += int(
                spark.read.parquet(f"{layout_path}/staged/seg={s}/c3")
                .agg(F.coalesce(F.sum("c3"), F.lit(0)).alias("t"))
                .collect()[0]["t"]
            )
        return {"n_total": total}

    return _staged_counters(
        layout_path, live, ("n_total",), derive
    )["n_total"]


def trigram_heldout_with_staged(
    documents,
    layout_path: str,
    l3: int = 500,
    l2: int = 300,
    l1: int = 200,
    low: int = 60,
    high: int = 400,
):
    """Held-out scoring over base + staged gram segments: each count
    table unions its staged partials before the LSM merge (which
    already sums per-segment rows per gram), and n_total adds the
    staged window counts (stats rows or exactly re-derived).  Equal to
    the one-pass layout over the union of LM documents (tested across
    trigger splits, after compaction, and across every injected crash
    point)."""
    from pithos_spark.functions.text import (
        _TRIGRAM_COUNT_TABLES,
        _load_trigram_layout,
        _merged_counts_read,
        _trigram_score,
        _trigram_windows,
    )
    from pithos_spark.plans.helpers import bounded_persist

    spark = documents.sparkSession
    # resolve the generation ONCE and thread it through both the base
    # read and the staged mask (ADVICE r16, see _with_staged)
    root = read_current(layout_path)
    counts, n_total, _, n_segments = _load_trigram_layout(
        spark, layout_path, root
    )
    counts = {cnt: df.drop("b") for cnt, df in counts.items()}
    live = _live_staged_segs(layout_path, root)
    if live:
        n_total += _staged_trigram_total(spark, layout_path, live)
    if live or n_segments != 1:
        # base + staged segments of all five tables in ONE tagged
        # scan+merge (r18, _merged_counts_read — the former shape paid
        # 5 base scans + 5 staged scans + 5 merge exchanges: the
        # 25-job staged serve of VERDICT r17 task 3)
        counts = _merged_counts_read(
            spark,
            {
                cnt: [f"{root}/{cnt}"]
                + [f"{layout_path}/staged/seg={s}/{cnt}" for s in live]
                for _, cnt in _TRIGRAM_COUNT_TABLES
            },
        )
    tri_score = bounded_persist(
        _trigram_windows(documents), "streaming_ingest.tri_score"
    )
    return _trigram_score(
        tri_score, counts, n_total, l3, l2, l1, low, high,
    )


def trigram_segment_stats_with_staged(spark, layout_path: str):
    """Staged-aware LSM occupancy telemetry: the same 5-row report as
    ``text.trigram_segment_stats`` computed over base ∪ live staged
    segments — i.e. over exactly the partial rows a merged serving
    read sums and a fold would collapse.  On a layout with no staged
    segments the two reports are identical.  This is the readout the
    :data:`COMPACT_WHEN_AVG_SEGMENTS_X1000` policy consumes for
    stream-fed layouts (batch appends show up in the base form
    already)."""
    from pithos_spark.functions.text import (
        _load_trigram_layout,
        _segment_stats_from_counts,
    )

    # one resolution for base + staged mask (same race note as
    # trigram_heldout_with_staged)
    root = read_current(layout_path)
    counts, _, _, _ = _load_trigram_layout(spark, layout_path, root)
    counts = {cnt: df.drop("b") for cnt, df in counts.items()}
    live = _live_staged_segs(layout_path, root)
    if live:
        staged = _staged_trigram_tables(spark, layout_path, live)
        counts = {
            cnt: counts[cnt].unionByName(staged[cnt]) for cnt in counts
        }
    return _segment_stats_from_counts(counts)


def compact_trigram_if_needed(
    spark,
    layout_path: str,
    threshold_x1000: int = COMPACT_WHEN_AVG_SEGMENTS_X1000,
) -> int:
    """The SCALE_r15 compaction policy as code: read the staged-aware
    occupancy report, fold iff its MAX ``avg_segments_x1000`` (across
    the five gram tables — in practice the unigram row, a direct
    segment counter) has reached ``threshold_x1000``.  Returns the
    rows folded (0 = below threshold or nothing staged).  Run it after
    each ingest burst; at the measured numbers (SCALE_r15 §3-4) a fold
    triggered at the default threshold pays for itself within ~18
    serving reads."""
    worst = max(
        (
            int(r["avg_segments_x1000"])
            for r in trigram_segment_stats_with_staged(
                spark, layout_path
            ).collect()
        ),
        default=0,
    )
    if worst < threshold_x1000:
        return 0
    return compact_staged_trigram(spark, layout_path)


def compact_staged_trigram(spark, layout_path: str) -> int:
    """Fold staged gram segments into a fully-MERGED new generation
    (:func:`_fold`), with a real LSM payoff: the fold sums every gram's
    partial rows (base segments from batch appends included), so the
    compacted layout is back to one row per gram (``n_segments == 1``)
    and the readers' merge fast-path re-engages.  Buckets stay frozen
    (``text.write_gram_tables`` recomputes the same murmur3 expression,
    so every gram lands back in its partition and probe pruning is
    untouched).  Returns the number of staged gram rows folded (all
    five tables' rows, counted by :func:`_fold` from the footers)."""
    from pithos_spark.functions.text import (
        _load_trigram_layout,
        write_gram_stats,
        write_gram_tables,
    )

    def write_generation(root, live, tmp):
        counts, n_total, n_buckets, _ = _load_trigram_layout(
            spark, layout_path, root
        )
        staged = _staged_trigram_tables(spark, layout_path, live)
        n_total += _staged_trigram_total(spark, layout_path, live)
        write_gram_tables(
            {
                cnt: df.drop("b").unionByName(staged[cnt])
                for cnt, df in counts.items()
            },
            n_buckets,
            tmp,
        )
        write_gram_stats(spark, f"{tmp}/stats", n_total, n_buckets, 1)

    return _fold(spark, layout_path, write_generation)


# --- ANN layouts: PQ, residual IVFADC, plain IVF -----------------------------


def _frozen_segment(layout_path: str, encode, schema, key):
    """Segment writer for the ANN layouts: ``encode(spark, batch_df,
    root)`` assigns / encodes the batch against the live generation's
    FROZEN artifacts (row-local — the exact delta the batch append
    writes), written in the layout's declared ``schema`` and sorted on
    its ``key`` (:func:`_write_segment_rows`).  ``cluster`` rides as a
    plain column in a segment (directory partitioning is the FOLD's
    job); no stats row — these indexes carry no additive corpus
    counters, so the segment rows ARE the whole delta."""

    def write_segment(batch_df, _batch_id, tmp):
        root = read_current(layout_path)
        assert_not_torn(root)
        rows = encode(batch_df.sparkSession, batch_df, root)
        _write_segment_rows(rows, schema, key, tmp)

    return write_segment


def streaming_pq_index_ingest(
    new_embeddings_stream,
    layout_path: str,
    checkpoint: str,
):
    """Maintain the persisted PQ index from a stream of newly-ingested
    vectors — the replay-safe form of ``similarity.append_to_pq_index``
    (whose bare batch append doubles the delta if an at-least-once
    source retries it — the flaw ``streaming_pq_encode``'s plain sink
    append documents).  Each micro-batch is encoded against the
    index's FROZEN codebooks (``similarity.pq_encode_delta`` — an
    M × K driver-side read per batch, no Spark job) into one staged
    segment (:func:`_frozen_segment`).

    Serving reads through :func:`pq_topk_with_staged`; fold segments
    into a new generation with :func:`compact_staged_pq`.  Assumes the
    stream carries genuinely new vec_ids (updates go through a
    rebuild) and that codebook drift is handled by periodic retrain,
    as for any frozen production quantizer."""
    from pithos_spark.functions.similarity import (
        PQ_CODES_KEY,
        PQ_CODES_SCHEMA,
        pq_encode_delta,
    )

    return _stage_stream(
        new_embeddings_stream,
        layout_path,
        checkpoint,
        _frozen_segment(
            layout_path, pq_encode_delta, PQ_CODES_SCHEMA, PQ_CODES_KEY
        ),
    )


def _pq_index_with_staged(spark, layout_path: str):
    """(base ∪ staged codes, codebooks, meta) under one generation
    resolution (:func:`_with_staged`)."""
    from pithos_spark.functions.similarity import load_pq_index

    root = read_current(layout_path)
    codes, codebooks, meta = load_pq_index(spark, layout_path, root)
    return _with_staged(spark, layout_path, root, codes), codebooks, meta


def pq_topk_with_staged(
    embeddings,
    layout_path: str,
    query_vec_id: int,
    k: int = 10,
    rerank: int = 4,
):
    """PQ ANN over base + staged code segments: the staged rows union
    under the same ADC estimate / rerank tail (``pq_serve_topk``), so
    a vector streamed in is searchable before any fold.  Bit-identical
    to serving a layout whose codes were all encoded in one pass with
    the same frozen codebooks (encoding is row-local; staged vec_ids
    are disjoint from the base's by the ingest contract — no merge
    arithmetic, unlike the gram layout).  Scale: the staged union adds
    delta-sized scans below the same broadcast LUT join; everything
    else is the serving plan the plain read produces."""
    from pithos_spark.functions.similarity import pq_serve_topk

    codes, codebooks, meta = _pq_index_with_staged(
        embeddings.sparkSession, layout_path
    )
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


def pq_batch_topk_with_staged(
    embeddings,
    layout_path: str,
    query_ids: list,
    k: int = 10,
    rerank: int = 4,
):
    """Batched PQ ANN over base + staged code segments — the
    production query-stream shape (many queries, ONE pass over the
    codes) serving a layout with un-folded streamed deltas: the staged
    rows union under the same |Q|-keyed broadcast-LUT plan
    (``similarity._pq_batch_serve``), so each query's rows stay
    bit-identical to the single-query staged serve."""
    from pithos_spark.functions.similarity import _pq_batch_serve

    codes, codebooks, meta = _pq_index_with_staged(
        embeddings.sparkSession, layout_path
    )
    return _pq_batch_serve(
        embeddings, codes, codebooks, meta, query_ids, k, rerank
    )


def compact_staged_pq(spark, layout_path: str) -> int:
    """Fold staged code segments into the PQ layout
    (:func:`_fold_rows`): merged codes in ``order_pq_codes``, codebooks
    and meta carried forward.  Code rows are disjoint across segments
    (new vec_ids), so the fold is file hygiene — restoring the
    vec_id-range clustering the rerank probe's row-group skipping
    wants — not a merge.  Returns the number of staged code rows
    folded."""
    from pithos_spark.functions.similarity import (
        PQ_CODES_SCHEMA,
        order_pq_codes,
    )

    return _fold_rows(
        spark, layout_path, "codes", PQ_CODES_SCHEMA, order_pq_codes,
        carry=("codebooks", "meta"),
    )


def streaming_ivfpq_residual_ingest(
    new_embeddings_stream,
    layout_path: str,
    checkpoint: str,
):
    """Maintain the canonical residual-IVFADC serving index from a
    stream of newly-ingested vectors — the replay-safe form of
    ``similarity.append_to_ivfpq_residual_index``.  Each micro-batch
    is assigned to the FROZEN coarse centroids and its residuals
    encoded against the FROZEN codebooks
    (``similarity.ivfpq_residual_encode_delta``, the batch append's
    exact encode) into one staged segment (:func:`_frozen_segment`).
    The staged rows are delta-sized, so serving filters them by row
    where the base prunes by partition — the same asymmetry as the
    lexical layouts' staged unions, which the fold deletes."""
    from pithos_spark.functions.similarity import (
        PQ_CODES_KEY,
        RESIDUAL_CODES_SCHEMA,
        ivfpq_residual_encode_delta,
    )

    return _stage_stream(
        new_embeddings_stream,
        layout_path,
        checkpoint,
        _frozen_segment(
            layout_path,
            ivfpq_residual_encode_delta,
            RESIDUAL_CODES_SCHEMA,
            PQ_CODES_KEY,
        ),
    )


def _residual_index_with_staged(spark, layout_path: str):
    """(base ∪ staged codes, centers, codebooks, meta) of the residual
    index under one generation resolution (:func:`_with_staged`); the
    frozen artifacts are driver-side reads."""
    from pithos_spark.functions.similarity import (
        RESIDUAL_CODES_SCHEMA,
        read_centers,
        read_codebooks,
    )

    root = read_current(layout_path)
    assert_not_torn(root)
    codes = _with_staged(
        spark,
        layout_path,
        root,
        spark.read.schema(RESIDUAL_CODES_SCHEMA).parquet(f"{root}/codes"),
    )
    return (
        codes,
        read_centers(root),
        read_codebooks(root),
        read_tiny_rows(f"{root}/meta")[0],
    )


def ivfpq_residual_topk_with_staged(
    embeddings,
    layout_path: str,
    query_vec_id: int,
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 4,
):
    """Residual IVFADC over base + staged code segments: the staged
    rows (cluster carried as a column) union under the same
    probe-rank / residual-LUT / exact-rerank tail
    (``_ivfpq_residual_serve``), so a vector streamed in is searchable
    before any fold.  Bit-identical to a layout whose codes were all
    encoded in one pass with the same frozen centers+codebooks
    (assignment and encoding are row-local; staged vec_ids are
    disjoint from the base's by the ingest contract)."""
    from pithos_spark.functions.similarity import (
        _ivfpq_residual_serve,
        _quantized,
    )

    codes, centers, codebooks, meta = _residual_index_with_staged(
        embeddings.sparkSession, layout_path
    )
    qv = embeddings.select(
        "vec_id",
        "label",
        _quantized(F.col("embedding"), int(meta["scale"])).alias("q"),
    )
    return _ivfpq_residual_serve(
        qv,
        codes,
        centers,
        codebooks,
        query_vec_id,
        k,
        n_probe,
        rerank,
        int(meta["dim"]),
        int(meta["m_sub"]),
    )


def ivfpq_residual_batch_with_staged(
    embeddings,
    layout_path: str,
    query_ids: list,
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 4,
):
    """Batched residual-IVFADC over base + staged code segments — the
    canonical index's query-stream shape with un-folded streamed
    deltas: staged rows (cluster as a column) union under the same
    per-query probe / |Q|-keyed residual-LUT / exact-rerank plan
    (``similarity._ivfpq_residual_batch_serve``).  The probe join
    filters staged rows by value where the base prunes by partition —
    the usual delta-sized asymmetry the fold deletes."""
    from pithos_spark.functions.similarity import (
        _ivfpq_residual_batch_serve,
    )

    codes, centers, codebooks, meta = _residual_index_with_staged(
        embeddings.sparkSession, layout_path
    )
    return _ivfpq_residual_batch_serve(
        embeddings, codes, centers, codebooks, meta, query_ids, k, n_probe,
        rerank,
    )


def compact_staged_ivfpq_residual(spark, layout_path: str) -> int:
    """Fold staged residual-code segments into a new generation
    (:func:`_fold_rows`) with the cluster partitioning restored on the
    way through (the fold's payoff here: staged rows served by row
    filter go back to directory-pruned reads).  Returns the number of
    staged code rows folded."""
    from pithos_spark.functions.similarity import (
        RESIDUAL_CODES_SCHEMA,
        order_residual_codes,
    )

    return _fold_rows(
        spark, layout_path, "codes", RESIDUAL_CODES_SCHEMA,
        order_residual_codes, partition_by="cluster",
        carry=("centers", "codebooks", "meta"),
    )


def streaming_ivf_ingest(
    new_embeddings_stream,
    layout_path: str,
    checkpoint: str,
):
    """Maintain the persisted plain-IVF index (full embedding rows
    partitioned by trained cluster — the SemDeDup sweep's input) from
    a stream of newly-ingested vectors: the replay-safe form of
    ``similarity.append_to_ivf_index`` (whose bare batch append
    doubles the delta if an at-least-once source retries it; VERDICT
    r16 task 4).  Each micro-batch is assigned to the live
    generation's FROZEN centers (``similarity.ivf_assign_delta``, the
    batch append's exact assignment) into one staged segment
    (:func:`_frozen_segment`).  Serving reads through
    :func:`ivf_assigned_with_staged` /
    :func:`semantic_dedup_pairs_with_staged`; fold with
    :func:`compact_staged_ivf`."""
    from pithos_spark.functions.similarity import (
        IVF_ASSIGNED_KEY,
        IVF_ASSIGNED_SCHEMA,
        ivf_assign_delta,
    )

    return _stage_stream(
        new_embeddings_stream,
        layout_path,
        checkpoint,
        _frozen_segment(
            layout_path, ivf_assign_delta, IVF_ASSIGNED_SCHEMA,
            IVF_ASSIGNED_KEY,
        ),
    )


def ivf_assigned_with_staged(spark, layout_path: str):
    """THE staged-aware plain-IVF reader: (assigned base ∪ live staged
    segments, centers) under one generation resolution
    (:func:`_with_staged`).  Every plain-IVF consumer (probe, SemDeDup
    sweep) takes the assigned table + the centers, so this pair IS the
    staged serving surface; staged rows are filtered by row where the
    base prunes by cluster partition — the delta-sized asymmetry the
    fold deletes."""
    from pithos_spark.functions.similarity import load_ivf_index

    root = read_current(layout_path)
    assigned, centers = load_ivf_index(spark, layout_path, root)
    return _with_staged(spark, layout_path, root, assigned), centers


def ivf_topk_with_staged(
    spark,
    layout_path: str,
    query_vec_id: int,
    k: int = 10,
    n_probe: int = 2,
):
    """IVF probe over base + staged assignment segments: a vector
    streamed in is searchable (and probeable as a query) before any
    fold.  Bit-identical to a layout whose vectors were all assigned
    in one pass against the same frozen centers (assignment is
    row-local; staged vec_ids are disjoint from the base's by the
    ingest contract)."""
    from pithos_spark.functions.similarity import ivf_query

    assigned, centers = ivf_assigned_with_staged(spark, layout_path)
    return ivf_query(
        assigned,
        centers,
        query_vec_id,
        k,
        n_probe,
        cluster_col="cluster",
        metric="l2",
    ).drop("query_id")


def semantic_dedup_pairs_with_staged(
    spark,
    layout_path: str,
    threshold_q: int = 300_000,
    max_cluster: int = 500,
):
    """SemDeDup sweep over base + staged assignment segments — the
    staged-aware form of
    ``similarity.semantic_dedup_pairs_from_layout``: a crawl delta's
    vectors join the in-cluster pair scan before any fold, so the
    dedup sweep of a growing corpus never waits on compaction."""
    from pithos_spark.functions.similarity import (
        _semantic_pairs_from_assigned,
    )

    assigned, _ = ivf_assigned_with_staged(spark, layout_path)
    return _semantic_pairs_from_assigned(assigned, threshold_q, max_cluster)


def compact_staged_ivf(spark, layout_path: str) -> int:
    """Fold staged assignment segments into a new plain-IVF generation
    (:func:`_fold_rows`), restoring the cluster directory partitioning
    so probe reads go back to partition pruning.  Returns the number
    of staged assignment rows folded."""
    from pithos_spark.functions.similarity import (
        IVF_ASSIGNED_SCHEMA,
        order_ivf_assigned,
    )

    return _fold_rows(
        spark, layout_path, "assigned", IVF_ASSIGNED_SCHEMA,
        order_ivf_assigned, partition_by="cluster",
        carry=("centers", "meta"),
    )


# SCALE_r17 §1: the ANN segments have no read-merge arithmetic (their
# serving tax is pure per-segment scan/union overhead, measured
# ~0.09 s/segment/serve, flat sf0.1->sf1), and a fold costs ~2 s at
# both scales — so folding pays for itself within ~3 serves at 8 live
# segments.  Segment COUNT is therefore the right trigger, unlike the
# gram layout's per-gram occupancy knob.
COMPACT_ANN_WHEN_SEGMENTS = 4


def ann_staged_stats(spark, layout_path: str):
    """Staged-state telemetry for an ANN layout — the readout the
    :data:`COMPACT_ANN_WHEN_SEGMENTS` policy acts on, playing the role
    ``trigram_segment_stats_with_staged`` plays for the gram layout.
    One row per LIVE staged segment with its row count, plus the
    segment total and the fold-due verdict (:func:`_staged_stats`);
    layout-agnostic (PQ code rows, residual code rows, or plain-IVF
    assignment rows alike)."""
    return _staged_stats(spark, layout_path, COMPACT_ANN_WHEN_SEGMENTS)


def ann_fold_due(
    spark,
    layout_path: str,
    min_segments: int = COMPACT_ANN_WHEN_SEGMENTS,
) -> bool:
    """True when an ANN layout has accumulated enough live staged
    segments that a fold amortizes within a handful of serves
    (SCALE_r17 §3).  One directory listing + the folded-mask read —
    cheap enough to run after every ingest burst."""
    root = read_current(layout_path)
    return len(_live_staged_segs(layout_path, root)) >= min_segments


def compact_staged_pq_if_needed(
    spark,
    layout_path: str,
    min_segments: int = COMPACT_ANN_WHEN_SEGMENTS,
) -> int:
    """The SCALE_r17 ANN compaction policy as code, PQ form: fold iff
    ``min_segments`` staged segments are live.  Returns rows folded
    (0 = below threshold)."""
    return _fold_if_due(spark, layout_path, min_segments, compact_staged_pq)


def compact_staged_ivfpq_residual_if_needed(
    spark,
    layout_path: str,
    min_segments: int = COMPACT_ANN_WHEN_SEGMENTS,
) -> int:
    """:func:`compact_staged_pq_if_needed` for the canonical residual
    index."""
    return _fold_if_due(
        spark, layout_path, min_segments, compact_staged_ivfpq_residual
    )


def compact_staged_ivf_if_needed(
    spark,
    layout_path: str,
    min_segments: int = COMPACT_ANN_WHEN_SEGMENTS,
) -> int:
    """:func:`compact_staged_pq_if_needed` for the plain-IVF index."""
    return _fold_if_due(spark, layout_path, min_segments, compact_staged_ivf)


# --- LSM lifecycle for the OBJECTS listing layout (r17) ---------------------
#
# The store-side serving layout (write_objects_layout: bucket-partitioned,
# key-range-sorted — the reference's (bucket) partition key + object
# clustering, meta.clj:45) was the last one-shot layout: a metadata delta
# required a full rewrite.  Object mutations are UPSERTS and DELETES
# (meta.clj:183-195), not disjoint appends, so its staged lifecycle is a
# real LSM: newer segments SHADOW older rows per (bucket, object) and
# tombstone rows delete — exactly the merge discipline the reference
# delegates to Cassandra's own LSM.  Precedence is baked into the rows
# (``_seq`` = micro-batch id) rather than derived from segment
# attribution, so serving reads stay on the single multi-path scan.
# Single-writer contract: one maintenance stream per layout, and fold
# before recreating its checkpoint (a fresh checkpoint restarts batch
# ids, so cross-checkpoint precedence is undefined — same class of
# assumption as the other layouts' genuinely-new-keys contract, loudly
# documented instead of silently wrong).

OBJECTS_TOMBSTONE = "_tombstone"
OBJECTS_SEQ = "_seq"

# A mutation segment's physical format: the objects layout's columns
# (``bucket`` a plain column here) plus the tombstone flag and the
# precedence stamp.
OBJECTS_SEGMENT_SCHEMA = StructType(
    OBJECTS_LAYOUT_SCHEMA.fields
    + [
        StructField(OBJECTS_TOMBSTONE, BooleanType()),
        StructField(OBJECTS_SEQ, LongType()),
    ]
)


def save_objects_layout(objects, layout_path: str) -> None:
    """Versioned root for the LSM objects layout: the bucket-partitioned
    listing table nested at ``{layout}/objects`` so the generation
    pointer, staging namespace and fold generations live beside it
    (``sources.store.write_objects_layout``'s flat form remains for
    one-shot deployments).  Ends in finalize_rebuild — rebuild is the
    recovery, as for every layout."""
    from pithos_spark.sources.store import write_objects_layout

    write_objects_layout(objects, f"{layout_path}/objects")
    finalize_rebuild(layout_path)


def streaming_objects_ingest(
    mutation_stream,
    layout_path: str,
    checkpoint: str,
):
    """Maintain the objects listing layout from a stream of metadata
    mutations — upsert rows in the objects schema plus a boolean
    ``_tombstone`` column (True = delete this (bucket, object)).  Each
    micro-batch stamps its rows with ``_seq`` = batch id (precedence,
    valid for the checkpoint's lifetime) and installs them as one
    idempotent staged segment (:func:`_stage_stream`) — so a retried
    PUT/DELETE batch can never double-apply.  A key must appear at
    most once per batch (the S3 API's per-request atomicity unit).
    Serving reads through :func:`objects_with_staged` /
    :func:`list_objects_with_staged`; fold with
    :func:`compact_staged_objects`."""

    def write_segment(batch_df, batch_id, tmp):
        _write_segment_rows(
            batch_df.withColumn(
                OBJECTS_SEQ, F.lit(int(batch_id)).cast("long")
            ),
            OBJECTS_SEGMENT_SCHEMA,
            OBJECTS_KEY,
            tmp,
        )

    return _stage_stream(mutation_stream, layout_path, checkpoint, write_segment)


def _objects_merge(base, staged):
    """THE last-write-wins merge of base ∪ staged mutation rows, shared
    by serving and the fold: per (bucket, object) the highest ``_seq``
    wins (the base reads as seq -1), and tombstones are dropped after
    the merge so a delete shadows every older version.

    Scale: the window partitions by (bucket, object), and a listing's
    bucket/key-range predicates push below it (bucket is a window
    partition key), so a single listing merges one bucket's key range
    — base rows arrive partition-pruned and row-group-skipped exactly
    as in the plain read, staged rows are delta-sized."""
    from pyspark.sql import Window

    base = base.withColumn(OBJECTS_TOMBSTONE, F.lit(False)).withColumn(
        OBJECTS_SEQ, F.lit(-1).cast("long")
    )
    w = Window.partitionBy("bucket", "object").orderBy(
        F.col(OBJECTS_SEQ).desc()
    )
    return (
        base.unionByName(staged.select(*base.columns))
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (~F.col(OBJECTS_TOMBSTONE)))
        .drop("_rn", OBJECTS_SEQ, OBJECTS_TOMBSTONE)
    )


def objects_with_staged(spark, layout_path: str):
    """The merged LSM view of the objects layout (:func:`_objects_merge`
    over base ∪ live staged segments, each read with its declared
    schema).  With no staged segments this IS the base read — zero
    merge tax on a folded layout."""
    root = read_current(layout_path)
    assert_not_torn(root)
    base = spark.read.schema(OBJECTS_LAYOUT_SCHEMA).parquet(f"{root}/objects")
    live = _live_staged_segs(layout_path, root)
    if not live:
        return base
    return _objects_merge(
        base, _staged_rows(spark, layout_path, live, OBJECTS_SEGMENT_SCHEMA)
    )


def list_objects_with_staged(
    spark,
    layout_path: str,
    bucket: str,
    prefix: str = "",
    delimiter: str | None = None,
    marker: str | None = None,
    max_keys: int = 1000,
):
    """ListObjects over the merged LSM view: a PUT streamed in is
    listable (and a DELETE unlistable) before any fold — the serving
    read a continuously-ingesting deployment runs between folds."""
    from pithos_spark.operators.listing import list_objects

    return list_objects(
        objects_with_staged(spark, layout_path),
        bucket,
        prefix,
        delimiter,
        marker,
        max_keys,
    )


def compact_staged_objects(spark, layout_path: str) -> int:
    """Fold the staged mutation segments into a new generation
    (:func:`_fold`): the merged last-write-wins state (tombstones
    physically dropped — the LSM major compaction reclaiming deleted
    keys) rewritten in the base's bucket-partitioned, key-range-sorted
    listing shape.  Returns the number of staged mutation rows
    folded."""
    from pithos_spark.sources.store import write_objects_layout

    def write_generation(root, live, tmp):
        base = spark.read.schema(OBJECTS_LAYOUT_SCHEMA).parquet(
            f"{root}/objects"
        )
        staged = _staged_rows(spark, layout_path, live, OBJECTS_SEGMENT_SCHEMA)
        write_objects_layout(_objects_merge(base, staged), f"{tmp}/objects")

    return _fold(spark, layout_path, write_generation)


# The objects fold trigger shares the ANN rationale — since the
# single-scan staged read, both layouts' staged tax is per-segment
# scan/file overhead, not merge arithmetic — so the knob starts at the
# same conservative 4.  The objects fold has one motive the ANN folds
# lack: it is the major compaction that physically reclaims tombstoned
# keys (until it runs, every deleted object still costs a shadowed row
# in the merge window), which is why the telemetry below reports the
# tombstone count per segment alongside the row count.
COMPACT_OBJECTS_WHEN_SEGMENTS = 4


def objects_staged_stats(spark, layout_path: str):
    """Staged-state telemetry for the objects LSM layout —
    :func:`ann_staged_stats`'s role for the listing lifecycle, plus
    each segment's tombstone count (the reclaim debt the next fold
    pays)."""
    return _staged_stats(
        spark,
        layout_path,
        COMPACT_OBJECTS_WHEN_SEGMENTS,
        "tombstones long, ",
        F.sum(F.col(OBJECTS_TOMBSTONE).cast("long")).alias("tombstones"),
    )


def objects_fold_due(
    spark,
    layout_path: str,
    min_segments: int = COMPACT_OBJECTS_WHEN_SEGMENTS,
) -> bool:
    """True when the objects layout has accumulated enough live staged
    mutation segments to fold.  The predicate itself is the
    layout-agnostic live-segment count :func:`ann_fold_due` evaluates;
    only the default knob differs by name."""
    return ann_fold_due(spark, layout_path, min_segments)


def compact_staged_objects_if_needed(
    spark,
    layout_path: str,
    min_segments: int = COMPACT_OBJECTS_WHEN_SEGMENTS,
) -> int:
    """The objects-LSM compaction policy as code: fold iff
    ``min_segments`` staged mutation segments are live.  Returns
    mutation rows folded (0 = below threshold)."""
    return _fold_if_due(
        spark, layout_path, min_segments, compact_staged_objects
    )
