"""Streaming layout maintenance: the crawl arrives as a STREAM.

Batch form: a daily crawl delta lands and
``retrieval.append_to_postings_layout`` stages it (VERDICT r13 task
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
atomic rename (``layoutcommit.stage_segment``), so a replayed batch
either finds its segment already installed (skip) or installs a
byte-equivalent one; a segment directory that exists is always whole.
Segments are keyed ``<checkpoint-token>-<batch_id>`` because bare
batch ids restart at 0 per checkpoint (``layoutcommit.segment_token``).
Each segment's additive stats row lands in a seg-tagged table the
reader dedups on ``seg`` — and if the crash fell between the install
and the stats append, the reader DERIVES the missing segment's
counters from the staged rows instead of serving drifted scores
(ADVICE r14).  The batch appends take the same write path, keyed on
their content (``layoutcommit.append_segment``), so a retried append
installs nothing twice either.

Staged segments are part of the layout: each layout has ONE loader
(``similarity.load_pq_index`` / ``load_ivfpq_residual_index`` /
``load_ivf_index``, ``text._load_trigram_layout``,
``retrieval.load_postings_layout``, :func:`load_objects_layout`)
that reads base ∪ run ∪ live segments under one generation
resolution, so every public reader serves the segments the moment
they are installed.  The ``*_with_staged`` names below are aliases of
those readers.  COMPACTION folds staged segments into the base; it is
file hygiene, never a change of answer.  Compaction is
crash-idempotent (VERDICT r14 task 1) via the generation-pointer
commit in ``functions/layoutcommit.py``: it writes a complete,
fully-MERGED new generation to a temp dir, renames it into place, and
atomically swaps the layout's ``CURRENT`` pointer.  Staged segments it
folded are recorded in the generation's ``folded_segments`` table and
masked by every reader, so the window between the pointer swap and the
staged cleanup double-counts nothing, and a re-run of compaction after
ANY crash point is pure recovery: before the swap it redoes the fold;
after it, it only finishes the cleanup.  Because the fold fully merges
per-gram partial rows, a compacted trigram layout returns to
``n_segments == 1`` and the readers' LSM merge fast-path turns back on.

Folds are tiered for the layouts the segment-count policy serves
(objects, PQ, residual IVFADC, plain IVF), as Cassandra's size-tiered
compaction tiers the reference's tables.  A MINOR fold
(:func:`_minor_fold`) merges the live generation's run with the live
segments into one new run and commits a THIN generation that names
the full generation whose base tables it serves — O(delta) bytes, the
base untouched.  A MAJOR fold (:func:`_fold`, every explicit
``compact_staged_*``) rewrites base ∪ run ∪ segments into a new full
generation; the policy (:func:`_fold_if_due`) runs it only once the
run reaches :data:`MAJOR_FOLD_RUN_PERCENT` of the base.  The postings
and trigram folds are always major (they refresh counter tables).
Readers scan the run together with the live segments, in the same
single multi-path scan.

The protocol is written once: ``layoutcommit.stage_segment`` is every
layout's write path (:func:`_stage_stream` per micro-batch,
``layoutcommit.append_segment`` per batch append) and :func:`_fold`
every layout's compaction.  A layout supplies only its segment writer
(``retrieval.write_postings_segment``, ``text.gram_segment``,
``similarity.frozen_segment``, the objects mutation writer below), its
fold writer and its row order — the row order declared by the module
that owns the layout (``order_postings``, ``order_pq_codes``,
``order_residual_codes``, ``order_ivf_assigned``,
``text.write_gram_tables``, ``store.write_objects_layout``), so every
write of one physical format calls one definition.

Job budget.  The ops are delta-sized (tens to hundreds of rows), so
their cost is Spark's per-job overhead, and every job has a named
reason:

- staging one segment is ONE job, the segment write.  An empty batch
  is found from the temp segment's parquet footers on the driver
  (:func:`layoutcommit.parquet_rows`), and a segment is sorted on the
  layout's key inside the batch's own partitions
  (``layoutcommit.write_segment_rows``) — no range sample, no shuffle;
  the fold restores the clustering.  A batch append adds ONE
  aggregate job for its content key (``layoutcommit.append_key``);
- defining a read runs NO job.  Base tables and segments are read
  with the schema their owning module declares
  (``store.OBJECTS_LAYOUT_SCHEMA``, ``similarity.PQ_CODES_SCHEMA`` /
  ``RESIDUAL_CODES_SCHEMA`` / ``IVF_ASSIGNED_SCHEMA``,
  ``retrieval.POSTINGS_SCHEMA``), so no read infers one, and the tiny
  tables (``CURRENT``, ``folded_segments``, codebooks, centers, meta)
  are driver-side reads.  The action then runs its plan's own jobs:
  one per shuffle map stage AQE schedules (the objects merge window,
  the listing's grouping, the PQ estimate's group-by and rank cut),
  one per broadcast build, one for the result, plus the PQ serve's
  query-vector collect;
- a minor fold runs TWO jobs: the one scan of run and segments
  shuffled into one partition, and the sorted write of the new run.
  The rows are counted from the parquet footers and the ``BASE``
  pointer and ``folded_segments`` mask are written on the driver;
- a major fold runs only the writes of its merged tables: for the
  range-clustered layouts the range sample, the shuffle map stage
  and the write (plus the merge window's shuffle for objects).  The
  rows folded are counted from the footers, the frozen tiny tables
  are copied as bytes, and the ``folded_segments`` mask is written on
  the driver.  (The postings and trigram folds also refresh their
  counter tables, which still takes Spark jobs.)

Measured per perfbench ``ingest`` op (4 segments per op, seed 1):
stage 4 jobs, listing 3, PQ read 7 (one is the benchmark's own
embeddings read); a minor objects or PQ fold 2, a major objects fold
4, a major PQ fold 4 (the range partitioner re-samples a skewed
partition with a second job).

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
    RUN,
    commit_current,
    delta_dirs,
    finalize_rebuild,
    folded_segment_keys,
    gc_generations,
    live_staged_segs,
    next_gen_rel,
    parquet_rows,
    read_current,
    read_tiny_rows,
    run_path,
    segment_token,
    stage_segment,
    staged_rows,
    staged_segment_keys,
    tables_root,
    write_base_pointer,
    write_folded_segments,
    write_segment_rows,
    write_tiny_table,
)
from pithos_spark.functions.retrieval import (
    POSTINGS_SCHEMA,
    _staged_postings_counters,
    bm25_topk_from_postings,
    order_postings,
    write_postings_segment,
    write_postings_stats,
)
from pithos_spark.functions.similarity import (
    IVF_ASSIGNED_KEY,
    IVF_ASSIGNED_SCHEMA,
    PQ_CODES_KEY,
    PQ_CODES_SCHEMA,
    RESIDUAL_CODES_SCHEMA,
    frozen_segment,
    ivf_assign_delta,
    ivf_topk_from_layout,
    ivfpq_residual_batch_topk_from_layout,
    ivfpq_residual_encode_delta,
    ivfpq_residual_topk_from_layout,
    load_ivf_index,
    order_ivf_assigned,
    order_pq_codes,
    order_residual_codes,
    pq_batch_topk_from_layout,
    pq_encode_delta,
    pq_topk_from_layout,
    semantic_dedup_pairs_from_layout,
)
from pithos_spark.functions.text import (
    _load_trigram_layout,
    gram_segment,
    trigram_heldout_from_layout,
    trigram_segment_stats,
    write_gram_stats,
    write_gram_tables,
)
from pithos_spark.sources.store import (
    OBJECTS_KEY,
    OBJECTS_LAYOUT_SCHEMA,
    write_objects_layout,
)

_log = logging.getLogger("pithos_spark")

# Fold when the segment report's MAX avg_segments_x1000
# (trigram_segment_stats over base ∪ staged; in practice its cw3 row —
# the unigram vocabulary saturates, so that row counts segments
# directly) reaches this value, i.e. as soon as ~one full staged
# generation sits on the base.  Measured derivation (SCALE_r15 §2-4,
# sf0.1): each staged segment taxes a merged serving read ~0.34 s and
# the crash-safe fold costs ~12 s (~2.8x one layout build, and NOT
# larger at sf1 — the gram tables are vocabulary-sized), so folding at
# 2 segments breaks even within ~18 reads and everything after is win.
# Raise it only for write-dominated layouts (<~10 reads per delta).
COMPACT_WHEN_AVG_SEGMENTS_X1000 = 2000


# --- the staged-layout lifecycle, written once -------------------------------


def _stage_stream(stream, layout_path: str, checkpoint: str, write_segment):
    """THE staged ingest, shared by every layout: each micro-batch is
    one segment keyed ``<checkpoint-token>-<batch_id>``, written by
    ``write_segment(batch_df, batch_id, tmp)`` and installed through
    ``layoutcommit.stage_segment`` (temp write, footer row count, one
    atomic rename, then the optional seg-tagged stats row); an empty
    batch installs nothing and logs so.  Runs the stream to completion
    of the data available now (``availableNow``)."""
    token = segment_token(checkpoint)

    def _ingest(batch_df, batch_id):
        if not stage_segment(
            layout_path,
            f"{token}-{batch_id}",
            lambda tmp: write_segment(batch_df, batch_id, tmp),
        ):
            _log.info(
                "stage %s: batch %s is empty, no segment installed",
                layout_path,
                batch_id,
            )

    return (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _fold(spark, layout_path: str, write_generation, minor=False) -> int:
    """THE compaction, shared by every layout (VERDICT r14 task 1):
    resolve the live generation once.  If segments are live — or, for a
    major fold, a minor fold's run is — ``write_generation(root, live,
    tmp)`` writes the new generation's tables under ``FOLD_TMP``; the
    folded keys join them (written on the driver), the dir is renamed
    to the next ``fold_gen_<k>`` and ``CURRENT`` swaps atomically.  The
    rows folded (live segments, plus the run for a major fold) are
    counted from the parquet footers, so the only Spark jobs in a fold
    are the writes of its tables.  Everything after the swap is pure GC
    (readers mask folded keys): staged dirs, staged stats, superseded
    generations (VERDICT r15 task 5; never read once CURRENT moves).
    With nothing to fold the GC still runs, over the previously-folded
    keys a crashed cleanup left behind.

    Killed at any step, a re-run either redoes the fold from intact
    inputs (pointer still on the old generation) or just finishes the
    cleanup.  Every step is a module-global lookup, so the crash
    matrices can kill the fold at each one.  Cost: a major fold
    (``minor=False``) rewrites the base tables — O(layout), the classic
    LSM major compaction — so the policy runs it only once the run has
    grown to :data:`MAJOR_FOLD_RUN_PERCENT` of the base; a minor fold
    (:func:`_minor_fold`) writes O(delta)."""
    root = read_current(layout_path)
    live = live_staged_segs(layout_path, root)
    run = None if minor else run_path(root)
    if not (live or run):
        n, live = 0, sorted(folded_segment_keys(root))
    else:
        tmp = f"{layout_path}/{FOLD_TMP}"
        shutil.rmtree(tmp, ignore_errors=True)
        n = parquet_rows(delta_dirs(layout_path, live, run))
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
        tables = tables_root(root)
        base = spark.read.schema(schema).parquet(f"{tables}/{table}")
        staged = staged_rows(spark, layout_path, live, schema, root)
        w = order(base.unionByName(staged)).write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(f"{tmp}/{table}")
        for t in carry:
            shutil.copytree(f"{tables}/{t}", f"{tmp}/{t}")
        if finish:
            finish(root, live, tmp)

    return _fold(spark, layout_path, write_generation)


def _minor_fold(spark, layout_path: str, schema, key) -> int:
    """The minor fold (:func:`_fold` with ``minor=True``): merge the
    live generation's run (if any) and the live staged segments into
    ONE new run — a single file in the layout's segment ``schema``,
    sorted on its ``key`` — and commit it as a THIN generation that
    names the full generation whose base tables it serves
    (``layoutcommit.write_base_pointer``; never a thin one, so thin
    generations do not chain).  The base tables are referenced, not
    copied, so the fold writes O(delta) bytes.  Rows are unioned, not
    merged: an objects run keeps ``_seq`` and its tombstones (only a
    major fold drops them), and ``cluster`` stays a plain column.  Two
    Spark jobs: the one scan's shuffle into one partition and the
    sorted write.  Returns the staged rows folded."""

    def write_generation(root, live, tmp):
        (
            staged_rows(spark, layout_path, live, schema, root)
            .repartition(1)
            .sortWithinPartitions(*key)
            .write.mode("overwrite")
            .parquet(f"{tmp}/{RUN}")
        )
        write_base_pointer(tmp, layout_path, tables_root(root))

    return _fold(spark, layout_path, write_generation, minor=True)


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
    it).  Readers dedupe by ``seg`` (``layoutcommit.staged_counters``), so the
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


# When a fold is due, the policy folds MINOR (the live segments merge
# into the thin generation's run beside the untouched base) until the
# run — its rows after this fold's merge, counted from the parquet
# footers on the driver — reaches this percentage of the base table's
# rows; then it folds MAJOR (base ∪ run ∪ segments rewritten, the run
# emptied).  Rows, not bytes: the bytes of a layout move with the random
# segment token, rows do not, so the decision repeats exactly.
# Derivation (perfbench ``ingest``): a cycle stages 240 object mutations
# into a ~10,000-object base, about 2.4% of it, and 80 vectors into
# ~1,520, about 5.3%.  At 10% the objects layout folds major every 5th
# fold and the PQ index every 2nd or 3rd, and the run beside the base
# stays under ~10% of it.  Measured (4-core box, untraced, seed 2301,
# 7 cycles): write_amp 2.83 against 12.66 when every fold was major,
# space_amp 0.375; with a 240-row run beside the base a cycle's
# listings read as fast as without one (median 0.418 s vs 0.439 s over
# 10 seed pairs).  Raise it to trade space for fewer majors.
MAJOR_FOLD_RUN_PERCENT = 10


def _fold_if_due(
    spark, layout_path: str, min_segments: int, fold, table, schema, key
) -> int:
    """Segment-count policy form shared by the ANN and objects layouts:
    fold iff ``min_segments`` staged segments are live, else 0 without
    touching Spark or the layout.  A due fold is minor
    (:func:`_minor_fold` into a run in the segment ``schema``, sorted
    on ``key``) unless the run would reach
    :data:`MAJOR_FOLD_RUN_PERCENT` of the base ``table``'s rows, when
    it is the layout's major ``fold``.  Logs both decisions."""
    root = read_current(layout_path)
    live = live_staged_segs(layout_path, root)
    due = len(live) >= min_segments
    n = 0
    if due:
        run_rows = parquet_rows(delta_dirs(layout_path, live, run_path(root)))
        base_rows = parquet_rows([f"{tables_root(root)}/{table}"])
        major = run_rows * 100 >= MAJOR_FOLD_RUN_PERCENT * base_rows
        _log.info(
            "fold tier %s: %s, run %d rows, base %d rows, major at %d%%",
            layout_path,
            "major" if major else "minor",
            run_rows,
            base_rows,
            MAJOR_FOLD_RUN_PERCENT,
        )
        if major:
            n = fold(spark, layout_path)
        else:
            n = _minor_fold(spark, layout_path, schema, key)
    _log.info(
        "fold policy %s: %d live segments, threshold %d: %s",
        layout_path,
        len(live),
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
    through :func:`_stage_stream`: each micro-batch is one segment
    written by ``retrieval.write_postings_segment`` (the batch append's
    writer), its (n_docs, total_len) counters the segment's stats row.

    ``retrieval.bm25_topk_from_postings`` serves the segments as soon
    as they install; fold them into the base with
    :func:`compact_staged_postings`.  Assumes the stream carries
    genuinely new doc_ids (the batch append's contract — updates go
    through a rebuild)."""
    return _stage_stream(
        new_documents_stream,
        layout_path,
        checkpoint,
        lambda batch_df, _batch_id, tmp: write_postings_segment(batch_df, tmp),
    )


bm25_topk_with_staged = bm25_topk_from_postings


def compact_staged_postings(spark, layout_path: str) -> int:
    """Fold the staged segments into the layout (:func:`_fold_rows`):
    re-clustered merged postings plus the refreshed corpus counters
    (base + staged, stats rows or row-derived).  Returns the number of
    staged posting rows folded."""

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
    and the continuous form of ``text.append_to_trigram_lm_layout``:
    each micro-batch is one segment of all five gram count tables in
    the layout's FROZEN buckets, written by ``text.gram_segment`` (the
    batch append's writer), its window count the segment's stats row.
    The readers' LSM merge already sums arbitrary per-segment partial
    rows, so serving needs no new math; :func:`compact_staged_trigram`
    folds everything into a fully merged new generation."""
    write = gram_segment(layout_path)
    return _stage_stream(
        new_lm_documents_stream,
        layout_path,
        checkpoint,
        lambda batch_df, _batch_id, tmp: write(batch_df, tmp),
    )


trigram_heldout_with_staged = trigram_heldout_from_layout
trigram_segment_stats_with_staged = trigram_segment_stats


def compact_trigram_if_needed(
    spark,
    layout_path: str,
    threshold_x1000: int = COMPACT_WHEN_AVG_SEGMENTS_X1000,
) -> int:
    """The SCALE_r15 compaction policy as code: read the occupancy
    report over base ∪ staged (``text.trigram_segment_stats``), fold
    iff its MAX ``avg_segments_x1000`` (across the five gram tables —
    in practice the unigram row, a direct segment counter) has reached
    ``threshold_x1000``.  Returns the rows folded (0 = below threshold
    or nothing staged).  Run it after each ingest burst; at the
    measured numbers (SCALE_r15 §3-4) a fold triggered at the default
    threshold pays for itself within ~18 serving reads."""
    worst = max(
        (
            int(r["avg_segments_x1000"])
            for r in trigram_segment_stats(spark, layout_path).collect()
        ),
        default=0,
    )
    if worst < threshold_x1000:
        return 0
    return compact_staged_trigram(spark, layout_path)


def compact_staged_trigram(spark, layout_path: str) -> int:
    """Fold staged gram segments into a fully-MERGED new generation
    (:func:`_fold`), with a real LSM payoff: the fold sums every gram's
    partial rows over base ∪ the folded segments (read by the layout's
    loader, ``text._load_trigram_layout``), so the compacted layout is
    back to one row per gram (``n_segments == 1``) and the readers'
    merge fast-path re-engages.  Buckets stay frozen
    (``text.write_gram_tables`` recomputes the same murmur3 expression,
    so every gram lands back in its partition and probe pruning is
    untouched).  Returns the number of staged gram rows folded (all
    five tables' rows, counted by :func:`_fold` from the footers)."""

    def write_generation(root, live, tmp):
        counts, _, n_total, n_buckets, _ = _load_trigram_layout(
            spark, layout_path, root, live
        )
        write_gram_tables(
            {cnt: df.drop("b") for cnt, df in counts.items()},
            n_buckets,
            tmp,
        )
        write_gram_stats(spark, f"{tmp}/stats", n_total, n_buckets, 1)

    return _fold(spark, layout_path, write_generation)


# --- ANN layouts: PQ, residual IVFADC, plain IVF -----------------------------


def _stage_frozen(stream, layout_path, checkpoint, encode, schema, key):
    """:func:`_stage_stream` for the ANN layouts: each micro-batch is
    encoded against the live generation's FROZEN artifacts by
    ``encode`` (the batch append's exact encode) into one segment in
    the layout's ``schema``, sorted on its ``key``
    (``similarity.frozen_segment``)."""
    write = frozen_segment(layout_path, encode, schema, key)
    return _stage_stream(
        stream,
        layout_path,
        checkpoint,
        lambda batch_df, _batch_id, tmp: write(batch_df, tmp),
    )


def streaming_pq_index_ingest(
    new_embeddings_stream,
    layout_path: str,
    checkpoint: str,
):
    """Maintain the persisted PQ index from a stream of newly-ingested
    vectors — the continuous form of ``similarity.append_to_pq_index``:
    each micro-batch is encoded against the index's FROZEN codebooks
    (``similarity.pq_encode_delta`` — an M × K driver-side read per
    batch, no Spark job) into one staged segment
    (:func:`_stage_frozen`).  Every ``similarity`` PQ reader serves the
    segments as soon as they install; fold them into a new generation
    with :func:`compact_staged_pq`.  Assumes the stream carries
    genuinely new vec_ids (updates go through a rebuild) and that
    codebook drift is handled by periodic retrain, as for any frozen
    production quantizer."""
    return _stage_frozen(
        new_embeddings_stream, layout_path, checkpoint, pq_encode_delta,
        PQ_CODES_SCHEMA, PQ_CODES_KEY,
    )


pq_topk_with_staged = pq_topk_from_layout
pq_batch_topk_with_staged = pq_batch_topk_from_layout


def compact_staged_pq(spark, layout_path: str) -> int:
    """Fold staged code segments into the PQ layout
    (:func:`_fold_rows`): merged codes in ``order_pq_codes``, codebooks
    and meta carried forward.  Code rows are disjoint across segments
    (new vec_ids), so the fold is file hygiene — restoring the
    vec_id-range clustering the rerank probe's row-group skipping
    wants — not a merge.  Returns the number of staged code rows
    folded."""
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
    stream of newly-ingested vectors — the continuous form of
    ``similarity.append_to_ivfpq_residual_index``.  Each micro-batch
    is assigned to the FROZEN coarse centroids and its residuals
    encoded against the FROZEN codebooks
    (``similarity.ivfpq_residual_encode_delta``) into one staged
    segment (:func:`_stage_frozen`).  The staged rows are delta-sized,
    so serving filters them by row where the base prunes by partition
    — the asymmetry the fold deletes."""
    return _stage_frozen(
        new_embeddings_stream, layout_path, checkpoint,
        ivfpq_residual_encode_delta, RESIDUAL_CODES_SCHEMA, PQ_CODES_KEY,
    )


ivfpq_residual_topk_with_staged = ivfpq_residual_topk_from_layout
ivfpq_residual_batch_with_staged = ivfpq_residual_batch_topk_from_layout


def compact_staged_ivfpq_residual(spark, layout_path: str) -> int:
    """Fold staged residual-code segments into a new generation
    (:func:`_fold_rows`) with the cluster partitioning restored on the
    way through (the fold's payoff here: staged rows served by row
    filter go back to directory-pruned reads).  Returns the number of
    staged code rows folded."""
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
    a stream of newly-ingested vectors: the continuous form of
    ``similarity.append_to_ivf_index``.  Each micro-batch is assigned
    to the live generation's FROZEN centers
    (``similarity.ivf_assign_delta``) into one staged segment
    (:func:`_stage_frozen`), which ``similarity.load_ivf_index`` — and
    so the probe and the SemDeDup sweep — serves at once; fold with
    :func:`compact_staged_ivf`."""
    return _stage_frozen(
        new_embeddings_stream, layout_path, checkpoint, ivf_assign_delta,
        IVF_ASSIGNED_SCHEMA, IVF_ASSIGNED_KEY,
    )


ivf_assigned_with_staged = load_ivf_index
ivf_topk_with_staged = ivf_topk_from_layout
semantic_dedup_pairs_with_staged = semantic_dedup_pairs_from_layout


def compact_staged_ivf(spark, layout_path: str) -> int:
    """Fold staged assignment segments into a new plain-IVF generation
    (:func:`_fold_rows`), restoring the cluster directory partitioning
    so probe reads go back to partition pruning.  Returns the number
    of staged assignment rows folded."""
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
    ``text.trigram_segment_stats`` plays for the gram layout.  One row
    per LIVE staged segment with its row count, plus the segment total
    and the fold-due verdict; layout-agnostic (PQ code rows, residual
    code rows, or plain-IVF assignment rows alike).  Built on the
    driver: each segment's rows are counted from its parquet footers
    (``layoutcommit.parquet_rows``), and the report is built from a
    pandas frame, which Arrow (``spark.sql.execution.arrow.pyspark.enabled``)
    hands over as a local relation: reading a non-empty report then
    runs no Spark job (one without Arrow).  Nothing staged -> empty
    report."""
    import pandas as pd

    live = live_staged_segs(layout_path, read_current(layout_path))
    return spark.createDataFrame(
        pd.DataFrame(
            [
                (
                    s,
                    parquet_rows([f"{layout_path}/staged/seg={s}"]),
                    len(live),
                    len(live) >= COMPACT_ANN_WHEN_SEGMENTS,
                )
                for s in sorted(live)
            ],
            columns=["seg", "rows", "n_live_segments", "fold_due"],
        ),
        "seg string, rows long, n_live_segments int, fold_due boolean",
    )


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
    return len(live_staged_segs(layout_path, root)) >= min_segments


def compact_staged_pq_if_needed(
    spark,
    layout_path: str,
    min_segments: int = COMPACT_ANN_WHEN_SEGMENTS,
) -> int:
    """The SCALE_r17 ANN compaction policy as code, PQ form: fold iff
    ``min_segments`` staged segments are live.  Returns rows folded
    (0 = below threshold)."""
    return _fold_if_due(
        spark, layout_path, min_segments, compact_staged_pq,
        "codes", PQ_CODES_SCHEMA, PQ_CODES_KEY,
    )


def compact_staged_ivfpq_residual_if_needed(
    spark,
    layout_path: str,
    min_segments: int = COMPACT_ANN_WHEN_SEGMENTS,
) -> int:
    """:func:`compact_staged_pq_if_needed` for the canonical residual
    index."""
    return _fold_if_due(
        spark, layout_path, min_segments, compact_staged_ivfpq_residual,
        "codes", RESIDUAL_CODES_SCHEMA, PQ_CODES_KEY,
    )


def compact_staged_ivf_if_needed(
    spark,
    layout_path: str,
    min_segments: int = COMPACT_ANN_WHEN_SEGMENTS,
) -> int:
    """:func:`compact_staged_pq_if_needed` for the plain-IVF index."""
    return _fold_if_due(
        spark, layout_path, min_segments, compact_staged_ivf,
        "assigned", IVF_ASSIGNED_SCHEMA, IVF_ASSIGNED_KEY,
    )


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
# MAJOR (``compact_staged_objects``) before recreating its checkpoint
# (a fresh checkpoint restarts batch ids, and a minor fold's run keeps
# the old ``_seq`` stamps, so cross-checkpoint precedence is undefined
# — same class of assumption as the other layouts' genuinely-new-keys
# contract, loudly documented instead of silently wrong).

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
    one-shot deployments).  Ends in finalize_rebuild, as every layout
    build does."""
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
    Serving reads through :func:`load_objects_layout` /
    :func:`list_objects_from_layout`; fold with
    :func:`compact_staged_objects`."""

    def write_segment(batch_df, batch_id, tmp):
        write_segment_rows(
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


def load_objects_layout(spark, layout_path: str):
    """THE loader of the objects layout: the merged LSM view
    (:func:`_objects_merge` over base ∪ run ∪ live staged segments,
    each read with its declared schema; the run and the segments in
    one scan, masked against the generation resolved once).  With no
    run and no staged segments this IS the base read — zero merge tax
    on a major-folded layout."""
    root = read_current(layout_path)
    base = spark.read.schema(OBJECTS_LAYOUT_SCHEMA).parquet(
        f"{tables_root(root)}/objects"
    )
    live = live_staged_segs(layout_path, root)
    if not (live or run_path(root)):
        return base
    return _objects_merge(
        base,
        staged_rows(spark, layout_path, live, OBJECTS_SEGMENT_SCHEMA, root),
    )


objects_with_staged = load_objects_layout


def list_objects_from_layout(
    spark,
    layout_path: str,
    bucket: str,
    prefix: str = "",
    delimiter: str | None = None,
    marker: str | None = None,
    max_keys: int = 1000,
):
    """ListObjects over the merged LSM view (:func:`load_objects_layout`):
    a PUT streamed in is listable (and a DELETE unlistable) before any
    fold — the serving read a continuously-ingesting deployment runs
    between folds."""
    from pithos_spark.operators.listing import list_objects

    return list_objects(
        load_objects_layout(spark, layout_path),
        bucket,
        prefix,
        delimiter,
        marker,
        max_keys,
    )


list_objects_with_staged = list_objects_from_layout


def compact_staged_objects(spark, layout_path: str) -> int:
    """Fold the run and the staged mutation segments into a new full
    generation (:func:`_fold`, major): the merged last-write-wins state
    (tombstones physically dropped — the LSM major compaction
    reclaiming deleted keys) rewritten in the base's bucket-partitioned,
    key-range-sorted listing shape.  Returns the number of mutation
    rows folded (run and segments)."""

    def write_generation(root, live, tmp):
        base = spark.read.schema(OBJECTS_LAYOUT_SCHEMA).parquet(
            f"{tables_root(root)}/objects"
        )
        staged = staged_rows(
            spark, layout_path, live, OBJECTS_SEGMENT_SCHEMA, root
        )
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
    :func:`ann_staged_stats`'s role for the listing lifecycle: one row
    per LIVE staged segment with its row count and its tombstone count
    (the reclaim debt the next fold pays), plus the live-segment total
    and the fold-due verdict.  The tombstones need the rows, so this
    readout scans: one scan per segment, because attribution is the
    point (serving reads use the one multi-path scan instead), each
    read with the declared segment schema.  Nothing staged -> empty
    report."""
    live = live_staged_segs(layout_path, read_current(layout_path))
    if not live:
        return spark.createDataFrame(
            [],
            "seg string, rows long, tombstones long, "
            "n_live_segments int, fold_due boolean",
        )
    staged = functools.reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.schema(OBJECTS_SEGMENT_SCHEMA)
            .parquet(f"{layout_path}/staged/seg={s}")
            .withColumn("seg", F.lit(s))
            for s in live
        ],
    )
    return (
        staged.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col(OBJECTS_TOMBSTONE).cast("long")).alias("tombstones"),
        )
        .withColumn("n_live_segments", F.lit(len(live)))
        .withColumn(
            "fold_due", F.lit(len(live) >= COMPACT_OBJECTS_WHEN_SEGMENTS)
        )
        .orderBy("seg")
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
        spark, layout_path, min_segments, compact_staged_objects,
        "objects", OBJECTS_SEGMENT_SCHEMA, OBJECTS_KEY,
    )
