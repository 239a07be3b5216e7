"""Crash-safe commit protocol for mutable persisted layouts.

VERDICT r14 task 1: the staged-segment compactions
(``streaming/ingest.py``) appended staged rows into the base layout,
overwrote the stats table, THEN removed the staging directories — so a
crash between the append and the rmtree left the folded rows visible in
BOTH base and staging (the staged-union read double-counts immediately)
and re-running compaction appended them a second time, permanently.

The fix is the pointer-file commit used by LSM storage engines (the
LevelDB/RocksDB ``CURRENT`` → MANIFEST shape, applied to parquet
directories).  A mutable layout becomes a sequence of immutable
GENERATIONS:

- generation 0 is the layout as built (tables directly under the layout
  root — unchanged on-disk shape, so every existing layout stays
  readable);
- a compaction writes a complete new generation (fully merged tables +
  stats + the set of staged batch ids it folded) under
  ``<layout>/_fold_tmp``, renames it to ``<layout>/fold_gen_<k>``, and
  then atomically points ``<layout>/CURRENT`` at it (write-temp +
  ``os.rename`` — atomic on POSIX and HDFS);
- readers resolve ``CURRENT`` first (absent → generation 0) and read
  exactly one generation, so at every instant they see either the old
  state or the new one, never a mix;
- staged segments whose key appears in the live generation's
  ``folded_segments`` table are garbage awaiting cleanup, and every
  reader masks them — which is what makes the crash window between the
  pointer swap and the staged rmtree harmless, and a re-run of
  compaction a pure cleanup.

A generation is FULL (its tables are complete: generation 0, or a
major fold's output) or THIN (a minor fold's output).  A thin
generation holds three things: a ``BASE`` file naming the full
generation whose base tables it serves (``""`` = generation 0), one
``run`` table (the delta folded so far, one file in the layout's
segment schema, sorted on its key) and ``folded_segments``.  The base
tables are referenced, never copied, so a minor fold writes O(delta)
bytes.  Thin generations never chain: a minor fold over a thin
generation names the same full generation.  :func:`tables_root` is the
one resolver from a generation to its base tables' root — every base
read and frozen-artifact read of a layout with minor folds goes
through it — and :func:`run_path` names the run, which readers scan
together with the live staged segments.

Staged segments are part of the layout.  A segment is installed under
``<layout>/staged/seg=<key>`` by one rename (:func:`stage_segment`, the
one write path of every stream micro-batch and every batch append), and
every layout's loader reads base ∪ run ∪ live segments
(:func:`with_staged`: the run and the segments in one multi-path scan,
masked against the generation resolved once), so a write is visible to
every reader as soon as it is installed — the memtable-plus-runs read
of an LSM tree.  No writer touches a live generation's tables: they are
written once by a build (then :func:`finalize_rebuild`) or by a fold
(under ``_fold_tmp``, then renamed), so there is no torn state to
detect.

Nothing here is reachable from an executor: the commit steps are
driver-side metadata operations on a handful of tiny files, same tier
as the layouts' 1-row stats reads; the staged-read helpers only build
plans, and a segment's Spark jobs are its writer's.  The ``os``-level
calls bind this to a POSIX-rename filesystem (local disk here; HDFS
renames are atomic too — an object store would swap the pointer
through its conditional-put instead).

The reference mutates metadata in place through Cassandra upserts
(src/io/pithos/meta.clj:153-251) and gets atomicity from the database;
a Spark layout is bare files, so the atomicity has to come from this
pointer swap.
"""

from __future__ import annotations

import os
import shutil

CURRENT = "CURRENT"
FOLD_TMP = "_fold_tmp"
FOLD_GEN_PREFIX = "fold_gen_"
BASE = "BASE"
RUN = "run"


def write_tiny_table(df, path: str, mode: str = "overwrite") -> None:
    """Write a driver-built tiny table (1-row stats, K-row codebooks)
    as a single file.

    ALWAYS use this instead of spelling the write out:
    ``coalesce(1)`` on a ``createDataFrame`` local relation collapses
    all 32 slice partitions into ONE output task that re-opens each
    slice's Python worker serially — a measured ~4.5-5.7 s tax per
    small-table write (SCALE_r14 §2; the bug recurred across nine
    hand-replicated call sites, hence this helper).  ``repartition(1)``
    keeps the slices parallel and pays one trivial shuffle.
    tests/test_plans.py greps the package for ``coalesce(1)`` so the
    regression class cannot silently return.
    """
    df.repartition(1).write.mode(mode).parquet(path)


def read_tiny_rows(path: str) -> list[dict]:
    """Driver-side read of a KB-sized layout table (1-row meta/stats,
    fold masks, M x K codebooks) — value-identical to
    ``spark.read.parquet(path).collect()`` (same parquet bytes; pyarrow
    skips underscore-prefixed ``_SUCCESS`` files exactly as Spark
    does), but without scheduling a distributed job: every serving
    read was paying one full job round trip PER tiny table it
    consulted (r17 guide §1 profile — ~40-90 ms each on a warm
    local[32], pure scheduling), where pyarrow reads the same file in
    ~1 ms on the driver.  Metadata this size is driver work by design;
    the DATA tables stay distributed scans."""
    import pyarrow.parquet as papq

    return papq.read_table(path).to_pylist()


def parquet_rows(dirs) -> int:
    """Rows in every parquet file under ``dirs`` (recursively), summed
    from the file footers on the driver: a staged segment's or a fold's
    row count without a Spark job.  Underscore- and dot-prefixed files
    (``_SUCCESS``, checksums) are skipped, as Spark skips them."""
    import pyarrow.parquet as papq

    n = 0
    for d in dirs:
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    meta = papq.ParquetFile(os.path.join(root, f)).metadata
                    n += meta.num_rows
    return n


def read_current(layout_path: str) -> str:
    """The live generation's root: ``layout_path`` itself until the
    first committed fold, afterwards ``layout_path/fold_gen_<k>``.
    One tiny file read; every layout reader calls this first."""
    try:
        with open(os.path.join(layout_path, CURRENT)) as f:
            rel = f.read().strip()
    except FileNotFoundError:
        return layout_path
    return os.path.join(layout_path, rel) if rel else layout_path


def tables_root(gen_root: str) -> str:
    """THE resolver from a generation to the root of its base tables:
    ``gen_root`` itself for a full generation; for a thin one, the
    full generation its ``BASE`` file names (a sibling directory, or
    the layout root for generation 0).  One tiny file read."""
    try:
        with open(os.path.join(gen_root, BASE)) as f:
            rel = f.read().strip()
    except FileNotFoundError:
        return gen_root
    layout_path = os.path.dirname(os.path.normpath(gen_root))
    return os.path.join(layout_path, rel) if rel else layout_path


def run_path(gen_root: str) -> str | None:
    """The run table of a thin generation, or None for a full one."""
    p = os.path.join(gen_root, RUN)
    return p if os.path.isdir(p) else None


def write_base_pointer(gen_dir: str, layout_path: str, base_root: str) -> None:
    """Make the generation being written under ``gen_dir`` thin: its
    ``BASE`` file names the full generation at ``base_root`` (written
    before the directory is renamed into place, so an installed thin
    generation always has it)."""
    rel = (
        ""
        if os.path.abspath(base_root) == os.path.abspath(layout_path)
        else os.path.basename(os.path.normpath(base_root))
    )
    with open(os.path.join(gen_dir, BASE), "w") as f:
        f.write(rel)
        f.flush()
        os.fsync(f.fileno())


def commit_current(layout_path: str, gen_rel: str) -> None:
    """Atomically point the layout at a fully-written generation
    directory.  THE commit point: readers resolve through
    :func:`read_current`, so everything before this call is invisible
    to them and everything after it is garbage collection."""
    tmp = os.path.join(layout_path, CURRENT + ".tmp")
    with open(tmp, "w") as f:
        f.write(gen_rel)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, os.path.join(layout_path, CURRENT))


def next_gen_rel(layout_path: str) -> str:
    """Name for the next generation directory.  Skips every existing
    ``fold_gen_<k>`` — including orphans from a fold that crashed after
    the rename but before the pointer swap (those stay on disk as
    garbage; correctness only ever depends on the one CURRENT names)."""
    k = 0
    for name in os.listdir(layout_path):
        if name.startswith(FOLD_GEN_PREFIX):
            try:
                k = max(k, int(name[len(FOLD_GEN_PREFIX):]) + 1)
            except ValueError:
                continue
    return f"{FOLD_GEN_PREFIX}{k}"


def staged_segment_keys(layout_path: str, staged: str = "staged") -> list[str]:
    """Keys of the INSTALLED staged segment directories.  Directory
    names are the source of truth: a segment is installed by a single
    ``os.rename`` (see :func:`install_staged_segment`), so a directory
    that exists is complete — there is no partially-visible state.

    A stream's key is ``<checkpoint-token>-<batch_id>``, not the bare
    Structured Streaming batch id: batch ids restart at 0 for every
    fresh checkpoint, so a bare-id fold mask would silently swallow a
    NEW stream's first segments; the checkpoint token (stable across
    restarts and replays of the same checkpoint, distinct across
    streams) is what makes the mask collision-free.  A batch append's
    key is its content hash (:func:`append_key`)."""
    root = os.path.join(layout_path, staged)
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith("seg="):
            out.append(name.split("=", 1)[1])
    return sorted(out)


def install_staged_segment(tmp_dir: str, final_dir: str) -> None:
    """Publish a completely-written staged segment with one atomic
    rename.  If the destination already exists the segment was
    installed by an earlier attempt of the same (deterministic,
    at-least-once) micro-batch, or by an earlier try of the same batch
    append, and the new copy is equivalent — drop it.  Either way,
    after this call the destination is complete and the temp dir is
    gone."""
    if os.path.exists(final_dir):
        shutil.rmtree(tmp_dir, ignore_errors=True)
        return
    os.makedirs(os.path.dirname(final_dir), exist_ok=True)
    os.rename(tmp_dir, final_dir)


def segment_token(checkpoint: str) -> str:
    """Stable token identifying one stream's staging namespace — a
    token FILE living inside the checkpoint directory, NOT a hash of
    its path (ADVICE r15): deleting a checkpoint and restarting the
    stream at the same path restarts batch ids at 0, and a
    path-derived token would reuse seg keys already present in the
    live generation's folded mask — readers would mask the new
    stream's freshly-installed segments and compaction would GC them
    (silent data loss).  The file shares the checkpoint's lifetime:
    a restart or replay of the SAME checkpoint reads the same token
    back (segment installs stay idempotent), while a recreated
    checkpoint mints a fresh token that can never collide with a
    folded mask entry.

    Creation is crash/concurrency-safe: the token is written complete
    to a temp file, then published with ``os.link`` (fails if the
    token already exists — the loser reads the winner's value), so a
    visible token file is always whole."""
    import uuid

    os.makedirs(checkpoint, exist_ok=True)
    tok_path = os.path.join(checkpoint, "_pithos_segment_token")
    if not os.path.exists(tok_path):
        tmp = f"{tok_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(uuid.uuid4().hex[:12])
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, tok_path)
        except FileExistsError:
            pass
        finally:
            os.remove(tmp)
    with open(tok_path) as f:
        return f.read().strip()


def folded_segment_keys(gen_root: str) -> set[str]:
    """Staged segment keys already folded into the generation at
    ``gen_root`` — the reader-side mask that makes a crash between the
    pointer swap and the staged cleanup harmless.  Bounded: the fold
    writes only keys whose staged directories still existed at fold
    time, so this table is one fold's worth of strings, not history.
    Read driver-side (:func:`read_tiny_rows`): one fold's worth of
    key strings, consulted by EVERY staged serve."""
    d = os.path.join(gen_root, "folded_segments")
    if not os.path.isdir(d):
        return set()
    return {str(r["seg"]) for r in read_tiny_rows(d)}


def write_folded_segments(gen_dir: str, keys) -> None:
    """Write a generation's ``folded_segments`` mask on the driver
    (pyarrow, one file, no Spark job) — the form
    :func:`folded_segment_keys` reads it in."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    d = os.path.join(gen_dir, "folded_segments")
    os.makedirs(d, exist_ok=True)
    papq.write_table(
        pa.table({"seg": pa.array(sorted(keys), pa.string())}),
        os.path.join(d, "part-00000.parquet"),
    )


def live_staged_segs(layout_path: str, gen_root: str) -> list[str]:
    """Installed staged segment keys NOT yet folded into the generation
    at ``gen_root``.  Folded-but-still-present segments are garbage
    awaiting cleanup (the crash window after the pointer swap) and are
    masked here — the masking is what makes that window harmless."""
    folded = folded_segment_keys(gen_root)
    return [s for s in staged_segment_keys(layout_path) if s not in folded]


def delta_dirs(layout_path: str, live: list[str], run=None) -> list[str]:
    """The live staged segment dirs, plus a thin generation's ``run``."""
    return [f"{layout_path}/staged/seg={s}" for s in live] + (
        [run] if run else []
    )


def staged_rows(spark, layout_path: str, live: list[str], schema, root=None):
    """All live staged segments' rows in ONE multi-path scan, read with
    the layout's declared ``schema`` (no inference job); given the live
    generation's ``root``, its run (a thin generation's merged earlier
    segments) joins the same scan — the serving fast path for the flat
    segment shape (postings / ANN codes / assignments / object
    mutations), whose consumers drop per-segment attribution anyway.
    One scan node with N paths replaces N scan+union subplans
    (~0.09 s/segment measured, SCALE_r17 §1 — subplan/file-open
    overhead, not data volume).  Safe because these segment dirs hold
    no partition subdirs, so the multi-root
    conflicting-directory-structures check that forces the trigram
    layout's recursive reads never applies.  Reads by explicit
    per-segment path: a segment dir exists iff its tables are complete
    (single-rename install)."""
    run = run_path(root) if root else None
    return spark.read.schema(schema).parquet(
        *delta_dirs(layout_path, live, run)
    )


def with_staged(spark, layout_path: str, root: str, base):
    """``base`` ∪ the generation's run ∪ the live staged rows (one scan,
    read with ``base``'s schema), masked against the generation at
    ``root`` — resolved ONCE by the loader and threaded through both
    the base read and the mask: two resolutions race a concurrent fold
    (segments folded in between would be masked while their rows live
    only in the newer base; ADVICE r16).  With no run and no live
    segment this is ``base`` itself, so a plain layout's plan is the
    base read."""
    live = live_staged_segs(layout_path, root)
    if not (live or run_path(root)):
        return base
    return base.unionByName(
        staged_rows(spark, layout_path, live, base.schema, root)
    )


def staged_counters(
    layout_path: str, live: list[str], cols: tuple, derive
) -> dict:
    """The additive corpus counters (``cols``) the live segments add:
    the deduped seg-tagged stats rows, with any segment whose stats
    append a crash ate DERIVED from the segment's own rows (ADVICE r14
    — serving base counters against unioned staged rows drifts every
    score); ``derive(missing_segs)`` returns their exact values.
    Driver-side: the table stays KB-sized (one row per live segment,
    plus replayed duplicates), so :func:`read_tiny_rows` reads it with
    no distributed job (r17)."""
    stats_dir = f"{layout_path}/staged_stats"
    live_set = set(live)
    rows: list[dict] = []
    if os.path.isdir(stats_dir):
        seen: set[str] = set()
        for r in read_tiny_rows(stats_dir):
            s = str(r["seg"])
            # first row per seg — a replayed stream batch or a retried
            # append writes a byte-equivalent row, so the pick is
            # value-free either way
            if s in live_set and s not in seen:
                seen.add(s)
                rows.append(r)
    out = {c: sum(int(r[c]) for r in rows) for c in cols}
    missing = sorted(live_set - {str(r["seg"]) for r in rows})
    if missing:
        d = derive(missing)
        for c in cols:
            out[c] += int(d[c])
    return out


def write_segment_rows(rows, schema, key, tmp: str) -> None:
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


def stage_segment(layout_path: str, seg: str, write) -> bool:
    """THE write path into a layout, shared by every stream micro-batch
    and every batch append: ``write(tmp)`` writes the segment's tables
    COMPLETELY under ``{layout}/staged_tmp/seg=<seg>``; an empty
    segment (found from the temp dir's parquet footers on the driver,
    no job) is deleted and False returned; otherwise the segment
    installs at ``{layout}/staged/seg=<seg>`` with one atomic rename
    (:func:`install_staged_segment`, which drops the copy if an earlier
    attempt installed it).  A layout with additive corpus counters
    returns a 1-row stats DataFrame from ``write``; it is appended
    seg-tagged under ``{layout}/staged_stats`` only AFTER the install —
    the order the stats GC relies on (a row in its snapshot always has
    its segment visible), and a crash between the two leaves a segment
    whose counters readers derive from its rows
    (:func:`staged_counters`)."""
    tmp = f"{layout_path}/staged_tmp/seg={seg}"
    stats = write(tmp)
    if parquet_rows([tmp]) == 0:
        shutil.rmtree(tmp, ignore_errors=True)
        return False
    install_staged_segment(tmp, f"{layout_path}/staged/seg={seg}")
    if stats is not None:
        append_staged_stats(layout_path, seg, stats)
    return True


def append_staged_stats(layout_path: str, seg: str, stats) -> None:
    """Append a segment's 1-row ``stats`` seg-tagged under
    ``{layout}/staged_stats`` — the last step of :func:`stage_segment`.
    A replayed or retried segment appends an equal row; readers keep
    the first row per ``seg`` (:func:`staged_counters`)."""
    import pyspark.sql.functions as F

    (
        stats.withColumn("seg", F.lit(seg))
        .write.mode("append")
        .parquet(f"{layout_path}/staged_stats")
    )


def append_key(delta) -> str:
    """The staged segment key of a batch append,
    ``append-<rows>-<hash>``: a function of the delta's rows alone —
    not of its partitioning, a token or the clock — so a retried
    append finds its segment already installed and installs nothing.

    ``hash`` is 128 bits, two order-independent 64-bit sums (mod 2^64)
    of per-row hashes, computed in ONE aggregate job: the row's
    ``xxhash64``, and the ``xxhash64`` of the row's murmur3 ``hash``
    followed by the row.  Modelling the row hashes as random, two
    different deltas with the same row count get the same key with
    probability about 2^-128; across a billion appends to one layout
    the birthday bound stays below 10^-20.  Equal content is a retry by
    definition, which is what every appending layout's "new ids only"
    contract makes it."""
    import pyspark.sql.functions as F

    cols = [delta[c] for c in delta.columns]
    sums = delta.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("a"),
        F.sum(
            F.xxhash64(F.hash(*cols), *cols).cast("decimal(38,0)")
        ).alias("b"),
    ).collect()[0]
    a, b = (int(sums[c] or 0) % (1 << 64) for c in ("a", "b"))
    return f"append-{int(sums['n'])}-{a:016x}{b:016x}"


def append_segment(layout_path: str, delta, write_segment) -> None:
    """A batch append: ``write_segment(delta, tmp)`` — the layout's own
    segment writer, the one its stream uses — installs the delta as ONE
    staged segment keyed :func:`append_key` (:func:`stage_segment`).
    Readers see it at once; a retry, before or after a crash at any
    step, ends with exactly one installed copy.  An append never
    folds."""
    stage_segment(
        layout_path, append_key(delta), lambda tmp: write_segment(delta, tmp)
    )


def gc_generations(layout_path: str) -> int:
    """Reclaim superseded generations (VERDICT r15 task 5 — the
    'garbage for an external janitor' caveat, now in-engine): delete
    every ``fold_gen_<k>`` directory the CURRENT pointer does not
    name — except the full generation a thin CURRENT serves its base
    tables from — plus any leftover fold scratch dir.  A major fold
    writes a COMPLETE copy of the layout and a minor fold a new run, so
    without this a compacted layout grows by a copy per fold forever.

    Correctness: readers resolve CURRENT exactly once per read and
    never hold a path into a non-CURRENT generation, so these
    directories are unreachable to any NEW resolution the instant the
    pointer swaps — the standard LSM compaction-GC contract.  The
    caller-visible caveat (ADVICE r16): every serving entry returns a
    LAZY DataFrame whose plan is pinned to the resolved generation's
    file paths, so "a reader must finish before its files vanish"
    means the DataFrame must be MATERIALIZED (collected / written)
    before a fold runs GC — a plan held across a fold raises
    FileNotFound at action time (or yields silent partial results if
    ``spark.sql.files.ignoreMissingFiles`` is set).  That is the
    documented contract: serve-then-fold, never fold-then-collect;
    deployments that need plans to survive folds should keep the
    superseded generation for a grace cycle via an external janitor
    instead of calling this immediately.  Generation 0's tables under
    the layout root are kept: CURRENT may be absent (gen 0 live), and
    a rebuild overwrites them in place.  Returns the number of
    directories removed; a crash mid-GC leaves skippable orphans a
    re-run finishes.

    When a fold generation's tables are live, generation 0's leftovers
    under the layout root (its table directories) are reclaimed too —
    post-fold disk holds exactly ONE full generation (plus the thin
    one serving from it, if any).  The staging namespace (``staged*``) is never touched here: that is
    ``_gc_staged``'s job, scoped to folded keys so concurrent ingest
    survives."""
    cur = os.path.abspath(read_current(layout_path))
    base = os.path.abspath(tables_root(cur))
    if not (os.path.isdir(cur) and os.path.isdir(base)):
        return 0  # broken pointer: refuse to GC anything
    gen0_live = base == os.path.abspath(layout_path)
    keep = {
        CURRENT,
        "staged",
        "staged_tmp",
        "staged_stats",
        "staged_stats_tmp",
    }
    n = 0
    for name in os.listdir(layout_path):
        full = os.path.join(layout_path, name)
        if name in keep or os.path.abspath(full) in (cur, base):
            continue
        if name.startswith(FOLD_GEN_PREFIX) or name == FOLD_TMP:
            shutil.rmtree(full, ignore_errors=True)
            n += 1
        elif not gen0_live:
            try:
                if os.path.isdir(full):
                    shutil.rmtree(full, ignore_errors=True)
                else:
                    os.remove(full)
                n += 1
            except OSError:
                pass
    return n


def finalize_rebuild(layout_path: str) -> None:
    """Make a from-scratch rebuild at the layout ROOT (generation 0)
    the live state, whatever the layout's prior history (ADVICE r15).

    ``write_*_layout`` writes generation-0 tables directly under
    ``layout_path`` — but on a previously-compacted layout CURRENT
    still names an old ``fold_gen_<k>``, so readers would never see
    the rebuild.  Ordered for the crash windows:

    1. delete CURRENT — the atomic cutover (absent pointer resolves to
       generation 0);
    2. garbage-collect everything the rebuild supersedes: old
       ``fold_gen_*`` generations, full and thin, the fold scratch
       dir, and the staging area — including the ``*_tmp`` halves, so
       half-written segment dirs from a crashed ingest don't outlive
       the rebuild as permanent garbage (ADVICE r16).

    A crash before 1 leaves the old generation live with the rebuild
    invisible — re-run the rebuild.  A crash between 1 and 2 leaves
    skippable orphans (``next_gen_rel`` skips them; no reader can
    resolve to them).  Not safe concurrent with an ACTIVE streaming
    ingest into the same layout — a rebuild replaces the staged
    history (batch appends included) by construction.
    """
    try:
        os.remove(os.path.join(layout_path, CURRENT))
    except FileNotFoundError:
        pass
    for name in os.listdir(layout_path):
        if (
            name.startswith(FOLD_GEN_PREFIX)
            or name == FOLD_TMP
            or name in ("staged", "staged_tmp", "staged_stats", "staged_stats_tmp")
        ):
            shutil.rmtree(
                os.path.join(layout_path, name), ignore_errors=True
            )
