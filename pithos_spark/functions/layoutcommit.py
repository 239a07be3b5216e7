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

Nothing here is reachable from an executor: these are driver-side
metadata operations on a handful of tiny files, same tier as the
layouts' 1-row stats reads.  The ``os``-level calls bind this to a
POSIX-rename filesystem (local disk here; HDFS renames are atomic too
— an object store would swap the pointer through its conditional-put
instead).

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

    A key is ``<checkpoint-token>-<batch_id>``, not the bare
    Structured Streaming batch id: batch ids restart at 0 for every
    fresh checkpoint, so a bare-id fold mask would silently swallow a
    NEW stream's first segments; the checkpoint token (stable across
    restarts and replays of the same checkpoint, distinct across
    streams) is what makes the mask collision-free."""
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
    at-least-once) micro-batch and the new copy is byte-equivalent —
    drop it.  Either way, after this call the destination is complete
    and the temp dir is gone."""
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


def gc_generations(layout_path: str) -> int:
    """Reclaim superseded generations (VERDICT r15 task 5 — the
    'garbage for an external janitor' caveat, now in-engine): delete
    every ``fold_gen_<k>`` directory the CURRENT pointer does not
    name, plus any leftover fold scratch dir.  Each fold writes a
    COMPLETE copy of the layout, so without this a daily-compacted
    layout doubles its footprint per fold forever.

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

    When a fold generation is live, generation 0's leftovers under the
    layout root (its table directories and any stale torn marker) are
    reclaimed too — post-fold disk holds exactly ONE generation.  The
    staging namespace (``staged*``) is never touched here: that is
    ``_gc_staged``'s job, scoped to folded keys so concurrent ingest
    survives."""
    cur = os.path.abspath(read_current(layout_path))
    if not os.path.isdir(cur):  # broken pointer: refuse to GC anything
        return 0
    gen0_live = cur == os.path.abspath(layout_path)
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
        if name in keep or os.path.abspath(full) == cur:
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
    the rebuild, and the torn-append marker that PROMPTED the rebuild
    (it lives at the old generation's root) would never clear: the
    documented "rebuild is the recovery" would silently not recover.
    Ordered for the crash windows:

    1. clear any torn marker at generation 0 (the rebuild just wrote
       complete tables there);
    2. delete CURRENT — the atomic cutover (absent pointer resolves to
       generation 0);
    3. garbage-collect everything the rebuild supersedes: old
       ``fold_gen_*`` generations (their torn markers go with them),
       the fold scratch dir, and the staging area — including the
       ``*_tmp`` halves, so half-written segment dirs from a crashed
       ingest don't outlive the rebuild as permanent garbage (ADVICE
       r16).

    A crash between 1 and 2 leaves the old generation live (and still
    refusing if torn) with the rebuild invisible — re-run the rebuild.
    A crash between 2 and 3 leaves skippable orphans (``next_gen_rel``
    skips them; no reader can resolve to them).  Not safe concurrent
    with an ACTIVE streaming ingest into the same layout — a rebuild
    replaces the staged history by construction.
    """
    end_append(layout_path)
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


APPEND_PENDING = "_append_pending"


def begin_append(gen_root: str) -> None:
    """Drop the torn-append marker before a multi-step BATCH append
    (row append + stats overwrite).  The batch append path is fast and
    simple but not crash-atomic; the marker turns its crash window
    from silently-drifted scores (rows visible against stale stats)
    into a loud refusal at read time.  At-least-once sources should
    use the staged streaming path instead, which needs no marker."""
    with open(os.path.join(gen_root, APPEND_PENDING), "w") as f:
        f.write(
            "batch append in progress; if this file outlives the job, "
            "the layout is torn — rebuild it or restore the tables\n"
        )
        f.flush()
        os.fsync(f.fileno())


def end_append(gen_root: str) -> None:
    """Clear the torn-append marker — the append's last step."""
    try:
        os.remove(os.path.join(gen_root, APPEND_PENDING))
    except FileNotFoundError:
        pass


def assert_not_torn(gen_root: str) -> None:
    """Refuse to serve a layout whose last batch append never
    finished: its appended rows are visible against pre-append stats
    (postings) or a pre-append n_total (grams), so every score drifts.
    Raising here is the difference between an operational incident and
    a silent data-quality one."""
    if os.path.exists(os.path.join(gen_root, APPEND_PENDING)):
        raise RuntimeError(
            f"layout at {gen_root} is torn: a batch append crashed "
            "between its row append and its stats refresh "
            f"({APPEND_PENDING} present). Rebuild the layout (or "
            "restore tables from the previous generation); re-running "
            "the append would double the delta."
        )
