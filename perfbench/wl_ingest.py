"""``ingest``: staged writes beside reads on the LSM layouts.

Why: a read-path gain that costs write amplification, space
amplification or fold stalls shows here and nowhere else.

Each cycle, for the objects listing layout and the PQ index:

1. stage one seeded delta per layout — object puts, overwrites and
   tombstones; new embeddings — through the engine's
   ``streaming_objects_ingest`` / ``streaming_pq_index_ingest`` with
   availableNow.  The delta arrives as ``gen.SEGMENTS_PER_CYCLE`` files
   read one per micro-batch, so each cycle installs that many staged
   segments per layout;
2. read over base plus staged segments (``list_objects_with_staged``,
   ``pq_topk_with_staged``);
3. let the engine's fold policy decide (``compact_staged_objects_if_needed``,
   ``compact_staged_pq_if_needed``).

Cycle 0 is the warm-up pass: it stages a single segment per layout and
folds it unconditionally, so every op type runs once without paying for
a full cycle.  The measured phase runs whole cycles, so every run
measures the same op mix even when a cycle (about 15 s on a 4-core box)
is longer than ``--seconds``.  After the last cycle both reads
run once more, untimed, over the folded layouts: each answer must equal
the one before the fold and the generator's expected state.

The BM25 postings layout is left out to keep runs short: with it a run
took about 86 s on a 4-core box.  The warm-up cycle's PQ answer is not
checked for the same reason (one DuckDB PQ oracle costs about 1.7 s); its
listings are.
"""

from __future__ import annotations

import os
import shutil

KINDS = ["stage_objects", "stage_pq", "read_list", "read_pq",
         "fold_objects", "fold_pq"]
STAGE_KINDS = KINDS[0:2]
READ_KINDS = KINDS[2:4]
FOLD_KINDS = KINDS[4:6]


class Ingest:
    group_s = 15.0  # nominal seconds per cycle on a 4-core box

    def __init__(self, spark, inputs, layout_root: str, work: str):
        self.spark = spark
        self.inp = inputs
        self.root = layout_root
        self.work = work
        self.layouts = {k: f"{layout_root}/{k}" for k in ("objects", "pq")}
        self.streams = {k: f"{work}/streams/{k}"
                        for k in ("objects", "embeddings")}
        self.schemas = {}
        self.next_cycle = 0

    # -- set-up ------------------------------------------------------------

    def build(self, timed) -> None:
        from pithos_spark import tables as T
        from pithos_spark.functions import similarity
        from pithos_spark.streaming import ingest as ing

        base = f"{self.inp.src_dir}/base"
        t = T.load_tables(self.spark, base)
        lay = self.layouts
        timed("objects_layout", lambda: ing.save_objects_layout(
            T.objects_df(t), lay["objects"]))
        timed("pq_index", lambda: similarity.save_pq_index(
            t["embeddings"], lay["pq"]))
        first = self.inp.cycles[0]["files"]
        for k in self.streams:
            self.schemas[k] = self.spark.read.parquet(first[k][0]).schema
        self.base_embeddings = f"{base}/embeddings.parquet"

    def wrap_layers(self, rec) -> None:
        from pithos_spark.functions import similarity
        from pithos_spark.operators import listing

        for fn in ("pq_serve_topk", "load_pq_index", "pq_encode"):
            rec.wrap(similarity, fn, f"functions.{fn}")
        rec.wrap(listing, "list_objects", "operators.list_objects")

    # -- the cycle ---------------------------------------------------------

    def _arrive(self, cycle: dict) -> None:
        """Move the cycle's delta files into the stream sources, with
        increasing mtimes so the file source reads them in order."""
        for kind, files in cycle["files"].items():
            os.makedirs(self.streams[kind], exist_ok=True)
            for i, f in enumerate(files):
                dst = os.path.join(self.streams[kind], os.path.basename(f))
                shutil.copyfile(f, dst)
                t = 1_000_000 + self.next_cycle * 100 + i
                os.utime(dst, (t, t))

    def _stage(self, fn, kind: str, layout: str):
        src = (self.spark.readStream.schema(self.schemas[kind])
               .option("maxFilesPerTrigger", 1).parquet(self.streams[kind]))
        return fn(src, layout, f"{self.work}/ckpt/{kind}")

    @staticmethod
    def _finish(q):
        q.awaitTermination()
        q.stop()
        return True

    def _embeddings(self):
        return self.spark.read.parquet(self.base_embeddings,
                                       self.streams["embeddings"])

    def stream(self):
        """Yield (group, kind, call, action, after, meta) with group = the
        cycle: cycle 0 is the warm-up pass over every op type."""
        from pithos_spark.streaming import ingest as ing

        spark, lay = self.spark, self.layouts
        while self.next_cycle < len(self.inp.cycles):
            c = self.next_cycle
            cyc = self.inp.cycles[c]
            self._arrive(cyc)
            stage = [
                ("stage_objects", lambda: self._stage(
                    ing.streaming_objects_ingest, "objects", lay["objects"])),
                ("stage_pq", lambda: self._stage(
                    ing.streaming_pq_index_ingest, "embeddings", lay["pq"])),
            ]
            # default arguments bind this cycle's queries: verify() calls
            # the reads again after the generator has moved on
            reads = [
                ("read_list", lambda lr=lr: ing.list_objects_with_staged(
                    spark, lay["objects"], lr["bucket"], lr["prefix"],
                    lr["delimiter"] or None, None, lr["max_keys"]), lr)
                for lr in cyc["reads"]["list"]
            ] + [
                ("read_pq", lambda q=q: ing.pq_topk_with_staged(
                    self._embeddings(), lay["pq"], q, 10), q)
                for q in cyc["reads"]["pq"]
            ]
            if c == 0:  # warm-up: fold its single segment regardless
                folds = [
                    ("fold_objects", lambda: ing.compact_staged_objects(
                        spark, lay["objects"])),
                    ("fold_pq", lambda: ing.compact_staged_pq(spark, lay["pq"])),
                ]
            else:
                folds = [
                    ("fold_objects", lambda: ing.compact_staged_objects_if_needed(
                        spark, lay["objects"])),
                    ("fold_pq", lambda: ing.compact_staged_pq_if_needed(
                        spark, lay["pq"])),
                ]
            for kind, call in stage:
                yield c, kind, call, self._finish, None, None
            for kind, call, meta in reads:
                yield c, kind, call, _collect, None, meta
            for kind, call in folds:
                yield c, kind, call, None, None, None
            self._reads = reads
            self.next_cycle += 1

    def verify(self) -> list[dict]:
        """The last cycle's reads again, untimed, after its folds."""
        c = self.next_cycle - 1
        return [{"group": c, "kind": kind, "result": _collect(call()),
                 "measured": False, "meta": meta}
                for kind, call, meta in self._reads]

    # -- answer checks (outside the timed region) --------------------------

    def check(self, records, con, expected) -> list[bool]:
        """``expected`` is unused: each read spec carries its answer."""
        from pithos_spark.functions import similarity

        base = f"{self.inp.src_dir}/base"
        ok = []
        expected_cache = {}
        for r in records:
            kind, c, out = r["kind"], r["group"], r["result"]
            if not kind.startswith("read_"):
                ok.append(out is not None)
                continue
            if kind == "read_list":
                ok.append(out == [tuple(e) for e in r["meta"]["expected"]])
                continue
            if c == 0:  # the warm-up's PQ answer is not checked (time budget)
                ok.append(out is not None)
                continue
            key = (c, r["meta"])
            if key not in expected_cache:
                files = [f"{base}/embeddings.parquet"] + [
                    f for cc in self.inp.cycles[: c + 1]
                    for f in cc["files"]["embeddings"]]
                con.execute("CREATE OR REPLACE VIEW embeddings AS SELECT * "
                            f"FROM read_parquet({files!r})")
                expected_cache[key] = [tuple(x) for x in con.execute(
                    similarity.pq_topk_oracle(
                        r["meta"], 10, train_pred=f"vec_id < {self.inp.base_vecs}")
                ).fetchall()]
            ok.append(out is not None and out == expected_cache[key])
        return ok


def _collect(df):
    return [tuple(r) for r in df.collect()]
