"""Workload benchmark for pithos_spark.

    python3 perfbench/run.py --workload s3_api --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  One process is one client in a closed
loop: it generates the seeded inputs (gen.py, no Spark), starts a pinned
``local[nproc]`` session, builds the layouts the workload serves from,
makes one untimed warm-up pass over every op type, then issues ops for
``--seconds`` seconds, checks every answer outside the timed region and
prints one JSON object as its last line of output.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics (see README.md) and writes the spans to
``.perfbench_out/``.  Layouts, stream sources and Spark's scratch space
live under ``.perfbench_work/`` and are removed before exit.
"""

from __future__ import annotations

import argparse
import collections
import json
import math
import os
import pickle
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("s3_api", "ingest")

E2E = [("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_s", "s"),
       ("op_tail_s", "s"), ("peak_rss_mb", "MB"), ("write_amp", "ratio"),
       ("space_amp", "ratio")]


def per_layer_names() -> list[tuple[str, str]]:
    import wl_ingest
    import wl_s3

    names = [(f"operators.{k}.p50_s", "s") for k in wl_s3.KINDS]
    for fn in ("pq_serve_topk", "load_pq_index", "pq_encode"):
        names.append((f"functions.{fn}.call_s", "s"))
    names.append(("functions.pq_serve_topk.action_s", "s"))
    names += [("streaming.stage_s", "s"), ("streaming.read_staged_s", "s"),
              ("streaming.fold_s", "s"), ("streaming.folds", "count"),
              ("streaming.live_segments_max", "count"),
              ("sources.bytes_written", "bytes"), ("sources.files_written", "count"),
              ("sources.layout_bytes", "bytes")]
    for k in wl_s3.KINDS + wl_ingest.KINDS:
        names += [(f"spark.{k}.{c}", "count") for c in ("jobs", "stages", "tasks")]
    names += [("jvm.cpu_s_per_op", "s"), ("jvm.jit_s", "s"), ("jvm.gc_s", "s"),
              ("driver.cpu_s_per_op", "s"), ("setup.session_s", "s")]
    for b in ("objects_layout", "buckets", "grants", "parts", "pq_index"):
        names.append((f"setup.{b}_s", "s"))
    names += [("setup.warmup_s", "s"), ("trace.ops_per_s", "1/s"),
              ("trace.op_p50_s", "s")]
    return names


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pithos_spark", "__init__.py")):
        print(f"perfbench: no pithos_spark package beside {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # Spark and Python scratch space stay inside the checkout
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    tempfile.tempdir = None
    try:
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench-record " + json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM that pyspark launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launched JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def run(args, work):
    import harness as H

    noise = H.Noise()
    settings = H.session_settings(work)
    # the generator runs in a child process: its memory is not the
    # program's and stays out of peak_rss_mb
    src = f"{work}/inputs"
    os.makedirs(src)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                    args.workload, str(args.seed), src], check=True)
    with open(f"{src}/drive.pkl", "rb") as f:
        inputs = types.SimpleNamespace(**pickle.load(f))

    t0 = time.perf_counter()
    spark = H.start_session(settings)
    session_s = time.perf_counter() - t0
    try:
        pid = H.jvm_pid(spark)
        return _run_workload(args, work, spark, pid, inputs, session_s,
                             settings, noise)
    finally:
        stop_spark(spark)


def _run_workload(args, work, spark, pid, inputs, session_s, settings, noise):
    import harness as H
    import wl_ingest
    import wl_s3

    rec = H.Recorder(spark, bool(args.trace))

    # -- set-up: the layout builds, then (in the loop below) the warm-up --
    root = f"{work}/layouts"
    os.makedirs(root, exist_ok=True)
    if args.workload == "s3_api":
        wl = wl_s3.S3Api(spark, inputs, root)
    else:
        wl = wl_ingest.Ingest(spark, inputs, root, f"{work}/run")
    builds: dict[str, float] = {}

    def timed(name, fn):
        t = time.perf_counter()
        fn()
        builds[name] = time.perf_counter() - t

    t = time.perf_counter()
    wl.build(timed)
    build_s = time.perf_counter() - t
    setup_written = H.written_since({}, H.dir_files(root))
    wl.wrap_layers(rec)

    records = []
    snapshots = {}  # group -> layout files when the group began
    stream = wl.stream()
    warmup_s = 0.0
    t_start = t_end = None
    prev_group = None
    min_groups = max(1, math.ceil(args.seconds / wl.group_s))
    for group, kind, call, action, after, meta in stream:
        now = time.perf_counter()
        if prev_group is None:
            warm_t0 = now
        if group != prev_group:
            snapshots[group] = H.dir_files(wl.root)
        measured = group >= 1
        if measured and t_start is None:
            warmup_s = now - warm_t0
            t_start = now
        # whole groups only, at least min_groups of them, and at least
        # --seconds: a slow box then measures the same ops, not fewer
        if (measured and group != prev_group and group > min_groups
                and now - t_start >= args.seconds):
            break
        prev_group = group
        live = None
        if args.trace and kind.startswith("fold_"):
            live = _live_segments(wl.layouts[kind[5:]])
        try:
            out = rec.run(kind, call, action, measured)
            err = None
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            out, err = None, traceback.format_exc(limit=3)
            print(f"perfbench: {kind} failed:\n{err}", file=sys.stderr)
        if after is not None:
            after(out)
        records.append({"group": group, "kind": kind, "meta": meta,
                        "result": out, "measured": measured, "error": err,
                        "live_segments": live})
        t_end = time.perf_counter()
    rec.unwrap()
    # read before the checker's DuckDB oracles and expected rows load
    rss = {"jvm_vmhwm_mb": H.vm_hwm_mb(pid),
           "python_maxrss_mb": H.python_maxrss_mb()}
    peak_rss_mb = sum(rss.values())

    # -- answer checks, outside the timed region --
    import duckdb

    t_check = time.perf_counter()
    verify = wl.verify()
    with open(f"{inputs.src_dir}/expected.pkl", "rb") as f:
        expected = pickle.load(f)
    con = duckdb.connect()
    ok = wl.check(records + verify, con, expected)
    con.close()
    check_s = time.perf_counter() - t_check

    measured_idx = [i for i, r in enumerate(records) if r["measured"]]
    measured_set = set(measured_idx)
    mops = [rec.ops[i] for i in measured_idx]
    lat = [o["latency_s"] for o in mops]
    wall = t_end - t_start
    attempted = len(mops)
    failed = sum(1 for i in measured_idx if not ok[i])
    # warm-up ops and the untimed after-fold reads are checked too
    warm_failed = sum(1 for i in range(len(ok))
                      if not ok[i] and i not in measured_set)
    tl = H.tail(lat)
    half = t_start + wall / 2
    first = sum(1 for o in mops if o["start"] + o["latency_s"] <= half)

    # -- write / space amplification --
    groups = sorted(snapshots)
    done = groups[:-1] if len(groups) > 1 else groups  # last may be cut
    if args.workload == "s3_api":
        write_amp = setup_written[0] / inputs.input_bytes
        space_amp = H.tree_bytes(wl.root) / inputs.input_bytes
        bytes_written, files_written = setup_written
    else:
        # completed measured cycles (the warm-up cycle is shaped differently)
        cycles = [g for g in done if g >= 1 and g + 1 in snapshots]
        written = [H.written_since(snapshots[g], snapshots[g + 1])
                   for g in cycles]
        bytes_written = sum(w[0] for w in written)
        files_written = sum(w[1] for w in written)
        write_amp = bytes_written / sum(inputs.cycles[g]["input_bytes"]
                                        for g in cycles)
        last = cycles[-1] + 1
        space_amp = (sum(v[0] for v in snapshots[last].values())
                     / inputs.cycles[last - 1]["live_bytes"])

    setup_s = session_s + build_s + warmup_s
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": attempted / wall,
        "op_p50_s": H.median(lat),
        "op_tail_s": tl["value"],
        "peak_rss_mb": peak_rss_mb,
        "write_amp": write_amp,
        "space_amp": space_amp,
    }
    units = dict(E2E)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input_digest": inputs.digest,
        "settings": settings,
        "setup": {"session_s": session_s, "builds_s": builds,
                  "warmup_s": warmup_s},
        "tail": tl, "peak_rss": rss, "measured_wall_s": wall, "check_s": check_s,
        "warmup_failed": warm_failed,
        "ops_by_kind": collections.Counter(
            r["kind"] for r in records if r["measured"]),
        "op_latencies": [(o["kind"], round(o["latency_s"], 4), o["measured"])
                         for o in rec.ops],
        "noise": noise.finish(first / (wall / 2),
                              (attempted - first) / (wall / 2)),
        "end_to_end": {k: round(v, 6) for k, v in e2e.items()},
    }
    if args.trace:
        layer = _per_layer(args, rec, records, measured_idx, wl, builds,
                           session_s, warmup_s, e2e, bytes_written,
                           files_written)
        metrics = {n: {"value": layer.get(n, 0), "unit": u}
                   for n, u in per_layer_names()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        rec.write_spans(f"{out_dir}/spans-{args.workload}-s{args.seed}.json")
        record["spans_file"] = f".perfbench_out/spans-{args.workload}-s{args.seed}.json"
    else:
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n, _ in E2E}
    result = {"correct": failed == 0 and warm_failed == 0,
              "attempted": attempted, "failed": failed, "metrics": metrics}
    return record, result


def _live_segments(layout: str) -> int:
    """Live staged segments of a layout, read from outside through the
    layout-commit helpers (traced runs only)."""
    from pithos_spark.functions.layoutcommit import (
        folded_segment_keys, read_current, staged_segment_keys)

    folded = folded_segment_keys(read_current(layout))
    return sum(1 for s in staged_segment_keys(layout) if s not in folded)


def _per_layer(args, rec, records, measured_idx, wl, builds, session_s,
               warmup_s, e2e, bytes_written, files_written) -> dict:
    import harness as H

    ops = [rec.ops[i] for i in measured_idx]
    ids = {o["id"] for o in ops}
    by_kind: dict[str, list[dict]] = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o)
    m = {}
    if args.workload == "s3_api":
        for k, os_ in by_kind.items():
            m[f"operators.{k}.p50_s"] = H.median([o["latency_s"] for o in os_])
    calls: dict[str, list[float]] = {}
    for label, dur, op_id in rec.layer_calls:
        if op_id in ids:
            calls.setdefault(label, []).append(dur)
    for label, durs in calls.items():
        if label.startswith("functions."):
            m[f"{label}.call_s"] = H.median(durs)
    pq_ids = {o["id"] for o in ops if o["kind"].startswith("read_pq")}
    action = [s["end"] - s["start"] for s in rec.spans
              if s["span"] == "action" and s["op"] in pq_ids]
    if action:
        m["functions.pq_serve_topk.action_s"] = H.median(action)
    if args.workload == "ingest":
        import wl_ingest

        lat = {k: [o["latency_s"] for o in by_kind.get(k, [])]
               for k in wl_ingest.KINDS}
        m["streaming.stage_s"] = H.median(
            sum((lat[k] for k in wl_ingest.STAGE_KINDS), []))
        m["streaming.read_staged_s"] = H.median(
            sum((lat[k] for k in wl_ingest.READ_KINDS), []))
        folded = [rec.ops[i]["latency_s"] for i in measured_idx
                  if records[i]["kind"] in wl_ingest.FOLD_KINDS
                  and records[i]["result"]]
        m["streaming.fold_s"] = H.median(folded)
        m["streaming.folds"] = len(folded)
        m["streaming.live_segments_max"] = max(
            (records[i]["live_segments"] or 0 for i in measured_idx), default=0)
    m["sources.bytes_written"] = bytes_written
    m["sources.files_written"] = files_written
    m["sources.layout_bytes"] = H.tree_bytes(wl.root)
    for k, os_ in by_kind.items():
        first = os_[0]
        for c in ("jobs", "stages", "tasks"):
            m[f"spark.{k}.{c}"] = first[c]
    n = len(ops)
    m["jvm.cpu_s_per_op"] = sum(o["jvm_cpu_s"] for o in ops) / n
    m["jvm.jit_s"] = sum(o["jvm_jit_s"] for o in ops)
    m["jvm.gc_s"] = sum(o["jvm_gc_s"] for o in ops)
    m["driver.cpu_s_per_op"] = sum(o["driver_cpu_s"] for o in ops) / n
    m["setup.session_s"] = session_s
    for b, t in builds.items():
        m[f"setup.{b}_s"] = t
    m["setup.warmup_s"] = warmup_s
    m["trace.ops_per_s"] = e2e["ops_per_s"]
    m["trace.op_p50_s"] = e2e["op_p50_s"]
    return m


if __name__ == "__main__":
    sys.exit(main())
