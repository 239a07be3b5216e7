"""Shared machinery of the workload benchmark: the pinned Spark session,
the closed-loop op recorder with its optional tracing, host-noise
diagnostics and the summary statistics.

Tracing is all-or-nothing per run.  An untraced run times each op with
``time.perf_counter`` and nothing else: no JMX reads, no status-tracker
queries, no listener-bus waits per op.  A traced run additionally
records, for every op, a root span and its ``call``/``action`` child
spans (one shared op id), the Spark jobs/stages/tasks the op launched
(job-id range plus ``statusTracker``, after draining the listener bus),
JVM CPU, JIT and GC time, and the time spent in wrapped layer functions
(see :meth:`Recorder.wrap`).  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import hashlib
import json
import os
import resource
import statistics
import threading
import time


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------

DRIVER_MEMORY = "4g"  # well under the 15 GB box the benchmark was sized on


def session_settings(work_dir: str) -> dict:
    n = len(os.sched_getaffinity(0))
    return {
        "master": f"local[{n}]",
        "spark.sql.shuffle.partitions": str(max(2 * n, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": f"{work_dir}/spark-local",
        "spark.sql.warehouse.dir": f"{work_dir}/warehouse",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work_dir}/jtmp -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1 -Xmn512m"),
        "log_level": "ERROR",
    }


def start_session(settings: dict):
    from pyspark.sql import SparkSession

    for d in ("spark-local", "jtmp"):
        os.makedirs(os.path.join(os.path.dirname(settings["spark.local.dir"]), d),
                    exist_ok=True)
    b = SparkSession.builder.master(settings["master"])
    for k, v in settings.items():
        if k.startswith("spark."):
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(settings["log_level"])
    return spark


def jvm_pid(spark) -> int:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return int(mf.getRuntimeMXBean().getPid())


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # utime, stime are fields 14, 15 (1-based); after ")" they are 12, 13
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def python_maxrss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# --------------------------------------------------------------------------
# noise diagnostics (recorded with every run; not metrics)
# --------------------------------------------------------------------------


def steal_s() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK")


def cpu_canary_s() -> float:
    """A fixed pure-CPU job (sha256 chain over 4 MiB, 16 rounds); its
    time before and after a run shows how fast the box was."""
    buf = b"\x5a" * (4 << 20)
    t0 = time.perf_counter()
    for _ in range(16):
        buf = hashlib.sha256(buf).digest() * (len(buf) // 32)
    return time.perf_counter() - t0


class Noise:
    def __init__(self):
        self.canary_before = cpu_canary_s()
        self.steal0 = steal_s()

    def finish(self, first_half_ops_per_s: float, second_half_ops_per_s: float):
        return {
            "steal_s": round(steal_s() - self.steal0, 3),
            "load_1m": os.getloadavg()[0],
            "canary_before_s": round(self.canary_before, 4),
            "canary_after_s": round(cpu_canary_s(), 4),
            "warmup_ratio": round(
                first_half_ops_per_s / second_half_ops_per_s, 4
            ) if second_half_ops_per_s else None,
        }


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def tail(latencies: list[float]) -> dict:
    """The highest pooled percentile with at least 10 samples beyond it:
    the (n-10)-th smallest of n latencies, i.e. percentile 100*(n-10)/n.
    With 10 or fewer samples no such percentile exists and the maximum
    is reported with the count beyond it (0)."""
    xs = sorted(latencies)
    n = len(xs)
    if n > 10:
        return {"value": xs[n - 11], "percentile": round(100 * (n - 10) / n, 1),
                "beyond": 10, "n": n}
    return {"value": xs[-1], "percentile": 100.0, "beyond": 0, "n": n}


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------------------
# op recorder
# --------------------------------------------------------------------------


class Recorder:
    """Runs ops one at a time (closed loop, one client) and keeps their
    latencies; with ``trace`` it also keeps spans and per-op counters."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self.layer_calls: list[tuple[str, float, int | None]] = []
        self._lock = threading.Lock()
        self._op_id = 0
        self._current = None
        self._phase = "call"
        self._orig: list = []
        if trace:
            sc = spark.sparkContext
            self._jsc = sc._jsc.sc()
            self._tracker = sc.statusTracker()
            self._mf = sc._jvm.java.lang.management.ManagementFactory
            self._pid = jvm_pid(spark)

    # -- wrapping of layer functions (traced runs only) --------------------

    def wrap(self, module, name: str, label: str) -> None:
        """Replace ``module.name`` with a timing wrapper for the rest of
        the run; each call is a span under the op in flight (child of its
        ``call`` or ``action`` span) and lands in ``layer_calls`` as
        (label, seconds, op id).  Callers that import the function at
        call time (the engine's pattern) see the wrapper."""
        if not self.trace:
            return
        fn = getattr(module, name)
        rec = self

        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                t1 = time.perf_counter()
                with rec._lock:
                    rec.layer_calls.append((label, t1 - t0, rec._current))
                    if rec._current is not None:
                        rec.spans.append({"op": rec._current, "span": label,
                                          "parent": rec._phase, "start": t0,
                                          "end": t1})

        setattr(module, name, wrapper)
        self._orig.append((module, name, fn))

    def unwrap(self) -> None:
        for module, name, fn in reversed(self._orig):
            setattr(module, name, fn)
        self._orig.clear()

    # -- counters ----------------------------------------------------------

    def _jvm_counters(self) -> dict:
        gc = sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
        return {
            "cpu_s": proc_cpu_s(self._pid),
            "jit_s": self._mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "gc_s": gc / 1e3,
        }

    def _spark_counts(self, first_job: int, end_job: int) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        stages = tasks = 0
        for jid in range(first_job, end_job):
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = self._tracker.getStageInfo(sid)
                ran = (si.numCompletedTasks + si.numFailedTasks) if si else 0
                if ran:  # a stage skipped for reused shuffle output runs none
                    stages += 1
                    tasks += ran
        return {"jobs": end_job - first_job, "stages": stages, "tasks": tasks}

    # -- the op ------------------------------------------------------------

    def run(self, kind: str, call, action=None, measured: bool = True):
        """Time one op: ``call()`` (the public function, including any
        eager driver collects it makes) then ``action(result)`` (the
        collect that forces the returned plan).  Returns the action's
        result.  The op is recorded even when it raises."""
        self._op_id += 1
        op_id = self._op_id
        if self.trace:
            job0 = self._jsc.dagScheduler().numTotalJobs()
            jvm0 = self._jvm_counters()
            self.spark.sparkContext.setJobGroup(f"op-{op_id}", kind)
            self._current = op_id
        drv0 = time.process_time()
        self._phase = "call"
        t0 = time.perf_counter()
        t1 = None
        try:
            out = call()
            t1 = time.perf_counter()
            if action is not None:
                self._phase = "action"
                out = action(out)
            return out
        finally:
            t2 = time.perf_counter()
            self._record(op_id, kind, measured, t0, t1, t2,
                         action is not None, drv0,
                         job0 if self.trace else 0, jvm0 if self.trace else None)

    def _record(self, op_id, kind, measured, t0, t1, t2, has_action, drv0,
                job0, jvm0) -> None:
        rec = {"id": op_id, "kind": kind, "start": t0, "latency_s": t2 - t0,
               "measured": measured}
        if self.trace:
            self._current = None
            rec["driver_cpu_s"] = time.process_time() - drv0
            rec.update(self._spark_counts(
                job0, self._jsc.dagScheduler().numTotalJobs()))
            jvm1 = self._jvm_counters()
            rec.update({f"jvm_{k}": jvm1[k] - jvm0[k] for k in jvm0})
            self.spans.append({"op": op_id, "span": "op", "name": kind,
                               "parent": None, "start": t0, "end": t2})
            t1 = t2 if t1 is None else t1
            self.spans.append({"op": op_id, "span": "call", "parent": "op",
                               "start": t0, "end": t1})
            if has_action:
                self.spans.append({"op": op_id, "span": "action",
                                   "parent": "op", "start": t1, "end": t2})
        self.ops.append(rec)

    def self_times(self) -> dict:
        """Per op kind, the median self time of each span name: a span's
        duration minus the part its children cover."""
        by_op: dict[int, list[dict]] = {}
        for s in self.spans:
            by_op.setdefault(s["op"], []).append(s)
        kinds = {o["id"]: o["kind"] for o in self.ops}
        acc: dict[str, list[float]] = {}
        for op_id, spans in by_op.items():
            for s in spans:
                name = s["span"]
                children = [c for c in spans if c.get("parent") == name
                            and c is not s]
                covered = sum(c["end"] - c["start"] for c in children)
                acc.setdefault(f"{kinds.get(op_id)}.{name}", []).append(
                    (s["end"] - s["start"]) - covered)
        return {k: median(v) for k, v in sorted(acc.items())}

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": self.spans,
                       "self_time_s": self.self_times()}, f)


def dir_files(root: str) -> dict:
    """{path: (size, mtime_ns, inode)} of every regular file under root."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files that are new or rewritten in ``after``."""
    b = f = 0
    for p, v in after.items():
        if before.get(p) != v:
            b += v[0]
            f += 1
    return b, f


def tree_bytes(root: str) -> int:
    return sum(v[0] for v in dir_files(root).values())
