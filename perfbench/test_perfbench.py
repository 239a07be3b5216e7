"""The benchmark's own test.

    python3 -m pytest perfbench/test_perfbench.py -q      # about 5 minutes

- two traced runs of one seed give identical ``spark.<op>.*`` job, stage
  and task counts and identical input digests, with every answer correct;
- the generator's digest depends on the seed alone;
- in a directory holding only the benchmark, a run exits non-zero and
  prints no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench_work", "test")
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "3", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    record = json.loads(lines[-2].split(" ", 1)[1])
    return record, json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["s3_api", "ingest"])
def test_traced_runs_repeat_spark_counts(workload):
    rec1, res1 = _result(_run(workload, 7, 1))
    rec2, res2 = _result(_run(workload, 7, 1))
    assert rec1["input_digest"] == rec2["input_digest"]
    assert res1["correct"] and res2["correct"]

    def counts(res):
        return {k: v["value"] for k, v in res["metrics"].items()
                if k.startswith("spark.")}

    assert counts(res1) == counts(res2)
    assert sum(counts(res1).values()) > 0


def test_digest_depends_only_on_seed():
    out = os.path.join(SCRATCH, "gen")
    try:
        a = gen.generate_s3(3, f"{out}/a")[0]["digest"]
        assert a == gen.generate_s3(3, f"{out}/b")[0]["digest"]
        assert a != gen.generate_s3(4, f"{out}/c")[0]["digest"]
        i = gen.generate_ingest(3, f"{out}/d")[0]["digest"]
        assert i == gen.generate_ingest(3, f"{out}/e")[0]["digest"]
        assert i != gen.generate_ingest(4, f"{out}/f")[0]["digest"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_bare_directory_fails_without_result():
    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = _run("s3_api", 1, 0, cwd=bare)
        assert p.returncode != 0
        assert p.stdout.strip() == ""
    finally:
        shutil.rmtree(bare, ignore_errors=True)
