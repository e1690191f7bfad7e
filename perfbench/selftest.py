"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json`` it checks that an untraced run
prints every end-to-end metric and a traced run every per-layer metric,
each with its declared unit, and that the outputs check as correct; that
a run whose outputs are corrupted (one row dropped; in the upload, one
record sent in place of another, which keeps the count) reports every job
as failed, the swapped upload record included; and that in a directory holding only ``BENCHMARK.json`` and the
benchmark's own files, the benchmark exits non-zero without a result.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.05"


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", SCALE, *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return proc, None


def expect(cond: bool, what: str, proc=None) -> None:
    if not cond:
        if proc is not None:
            sys.stderr.write(proc.stderr[-4000:])
        sys.exit(f"FAIL: {what}")
    print(f"ok: {what}", flush=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (w["name"] for w in bench["workloads"]):
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            proc, res = run(w, trace)
            expect(proc.returncode == 0 and res is not None, f"{w} trace={trace} exits 0", proc)
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace={trace} result keys", proc)
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace} outputs correct", proc)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            want = {m["name"]: m["unit"] for m in declared}
            expect(got == want, f"{w} trace={trace} prints every metric with its unit", proc)
        proc, res = run(w, 0, "--corrupt")
        expect(proc.returncode == 0 and res is not None and not res["correct"]
               and res["failed"] == res["attempted"] >= 1,
               f"{w} corrupted output is reported as failed", proc)
        if w == "contrib_upload":
            caught = ("uploaded records differ from pipe_snowflake_batch (digest) and "
                      "from the first job's upload")
            expect(proc.stderr.count(caught) == res["attempted"],
                   f"{w} a swapped upload record is caught on every job, against the "
                   "oracle and against the first job", proc)

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc, res = run(bench["workloads"][0]["name"], 0, cwd=bare)
    expect(proc.returncode != 0 and res is None,
           "without the program the benchmark fails without a result", proc)
    shutil.rmtree(bare)
    print("self-test passed")


if __name__ == "__main__":
    main()
