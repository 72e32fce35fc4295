"""Smoke test of the benchmark itself, on a tiny corpus.

    python3 perfbench/smoke.py

From the root of a checkout. It checks that

* every end-to-end metric of BENCHMARK.json is printed, with its unit, on
  both workloads, and every per-layer metric by the traced runs;
* the correctness gate passes on the real reference and trips when the
  reference digests are corrupted (the run still prints its result, and
  exits 1);
* the known-defect counts come out as they stand (arrow leaves its
  staging copy, sql leaves one persisted RDD);
* in a directory holding only BENCHMARK.json and perfbench/, the command
  exits non-zero without printing a result.

Takes about five minutes on 4 cores. Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CONVS = "40"


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=400)
    return p.returncode, p.stdout.strip().splitlines()


def result(workload: str, trace: int, *extra: str, rc_want: int = 0) -> dict:
    rc, out = bench("--workload", workload, "--seed", "7", "--seconds", "1",
                    "--trace", str(trace), "--convs", CONVS, *extra)
    check(rc == rc_want and out, f"{workload} trace={trace} exited {rc}")
    r = json.loads(out[-1])
    check(set(r) == {"correct", "attempted", "failed", "metrics"},
          f"result keys {sorted(r)}")
    return r


def check(ok: bool, what: str) -> None:
    if not ok:
        print(f"FAIL: {what}")
        sys.exit(1)
    print(f"ok: {what}")


def same_metrics(r: dict, declared: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: m["unit"] for k, m in r["metrics"].items()}
    check(got == want, f"{what}: every declared metric, with its unit")
    check(all(isinstance(m["value"], float) for m in r["metrics"].values()),
          f"{what}: values are numbers")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bm = json.load(f)
    for w in bm["workloads"]:
        r = result(w["name"], 0)
        same_metrics(r, bm["end_to_end"], f"{w['name']} untraced")
        check(r["correct"] and r["failed"] == 0 and r["attempted"] >= 2,
              f"{w['name']}: gate passes ({r['attempted']} jobs)")
        check(all(m["value"] > 0 for m in r["metrics"].values()),
              f"{w['name']}: end-to-end metrics are nonzero")

    r = result("batch_arrow", 0, "--corrupt-reference", rc_want=1)
    check(not r["correct"] and r["failed"] == r["attempted"],
          "a corrupted reference digest fails every job, and the run exits 1")

    layers = {}
    for w in bm["workloads"]:
        layers[w["name"]] = r = result(w["name"], 1)
        same_metrics(r, bm["per_layer"], f"{w['name']} traced")
        check(r["correct"], f"{w['name']} traced: gate passes")
    m = {w: {k: v["value"] for k, v in r["metrics"].items()}
         for w, r in layers.items()}
    check(m["batch_arrow"]["pipeline.staging_bytes_left"] > 0,
          "arrow run() leaves its staging copy (counted)")
    check(m["batch_sql"]["pipeline.persisted_rdds_after"] == 1,
          "sql run() leaves one persisted RDD (counted)")
    check(m["batch_arrow"]["streaming.docs_out"] > 0
          and m["batch_arrow"]["streaming.microbatches"] > 0,
          "the traced arrow run drains the stream")

    bare = os.path.join(HERE, "_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    rc, out = bench("--workload", "batch_arrow", "--seed", "1", "--seconds",
                    "1", "--trace", "0", cwd=bare)
    shutil.rmtree(bare)
    check(rc != 0 and not any(line.startswith("{") for line in out),
          "without the package: non-zero exit and no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
