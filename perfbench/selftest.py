"""Fast self-test of the benchmark on the 0.001-scale lake.

    python3 perfbench/selftest.py

Checks that the request generator and the lake are deterministic per seed,
that runs print every metric of ``BENCHMARK.json`` by name with its unit,
and that a deliberately corrupted artifact lowers ``ok_ratio``. Takes about
three minutes (three short runs, each starting its own JVM).
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen, workloads  # noqa: E402


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--scale", "tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    check(out.returncode == 0, f"{' '.join(cmd[2:])} exits 0")
    return json.loads(out.stdout.strip().splitlines()[-1])


def units(result: dict) -> dict[str, str]:
    return {name: m["unit"] for name, m in result["metrics"].items()}


def main() -> None:
    resources = datagen.resource_ids("tiny")
    check(workloads.xes_selective(3, resources, 50) == workloads.xes_selective(3, resources, 50),
          "xes_selective requests repeat for a seed")
    check(workloads.xes_selective(3, resources, 50) != workloads.xes_selective(4, resources, 50),
          "xes_selective requests differ between seeds")
    check(workloads.lake_pass(3, 1) == workloads.lake_pass(3, 1), "lake_batch order repeats for a seed")
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        a, b = os.path.join(tmp, "a"), os.path.join(tmp, "b")
        datagen.generate(a, "tiny")
        datagen.generate(b, "tiny")
        names = sorted(os.listdir(a))
        check(filecmp.cmpfiles(a, b, names, shallow=False)[0] == names, "the lake is byte-identical")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}

    corrupt = run("xes_selective", 0, "--corrupt")
    check(units(corrupt) == e2e, "--trace 0 prints every end-to-end metric with its unit")
    check(corrupt["metrics"]["ok_ratio"]["value"] < 1.0 and not corrupt["correct"],
          "a corrupted artifact lowers ok_ratio")
    for workload in ("xes_selective", "lake_batch"):
        traced = run(workload, 1)
        check(units(traced) == layers, f"{workload} --trace 1 prints every per-layer metric with its unit")
        check(traced["correct"] and traced["failed"] == 0, f"{workload} outputs pass their checks")


if __name__ == "__main__":
    main()
