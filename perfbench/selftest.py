#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Runs every workload in ``BENCHMARK.json`` for its minimum of three timed
passes on the tiny inputs, untraced and traced, and checks that:

- every end-to-end (untraced) or per-layer (traced) metric named in
  ``BENCHMARK.json`` is printed with its unit, and the run is correct;
- a deliberately corrupted result makes the run fail with
  ``wrong_frac`` > 0;
- in a directory holding only ``BENCHMARK.json`` and the benchmark, the
  benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(args: list, cwd: str = ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args,
                        "--seed", "1", "--seconds", "1", "--scale", "tiny"],
                       cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (lines[-1] if lines else ""), p.stderr


def check_metrics(spec: list, result: dict, where: str) -> None:
    got = result["metrics"]
    for m in spec:
        assert m["name"] in got, f"{where}: {m['name']} not printed"
        assert got[m["name"]]["unit"] == m["unit"], \
            f"{where}: {m['name']} unit {got[m['name']]['unit']}"
        assert isinstance(got[m["name"]]["value"], (int, float)), where


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for wl in spec["workloads"]:
        for trace, metrics in (("0", spec["end_to_end"]),
                               ("1", spec["per_layer"])):
            where = f"{wl['name']} --trace {trace}"
            rc, last, err = bench(["--workload", wl["name"],
                                   "--trace", trace])
            assert rc == 0, f"{where}: exit {rc}\n{err[-2000:]}"
            result = json.loads(last)
            assert result["correct"] and result["failed"] == 0, where
            assert result["attempted"] >= 1, where
            check_metrics(metrics, result, where)
            print(f"ok  {where}", flush=True)

    wl = spec["workloads"][0]["name"]
    rc, last, err = bench(["--workload", wl, "--trace", "0", "--corrupt"])
    wrong = re.search(r"wrong_frac=([0-9.]+)", err)
    assert rc == 1 and not json.loads(last)["correct"], "corruption missed"
    assert wrong and float(wrong.group(1)) > 0, "wrong_frac not above 0"
    print(f"ok  {wl} --corrupt: wrong_frac={wrong.group(1)}", flush=True)

    bare = os.path.join(ROOT, ".bench_build", "perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, last, _ = bench(["--workload", wl, "--trace", "0"], cwd=bare)
        assert rc != 0 and not last, "bare checkout printed a result"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  bare checkout fails without a result", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
