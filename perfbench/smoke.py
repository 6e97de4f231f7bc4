#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at tiny size (the sf0.001
catalog tables, a few hundred generated docs), untraced and traced.

    python3 perfbench/smoke.py

Asserts that each run exits 0, that its output checks pass, and that it
prints every metric BENCHMARK.json names, with that metric's unit, as a
number (end-to-end metrics also non-zero). Exits non-zero on the first
violation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end numbers the detail line carries under the names the workload
# defines them for
DETAIL = {"er_natural": ["docs_per_s", "f1", "failed_frac"],
          "catalog": ["pinned_mb.peak", "failed_frac"]}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", w["name"], "--seed", "0", "--seconds", "1",
                   "--trace", str(trace), "--smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  text=True)
            assert proc.returncode == 0, f"{cmd}: exit {proc.returncode}"
            lines = proc.stdout.splitlines()
            result = json.loads(lines[-1])
            detail = json.loads(lines[-2][len("detail "):])
            where = f"{w['name']} trace={trace}"
            assert result["correct"] and result["failed"] == 0, \
                f"{where}: output checks failed: {detail.get('failures')}"
            assert result["attempted"] >= 1, where
            want = bench["per_layer" if trace else "end_to_end"]
            got = result["metrics"]
            assert set(got) == {m["name"] for m in want}, \
                f"{where}: metric names differ from BENCHMARK.json"
            for m in want:
                v = got[m["name"]]
                assert v["unit"] == m["unit"], f"{where}: {m['name']} unit"
                assert isinstance(v["value"], (int, float)), \
                    f"{where}: {m['name']} is not a number"
                if not trace:
                    assert v["value"] > 0, f"{where}: {m['name']} is 0"
            for name in DETAIL[w["name"]]:
                assert "unit" in detail.get(name, {}), \
                    f"{where}: detail line lacks {name}"
            print(f"ok {where}: {len(got)} metrics")


if __name__ == "__main__":
    main()
