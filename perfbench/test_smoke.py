#!/usr/bin/env python3
"""The benchmark's own tests: every workload at its smoke size, untraced and
traced, must pass its output checks and print every declared metric with
its unit. Run from the repository root: python3 perfbench/test_smoke.py
"""
import json
import subprocess
import sys

WORKLOADS = ("crawl-revisit", "query-battery", "crawl-fresh")


def main():
    bench = json.load(open("BENCHMARK.json"))
    failures = []
    for workload in WORKLOADS:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
                   "--seconds", "5", "--trace", trace, "--smoke"]
            r = subprocess.run(cmd, capture_output=True, text=True)
            name = f"{workload} trace={trace}"
            if r.returncode != 0:
                failures.append(f"{name}: exit {r.returncode}: {r.stderr[-500:]}")
                continue
            out = json.loads(r.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if not out["correct"] or out["failed"] != 0 or out["attempted"] < 1:
                failures.append(f"{name}: checks failed: {out['attempted']} attempted, {out['failed']} failed")
            if got != want:
                failures.append(f"{name}: metrics differ from BENCHMARK.json {key}")
            print(f"ok  {name}" if not failures or not failures[-1].startswith(name) else f"FAIL {name}")
    for f in failures:
        print(f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
