#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload on tiny inputs, untraced and
traced, must check out correct; the workloads BENCHMARK.json lists must
print exactly the metrics it names, and cli_pipeline's layer spans must
cover each job's wall time within 10%; a checkout holding only the
benchmark must be refused.

Usage (from the repository root):  python3 perfbench/smoke_test.py
Takes about five minutes on four cores.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join("perfbench", "run.py")] + args,
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    listed = [w["name"] for w in spec["workloads"]]
    for wl in listed + ["cli_pipeline"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(["--workload", wl, "--seed", "7", "--seconds", "1", "--trace", str(trace),
                     "--smoke"])
            name = f"{wl} --trace {trace}"
            if p.returncode != 0:
                failures.append(f"{name}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            r = json.loads(p.stdout.splitlines()[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if not (r["correct"] and r["failed"] == 0 and r["attempted"] >= 1):
                failures.append(f"{name}: outputs wrong: {r}")
            if wl not in listed:
                # cli_pipeline reports its own kinds; its layer spans must
                # cover each job's wall time within 10%
                cover = r["metrics"].get("trace.span_coverage_min", {"value": 1})["value"]
                if cover < 0.9:
                    failures.append(f"{name}: spans cover only {cover:.3f} of a job")
            elif got != want:
                failures.append(f"{name}: metrics differ: missing {sorted(set(want) - set(got))},"
                                f" extra {sorted(set(got) - set(want))}")
            print(f"ok {name}" if not failures or not failures[-1].startswith(name) else
                  f"FAIL {name}")
    with tempfile.TemporaryDirectory() as tmp:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(tmp, path),
                            ignore=shutil.ignore_patterns("target", "work"))
        p = run(["--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=tmp)
        if p.returncode == 0 or p.stdout.strip():
            failures.append("a checkout without graft's sources was not refused")
        else:
            print("ok refused without graft's sources")
    for f in failures:
        print(f"FAIL {f}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
