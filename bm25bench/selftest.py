"""Self-test of the benchmark.

    python3 bm25bench/selftest.py

Run from the repository root; takes about seven minutes on 4 cores.
For each workload it makes one untraced run and two traced runs with
the same seed, and checks that:

- every result line has exactly ``correct``, ``attempted``, ``failed``
  and ``metrics``, with ``correct`` true and no failed op;
- every workload prints exactly the metrics BENCHMARK.json names, each
  with its unit and a finite value: every end-to-end metric untraced,
  every per-layer metric traced;
- the two traced runs report identical Spark job and task counts, per
  op kind and per layer;

and that the benchmark fails, without a result line, in a directory
holding only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

from steady import run_once

COUNT_UNITS = ("count", "bytes")


def check_line(r: dict, names: dict, failures: list, tag: str) -> None:
    keys = set(r) - {"context", "process_s"}
    if keys != {"correct", "attempted", "failed", "metrics"}:
        failures.append(f"{tag}: result keys {sorted(keys)}")
    if r["correct"] is not True or r["failed"] != 0 or r["attempted"] < 1:
        failures.append(f"{tag}: correct={r['correct']} failed="
                        f"{r['failed']} wrong={r['context'].get('wrong')}")
    for k in sorted(set(names) - set(r["metrics"])):
        failures.append(f"{tag}: {k} not printed")
    for k, v in r["metrics"].items():
        if k not in names:
            failures.append(f"{tag}: {k} not in BENCHMARK.json")
        elif v["unit"] != names[k]:
            failures.append(f"{tag}: {k} unit {v['unit']} != {names[k]}")
        if not math.isfinite(v["value"]):
            failures.append(f"{tag}: {k} = {v['value']}")


def empty_dir_fails(root: str, failures: list) -> None:
    d = os.path.join(root, ".bm25bench_work", "selftest_bare")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), d)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(root, p), os.path.join(d, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    cmd = bench["command"] + ["--workload", bench["workloads"][0]["name"],
                              "--seed", "1", "--seconds",
                              str(bench["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=d, capture_output=True, text=True,
                       timeout=180)
    last = (p.stdout.strip().splitlines() or [""])[-1]
    if p.returncode == 0 or '"correct"' in last:
        failures.append(f"bare directory: exit {p.returncode}, last line "
                        f"{last!r}")
    shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    root = os.getcwd()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    failures: list = []
    empty_dir_fails(root, failures)
    for w in (x["name"] for x in bench["workloads"]):
        r = run_once(w, 7, bench["run_seconds"], 0)
        check_line(r, e2e, failures, f"{w} trace 0")
        t1, t2 = (run_once(w, 7, bench["run_seconds"], 1) for _ in (1, 2))
        for tag, t in (("trace 1 #1", t1), ("trace 1 #2", t2)):
            check_line(t, layers, failures, f"{w} {tag}")
        if t1["context"]["counts"] != t2["context"]["counts"]:
            failures.append(f"{w}: op counts differ between same-seed "
                            f"traced runs: {t1['context']['counts']} vs "
                            f"{t2['context']['counts']}")
        for k, v in t1["metrics"].items():
            if layers.get(k) in COUNT_UNITS and \
                    v != t2["metrics"].get(k):
                failures.append(f"{w}: {k} differs between same-seed "
                                f"traced runs: {v} vs {t2['metrics'].get(k)}")
        print(f"{w}: done ({r['process_s']:.0f}s, {t1['process_s']:.0f}s, "
              f"{t2['process_s']:.0f}s)", flush=True)
    for f in failures:
        print("FAIL", f)
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
