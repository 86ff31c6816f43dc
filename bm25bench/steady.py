"""Steadiness of the benchmark's end-to-end metrics.

    python3 bm25bench/steady.py --runs 10 --sets 2 --out bm25bench/STEADINESS.md

Run from the repository root. For each set and workload, runs the
benchmark ``--runs`` times, each with another seed (set s, run i uses
seed ``first_seed + s * runs + i``), one process at a time. For every
end-to-end metric it prints the median, quartiles, min/max and the
spread (interquartile distance over the median) next to the metric's
bound in BENCHMARK.json, and, with two sets or more, how far each set's
median moved from the first set's. The bounds count as supported when
every spread, ``setup_s``'s too, stays below a third of its bound and
no set median is worse than the first set's by more than the bound;
the exit code is 1 otherwise, or when a run did not print one of the
metrics, and the report names each breach.

``--raw FILE`` keeps every run's result (rewritten after each run);
``--report FILE...`` prints the report from such files without running.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("bm25bench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} failed ({p.returncode}):\n"
                           f"{p.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["context"] = json.loads(lines[-2])["context"]
    out["process_s"] = time.monotonic() - t0
    return out


def summary(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "min": min(values), "max": max(values),
            "spread": (q3 - q1) / statistics.median(values)}


def worse_by(metric: dict, first: float, later: float) -> float:
    """Share by which ``later`` is worse than ``first`` (negative:
    better)."""
    d = (later - first) / first
    return d if metric["better"] == "lower" else -d


def report(bench: dict, records: dict) -> tuple[str, bool]:
    """Markdown tables per workload and set, then a list of every spread
    or set median that breaks its rule; False if there is one."""
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    lines, breaches = [], []
    for wl, sets in records.items():
        lines.append(f"\n### {wl}\n")
        lines.append("| set | metric | unit | median | q1 | q3 | min | max "
                     "| spread | bound | spread/bound | median moved |")
        lines.append("|---|---|---|---|---|---|---|---|---|---|---|---|")
        first = {}
        for s, runs in enumerate(sets):
            for name in sorted(e2e):
                lacking = sum(1 for r in runs if name not in r["metrics"])
                if lacking:
                    breaches.append(f"{wl} set {s} {name}: missing from "
                                    f"{lacking} runs")
                vals = [r["metrics"][name]["value"] for r in runs
                        if name in r["metrics"]]
                m = e2e[name]
                if len(vals) < 4:
                    continue
                st = summary(vals)
                first.setdefault(name, st["median"])
                moved = worse_by(m, first[name], st["median"])
                flag = ""
                if st["spread"] >= m["bound"] / 3:
                    flag = " (!)"
                    breaches.append(f"{wl} set {s} {name}: spread "
                                    f"{st['spread']:.3f} >= a third of "
                                    f"its bound {m['bound']}")
                if moved > m["bound"]:
                    flag = " (!)"
                    breaches.append(f"{wl} set {s} {name}: median "
                                    f"{moved:+.3f} worse than set 0's, "
                                    f"bound {m['bound']}")
                lines.append(
                    f"| {s} | {name} | {m['unit']} | {st['median']:.4g} "
                    f"| {st['q1']:.4g} | {st['q3']:.4g} | {st['min']:.4g} "
                    f"| {st['max']:.4g} | {st['spread']:.3f} | {m['bound']} "
                    f"| {st['spread'] / m['bound']:.2f}{flag} "
                    f"| {moved:+.3f} |")
        walls = [r["process_s"] for runs in sets for r in runs]
        bad = sum(1 for runs in sets for r in runs
                  if not r["correct"] or r["failed"])
        steal = [r["context"]["host_load"]["steal"] for runs in sets
                 for r in runs]
        lines.append(f"\n{sum(len(x) for x in sets)} runs, process wall "
                     f"median {statistics.median(walls):.1f}s, max "
                     f"{max(walls):.1f}s; runs not correct or with failed "
                     f"ops: {bad}. CPU share the hypervisor stole during "
                     f"each run's timed ops, in run order: "
                     + ", ".join(f"{x:.3f}" for x in steal))
        if bad:
            breaches.append(f"{wl}: {bad} runs not correct or with "
                            f"failed ops")
    lines.append(f"\n### Breaches: {len(breaches)}\n")
    lines += [f"- {b}" for b in breaches]
    return "\n".join(lines), not breaches


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--out", help="write the markdown report here")
    p.add_argument("--raw", help="write every run's result line here")
    p.add_argument("--report", nargs="*", metavar="RAW",
                   help="only report, from earlier --raw files")
    a = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    wls = [w["name"] for w in bench["workloads"]]
    records = {w: [[] for _ in range(a.sets)] for w in wls}
    for path in a.report or ():
        with open(path) as f:
            records.update({w: v for w, v in json.load(f).items()
                            if w in wls})
    for s in range(0 if a.report else a.sets):
        for w in wls:
            for i in range(a.runs):
                seed = a.first_seed + s * a.runs + i
                r = run_once(w, seed, bench["run_seconds"], 0)
                records[w][s].append(r)
                if a.raw:
                    with open(a.raw, "w") as f:
                        json.dump(records, f)
                print(f"{w} set {s} seed {seed}: "
                      f"{r['process_s']:.1f}s correct={r['correct']} "
                      + " ".join(f"{k}={v['value']:.4g}"
                                 for k, v in r["metrics"].items()),
                      flush=True)
    text, ok = report(bench, records)
    print(text)
    if a.out:
        args = " ".join(argv or sys.argv[1:])
        with open(a.out, "w") as f:
            f.write(f"# Steadiness of the end-to-end metrics\n\n"
                    f"`python3 bm25bench/steady.py {args}`, "
                    f"{os.cpu_count()} cores, one run at a time.\n"
                    f"A `(!)` marks a spread at or above a third of its "
                    f"bound, or a set median worse than the first set's "
                    f"by more than the bound.\n{text}\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
