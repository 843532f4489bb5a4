"""Interleaved A/B harness for optimization probes (r11 lesson: on this VM
sequential A/B pairs lie — burst-credit drift orders them; only interleaved
min-of-N with calibration is admissible evidence).

Alternates `bench.py name ...` subprocess runs between two trees (arm A = a
checkout of the baseline commit, arm B = the working tree), several reps
each, and reports per-query min/median per arm plus the calibration series.

Usage:
    python tools/ab_probe.py --a ../baseline --b . \
        --sf SF_DIR --reps 4 --n 2 name ...
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def run_arm(tree: str, sf: str, n: int, names: list[str]) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(tree, "bench.py"),
         "--sf", sf, "--n", str(n), *names],
        capture_output=True, text=True, timeout=3600,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    args = sys.argv[1:]
    opt = {"--a": None, "--b": None, "--sf": "/root/testdata/sf0.1",
           "--reps": "4", "--n": "2"}
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] in opt:
            opt[args[i]] = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1
    reps = int(opt["--reps"])
    n = int(opt["--n"])
    acc: dict[str, dict[str, list[float]]] = {"A": {}, "B": {}}
    cals: dict[str, list[float]] = {"A": [], "B": []}
    for rep in range(reps):
        for arm, tree in (("A", opt["--a"]), ("B", opt["--b"])):
            r = run_arm(tree, opt["--sf"], n, names)
            cals[arm].append(r["cal"])
            for name, samples in r["timings"].items():
                acc[arm].setdefault(name, []).extend(samples)
            print(json.dumps({"rep": rep, "arm": arm, "cal": r["cal"],
                              "timings": r["timings"]}), flush=True)
    summary = {}
    for name in names:
        a, b = sorted(acc["A"][name]), sorted(acc["B"][name])
        summary[name] = {
            "A_min": a[0], "B_min": b[0],
            "A_med": a[len(a) // 2], "B_med": b[len(b) // 2],
            "min_speedup_A_over_B": round(a[0] / b[0], 3),
        }
    print(json.dumps({"cals": cals, "summary": summary}, indent=1))


if __name__ == "__main__":
    main()
