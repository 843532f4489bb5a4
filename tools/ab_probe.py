"""Interleaved A/B harness for optimization probes (r11 lesson: on this VM
sequential A/B pairs lie — burst-credit drift orders them; only interleaved
runs are admissible evidence).

Two modes, both alternating subprocess runs between two trees (arm A = a
checkout of the baseline commit, arm B = the working tree):

- bench mode: `bench.py name ...`, several reps each; prints each run's
  timings and codegen compile counts, then per-query min/median per arm
  plus the calibration series.
- perfbench mode: `perfbench/run.py --workload W --seed N --trace 0` once per
  seed and arm, swapping which arm runs first from one seed to the next;
  prints every run, then per end-to-end metric each arm's median and
  quartiles and the number of seeds B beat A on (direction from
  BENCHMARK.json).

Usage:
    python tools/ab_probe.py --a ../baseline --b . \
        --sf SF_DIR --reps 4 --n 2 name ...
    python tools/ab_probe.py --a ../baseline --b . \
        --perfbench etl_load --seeds 15 16 17 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_arm(tree: str, sf: str | None, n: int, names: list[str]) -> dict:
    sf_args = ["--sf", sf] if sf else []  # else bench.py's own default
    out = subprocess.run(
        [sys.executable, os.path.join(tree, "bench.py"),
         *sf_args, "--n", str(n), *names],
        capture_output=True, text=True, timeout=3600,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def bench_mode(a: str, b: str, sf: str | None, reps: int, n: int, names: list[str]) -> None:
    acc: dict[str, dict[str, list[float]]] = {"A": {}, "B": {}}
    cals: dict[str, list[float]] = {"A": [], "B": []}
    for rep in range(reps):
        for arm, tree in (("A", a), ("B", b)):
            r = run_arm(tree, sf, n, names)
            cals[arm].append(r["cal"])
            for name, samples in r["timings"].items():
                acc[arm].setdefault(name, []).extend(samples)
            print(json.dumps({"rep": rep, "arm": arm, "cal": r["cal"],
                              "timings": r["timings"],
                              # absent in trees older than the count
                              "compiles": r.get("compiles")}), flush=True)
    summary = {}
    for name in names:
        sa, sb = sorted(acc["A"][name]), sorted(acc["B"][name])
        summary[name] = {
            "A_min": sa[0], "B_min": sb[0],
            "A_med": sa[len(sa) // 2], "B_med": sb[len(sb) // 2],
            "min_speedup_A_over_B": round(sa[0] / sb[0], 3),
        }
    print(json.dumps({"cals": cals, "summary": summary}, indent=1))


def run_perfbench(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One `perfbench/run.py --trace 0` run from ``tree``'s root; returns
    its result object (the last stdout line)."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True, timeout=3600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"perfbench failed in {tree}:\n{out.stderr[-4000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def perfbench_mode(a: str, b: str, workload: str, seeds: list[int], seconds: float) -> None:
    with open(os.path.join(b, "BENCHMARK.json")) as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}
    values: dict[str, dict[str, list[float]]] = {"A": {}, "B": {}}
    failed = {"A": 0, "B": 0}
    for k, seed in enumerate(seeds):
        order = (("A", a), ("B", b)) if k % 2 == 0 else (("B", b), ("A", a))
        for arm, tree in order:
            r = run_perfbench(tree, workload, seed, seconds)
            failed[arm] += r["failed"]
            metrics = {name: m["value"] for name, m in r["metrics"].items()}
            for name, v in metrics.items():
                values[arm].setdefault(name, []).append(v)
            print(json.dumps({"seed": seed, "arm": arm, "failed": r["failed"],
                              "attempted": r["attempted"], "metrics": metrics}), flush=True)
    summary = {}
    for name, direction in better.items():
        va, vb = values["A"][name], values["B"][name]
        wins = sum(
            (y < x) if direction == "lower" else (y > x) for x, y in zip(va, vb)
        )
        summary[name] = {
            **{f"{arm}_{q}": round(v, 3) for arm, vs in (("A", va), ("B", vb))
               for q, v in zip(("q1", "median", "q3"), quartiles(vs))},
            "B_over_A_median": round(statistics.median(vb) / statistics.median(va), 3),
            "B_wins": f"{wins}/{len(seeds)}",
        }
    print(json.dumps({"workload": workload, "seeds": seeds, "failed": failed,
                      "summary": summary}, indent=1))


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3
    return statistics.quantiles(values, n=4, method="inclusive")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="baseline tree")
    ap.add_argument("--b", required=True, help="changed tree")
    ap.add_argument("--sf", help="scale-factor directory (default: bench.py's)")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--perfbench", metavar="WORKLOAD")
    ap.add_argument("--seeds", type=int, nargs="+")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.perfbench:
        if not args.seeds:
            ap.error("--perfbench needs --seeds")
        perfbench_mode(args.a, args.b, args.perfbench, args.seeds, args.seconds)
    else:
        bench_mode(args.a, args.b, args.sf, args.reps, args.n, args.names)


if __name__ == "__main__":
    main()
