"""Interleaved A/B harness for optimization probes (r11 lesson: on this VM
sequential A/B pairs lie — burst-credit drift orders them; only interleaved
runs are admissible evidence).

Two modes, both alternating subprocess runs between two trees (arm A = a
checkout of the baseline commit, arm B = the working tree) and swapping
which arm runs first from one rep or seed to the next:

- bench mode: `bench.py name ...` once per rep and arm; prints each run's
  timings and codegen compile counts, then per query each arm's quartiles
  and the B/A median ratio, plus the calibration series. A run's first
  sample of a query is cold (it pays the query's first Python-worker start
  and codegen), so with `--n` >= 2 the quartiles pool the warm repeats only
  and the first samples print as their own series (`first_A`, `first_B`).
- perfbench mode: `perfbench/run.py --workload W --seed N --trace 0` once per
  seed and arm; prints every run, then per end-to-end metric each arm's
  quartiles, the B/A median ratio, the number of seeds B beat A on
  (direction from BENCHMARK.json) and whether that shows a gain: B wins
  at least 9/10 of the seeds and the medians differ by more than A's
  q3 - q1.

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
    runs: dict[str, list[dict[str, list[float]]]] = {"A": [], "B": []}
    cals: dict[str, list[float]] = {"A": [], "B": []}
    for rep in range(reps):
        for arm, tree in arm_order(rep, a, b):
            r = run_arm(tree, sf, n, names)
            cals[arm].append(r["cal"])
            runs[arm].append(r["timings"])
            print(json.dumps({"rep": rep, "arm": arm, "cal": r["cal"],
                              "timings": r["timings"],
                              # absent in trees older than the count
                              "compiles": r.get("compiles")}), flush=True)
    print(json.dumps({"cals": cals, "summary": summarize(runs, names, n)}, indent=1))


def summarize(runs: dict[str, list[dict[str, list[float]]]], names: list[str],
              n: int) -> dict:
    """Per query, each arm's quartiles and B/A median ratio over its runs'
    samples (``runs[arm]`` = one ``{name: [sec, ...]}`` per run). With
    ``n`` >= 2 samples a run, the cold first samples are left out of the
    quartiles and reported as the ``first_A``/``first_B`` series."""
    summary = {}
    for name in names:
        per_run = {arm: [t[name] for t in runs[arm]] for arm in ("A", "B")}
        skip = 1 if n >= 2 else 0
        pooled = {arm: [x for s in samples for x in s[skip:]]
                  for arm, samples in per_run.items()}
        summary[name] = compare(pooled["A"], pooled["B"])
        if skip:
            summary[name].update({f"first_{arm}": [s[0] for s in samples]
                                  for arm, samples in per_run.items()})
    return summary


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
        for arm, tree in arm_order(k, a, b):
            r = run_perfbench(tree, workload, seed, seconds)
            failed[arm] += r["failed"]
            metrics = {name: m["value"] for name, m in r["metrics"].items()}
            for name, v in metrics.items():
                values[arm].setdefault(name, []).append(v)
            print(json.dumps({"seed": seed, "arm": arm, "failed": r["failed"],
                              "attempted": r["attempted"], "metrics": metrics}), flush=True)
    summary = {
        name: metric_summary(values["A"][name], values["B"][name], direction)
        for name, direction in better.items()
    }
    print(json.dumps({"workload": workload, "seeds": seeds, "failed": failed,
                      "summary": summary}, indent=1))


def metric_summary(va: list[float], vb: list[float], direction: str) -> dict:
    """One end-to-end metric over paired runs (``va[k]``, ``vb[k]`` share a
    seed): :func:`compare`, the pairs B beat A on (ties count for neither)
    and ``gain_shown``: B won at least 9 of every 10 pairs and the medians
    differ, in the metric's better direction, by more than A's q3 - q1."""
    sign = 1 if direction == "lower" else -1
    wins = sum(sign * (x - y) > 0 for x, y in zip(va, vb))
    q1, _, q3 = quartiles(va)
    gap = sign * (statistics.median(va) - statistics.median(vb))
    return {
        **compare(va, vb),
        "B_wins": f"{wins}/{len(va)}",
        "gain_shown": 10 * wins >= 9 * len(va) and gap > q3 - q1,
    }


def arm_order(k: int, a: str, b: str) -> tuple[tuple[str, str], ...]:
    """Run order for rep or seed ``k``: A first on even k, B first on odd,
    so neither arm always gets the warmer (or more throttled) slot."""
    return (("A", a), ("B", b)) if k % 2 == 0 else (("B", b), ("A", a))


def compare(va: list[float], vb: list[float]) -> dict:
    """Each arm's q1/median/q3 and the B/A median ratio."""
    return {
        **{f"{arm}_{q}": round(v, 3) for arm, vs in (("A", va), ("B", vb))
           for q, v in zip(("q1", "median", "q3"), quartiles(vs))},
        "B_over_A_median": round(statistics.median(vb) / statistics.median(va), 3),
    }


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
