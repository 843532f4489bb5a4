"""Self-tests of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

They check that every workload emits exactly the metrics BENCHMARK.json
declares, traced and untraced, that a corrupted output is counted as a
failure, and that inputs depend on the seed and on nothing else.
"""

from __future__ import annotations

import contextlib
import filecmp
import json
import shutil
from pathlib import Path

import pytest

import datagen
import run as bench

TINY = {
    "queries": {"sf": 0.001},
    "etl_load": {"days": 2, "rows_per_day": 300},
}
# the output the check is made to see altered in the corrupted runs
CORRUPT = {
    name: w["groups"][0]["ops"][0] if w["kind"] == "queries" else "upsert"
    for name, w in bench.SPEC["workloads"].items()
}


@pytest.fixture(scope="module", autouse=True)
def jvm():
    yield
    bench.stop_jvm()
    shutil.rmtree(bench.scratch_root(), ignore_errors=True)
    with contextlib.suppress(OSError):
        bench.scratch_root().parent.rmdir()


def declared(kind: str) -> set[str]:
    return {m["name"] for m in bench.BENCH[kind]}


@pytest.mark.parametrize("workload", sorted(TINY))
def test_untraced_run_reports_end_to_end_metrics_and_counts_a_corrupted_output(workload):
    res = bench.run(workload, 3, 0.1, False, data=TINY[workload], corrupt=CORRUPT[workload])
    assert set(res["metrics"]) == declared("end_to_end")
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert res["failed"] == 1 and not res["correct"]
    json.dumps(res)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_traced_run_reports_per_layer_metrics(workload):
    res = bench.run(workload, 3, 0.1, True, data=TINY[workload])
    assert set(res["metrics"]) == declared("per_layer")
    assert res["failed"] == 0 and res["correct"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    if workload == "etl_load":
        assert m["pipeline.upsert_s"] > 0 and m["sources.writers.written_bytes_per_input_byte"] > 0
    else:
        assert m["streaming.batches"] > 0 and m["streaming.input_rows"] > 0
        assert m["operators.python_worker_s"] > 0 and m["operators.arrow_mb"] > 0
        for group in bench.SPEC["workloads"][workload]["groups"]:
            assert all(m[f"plans.{op}_s"] > 0 for op in group["ops"])


def _same_tree(a: Path, b: Path) -> bool:
    files = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
    return files == sorted(p.relative_to(b) for p in b.rglob("*") if p.is_file()) and all(
        filecmp.cmp(a / f, b / f, shallow=False) for f in files
    )


def test_inputs_depend_only_on_the_seed(tmp_path):
    for seed, name in ((7, "a"), (7, "b"), (8, "c")):
        datagen.make_tables(str(tmp_path / name / "tables"), seed, 0.001)
        datagen.make_inbound(str(tmp_path / name / "inbound"), seed, 2, 300)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    for sub in ("tables/lineitem.parquet", "inbound/daily/orders_20240301.csv"):
        assert not filecmp.cmp(tmp_path / "a" / sub, tmp_path / "c" / sub, shallow=False)
