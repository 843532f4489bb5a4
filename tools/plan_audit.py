"""Registry-wide physical-plan audit (optimization-round checklist).

For every registry query that can be planned WITHOUT side effects
(streaming queries and scoped-conf materializers execute work when the
plan function is called — those are listed with reason 'runs_work' and
audited by their committed plans/bench evidence instead), build the
DataFrame and record plan-shape facts the optimization guide says to
check (§1.1/§7.2): Exchange count, join strategies, Python boundary
nodes (BatchEvalPython/ArrowEvalPython/MapInPandas/FlatMapGroupsInPandas/
MapInArrow), whether every parquet scan has a pruned ReadSchema, and
whether PushedFilters is non-empty on filtered scans.

Usage: python tools/plan_audit.py [sf_dir] [out.tsv]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_data_engineering_spark.session import build_session_builder

# Queries whose plan FUNCTION executes jobs (streams, scoped-conf
# materializations, multi-step writes) — calling them just to read the
# final plan would run the whole query; they are measured by the bench /
# full drive and their plan evidence lives in plans/ snapshots.
RUNS_WORK_PREFIXES = ("st",)
RUNS_WORK = {
    "q104_aqe_skew_join",  # scoped-conf temp-parquet materialization
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/plan_audit.tsv"
    spark = build_session_builder(app_name="spark-graft-plan-audit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from aws_data_engineering_spark.plans.registry import queries

    rows = []
    for name, fn in queries().items():
        if name.startswith(RUNS_WORK_PREFIXES) or name in RUNS_WORK:
            rows.append((name, "runs_work", "", "", "", "", ""))
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            rows.append((name, f"error:{type(e).__name__}", "", "", "", "", ""))
            continue
        n_exch = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        joins = sorted(
            set(re.findall(r"^\(\d+\) (\w*Join\w*)", plan, re.M))
        )
        py_nodes = sorted(
            set(
                re.findall(
                    r"^\(\d+\) ((?:Batch|Arrow)EvalPython|MapInPandas|"
                    r"MapInArrow|FlatMapGroupsInPandas\w*|"
                    r"FlatMapCoGroupsInPandas|PythonMapInArrow)",
                    plan,
                    re.M,
                )
            )
        )
        scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        widest_scan = max((s.count(",") + 1 for s in scans if s), default=0)
        pushed = "y" if "PushedFilters: [" in plan and re.search(
            r"PushedFilters: \[[^\]]", plan
        ) else ""
        rows.append(
            (
                name,
                "ok",
                str(n_exch),
                "+".join(joins),
                "+".join(py_nodes),
                str(widest_scan),
                pushed,
            )
        )
        spark.catalog.clearCache()

    with open(out_path, "w") as f:
        f.write("name\tstatus\tn_exchange\tjoins\tpython_nodes\t"
                "widest_scan_cols\tpushed_filters\n")
        for r in rows:
            f.write("\t".join(r) + "\n")
    print(f"wrote {out_path}: {len(rows)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
