"""Full-registry oracle drive with per-query wall-time (VERDICT r09 #8).

Mirrors the round-driver's correctness gate over the ENTIRE registry (the
driver itself samples a 50-name prefix): fresh plain SparkSession (NOT the
repo's get_spark — the driver won't use it either), run every queries()
entry at the given SF, compare against oracle_sql() via DuckDB
(sorted-column schema, row count, order-insensitive value rows with floats
canonicalized to round(v, 9)), and record per-query seconds so a
correctness-run perf regression (e.g. an oracle CTE blow-up like r06's
q100 O(L^2) inlining) surfaces without a separate bench.

Usage:
    python tools/full_drive.py [sf_dir] [out.json] [name ...]
Defaults: /root/testdata/sf0.01, /tmp/full_drive.json, all queries.
Output: one JSON object {name: {rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err, spark_sec, oracle_sec}} plus a _meta entry.

Cross-round perf tripwire (VERDICT r10 #4): when a full (un-filtered) run
completes, the newest committed FULLDRIVE_r*.json at the repo root whose
sf_dir matches is diffed per-query; any query whose spark_sec grew >3x
(and is slow enough to be signal, >= 1s) lands in _meta["regressions"]
with its owning plan module and a code_changed bit (git-diff of that
module against the baseline artifact's commit) — so "slower because the
code changed" and "slower for no code reason" (noise or environment) are
told apart mechanically instead of by judge archaeology.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _git(repo: str, *args: str) -> str:
    import subprocess

    try:
        return subprocess.run(
            ["git", "-C", repo, *args],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip()
    except Exception:  # noqa: BLE001 — tripwire is best-effort
        return ""


def _find_baseline(repo: str, sf_dir: str, out_path: str) -> tuple[str, dict] | None:
    """Newest committed FULLDRIVE_r*.json at the repo root with the same
    sf_dir (a sf0.01 run must not be compared against a sf0.1 artifact)."""
    import glob
    import re

    best: tuple[int, str, dict] | None = None
    for p in glob.glob(os.path.join(repo, "FULLDRIVE_r*.json")):
        if os.path.abspath(p) == os.path.abspath(out_path):
            continue
        m = re.search(r"FULLDRIVE_r(\d+)\.json$", p)
        if not m:
            continue
        try:
            with open(p) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if data.get("_meta", {}).get("sf_dir") != sf_dir:
            continue
        rnd = int(m.group(1))
        if best is None or rnd > best[0]:
            best = (rnd, p, data)
    return (best[1], best[2]) if best else None


def _fn_source(text: str, fn_name: str) -> str | None:
    """The source span of the top-level function named fn_name (decorators
    included) inside a module's text, or None if parsing/lookup fails."""
    import ast

    try:
        tree = ast.parse(text)
    except SyntaxError:
        return None
    lines = text.splitlines()
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == fn_name:
            start = min(
                [d.lineno for d in node.decorator_list] + [node.lineno]
            )
            return "\n".join(lines[start - 1 : node.end_lineno])
    return None


def _path_changed(repo: str, base_commit: str, path: str) -> bool:
    """Whether ``path`` differs from ``base_commit`` in HEAD or the work tree."""
    diff = _git(repo, "diff", "--name-only", f"{base_commit}..HEAD", "--", path)
    return bool(diff or _git(repo, "status", "--porcelain", "--", path))


def _engine_modules(fn) -> list[str]:
    """Repo-relative paths of the engine modules the callable's module
    imports: the module objects in ``fn.__globals__`` plus the defining
    module of every imported function or class."""
    import inspect

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = set()
    for v in getattr(fn, "__globals__", {}).values():
        name = v.__name__ if inspect.ismodule(v) else getattr(v, "__module__", None)
        if not (isinstance(name, str) and name.startswith("aws_data_engineering_spark")):
            continue
        path = getattr(sys.modules.get(name), "__file__", None)
        if path:
            paths.add(os.path.relpath(path, root))
    return sorted(paths)


def _perf_regressions(
    repo: str, sf_dir: str, out_path: str, results: dict, qs: dict
) -> dict:
    """Diff per-query spark_sec against the prior round's artifact; flag
    >3x deltas (current >= 1s — sub-second jitter is not signal) with the
    owning plan module and whether the code changed since the baseline
    artifact's commit — at FUNCTION granularity when the registered
    callable's source span can be extracted from both versions (VERDICT
    r11 #4: the module-level bit cried wolf on queries whose module merely
    contained an unrelated hunk), falling back to the module-level diff
    otherwise. A function-level "unchanged" can still hide an edit to a
    shared helper, so the engine modules the callable's module imports are
    diffed too and count toward code_changed."""
    base = _find_baseline(repo, sf_dir, out_path)
    if base is None:
        return {"baseline": None, "items": []}
    base_path, base_data = base
    # the baseline's code state: its recorded commit if stamped, else the
    # commit that added the artifact file itself
    base_commit = base_data.get("_meta", {}).get("commit") or _git(
        repo, "log", "-n1", "--format=%H", "--", os.path.basename(base_path)
    )
    items = []
    for name, row in results.items():
        if name.startswith("_"):
            continue
        cur = row.get("spark_sec")
        prev = (base_data.get(name) or {}).get("spark_sec")
        if not cur or not prev or cur < 1.0 or cur <= 3.0 * prev:
            continue
        fn = qs.get(name)
        mod = getattr(fn, "__module__", "") or ""
        mod_path = mod.replace(".", "/") + ".py" if mod else ""
        changed = None
        fn_changed = None
        granularity = None
        imports_changed: list[str] = []
        if base_commit and mod_path:
            changed = _path_changed(repo, base_commit, mod_path)
            imports_changed = [
                p for p in _engine_modules(fn)
                if p != mod_path and _path_changed(repo, base_commit, p)
            ]
            if changed:
                # function-level attribution: compare the registered
                # callable's source span (working tree, so dirty state
                # counts) against the baseline commit's version
                fn_name = getattr(fn, "__name__", "")
                base_text = _git(repo, "show", f"{base_commit}:{mod_path}")
                try:
                    with open(os.path.join(repo, mod_path)) as fh:
                        cur_text = fh.read()
                except OSError:
                    cur_text = ""
                if fn_name and base_text and cur_text:
                    a = _fn_source(base_text, fn_name)
                    b = _fn_source(cur_text, fn_name)
                    if a is not None and b is not None:
                        fn_changed = a != b
                        granularity = "function"
            else:
                fn_changed = False
                granularity = "function"
        items.append(
            {
                "name": name,
                "prev_sec": prev,
                "cur_sec": cur,
                "ratio": round(cur / prev, 2),
                "module": mod_path,
                # headline bit: function-granularity when extractable,
                # else the module-granularity answer; an edited imported
                # engine module counts either way
                "code_changed": (fn_changed if fn_changed is not None else changed)
                or bool(imports_changed),
                "module_changed": changed,
                "imports_changed": imports_changed,
                "attribution": granularity or "module",
            }
        )
    items.sort(key=lambda i: -i["ratio"])
    return {
        "baseline": os.path.basename(base_path),
        "baseline_commit": base_commit or None,
        "items": items,
    }


def _canon_rows(rows: list[dict], cols: list[str]) -> list[tuple]:
    out = []
    for r in rows:
        out.append(
            tuple(
                round(v, 9) if isinstance(v, float) else v
                for v in (r[c] for c in cols)
            )
        )
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/full_drive.json"
    only = set(sys.argv[3:])

    from aws_data_engineering_spark.compat import ensure_protobuf

    ensure_protobuf()

    import duckdb
    from pyspark.sql import SparkSession

    from aws_data_engineering_spark.session import driver_memory

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    results: dict[str, dict] = {}
    t_start = time.time()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        row: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
            "spark_sec": None,
            "oracle_sec": None,
        }
        try:
            t0 = time.time()
            df = fn(spark, sf_dir)
            cols = sorted(df.columns)
            srows = [{c: r[c] for c in cols} for r in df.collect()]
            row["spark_sec"] = round(time.time() - t0, 3)
            row["spark_rows"] = len(srows)
            if name not in oracles:
                row["err"] = "no_oracle"
            else:
                t1 = time.time()
                ores = con.sql(oracles[name])
                ocols = sorted(ores.columns)
                orows = [dict(zip(ores.columns, r)) for r in ores.fetchall()]
                row["oracle_sec"] = round(time.time() - t1, 3)
                row["oracle_rows"] = len(orows)
                row["rows_match"] = len(srows) == len(orows)
                row["schema_match"] = cols == ocols
                if row["schema_match"]:
                    row["hash_match"] = _canon_rows(srows, cols) == _canon_rows(
                        [{c: r[c] for c in cols} for r in orows], cols
                    )
                else:
                    row["hash_match"] = False
        except Exception as e:  # noqa: BLE001 — record, keep driving
            row["err"] = f"{type(e).__name__}: {e}"[:500]
        green = (
            row["err"] == "no_oracle"
            and row["spark_rows"] is not None
            or row["err"] is None
            and row["hash_match"]
        )
        if not green:
            n_fail += 1
        print(
            f"{name}: {'OK' if green else 'FAIL'} "
            f"rows={row['spark_rows']} sec={row['spark_sec']}"
            + ("" if green else f" err={row['err']}"),
            flush=True,
        )
        results[name] = row
        spark.catalog.clearCache()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    results["_meta"] = {
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "n_fail": n_fail,
        "total_sec": round(time.time() - t_start, 1),
        "commit": _git(repo, "rev-parse", "HEAD") or None,
    }
    # perf tripwire only on full runs — a filtered rerun's timings carry
    # different session-warmup context and would false-flag
    if not only:
        results["_meta"]["regressions"] = _perf_regressions(
            repo, sf_dir, out_path, results, qs
        )
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {out_path}: {len(results) - 1} queries, {n_fail} failures")
    reg = results["_meta"].get("regressions")
    if reg and reg["items"]:
        print(f"PERF TRIPWIRE vs {reg['baseline']}:")
        for it in reg["items"]:
            print(
                f"  {it['name']}: {it['prev_sec']}s -> {it['cur_sec']}s "
                f"({it['ratio']}x) code_changed={it['code_changed']} "
                f"[{it['module']}]"
            )
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
