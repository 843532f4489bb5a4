"""Benchmark of the spark-graft engine.

Two workloads, each driven from this one process in a closed loop: one
client issues one operation at a time on ``local[<cores>]`` and waits for it
to finish before issuing the next. A pass runs every operation of the
workload once. Run from the repository root:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

The run generates its inputs from ``--seed`` under a scratch directory of
the repository (removed afterwards). Set-up (``setup_s``) is the session
build, JVM launch included, plus one untimed cold pass whose outputs are
then checked against DuckDB; then whole passes repeat for ``--seconds``
(at least three). ``pass_cpu_s`` is the median over the first three of
them of the CPU seconds the driver, the JVM and the Python workers spend on
one pass. It is the end-to-end pass metric rather than wall time because
shared virtual hosts steal CPU in bursts of a minute or more: on a 4-vCPU
VM a pass's wall time then swung by 20-45% between runs of the same code,
its CPU time by about a tenth. Only the first three passes count because
the JIT compiler is still working through the run, so each later pass costs
less CPU, and how many passes fit in ``--seconds`` depends on the host. The
wall time of a pass (the fastest one) is reported with the per-layer
metrics. The last stdout line is one JSON object; ``attempted`` and
``failed`` count operations, so ``failed / attempted`` is the failure
fraction. ``--trace 0`` reports the end-to-end metrics; ``--trace 1`` splits
the measuring time into untraced and traced passes and reports the
per-layer metrics (see tracing.py), including the tracing overhead.

The engine is driven only through its public functions:
``session.get_spark``, ``plans.registry.queries()`` / ``oracle_sql()``,
``pipeline.run_load`` and ``pipeline.TableConfig``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

import datagen
import oracle
import tracing

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((HERE / "spec.json").read_text())
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
ALL_OPS = [op for w in SPEC["workloads"].values() for g in w.get("groups", []) for op in g["ops"]]
# a group whose data is not seeded reads one fixed data set, so --seed
# changes only the order of its operations
FIXED_DATA_SEED = 0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def import_engine():
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    from aws_data_engineering_spark import pipeline, session
    from aws_data_engineering_spark.plans import registry

    return session, pipeline, registry


# --- host sizing -------------------------------------------------------------


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """A sixth of the memory this process may use, between 1 and 8 GiB."""
    with open("/proc/meminfo") as fh:
        total = next(int(line.split()[1]) // 1024 for line in fh if line.startswith("MemTotal:"))
    try:
        limit = Path("/sys/fs/cgroup/memory.max").read_text().strip()
        if limit != "max":
            total = min(total, int(limit) // 2**20)
    except OSError:
        pass
    return int(min(8192, max(1024, total // 6)))


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and every live process
    below it (the JVM, the Python workers), each with the children it has
    reaped."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process has exited
        pid = int(entry.name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def vmhwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        return next(int(line.split()[1]) / 1024 for line in fh if line.startswith("VmHWM:"))


def scratch_root() -> Path:
    """This process's scratch directory inside the checkout. Temp files,
    Spark local dirs and the JVM's tmpdir live here; the JVM fixes them at
    launch, so they are per process, not per run."""
    return ROOT / ".perfbench_runs" / f"p{os.getpid()}"


def prepare_process() -> dict[str, str]:
    """Point every temp location at the scratch root and return the session
    config shared by all sessions of this process."""
    root = scratch_root()
    tmp, local = root / "tmp", root / "local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    tempfile.tempdir = str(tmp)
    return {
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(root / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def stop_jvm() -> None:
    """Stop the Py4J gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- workloads ---------------------------------------------------------------


class Counts:
    """Operations attempted and failed. An operation fails when it raises or
    when the check finds its output wrong."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def attempt(self, what: str, fn) -> bool:
        self.attempted += 1
        try:
            fn()
            return True
        except Exception:
            self.fail(what, traceback.format_exc())
            return False

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        log(f"FAILED {what}:\n{why}")


class Queries:
    """A workload of registry queries in groups, each group over its own
    generated tables. One operation builds the query's DataFrame through its
    registered callable and runs it: into the noop sink, or, in the checked
    pass, into a collected digest."""

    def __init__(self, groups: list[tuple[dict, Path]], seed: int, registry):
        queries, oracles = registry.queries(), registry.oracle_sql()
        full = {name.split("_")[0]: name for name in queries}
        self.groups = [(list(g["ops"]), g["order"] == "seeded") for g, _ in groups]
        self.ops = [op for ops, _ in self.groups for op in ops]
        self.fns = {op: queries[full[op]] for op in self.ops}
        self.oracles = {op: oracles[full[op]] for op in self.ops}
        self.data = {op: str(d) for g, d in groups for op in g["ops"]}
        self.rng = random.Random(seed)
        self.input_bytes = sum(p.stat().st_size for _, d in groups for p in d.glob("*.parquet"))
        self.results: dict[str, tuple] = {}

    def run_pass(self, spark, tracer, counts: Counts, job_groups: bool = False, keep: bool = False) -> None:
        for ops, seeded_order in self.groups:
            ops = list(ops)
            if seeded_order:
                self.rng.shuffle(ops)
            for op in ops:
                counts.attempt(op, lambda: self._run_op(spark, tracer, op, job_groups, keep))

    def _run_op(self, spark, tracer, op: str, job_groups: bool, keep: bool) -> None:
        if job_groups:
            spark.sparkContext.setJobGroup(f"perfbench:{op}", op)
        with tracer.span(f"plans.build:{op}"):
            df = self.fns[op](spark, self.data[op])
        with tracer.span(f"plans.exec:{op}"):
            if keep:
                self.results[op] = oracle.spark_digest(df)
            else:
                df.write.format("noop").mode("overwrite").save()

    def verify(self, counts: Counts, corrupt: str | None = None) -> None:
        """Compare the kept results with the DuckDB oracles."""
        for op, got in self.results.items():
            if op == corrupt:
                got = (got[0], (got[1][0] + 1, got[1][1]))
            try:
                want = oracle.oracle_digest(self.oracles[op], self.data[op])
            except Exception:
                counts.fail(op, traceback.format_exc())
                continue
            if got != want:
                counts.fail(op, f"spark {got} != duckdb {want}")
        self.results = {}

    def pass_stats(self) -> dict:
        return {
            "sources.writers.stored_bytes_per_input_byte": 0.0,
            "sources.writers.curated_files": 0.0,
        }


class EtlLoad:
    """``pipeline.run_load`` under one table config per curated strategy.
    Each strategy loads its sequence of inbound directories (one
    ``run_load`` call per directory, every file of it at once); each pass
    writes fresh tables."""

    def __init__(self, spec: dict, inbound: dict[str, str], run_dir: Path, pipeline):
        self.pipeline = pipeline
        self.loads = {
            strategy: [(inbound[d], sorted(Path(inbound[d]).glob("*.csv"))) for d in dirs]
            for strategy, dirs in spec["loads"].items()
        }
        self.configs = {
            strategy: pipeline.TableConfig(
                table_name=datagen.ETL_TABLE,
                schema=dict(datagen.ETL_SCHEMA),
                primary_key=list(datagen.ETL_PK),
                sort_columns=list(datagen.ETL_PK),
                landing_load_strategy="append",
                curated_load_strategy=strategy,
            )
            for strategy in self.loads
        }
        self.out = run_dir / "etl"
        self.input_bytes = sum(
            p.stat().st_size for calls in self.loads.values() for _, files in calls for p in files
        )
        self.ops: list[str] = []
        self.stats: list[dict] = []
        self.loaded: list[str] = []  # strategies whose loads all succeeded

    def run_pass(self, spark, tracer, counts: Counts, job_groups: bool = False, keep: bool = False) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        self.loaded = []
        for strategy, cfg in self.configs.items():
            landing, curated = self.out / strategy / "landing", self.out / strategy / "curated"
            if job_groups:
                spark.sparkContext.setJobGroup(f"perfbench:{strategy}", strategy)
            with tracer.span(f"pipeline.{strategy}"):
                ok = [
                    counts.attempt(
                        f"run_load {strategy} {inbound}",
                        lambda: self.pipeline.run_load(spark, cfg, inbound, str(landing), str(curated)),
                    )
                    for inbound, _ in self.loads[strategy]
                ]
            if all(ok):
                self.loaded.append(strategy)
        self.stats.append({
            "stored": sum(p.stat().st_size for p in self.out.rglob("*") if p.is_file()),
            "curated_files": sum(1 for _ in self.out.glob("*/curated/**/*.parquet")),
        })
        if not keep:
            shutil.rmtree(self.out, ignore_errors=True)

    def verify(self, counts: Counts, corrupt: str | None = None) -> None:
        """Compare each curated table the kept pass wrote with its DuckDB
        expectation built from the inbound CSV."""
        for strategy in self.loaded:
            calls = [
                [(str(p), p.stem.rsplit("_", 1)[1]) for p in files]
                for _, files in self.loads[strategy]
            ]
            try:
                want = oracle.expected_curated(calls, datagen.ETL_SCHEMA, strategy, list(datagen.ETL_PK))
                got = oracle.actual_curated(str(self.out / strategy / "curated"))
            except Exception:
                counts.fail(f"run_load {strategy}", traceback.format_exc())
                continue
            if strategy == corrupt:
                got = (got[0] + 1, got[1])
            if got != want:
                counts.fail(f"run_load {strategy}", f"written {got} != expected {want}")
        shutil.rmtree(self.out, ignore_errors=True)

    def pass_stats(self) -> dict:
        """Mean over the passes since the last call of what a pass left on
        disk, per loaded input byte."""
        stats, self.stats = self.stats, []
        return {
            "sources.writers.stored_bytes_per_input_byte":
                statistics.mean(s["stored"] for s in stats) / self.input_bytes,
            "sources.writers.curated_files": statistics.mean(s["curated_files"] for s in stats),
        }


def make_inputs(spec: dict, run_dir: Path, seed: int, engine):
    _, pipeline, registry = engine
    if spec["kind"] == "etl":
        data = spec["data"]
        inbound = datagen.make_inbound(
            str(run_dir / "inbound"), seed, data["days"], data["rows_per_day"], data["repeat_share"]
        )
        return EtlLoad(spec, inbound, run_dir, pipeline)
    groups = []
    for g in spec["groups"]:
        data_dir = run_dir / g["name"]
        datagen.make_tables(str(data_dir), seed if g["data"]["seeded"] else FIXED_DATA_SEED, g["data"]["sf"])
        groups.append((g, data_dir))
    return Queries(groups, seed, registry)


# --- measurement -------------------------------------------------------------


def timed_passes(spark, wl, seconds: float, tracer, counts: Counts,
                 job_groups=False) -> tuple[list[float], list[float]]:
    """Whole passes until ``seconds`` have gone by (at least three): the
    wall time and the CPU time of each."""
    walls: list[float] = []
    cpus: list[float] = []
    t0 = time.perf_counter()
    while len(walls) < 3 or time.perf_counter() - t0 < seconds:
        c = tree_cpu_s(os.getpid())
        with tracer.span("bench.pass"):
            a = time.perf_counter()
            wl.run_pass(spark, tracer, counts, job_groups=job_groups)
            walls.append(time.perf_counter() - a)
        cpus.append(tree_cpu_s(os.getpid()) - c)
    return walls, cpus


def wait_for_progress(listener, quiet_s: float = 0.5, limit_s: float = 10.0) -> None:
    """Streaming progress reaches the listener asynchronously: wait until
    no report has arrived for ``quiet_s``."""
    seen, last, t0 = -1, time.perf_counter(), time.perf_counter()
    while time.perf_counter() - last < quiet_s and time.perf_counter() - t0 < limit_s:
        if len(listener.progress) != seen:
            seen, last = len(listener.progress), time.perf_counter()
        time.sleep(0.05)


def end_to_end(setup_s: float, plain_cpu: list[float]) -> dict:
    return {"setup_s": setup_s, "pass_cpu_s": statistics.median(plain_cpu[:3])}


def per_layer(wl, tracer, log_dir, progress, cores, setup, plain, traced) -> dict:
    events = tracing.read_event_log(str(log_dir))
    log("trace " + json.dumps(tracing.dump(tracer, events)))
    folded = tracing.fold(tracer, events, progress, wl.ops, cores)
    layer = {k: v for k, v in folded.items() if not k.startswith("_")}
    layer.update({f"plans.{op}_s": layer.get(f"plans.{op}_s", 0.0) for op in ALL_OPS})
    layer.update(wl.pass_stats())
    loaded = wl.input_bytes if isinstance(wl, EtlLoad) else 0
    layer["sources.writers.written_bytes_per_input_byte"] = folded["_written_bytes"] / loaded if loaded else 0.0
    layer["sources.readers.read_bytes_per_input_byte"] = folded["_read_bytes"] / loaded if loaded else 0.0
    layer["session.start_s"] = setup[1] - setup[0]
    layer["session.warmup_s"] = setup[2] - setup[1]
    layer["bench.pass_s"] = min(plain)
    layer["bench.load_mb_per_s"] = wl.input_bytes / 1e6 / min(plain)
    layer["trace.passes"] = float(len(traced))
    layer["trace.overhead_s"] = min(traced) - min(plain)
    return layer


def run(workload: str, seed: int, seconds: float, trace: bool,
        data: dict | None = None, corrupt: str | None = None) -> dict:
    """One benchmark run; returns the result object. ``data`` overrides the
    workload's input sizes and ``corrupt`` names an output the check must
    see altered (both for the self-tests)."""
    spec = dict(SPEC["workloads"][workload])
    if data and "groups" in spec:
        spec["groups"] = [{**g, "data": {**g["data"], **data}} for g in spec["groups"]]
    elif data:
        spec["data"] = {**spec["data"], **data}
    engine = import_engine()
    get_spark = engine[0].get_spark
    conf = prepare_process()
    cores = host_cores()
    run_dir = Path(tempfile.mkdtemp(prefix=f"{workload}-", dir=scratch_root()))
    counts = Counts()
    null = tracing.NullTracer()
    spark = None

    def build(extra: dict | None = None) -> None:
        nonlocal spark
        if spark is not None:
            spark.stop()
        spark = get_spark(master=f"local[{cores}]", extra_conf={**conf, **(extra or {})})
        spark.sparkContext.setLogLevel("ERROR")

    try:
        g0 = time.perf_counter()
        wl = make_inputs(spec, run_dir, seed, engine)
        # set-up: the session build (JVM launch included) and the cold first
        # pass, whose outputs are then checked outside the timed region
        t0 = time.perf_counter()
        build()
        t1 = time.perf_counter()
        wl.run_pass(spark, null, counts, keep=True)
        t2 = time.perf_counter()
        wl.verify(counts, corrupt)
        t3 = time.perf_counter()
        wl.pass_stats()
        plain, plain_cpu = timed_passes(spark, wl, seconds / 2 if trace else seconds, null, counts)
        summary = {
            "workload": workload, "seed": seed, "cores": cores,
            "driver_mem_mb": driver_mem_mb(), "input_mb": wl.input_bytes / 1e6,
            "gen_s": t0 - g0, "start_s": t1 - t0, "setup_s": t2 - t0, "check_s": t3 - t2,
            "pass_s": plain, "pass_cpu_s": plain_cpu,
        }
        if trace:
            log_dir = run_dir / "eventlog"
            build(tracing.event_log_conf(str(log_dir)))
            listener = tracing.make_listener()
            spark.streams.addListener(listener)
            wl.run_pass(spark, null, counts)
            wl.pass_stats()  # only the traced passes count
            tracer = tracing.Tracer()
            traced, _ = timed_passes(spark, wl, seconds / 2, tracer, counts, job_groups=True)
            wait_for_progress(listener)
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            peak_rss = vmhwm_mb("self") + vmhwm_mb(jvm_pid)
            spark.stop()  # completes the event log
            spark = None
            summary["traced_pass_s"] = traced
            values = per_layer(wl, tracer, log_dir, listener.progress, cores, (t0, t1, t2), plain, traced)
            values["session.peak_rss_mb"] = peak_rss
        else:
            values = end_to_end(t2 - t0, plain_cpu)
        log("summary " + json.dumps(summary))
        declared = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
        if sorted(values) != sorted(declared):
            raise RuntimeError(f"metrics {sorted(values)} differ from BENCHMARK.json {sorted(declared)}")
        return {
            "correct": counts.failed == 0,
            "attempted": counts.attempted,
            "failed": counts.failed,
            "metrics": {k: {"value": v, "unit": declared[k]} for k, v in values.items()},
        }
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_jvm()
        shutil.rmtree(scratch_root(), ignore_errors=True)
        with contextlib.suppress(OSError):
            scratch_root().parent.rmdir()  # only when no other run is using it
    print(f"fail_frac {result['failed']}/{result['attempted']}")
    for k, m in result["metrics"].items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
