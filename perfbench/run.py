#!/usr/bin/env python3
"""Closed-loop benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 16 --trace 0

One process, one SparkSession on half the CPUs, one client that sends
the next op when the previous one has finished. A run:

1. starts the session and runs one warm-up pass of the workload; query
   ops are collected there and checked against their DuckDB oracle,
   medallion days against the counts kept from the generated records
   (``setup_s`` is this phase, without the time spent checking);
2. runs the workload's ops, pass after pass in a seeded order, until
   ``--seconds`` have passed and the first pass is whole; ``wall_s`` is
   the sum over the op set of each op's median latency;
3. prints a host-witness line and, last, one JSON result line with the
   metrics named in ``BENCHMARK.json``: the end-to-end ones with
   ``--trace 0``, the per-layer ones with ``--trace 1``.

With ``--trace 1`` whole passes alternate untraced and traced; the
per-layer metrics come from the traced passes (per pass), the tracing
overhead is the traced minus the untraced median pass, and the spans are
written to ``.perfbench/spans-<workload>-<seed>.json``. Each run works in
its own directory under ``.perfbench/`` (lake, index roots, Spark local
dirs), removed when the run ends. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import functools
import itertools
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from tracing import Tracer, median, outer_duration, subtree_ids, union_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "airflow_crypto_etl_spark"
DATA = os.path.join(HERE, "data")
WORKLOADS = ("daily_medallion", "corpus_build")
# (query scale dir, coins per day). A day is one CoinGecko page of 100
# records, as the reference's @daily run fetches (BASELINE.md).
SCALES = {"full": ("sf0.01", 100), "tiny": ("sf0.001", 20)}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (the steal column of /proc/stat); 0 where unreadable."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def cpu_spin() -> float:
    """Fixed single-core work, median of three timings (seconds)."""
    def once() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc = (acc + i * i) % 1_000_000_007
        return time.perf_counter() - t0

    return statistics.median(once() for _ in range(3))


def io_scan(spark, sf_dir: str) -> float:
    """Fixed parquet scan of the run's lineitem file, median of three."""
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.perf_counter()
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).agg(F.sum("l_extendedprice")).collect()
        return time.perf_counter() - t0

    return statistics.median(once() for _ in range(3))


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the JVM child process, read from /proc."""
    try:
        with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (OSError, AttributeError):
        pass
    return 0.0


def start_session(run_dir: str, cpus: int):
    from airflow_crypto_etl_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        driver_memory="4g",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM child, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        # a later session in this process launches a fresh JVM
        SparkContext._gateway = SparkContext._jvm = None


class Run:
    """State of one benchmark run of one workload."""

    def __init__(self, spark, tracer, workload: str, seed: int, scale: str, run_dir: str):
        import __spark_entry__ as entry

        self.spark, self.tracer, self.workload = spark, tracer, workload
        self.rng = random.Random(seed)
        sf_name, coins = SCALES[scale]
        self.sf_dir = os.path.join(DATA, sf_name)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.check_s = 0.0
        self.held_mb: list[float] = []
        self.op_stats: list[dict] = []  # traced ops: counters per op
        self.job_mark, _, _ = tracer.jobs_since(-1)
        if workload == "daily_medallion":
            from workloads import CoinFeed, Medallion

            self.feed = CoinFeed(seed, coins)
            self.med = Medallion(spark, tracer, os.path.join(run_dir, "lake"))
        else:
            from workloads import CORPUS_OPS

            self.ops = CORPUS_OPS
            registry = entry.queries()
            self.fns = {n: registry[n] for n in self.ops}

    @functools.cached_property
    def oracle(self):
        """Built on first use, inside the untimed check of the warm-up."""
        import __spark_entry__ as entry
        from oracle import Oracle

        return Oracle(self.sf_dir, {n: entry.oracle_sql()[n] for n in self.ops})

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        log(f"FAILED {what}")

    def release(self) -> None:
        from airflow_crypto_etl_spark.operators import dedup

        dedup.release_caches()

    # -- warm-up: one pass, checked ------------------------------------

    def warm_up(self) -> None:
        if self.workload == "daily_medallion":
            for name, op, check in self.pass_ops():
                self.timed(name, op, check)
            return
        from oracle import digest

        for name in self.rng.sample(self.ops, len(self.ops)):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = self.fns[name](self.spark, self.sf_dir)
                rows = df.collect()
            except Exception:
                self.fail(f"{name}: {traceback.format_exc(limit=3)}")
                continue
            finally:
                self.release()
            log(f"warm-up {name} {time.perf_counter() - t0:.2f}s")
            t0 = time.perf_counter()
            got = digest(df.columns, rows)
            want = self.oracle.expected(name)
            if got != want:
                self.fail(f"{name}: rows/hash {got} != oracle {want}")
            self.check_s += time.perf_counter() - t0

    # -- measured ops --------------------------------------------------

    def pass_ops(self) -> list[tuple]:
        """The ops of one pass as (name, op, check). A query pass is
        every op once, in a new seeded order. A medallion pass is one
        new day, then a re-run of a seeded earlier day that must leave
        every lake row count unchanged."""
        if self.workload != "daily_medallion":
            from workloads import query_op

            return [(name, functools.partial(query_op, self.spark, self.tracer, self.fns[name], name, self.sf_dir),
                     None) for name in self.rng.sample(self.ops, len(self.ops))]
        med, picked = self.med, {}

        def day() -> float:
            picked["day"] = self.feed.next_day()
            return med.op(*picked["day"])

        def rerun() -> float:
            picked["rerun"] = self.rng.choice(med.days)
            return med.op(*picked["rerun"])

        def rerun_check() -> list[str]:
            want = med.expected_counts()
            ds = picked["rerun"][0]
            return [f"rerun {ds} {k}: {v} != {want[k]}" for k, v in med.counts().items() if v != want[k]]

        return [("medallion_day", day, lambda: med.check_day(picked["day"][0])),
                ("medallion_rerun", rerun, rerun_check)]

    def timed(self, name: str, op, check) -> dict | None:
        """Run one op; None when it raised. Counts the Spark jobs and
        stages it ran, records cache held after it, releases caches and
        runs its output check (all untimed), and attributes Spark work to
        the op's spans when tracing."""
        mark = len(self.tracer.spans)
        self.job_mark, _, _ = self.tracer.jobs_since(self.job_mark)
        self.attempted += 1
        try:
            latency = op()
        except Exception:
            self.fail(f"{name}: {traceback.format_exc(limit=3)}")
            latency = None
        self.job_mark, jobs, stages = self.tracer.jobs_since(self.job_mark)
        if self.tracer.enabled:
            self.held_mb.append(self.tracer.storage_mb())
        self.release()
        if latency is None:
            return None
        if self.tracer.enabled:
            spans = self.tracer.spans[mark:]
            totals = self.tracer.attribute(spans)
            op_span = next(s for s in spans if s.get("op"))
            start, end = op_span["start"], op_span["end"]
            busy = [(max(a, start), min(b, end)) for a, b in totals.pop("stage_intervals")]
            totals["driver_gap_s"] = (end - start) - union_s([(a, b) for a, b in busy if b > a])
            totals.update(name=name, latency=latency)
            self.op_stats.append(totals)
        if check is not None:
            self.check(check)
        return {"name": name, "latency": latency, "jobs": jobs, "stages": stages}

    def check(self, fn) -> None:
        """Untimed output check of the op just run; any problem fails it."""
        t0 = time.perf_counter()
        try:
            problems = fn()
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.fail("; ".join(problems))
        self.check_s += time.perf_counter() - t0


def measure(run: Run, seconds: float, trace: bool) -> list[dict]:
    """Ops, pass after pass, until ``seconds`` have passed and the first
    pass is whole. Untraced, the run may stop inside a later pass. With
    tracing, whole passes alternate untraced/traced, starting untraced,
    until ``seconds`` have passed and one pass was traced."""
    ops = []
    deadline = time.perf_counter() + seconds
    for n in itertools.count():
        traced = trace and n % 2 == 1
        if traced:
            run.tracer.install()
        try:
            for name, op, check in run.pass_ops():
                rec = run.timed(name, op, check)
                if rec is not None:
                    ops.append({**rec, "pass": n, "traced": traced})
                if not trace and n > 0 and time.perf_counter() >= deadline:
                    return ops
        finally:
            if traced:
                run.tracer.uninstall()
        if time.perf_counter() >= deadline and (not trace or n >= 1):
            return ops


def by_name(ops: list[dict]) -> dict[str, list]:
    out: dict[str, list] = {}
    for o in ops:
        out.setdefault(o["name"], []).append(o)
    return out


def pass_walls(ops: list[dict]) -> list[float]:
    walls: dict[int, float] = {}
    for o in ops:
        walls[o["pass"]] = walls.get(o["pass"], 0.0) + o["latency"]
    return list(walls.values())


def op_medians(ops: list[dict]) -> list[float]:
    """The workload's op set once, each op at its median latency over
    the untraced ops of the run, so a pass cut short by the deadline
    weighs no op twice. ``wall_s`` is their sum, ``op_p50_s`` their
    median."""
    return [median(o["latency"] for o in same) for same in by_name(o for o in ops if not o["traced"]).values()]


def end_to_end(setup_s: float, ops: list[dict]) -> dict:
    return {"setup_s": setup_s, "wall_s": sum(op_medians(ops))}


def spread(ops: list[dict], key: str) -> int:
    """Summed over op names: max - min of ``key`` over the measured runs
    of that op, traced or not."""
    return sum(max(o[key] for o in same) - min(o[key] for o in same) for same in by_name(ops).values())


def per_layer(run: Run, ops: list[dict], session_start: float, host: dict) -> dict:
    from workloads import CORPUS_OPS

    n = max(1, len({o["pass"] for o in ops if o["traced"]}))
    spans, stats = run.tracer.spans, run.op_stats

    def dur(pred) -> float:
        return outer_duration(spans, pred) / n

    def jobs_under(pred) -> float:
        ids = subtree_ids(spans, pred)
        return sum(len(s.get("jobs", ())) for s in spans if s["id"] in ids) / n

    def per_op(key: str) -> float:
        return sum(o[key] for o in stats) / n

    def named(name: str):
        return lambda s: s["name"] == name

    def layer(name: str):
        return lambda s: s["layer"] == name

    med = getattr(run, "med", None)
    untraced = [o for o in ops if not o["traced"]]
    m = {
        "op_p50_s": median(op_medians(ops)),
        "session.start_s": session_start,
        "session.jvm_peak_rss_mb": jvm_peak_rss_mb(run.spark),
        "queries.construct_s": dur(named("construct")),
        "queries.construct_jobs": jobs_under(named("construct")),
        "queries.execute_s": dur(named("execute")),
        "queries.driver_gap_s": per_op("driver_gap_s"),
        "sources.load_table_s": dur(layer("sources")),
        "sources.input_bytes": per_op("input_bytes"),
        "sources.input_rows": per_op("input_rows"),
        "operators.jobs": per_op("jobs"),
        "operators.jobs_spread": spread(ops, "jobs"),
        "operators.stages": per_op("stages"),
        "operators.stages_spread": spread(ops, "stages"),
        "functions.python_rows": per_op("python_rows"),
        "functions.python_bytes": per_op("python_bytes"),
        "cache.storage_peak_mb": max(run.held_mb, default=0.0),
        "cache.held_after_op_mb": statistics.fmean(run.held_mb) if run.held_mb else 0.0,
        "cache.release_s": dur(layer("cache")),
        "plans.medallion.run_pipeline_s": dur(named("plans.medallion.run_pipeline")),
        "plans.medallion.bronze_ingest_s": dur(named("plans.medallion.bronze_ingest")),
        "plans.medallion.silver_transform_s": dur(named("plans.medallion.silver_transform")),
        "plans.medallion.gold_build_s": dur(named("plans.medallion.gold_build")),
        "plans.warehouse.merge_s": dur(named("warehouse.merge")),
        "plans.warehouse.serve_s": dur(named("warehouse.serve")),
        "sinks.write_s": dur(layer("sinks")),
        "sinks.bytes_written": per_op("bytes_written"),
        "sinks.files_written": per_op("files_written"),
        "sinks.write_amp": med.lake_bytes() / med.json_bytes if med and med.json_bytes else 0.0,
        "checks.s": dur(layer("checks")),
        "checks.jobs": jobs_under(layer("checks")),
        "trace.overhead_s": median(pass_walls([o for o in ops if o["traced"]])) - median(pass_walls(untraced)),
        "error_rate": run.failed / run.attempted,
    }
    for key in ("tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes"):
        m[f"operators.{key}"] = per_op(key)
    for q in CORPUS_OPS:
        m[f"queries.{q}.p50_s"] = median(o["latency"] for o in untraced if o["name"] == q)
    m.update({f"host.{k}": v for k, v in host.items() if isinstance(v, (int, float))})
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full",
                    help="tiny: sf0.001 queries and a small coin feed, for the smoke tests")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, PKG)) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        log(f"{PKG} and __spark_entry__.py not found next to perfbench/; run from a full checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    import tempfile

    nproc = len(os.sched_getaffinity(0))
    # Spark gets half the CPUs. The rest keep the JVM's JIT and GC
    # threads, the Python workers and the client off the task threads,
    # so a CPU taken away by a busy host stalls fewer stages: on a
    # 4-CPU shared VM, daily_medallion's ten-seed spread of wall_s was
    # about half that of local[4], and its ops were no slower.
    cpus = max(1, nproc // 2)
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=base)
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Index roots and scratch tables follow TMPDIR; Spark's block and
    # shuffle files follow SPARK_LOCAL_DIRS. Python workers need the
    # repo root on PYTHONPATH whatever the working directory.
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=local, SPARK_GRAFT_CPUS=str(cpus),
                      PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])))
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)

    spark = None
    try:
        steal0 = steal_s()
        host = {"nproc": nproc, "master": f"local[{cpus}]", "loadavg_start": os.getloadavg()[0],
                "cpu_spin_s": cpu_spin()}
        t0 = time.perf_counter()
        spark = start_session(run_dir, cpus)
        spark.range(1000).selectExpr("sum(id)").collect()
        session_start = time.perf_counter() - t0
        run = Run(spark, Tracer(spark), args.workload, args.seed, args.scale, run_dir)
        run.warm_up()
        setup_s = time.perf_counter() - t0 - run.check_s
        log(f"session {session_start:.2f}s, setup {setup_s:.2f}s, checks {run.check_s:.2f}s")
        ops = measure(run, args.seconds, bool(args.trace))
        host["io_scan_s"] = io_scan(spark, run.sf_dir)
        host["loadavg_end"] = os.getloadavg()[0]
        host["steal_s"] = steal_s() - steal0
        if args.trace:
            metrics = per_layer(run, ops, session_start, host)
            spans_path = os.path.join(base, f"spans-{args.workload}-{args.seed}.json")
            run.tracer.dump(spans_path, {"workload": args.workload, "seed": args.seed,
                                         "op_stats": run.op_stats, "failures": run.failures})
        else:
            metrics = end_to_end(setup_s, ops)
        attempted, failed = run.attempted, run.failed
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"host": host, "ops": [
        [o["pass"], int(o["traced"]), o["name"], round(o["latency"], 4), o["jobs"]] for o in ops]}))
    if args.trace:
        print(json.dumps({"spans": os.path.relpath(spans_path, ROOT)}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {d["name"]: {"value": metrics[d["name"]], "unit": d["unit"]} for d in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
