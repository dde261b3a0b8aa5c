#!/usr/bin/env python
"""Attribute a query's Spark work to its construct, its execute and each job.

Per query: one warm-up run in the traced run's form, then one run traced by perfbench's
``Tracer``: the query is built in a ``construct`` span and executed
through the noop sink (every column computed) in an ``execute`` span.
A span's id is the Spark job group while it is open, so every job,
thread-pool jobs included, is found with the Spark UI off. Caches are
released after each run.

Printed per query, and written to ``--json`` with a summary of the
largest shuffles: ``rows`` (observed on the execute), ``construct_s``,
``execute_s``, ``driver_gap_s`` (query time no stage covers, as
perfbench's), the ``Tracer.attribute`` totals, ``shuffle_per_input``
(near 1 moves the relation, far below it reduces map-side),
``jobs_outside_spans`` (0 when attribution is whole) and a
``timeline`` row per job: span, start offset, duration, Spark call
site, tasks. A write or broadcast job's call site is a JVM frame; its
span and offset locate it.

Usage: python scripts/trace_query.py [SF_DIR] [--json OUT] [query...]
SF_DIR defaults to perfbench/data/sf0.01, the queries to
``bench.HEADLINE``; ``SPARK_GRAFT_CPUS`` sets the cores.
"""
from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from tracing import Tracer, union_s  # noqa: E402

# record fields on the first printed line (and the timeline below it)
FIRST_LINE = ("rows", "construct_s", "execute_s", "driver_gap_s", "jobs", "jobs_outside_spans", "timeline")


def _noop(df):
    """Run ``df`` through the noop sink, observing its row count; returns
    the ``Observation``. The warm-up runs this same form: a session's
    first observed action pays a one-time driver cost (0.4-0.6 s at
    sf0.01, outside every stage) that would otherwise land in the first
    traced query."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    rows = Observation()
    df.observe(rows, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
    return rows


def trace(tracer: Tracer, name: str, fn, sf_dir: str) -> dict:
    """Warm ``fn(spark, sf_dir)`` up once, then construct and execute it
    traced; returns the traced run's record. The Tracer is uninstalled
    and caches released even when the query raises."""
    from airflow_crypto_etl_spark.operators import dedup

    spark, sc = tracer.spark, tracer.sc
    try:
        _noop(fn(spark, sf_dir))
    finally:
        dedup.release_caches()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    mark = len(tracer.spans)
    tracer.install()
    try:
        with tracer.span(name, "queries", op=name) as op:
            with tracer.span("construct", "queries") as construct:
                df = fn(spark, sf_dir)
            with tracer.span("execute", "queries") as execute:
                rows = _noop(df)
        # job and stage events reach the status store through the bus
        bus.waitUntilEmpty()
        spans = tracer.spans[mark:]
        totals = tracer.attribute(spans)
    finally:
        tracer.uninstall()
        dedup.release_caches()

    start, end = op["start"], op["end"]
    busy = [(max(a, start), min(b, end)) for a, b in totals.pop("stage_intervals")]
    store = sc._jsc.sc().statusStore()
    timeline = []
    for s in spans:
        for jid in s["jobs"]:
            job = store.job(jid)
            t0 = job.submissionTime().get().getTime() / 1e3
            t1 = job.completionTime().get().getTime() / 1e3
            timeline.append({"job": jid, "span": s["name"], "start_s": round(t0 - start, 3),
                             "dur_s": round(t1 - t0, 3), "site": job.name().replace(ROOT + "/", ""),
                             "tasks": job.numTasks()})
    return {
        "rows": rows.get["rows"],
        "construct_s": round(construct["end"] - construct["start"], 3),
        "execute_s": round(execute["end"] - execute["start"], 3),
        "driver_gap_s": round((end - start) - union_s([(a, b) for a, b in busy if b > a]), 3),
        **{k: round(v, 3) if k.endswith("_s") else int(v) for k, v in totals.items()},
        "shuffle_per_input": (round(totals["shuffle_write_bytes"] / totals["input_bytes"], 4)
                              if totals["input_bytes"] else None),
        "jobs_outside_spans": len(set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped),
        "timeline": sorted(timeline, key=lambda j: j["job"]),
    }


def report(name: str, rec: dict) -> None:
    print(f"== {name}: rows={rec['rows']} construct={rec['construct_s']:.3f}s "
          f"execute={rec['execute_s']:.3f}s driver_gap={rec['driver_gap_s']:.3f}s "
          f"jobs={rec['jobs']} ({rec['jobs_outside_spans']} outside a span)")
    print("   " + " ".join(f"{k}={v}" for k, v in rec.items() if k not in FIRST_LINE))
    for j in rec["timeline"]:
        print(f"   job {j['job']:>4} {j['span']:<28} +{j['start_s']:7.3f}s {j['dur_s']:7.3f}s "
              f"{j['tasks']:>4} tasks  {j['site']}")


def summary(sf_dir: str, out: dict) -> dict:
    ok = {k: v for k, v in out.items() if "err" not in v}
    return {
        "n_queries": len(out),
        "sf_dir": sf_dir,
        "total_input_bytes": sum(v["input_bytes"] for v in ok.values()),
        "total_shuffle_write_bytes": sum(v["shuffle_write_bytes"] for v in ok.values()),
        "top_shuffle_bytes": sorted(((k, v["shuffle_write_bytes"]) for k, v in ok.items()),
                                    key=lambda t: -t[1])[:10],
        "top_shuffle_per_input": sorted(((k, v["shuffle_per_input"]) for k, v in ok.items()
                                         if v["shuffle_per_input"] is not None),
                                        key=lambda t: -t[1])[:10],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("args", nargs="*", metavar="[SF_DIR] query")
    ap.add_argument("--json", metavar="OUT", help="write the records and the summary here")
    opts = ap.parse_intermixed_args(argv)
    args = opts.args
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else os.path.join(ROOT, "perfbench", "data", "sf0.01")

    import __spark_entry__ as entry
    from airflow_crypto_etl_spark.session import get_spark

    queries = entry.queries()
    if not args:
        import bench

        args = [n for n in bench.HEADLINE if n in queries]
    missing = [n for n in args if n not in queries]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="trace-query", extra_conf={"spark.ui.showConsoleProgress": "false"})
    tracer = Tracer(spark)
    out: dict = {}
    try:
        for name in args:
            try:
                out[name] = trace(tracer, name, queries[name], sf_dir)
            except Exception as e:  # one failing query must not end the report
                out[name] = {"err": f"{type(e).__name__}: {e}"[:200]}
                print(f"== {name}: {out[name]['err']}", file=sys.stderr)
                continue
            report(name, out[name])
    finally:
        spark.stop()
    if opts.json:
        with open(opts.json, "w") as fh:
            json.dump({"summary": summary(sf_dir, out), "queries": out}, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
