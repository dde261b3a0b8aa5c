"""Measure-first probes for per-row kernels.

``winnow``: the winnowing kernel (``operators/text.winnow_select``)
called directly on each documents table's text column as one Arrow
batch, as its ``mapInArrow`` task sees it — best and median of REPS
calls, in µs per character. No Spark session.

``pq-timeline``: the per-job timeline of one warm
``q_ann_pq_index_lookup`` on ``local[2]``: construct (the index build's
inner jobs: codebook training, the codebook/codes writes), then one
execute through the noop sink. Each job is listed with its start offset,
duration, call site and task count; ``driver_gap_s`` is the construct
time no job covers.

Usage:
    python scripts/kernel_probe.py winnow SF_DIR [SF_DIR ...]
    python scripts/kernel_probe.py pq-timeline SF_DIR
Prints one JSON object.
"""
from __future__ import annotations

import json
import os
import pathlib
import statistics
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
REPS = 7


def winnow(sf_dirs: list[str]) -> dict:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from airflow_crypto_etl_spark.operators.text import winnow_select

    out = {}
    for sf in sf_dirs:
        texts = pq.read_table(f"{sf}/documents.parquet", columns=["text"])["text"].combine_chunks()
        chars = pc.sum(pc.utf8_length(texts)).as_py()
        ts = []
        for _ in range(REPS):
            t = time.perf_counter()
            winnow_select(texts)
            ts.append(time.perf_counter() - t)
        out[pathlib.Path(sf).name] = {
            "docs": len(texts),
            "chars": chars,
            "best_s": round(min(ts), 5),
            "median_s": round(statistics.median(ts), 5),
            "us_per_char_best": round(min(ts) / chars * 1e6, 4),
            "us_per_char_median": round(statistics.median(ts) / chars * 1e6, 4),
        }
    return out


def pq_timeline(sf_dir: str) -> dict:
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    from airflow_crypto_etl_spark.queries_selection import q_ann_pq_index_lookup
    from airflow_crypto_etl_spark.session import get_spark

    spark = get_spark(app_name="kernel-probe", master="local[2]")
    sc = spark.sparkContext

    def run() -> tuple[float, float, float]:
        t0 = time.time()
        df = q_ann_pq_index_lookup(spark, sf_dir)
        t1 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return t0, t1, time.time()

    run()  # cold: JIT, first scans
    sc.setJobGroup("probe", "probe")
    t0, t1, t2 = run()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup("probe")):
        job = store.job(jid)
        start = job.submissionTime().get().getTime() / 1e3
        end = job.completionTime().get().getTime() / 1e3
        jobs.append({
            "job": jid,
            "phase": "construct" if start < t1 else "execute",
            "start_s": round(start - t0, 3),
            "dur_s": round(end - start, 3),
            "site": job.name().replace(str(ROOT) + "/", ""),
            "tasks": job.numTasks(),
        })
    sc._jsc.clearJobGroup()
    covered, reach = 0.0, t0
    for j in sorted(jobs, key=lambda j: j["start_s"]):
        if j["phase"] != "construct":
            continue
        a, b = t0 + j["start_s"], t0 + j["start_s"] + j["dur_s"]
        covered += max(0.0, min(b, t1) - max(a, reach))
        reach = max(reach, b)
    spark.stop()
    return {
        "construct_s": round(t1 - t0, 3),
        "execute_s": round(t2 - t1, 3),
        "driver_gap_s": round(t1 - t0 - covered, 3),
        "jobs": jobs,
    }


def main() -> int:
    mode, args = sys.argv[1], sys.argv[2:]
    got = winnow(args) if mode == "winnow" else pq_timeline(args[0])
    got["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    got["nproc"] = os.cpu_count()
    print(json.dumps(got))
    return 0


if __name__ == "__main__":
    sys.exit(main())
