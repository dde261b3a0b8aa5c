"""Measure-first probe for the winnowing kernel.

``operators/text.winnow_select`` is called directly on each documents
table's text column as one Arrow batch, as its ``mapInArrow`` task sees
it: best and median of REPS calls, in µs per character. No Spark
session. (Per-job timelines of a whole query come from
``scripts/trace_query.py``.)

Usage:
    python scripts/kernel_probe.py winnow SF_DIR [SF_DIR ...]
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


def main() -> int:
    if sys.argv[1:2] != ["winnow"]:
        sys.exit(__doc__)
    got = winnow(sys.argv[2:])
    got["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    got["nproc"] = os.cpu_count()
    print(json.dumps(got))
    return 0


if __name__ == "__main__":
    sys.exit(main())
