"""The benchmark's workloads: what one op is and how its output is checked.

``corpus_build`` runs registered queries from
``__spark_entry__.queries()``; an op constructs the query's DataFrame and
executes it through the noop sink, so every output column is computed.
``daily_medallion`` runs the reference pipeline: an op is one ``ds`` day
of ``plans.medallion.run_pipeline`` plus the ``plans.warehouse`` merges
and the serving query.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import time
from datetime import date, timedelta

# LLM-data path: Python workers (q_multimodal_jpeg's mapInPandas JPEG
# decode), a register_cache cache and inner actions at construct time
# (q_ann_pq_index_lookup's codebook training and index parquet writes),
# and a wide Catalyst plan (q_winnowing).
CORPUS_OPS = ("q_winnowing", "q_ann_pq_index_lookup", "q_multimodal_jpeg")


def query_op(spark, tracer, fn, name: str, sf_dir: str) -> float:
    """One op: construct the registered query, execute it through the
    noop sink. Returns its latency in seconds."""
    with tracer.span(name, "queries", op=name):
        t0 = time.perf_counter()
        with tracer.span("construct", "queries"):
            df = fn(spark, sf_dir)
        with tracer.span("execute", "queries"):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


class CoinFeed:
    """Seeded CoinGecko ``/coins/markets``-shaped pages, one record per
    active coin per ``ds`` day. Coins churn in and out between days, and a
    share of the previous day's ``(id, last_updated)`` rows is delivered
    again with a corrected price, so the fact upsert resolves conflicts.

    Both shares are synthetic: the repository holds no traffic data on
    how often coins leave the page or records are re-delivered."""

    CHURN = 0.04  # share of active coins replaced each day
    REDELIVER = 0.05  # share of the previous day's rows delivered again

    def __init__(self, seed: int, coins: int):
        self.rng = random.Random(seed)
        universe = [f"coin-{i:05d}" for i in range(coins * 3 // 2)]
        self.rng.shuffle(universe)
        self.active, self.pool = set(universe[:coins]), universe[coins:]
        self.price = {c: 10 ** self.rng.uniform(-3, 4.5) for c in universe}
        self.supply = {c: 10 ** self.rng.uniform(6, 11) for c in universe}
        self.day, self.prev = date(2026, 1, 1), []

    def next_day(self) -> tuple[str, list[dict]]:
        rng = self.rng
        k = round(self.CHURN * len(self.active))
        gone = rng.sample(sorted(self.active), k)
        self.active.difference_update(gone)
        self.active.update(self.pool[:k])
        self.pool = self.pool[k:] + gone
        ds = self.day.isoformat()
        records = []
        for rank, c in enumerate(sorted(self.active), 1):
            self.price[c] *= math.exp(rng.gauss(0, 0.05))
            p = self.price[c]
            secs = rng.randrange(86400)
            records.append({
                "id": c, "symbol": c[-3:], "name": c.replace("-", " ").title(),
                "current_price": p, "market_cap": p * self.supply[c],
                "market_cap_rank": rank, "total_volume": p * self.supply[c] * rng.uniform(0.01, 0.2),
                "high_24h": p * 1.03, "low_24h": p * 0.97,
                "price_change_percentage_24h": rng.gauss(0, 3), "circulating_supply": self.supply[c],
                "last_updated": f"{ds}T{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}.000Z",
            })
        again = rng.sample(self.prev, round(self.REDELIVER * len(self.prev)))
        records += [{**r, "current_price": r["current_price"] * 1.001} for r in again]
        self.prev = records[: len(records) - len(again)]
        self.day += timedelta(days=1)
        return ds, records


class Medallion:
    """A lake that grows one day per op: Bronze/Silver/Gold through
    ``run_pipeline``, then warehouse tables merged with
    ``load_dimension``/``load_fact``/``load_gold_metrics`` and persisted
    as parquet versions in the lake (not held as growing lineage)."""

    TABLES = ("dimension", "fact", "gold")

    def __init__(self, spark, tracer, lake: str):
        self.spark, self.tracer, self.lake = spark, tracer, lake
        self.version = {t: None for t in self.TABLES}
        self.days: list[tuple[str, list[dict]]] = []
        self.json_bytes = 0
        # expected row counts, kept from the generated records
        self.coins_per_day: dict[str, int] = {}
        self.fact_keys: set[tuple[str, str]] = set()
        self.coins: set[str] = set()

    def _path(self, *parts) -> str:
        return os.path.join(self.lake, *parts)

    def _merge(self, table: str, load, updates) -> None:
        from airflow_crypto_etl_spark.sinks import writers

        old = self.version[table]
        target = self.spark.read.parquet(old) if old else updates.limit(0)
        new = self._path("warehouse", table, f"v{len(self.days)}-{time.monotonic_ns()}")
        writers.write_partitioned(load(target, updates), new, [])
        self.version[table] = new
        if old:
            shutil.rmtree(old, ignore_errors=True)

    def op(self, ds: str, records: list[dict]) -> float:
        """One day: pipeline, warehouse merges, serving query."""
        from pyspark.sql import functions as F

        from airflow_crypto_etl_spark.plans import medallion, warehouse

        tr = self.tracer
        with tr.span(f"day {ds}", "plans", op="medallion_day"):
            t0 = time.perf_counter()
            gold = medallion.run_pipeline(self.spark, records, self.lake, ds)
            silver = (self.spark.read.parquet(self._path("silver", "coins"))
                      .filter(F.col("dt") == ds).drop("dt"))
            with tr.span("warehouse.merge", "plans.warehouse"):
                self._merge("dimension", warehouse.load_dimension, warehouse.build_dimension(silver))
                self._merge("fact", warehouse.load_fact, warehouse.build_fact(silver))
                self._merge("gold", warehouse.load_gold_metrics, gold)
            with tr.span("warehouse.serve", "plans.warehouse"):
                fact = self.spark.read.parquet(self.version["fact"])
                dim = self.spark.read.parquet(self.version["dimension"])
                warehouse.serving_star_query(fact, dim).write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
        if ds not in self.coins_per_day:
            self.days.append((ds, records))
            self.json_bytes += sum(len(json.dumps(r)) + 1 for r in records)
        self.coins_per_day[ds] = len({r["id"] for r in records})
        self.fact_keys.update((r["id"], r["last_updated"]) for r in records)
        self.coins.update(r["id"] for r in records)
        return elapsed

    def counts(self) -> dict[str, int]:
        """Row counts of every lake and warehouse table, read back."""
        rd = self.spark.read
        out = {
            "bronze": rd.json(self._path("bronze", "coins")).count(),
            "silver": rd.parquet(self._path("silver", "coins")).count(),
            "gold": rd.parquet(self._path("gold", "coins_daily")).count(),
        }
        for t in self.TABLES:
            out[f"warehouse.{t}"] = rd.parquet(self.version[t]).count()
        return out

    def expected_counts(self) -> dict[str, int]:
        rows = sum(len(r) for _, r in self.days)
        gold = sum(self.coins_per_day.values())
        return {"bronze": rows, "silver": rows, "gold": gold,
                "warehouse.dimension": len(self.coins), "warehouse.fact": len(self.fact_keys),
                "warehouse.gold": gold}

    def check_day(self, ds: str) -> list[str]:
        """Gold rows of the day equal the coins seen that day; fact rows
        equal the distinct (coin_id, timestamp) keys so far."""
        from pyspark.sql import functions as F

        rd = self.spark.read
        got = {
            "gold_day": rd.parquet(self._path("gold", "coins_daily")).filter(F.col("dt") == ds).count(),
            "fact": rd.parquet(self.version["fact"]).count(),
            "dimension": rd.parquet(self.version["dimension"]).count(),
        }
        want = {"gold_day": self.coins_per_day[ds], "fact": len(self.fact_keys), "dimension": len(self.coins)}
        return [f"{ds} {k}: {got[k]} != {want[k]}" for k in want if got[k] != want[k]]

    def lake_bytes(self) -> int:
        total = 0
        for root, _, files in os.walk(self.lake):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total
