#!/usr/bin/env python
"""Scaling probe: do the headline plans scale linearly with data size?

Inflates the sf0.1 tables in-memory by UNION (same distribution, N×
rows — synthetic but distribution-preserving) and times representative
queries at 1× and N×. A plan that survives a scale-up shows time ratio
≈ N (linear operators) or N·log-ish (sorts); a broken plan (all-pairs
join, driver collect, single hot partition) blows past it.

Prints one JSON line: {"inflate": N, "queries": {name: {"t1": s,
"tN": s, "ratio": r}}}. Warm-up pass first, like bench.py.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, functions as F

from airflow_crypto_etl_spark.operators import aggregate as agg_ops
from airflow_crypto_etl_spark.operators import cdc as cdc_ops
from airflow_crypto_etl_spark.operators import dedup as dd
from airflow_crypto_etl_spark.operators import joins as join_ops
from airflow_crypto_etl_spark.operators import jpeg as jp
from airflow_crypto_etl_spark.operators import multimodal as _mm
from airflow_crypto_etl_spark.operators import llm_prep as lp
from airflow_crypto_etl_spark.operators import similarity as sim
from airflow_crypto_etl_spark.operators import text as tx
from airflow_crypto_etl_spark.operators import timeseries as tsx
from airflow_crypto_etl_spark import queries_corpus as qc
from airflow_crypto_etl_spark import queries_quality as qq
from airflow_crypto_etl_spark.session import get_spark
from airflow_crypto_etl_spark.queries_pipeline import _cdc_feed
from airflow_crypto_etl_spark.sources.tables import load_table

INFLATE = int(os.environ.get("SPARK_GRAFT_INFLATE", "4"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# comma-separated case names to probe (empty = all) — lets a targeted
# re-measure of one fixed plan run in seconds instead of the full sweep
ONLY = {s for s in os.environ.get("SPARK_GRAFT_PROBE_ONLY", "").split(",") if s}


def want(name: str) -> bool:
    return not ONLY or name in ONLY


def inflate(df: DataFrame, key_cols: list[str], n: int) -> DataFrame:
    """n× the rows with shifted keys so join/group cardinalities scale
    too (a pure UNION of identical keys would just deepen groups)."""
    parts = []
    for i in range(n):
        p = df
        for k in key_cols:
            p = p.withColumn(k, F.col(k) + F.lit(i * 1_000_000_000))
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def time_pair(results: dict, name: str, fn, small, big, *, warm: bool = True,
              release: bool = False) -> tuple[int, int]:
    """Time ``fn(small)`` then ``fn(big)``, each built and counted inside
    its timing (``fn`` returns a DataFrame, or a count it took itself),
    after one untimed warm-up on ``small`` unless ``warm`` is False.
    Records ``{t1, tN, ratio}`` as ``results[name]`` and returns the two
    counts. ``release`` frees the registered caches after each call,
    untimed."""

    def run(arg) -> tuple[int, float]:
        t0 = time.perf_counter()
        out = fn(arg)
        n = out if isinstance(out, int) else out.count()
        elapsed = time.perf_counter() - t0
        if release:
            dd.release_caches()
        return n, elapsed

    if warm:
        run(small)
    n1, t1 = run(small)
    nn, tn = run(big)
    results[name] = {"t1": round(t1, 3), "tN": round(tn, 3), "ratio": round(tn / max(t1, 1e-9), 2)}
    return n1, nn


def _bm25_score(d: DataFrame) -> DataFrame:
    """The scoring core of queries_experiments.q_bm25 (tokenize →
    3-term tf → broadcast df + 1-row corpus stats → per-doc sum)."""
    from airflow_crypto_etl_spark.operators import text as tx
    from airflow_crypto_etl_spark import queries_experiments as qex

    tf = tx.term_frequencies(d).where(F.col("term").isin(*qex._BM25_TERMS))
    dl = d.select("doc_id", F.size(tx.tokens_col("text")).cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_term"))
    idf = (F.col("n_docs") - F.col("df_term") + F.lit(0.5)) / (F.col("df_term") + F.lit(0.5))
    denom = F.col("tf") + F.lit(qex._BM25_K1) * (
        F.lit(1.0 - qex._BM25_B) + F.lit(qex._BM25_B) * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * F.lit(qex._BM25_K1 + 1.0) / denom).alias("score"))
    )


def _collocations_pairs(d: DataFrame) -> DataFrame:
    """The pair-count core of queries_analytics.q_collocations (df
    prune → doc-keyed self-join → exact pair counts)."""
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr("filter(split(text, ' '), t -> t <> '')"))).alias("tok"),
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    kept = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_tok"))
        .crossJoin(F.broadcast(n_docs))
        .filter((F.col("c_tok") >= 5) & (F.col("c_tok") <= 0.95 * F.col("n_docs")))
        .select("tok")
    )
    tk = toks.join(F.broadcast(kept), "tok")
    a = tk.select("doc_id", F.col("tok").alias("ta"))
    b = tk.select("doc_id", F.col("tok").alias("tb"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )


def _cap_per_source(d: DataFrame) -> DataFrame:
    """Rank-over-hash domain capping (source synthesized from the id —
    the probe's doc frame carries only doc_id/text)."""
    from pyspark.sql.window import Window

    from airflow_crypto_etl_spark.functions.hashing import affine_hash_sql

    h = F.expr(affine_hash_sql("doc_id", "3"))
    w = Window.partitionBy("src").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", (F.col("doc_id") % 20).alias("src"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
    )


def main() -> None:
    spark = get_spark(app_name="aces-scaling-probe")
    li = load_table(spark, SF_DIR, "lineitem")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    cases = {
        # scan-agg: linear work, constant groups
        "gold_daily": lambda d: agg_ops.gold_daily_metrics(
            d, keys=["l_returnflag", "l_linestatus"], price_col="l_extendedprice", volume_col="l_quantity"
        ),
        # shuffle join on the natural key: linear rows both sides
        "orders_join": lambda d: d.join(
            load_table(spark, SF_DIR, "orders").withColumn(
                "o_orderkey", F.col("o_orderkey")
            ),
            d.l_orderkey == F.col("o_orderkey"),
        ).groupBy("o_orderpriority").count(),
        # window latest-per-key: linear rows, linear keys
        "latest_per_key": lambda d: d.groupBy("l_orderkey").agg(
            F.max("l_shipdate").alias("last_ship")
        ),
    }
    doc_cases = {
        # MinHash signature+banding — the per-doc LINEAR stage of LSH
        # dedup (tokenize → shingle-hash → K minima → band sigs). The
        # candidate-pair stage is deliberately NOT probed under copy
        # inflation: its output is proportional to the number of true
        # duplicate pairs, and copying every doc n× creates C(n,2)
        # genuine duplicates per doc — quadratic OUTPUT, not a plan
        # defect. (The pair join itself is an equi-join on buckets —
        # test_plans asserts the shape.)
        "minhash_signatures": lambda d: dd.minhash_signatures(d),
        # substring-dedup postings build (r6): tokenize → token hash →
        # k-gram fold → posexplode; the per-doc LINEAR stage of
        # repeated_spans. The pair stage is NOT probed under copy
        # inflation for the same reason as minhash: n× copies create
        # quadratically more TRUE repeated spans — output growth, not
        # a plan defect (the anchor join is hash-bucketed and df-capped;
        # spans_lookup below probes the index-growth direction).
        "gram_postings": lambda d: dd.gram_hash_positions(d),
        # bucketed running-sum packing: per-bucket windows, linear rows
        "pack_sequences": lambda d: lp.pack_sequences(d, capacity=512),
        # broadcast benchmark shingle index: corpus-side map join,
        # linear in corpus rows (benchmark fixed at 50 docs)
        "contamination": lambda d: lp.contamination(d, docs.limit(50)),
        # passage dedup: segment-level election + keep-join + doc
        # reassembly — every stage keyed, linear in total passages
        # (r4; caches released per rep below)
        "passage_dedup": lambda d: dd.passage_dedup(d),
        # PMI collocations (r5): the pair build is keyed on doc_id, so
        # fan-out is (per-doc vocabulary)² per doc — copy-inflation
        # multiplies docs, not per-doc width, so the ratio must stay ~N
        # (a corpus-quadratic pair build would blow past it)
        "collocations_pairs": _collocations_pairs,
        # Domain capping (r5): rank-over-hash window per source; copy
        # inflation deepens each source's partition N× → ~N·log N
        "cap_per_source": _cap_per_source,
        # Baseline JPEG decode (r5): Arrow-batched mapInPandas, per-doc
        # Huffman+IDCT — embarrassingly parallel, ratio must stay ~N
        "jpeg_decode": lambda d: jp.decode_jpeg(jp.attach_jpeg_payload(d)),
        # video perceptual signature (r6): container walk + per-frame
        # JPEG decode + grid hash + ordered fold — embarrassingly
        # parallel per payload, ratio must stay ~N
        "video_phash": lambda d: _mm.video_phash(_mm.attach_avi_payload(d)),
        # BM25 scoring (r5-late): tokenize + explode is the linear
        # term; the df table is 3 terms (broadcast) and the corpus
        # stats are 1 row, so the ratio must stay ~N — a blow-up would
        # mean the doc-length join stopped being keyed on doc_id
        "bm25_score": _bm25_score,
        # rand()-free shard shuffle (r5): one hash shuffle + per-shard
        # rank windows (16 shards deepen N× each) → ~N·log N
        "shuffle_shards": lambda d: lp.shuffle_shards(d),
        # length-bucketed batching (r5): per-(band, stream) rank windows
        # — streams bound partition depth, ratio must stay ~N·log N
        "length_batches": lambda d: lp.length_batches(d),
        # bigram LM scoring (r5-late): copy inflation multiplies bigram
        # OCCURRENCES N× while the distinct-bigram vocabulary stays
        # fixed, so all three aggregations and the probability join must
        # scale ~N (a per-pair blowup would show super-linear)
        "lm_score": lambda d: qq.lm_score_docs(d),
        # Winnowing fingerprints (r9): pure per-row codegen (codes ->
        # window minima -> distinct -> checksum), zero shuffle -- ratio
        # must stay ~N; a super-linear blow-up would mean CollapseProject
        # re-inlined a stage into the window lambda (the O(n^2) shape the
        # operator's docstring guards against)
        "winnow_fingerprints": lambda d: tx.winnow_fingerprints(d),
        # Per-source n-gram diversity (r9): copy inflation multiplies
        # gram OCCURRENCES N× while the per-source distinct gram sets
        # stay fixed, so both explode→partial-agg legs and the bounded
        # source-domain join must scale ~N (a super-linear ratio would
        # mean the partial agg stopped combining map-side). The probe
        # corpus is projected to (doc_id, text), so the bounded source
        # key is re-derived from doc_id (20 sources, the sf shape).
        "ngram_diversity": lambda d: qc.ngram_diversity(
            d.withColumn(
                "source", F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string"))
            )
        ),
        # Token coverage curve (r9): the vocab aggregate deepens N× in
        # counts but not in distinct terms; the per-k TakeOrdered heaps
        # are vocabulary-sized (fixed) — ratio must stay ~N, dominated
        # by the two vocab shuffles (the same bound lm_score carries)
        "token_coverage": lambda d: qc.token_coverage(d, ks=(10, 100, 1000)),
    }

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    or_cases = {
        # CDC snapshot merge: base ∪ synthesized I/U/D feed folded by
        # ONE max_by aggregate — linear rows, one key shuffle (r4)
        "cdc_merge": lambda d: cdc_ops.apply_changes(d, _cdc_feed(d), key="o_orderkey"),
    }

    ev = load_table(spark, SF_DIR, "events")
    ev_cases = {
        # cogrouped merge_asof: one shuffle per side keyed on user_id,
        # per-key sort-merge — linear keys under inflation, so the
        # ratio must stay ~N (the round-1 pairs-materializing form was
        # quadratic per hot key)
        "asof_merge": lambda d: join_ops.asof_join(
            d.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts"),
            d.filter(F.col("event_type") == "click").select("user_id", "ts", "value"),
            on="user_id", left_ts="ts", right_ts="ts", right_cols=["ts"],
        ),
    }

    # Market candles: ticks inflate N× into the SAME (symbol, hour)
    # groups — the "more trades per candle" scale-up. One partial-agg
    # shuffle of per-group partials, so the ratio must stay ~N.
    ev_cases["ohlc_candles"] = lambda d: tsx.ohlc(tsx.with_market_cols(d))

    # Winsorization (r6): the bounds now come from the DISTRIBUTED
    # per-group percentile (operators/rank.grouped_percentiles) — the
    # r5 probe measured the old percentile() agg concentrating each
    # group into one sort task (4×: 2.7→10.2 riding spill thresholds);
    # the rank-based bounds spread every group over quantile buckets,
    # so the ratio must stay ~N·log N with no spill cliff.
    def winsorize_case(d: DataFrame) -> DataFrame:
        from airflow_crypto_etl_spark.operators import rank as rkp

        bounds = rkp.grouped_percentiles(
            d, "event_type", "value", [0.05, 0.95], tiebreak="event_id"
        ).select(
            "event_type",
            F.col("p_0_05").alias("p_lo"),
            F.col("p_0_95").alias("p_hi"),
        )
        return d.join(F.broadcast(bounds), "event_type").select(
            "event_id", F.greatest("p_lo", F.least("p_hi", F.col("value"))).alias("w")
        )

    ev_cases["winsorize"] = winsorize_case

    # Distributed total-order rank (r6): the Mann-Whitney tie-rank core
    # over purchase rows — the round-5 verdict's worst single-partition
    # member. With operators/rank.ranked the sort spreads over quantile
    # buckets (boundary + cells jobs included in the timing), so the
    # ratio must stay ~N·log N; the old global window form serialized
    # the whole relation through one task.
    def mw_rank_case(d: DataFrame) -> DataFrame:
        from airflow_crypto_etl_spark.operators import rank as rkp

        x = d.filter(F.col("event_type") == "purchase").select(
            F.floor(F.col("value") * F.lit(1000.0)).cast("bigint").alias("v"),
            "event_id",
        )
        ranked = rkp.ranked(x, [("v", True), ("event_id", True)], out="rn")
        return ranked.groupBy("v").agg(
            ((F.min("rn") + F.max("rn")).cast("double") / F.lit(2.0)).alias("avg_rank")
        )

    ev_cases["mann_whitney_rank"] = mw_rank_case
    # last-touch attribution (r5-late): ignore-nulls window per user —
    # user count scales N× (shifted ids), per-user depth constant, so
    # the window sort is ~N·log N at worst
    ev_cases["attribution_last_touch"] = lambda d: qq.attribution_events(d)

    # HLL sketch (r5-late): the register table is 64 rows whatever the
    # input — the probe bounds the SCAN term (ratio ~N); a blow-up
    # would mean the groupBy(max) stopped partial-aggregating.
    from airflow_crypto_etl_spark import queries_experiments as qex

    ev_cases["hll_registers"] = lambda d: qex.hll_registers(d)

    # Poisson bootstrap (r5-late): per-user collapse then users×200
    # fan-out into 200 replicate partials — both terms linear in users
    # (which inflate N× via shifted ids), so the ratio must stay ~N.
    def bootstrap_case(d: DataFrame) -> DataFrame:
        from airflow_crypto_etl_spark.functions.hashing import MERSENNE_P, affine_hash

        per_user = d.groupBy("user_id").agg(F.sum("value").alias("v"))
        fan = per_user.select(
            "user_id", "v",
            F.explode(F.sequence(F.lit(0), F.lit(qex._BOOT_R - 1))).alias("r"),
        )
        combined = (
            (F.col("user_id") % MERSENNE_P) * qex._BOOT_STRIDE + F.col("r")
        ) % MERSENNE_P
        u = affine_hash(combined, F.lit(qex._BOOT_SALT)).cast("double") / F.lit(
            float(MERSENNE_P)
        )
        w = F.when(u < qex._POIS_CDF[0], 0).when(u < qex._POIS_CDF[1], 1).otherwise(2)
        return fan.groupBy("r").agg(F.sum(w * F.col("v")).alias("ws"))

    ev_cases["bootstrap_reps"] = bootstrap_case

    results = {}
    big_ev = inflate(ev, ["user_id", "event_id"], INFLATE)
    for group, small, big, release in (
        (cases, li, inflate(li, ["l_orderkey"], INFLATE), False),
        (doc_cases, docs, inflate(docs, ["doc_id"], INFLATE), True),
        (or_cases, orders, inflate(orders, ["o_orderkey"], INFLATE), False),
        (ev_cases, ev, big_ev, False),
    ):
        for name, fn in group.items():
            if want(name):
                time_pair(results, name, fn, small, big, release=release)

    # PageRank (r5): edges inflate ~N× (shifted user ids → disjoint
    # subgraphs); per iteration one edge-scan join + one dst-keyed
    # partial agg, so the ratio must stay ~N. The window edge-build is
    # per-stream (5 event types deepen N×) → ~N·log N bound overall.
    from airflow_crypto_etl_spark.operators import graph as gr

    def pagerank_case(d: DataFrame) -> DataFrame:
        edges = gr.transition_edges(d)
        nodes = d.select("user_id").distinct()
        return gr.pagerank(edges, nodes, iters=2)

    if want("pagerank"):
        time_pair(results, "pagerank", pagerank_case, ev, big_ev)

    # Label propagation (r5-late): same shuffle budget per round as a
    # PageRank iteration (edge-label equi-join + (node,label) partial
    # agg + per-node rank) on N disjoint copies → ratio must stay ~N
    def label_prop_case(d: DataFrame) -> DataFrame:
        return gr.label_propagation(
            gr.transition_edges(d),
            d.select(F.col("user_id").alias("node")).distinct(),
            iters=2,
        )

    if want("label_prop"):
        time_pair(results, "label_prop", label_prop_case, ev, big_ev)

    # Triangle counting (r5): copy-inflation shifts user ids, so the
    # inflated graph is N disjoint copies — wedge joins stay bounded by
    # the per-copy degree orientation and the ratio must stay ~N
    def triangles_case(d: DataFrame) -> DataFrame:
        return gr.triangle_count(gr.transition_edges(d))

    if want("triangles"):
        time_pair(results, "triangles", triangles_case, ev, big_ev)

    # Bloom build+probe (r5): both sides linear scans + a bounded-size
    # bit_or partial agg; probe joins a broadcast ≤2048-row word table
    from airflow_crypto_etl_spark.operators import joins as jn

    cust = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_acctbal")

    def bloom_case(d: DataFrame) -> DataFrame:
        bloom = jn.bloom_build(cust.where(F.col("c_acctbal") > 9000), "c_custkey")
        return jn.bloom_probe(d.select(F.col("o_orderkey").alias("k")), "k", bloom)

    if want("bloom_probe"):
        time_pair(results, "bloom_probe", bloom_case, orders, inflate(orders, ["o_orderkey"], INFLATE))

    # Lloyd k-means (r5): per iteration one assignment scan (centroid
    # literals ride the closure) + one k·dim partial-agg shuffle whose
    # post-shuffle size is independent of corpus rows — ratio must stay
    # ~N. (semantic_dedup's pair stage is deliberately NOT probed under
    # copy inflation: copies are true duplicates, so its OUTPUT is
    # quadratic in copies — same reasoning as minhash_signatures above.)
    emb = load_table(spark, SF_DIR, "embeddings")
    big_emb = inflate(emb, ["vec_id"], INFLATE)
    if want("kmeans_assign"):
        time_pair(results, "kmeans_assign", lambda e: sim.kmeans_assign(e, k=8, iters=1), emb, big_emb)

    # PQ/ADC search (r9): the CORPUS inflates N× while the codebook
    # (16 original centroids) and the 8 query vectors stay fixed —
    # encode is a map-only pass against the broadcast codebook and ADC
    # is a constant-time fold per (row, query), so the ratio must stay
    # ~N; a blow-up would mean the corpus started shuffling or the LUT
    # stopped broadcasting. Shifted-id copies keep vec_id<16 /
    # ANN_QUERY_IDS pointing at the ORIGINAL rows only.
    from airflow_crypto_etl_spark.queries_ext import ANN_QUERY_IDS

    if want("pq_search"):
        time_pair(results, "pq_search", lambda e: sim.pq_topk(e, ANN_QUERY_IDS, k=10), emb, big_emb)

    # IVFADC search (r9): corpus N×, fixed coarse/residual codebooks
    # and queries — coarse-assign + residual-encode are map-only, the
    # candidate step is a list_id equi-join against the broadcast
    # (query, probed-list, LUT) table, so the ratio must stay ~N (each
    # query still touches only its n_probe lists, which deepen N×).
    if want("ivfpq_search"):
        time_pair(results, "ivfpq_search", lambda e: sim.ivfpq_topk(e, ANN_QUERY_IDS, k=10), emb, big_emb)

    # IVF batch lookup (r9): corpus and index fixed at SF, the ingest
    # BATCH inflates N× (vec_id % 40 → % 10) — the production scale
    # direction (the hard_negatives_anchors convention). Candidates
    # ride the inverted-list equi-join, so volume is Σ_batch probed
    # list sizes — linear in the batch; super-linear would mean the
    # batch started broadcasting or the probe window went global.
    if want("ivf_batch"):
        def _batch_of(mod: int) -> DataFrame:
            return emb.filter(F.col("vec_id") % mod == 0).select(
                (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
            )

        time_pair(results, "ivf_batch", lambda b: sim.ivf_batch_lookup(emb, b, k=10, spread=False),
                  _batch_of(40), _batch_of(max(40 // INFLATE, 1)))

    # IVF batch lookup under a COLLAPSED quantizer list (r9): one list
    # holds n_hot near-identical vectors (n_hot ≫ cap), the batch is 30
    # healthy vectors near a different centroid. list_cap drops the hot
    # list WHOLESALE, so its members serve ZERO candidates and runtime
    # tracks the assignment scan (~N in n_hot), never the would-be
    # hot-list join. A missing cap would score batch∩list0 × n_hot.
    if want("ivf_batch_hotlist"):
        spark_h = emb.sparkSession

        def _hot_emb(n_hot: int) -> DataFrame:
            seeds = spark_h.range(16).selectExpr(
                "id AS vec_id",
                "transform(sequence(0, 7), j -> CASE WHEN j = CAST(id % 8 AS INT)"
                " THEN 1.0D ELSE 0.0D END) AS embedding",
            )
            hot = spark_h.range(n_hot).selectExpr(
                "id + 16 AS vec_id",
                "transform(sequence(0, 7), j -> CASE WHEN j = 0 THEN 1.0D"
                " WHEN j = 1 THEN (id + 1) * 1.0e-4 ELSE 0.0D END) AS embedding",
            )
            healthy = spark_h.range(30).selectExpr(
                f"id + 16 + {n_hot} AS vec_id",
                "transform(sequence(0, 7), j -> CASE WHEN j = 1 THEN 1.0D"
                " WHEN j = 2 THEN (id + 1) * 1.0e-4 ELSE 0.0D END) AS embedding",
            )
            return seeds.unionByName(hot).unionByName(healthy)

        def _hot_case(n_hot: int) -> DataFrame:
            corpus = _hot_emb(n_hot)
            batch = corpus.filter(F.col("vec_id") >= 16 + n_hot).select(
                (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
            )
            return sim.ivf_batch_lookup(
                corpus, batch, k=5, list_cap=60, spread=False
            )

        n_small = 300
        out_small = _hot_case(n_small)
        hot_ids = {0} | {16 + j for j in range(n_small)}
        assert all(
            r["neighbor_id"] not in hot_ids for r in out_small.collect()
        ), "list_cap must wholesale-drop the collapsed list"
        time_pair(results, "ivf_batch_hotlist", _hot_case, n_small, n_small * INFLATE, warm=False)

    # Persisted-index lookup (r10, the probe direction r9's verdict
    # asked for): the CORPUS inflates N×, the ingest batch is FIXED,
    # and the index is built + written to parquet UNTIMED (it
    # amortizes across every batch of the ingest loop — the
    # minhash_lookup contract). The timed lookup assigns ONLY the
    # batch (corpus-independent), scans the stored assign lists, and
    # rescores probed candidates — so growth tracks probed-list
    # occupancy, never the O(corpus × n_centroids) re-assignment the
    # rebuild path (ivf_batch case above) pays per call.
    if want("ivf_index_corpus"):
        import shutil
        import tempfile

        fixed_batch = emb.filter(F.col("vec_id") % 40 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        tmp_ix = tempfile.mkdtemp(prefix="ivf_ix_probe_")

        def _lookup_against(corpus: DataFrame, tag: str):
            # quantizer sized to the corpus (the FAISS nlist ≈ √N rule):
            # per-list occupancy then grows as √N, so a probed lookup's
            # candidate volume — and the batch's assignment cost — are
            # both O(√N), the flat-ish curve a production index holds
            n = corpus.count()
            n_cent = max(16, math.isqrt(n))
            cap = (2 * n) // n_cent
            cents, assign = sim.ivf_index_build(
                corpus, n_centroids=n_cent, list_cap=cap, spread=False
            )
            cents.write.mode("overwrite").parquet(f"{tmp_ix}/{tag}/centroids")
            assign.write.mode("overwrite").parquet(f"{tmp_ix}/{tag}/assign")
            sp = corpus.sparkSession
            return sim.ivf_index_lookup(
                fixed_batch, corpus,
                sp.read.parquet(f"{tmp_ix}/{tag}/centroids"),
                sp.read.parquet(f"{tmp_ix}/{tag}/assign"),
                k=10, spread=False,
            )

        small_q = _lookup_against(emb, "s")      # build untimed
        big_q = _lookup_against(big_emb, "b")    # build untimed
        time_pair(results, "ivf_index_corpus", lambda q: q, small_q, big_q)
        shutil.rmtree(tmp_ix, ignore_errors=True)

    # Persisted PQ index (r11): corpus ×N, batch FIXED, index
    # (codebook + codes) pre-built UNTIMED. The timed lookup computes
    # only the batch's LUTs (corpus-independent) and folds them over
    # the stored codes — a full coded-corpus scan by design (ADC is
    # the memory-bound path: no inverted lists, 8-byte codes instead
    # of raw vectors), so the DESIGN BOUND here is LINEAR (ratio ≤ N),
    # not the IVF case's √N. Super-linear would mean the LUT broadcast
    # degraded to a shuffle or the codes scan stopped being map-side.
    if want("pq_index_corpus"):
        import shutil
        import tempfile

        fixed_batch_pq = emb.filter(F.col("vec_id") % 40 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        tmp_pq = tempfile.mkdtemp(prefix="pq_ix_probe_")

        def _pq_lookup_against(corpus: DataFrame, tag: str):
            # seeded book: the probe times the LOOKUP path; training is
            # build-time and untimed either way
            codebook, codes = sim.pq_index_build(corpus, trained=False)
            codebook.write.mode("overwrite").parquet(f"{tmp_pq}/{tag}/codebook")
            codes.write.mode("overwrite").parquet(f"{tmp_pq}/{tag}/codes")
            sp = corpus.sparkSession
            return sim.pq_index_lookup(
                fixed_batch_pq,
                sp.read.parquet(f"{tmp_pq}/{tag}/codebook"),
                sp.read.parquet(f"{tmp_pq}/{tag}/codes"),
                k=10,
            )

        small_pq = _pq_lookup_against(emb, "s")      # build untimed
        big_pq = _pq_lookup_against(big_emb, "b")    # build untimed
        time_pair(results, "pq_index_corpus", lambda q: q, small_pq, big_pq)
        shutil.rmtree(tmp_pq, ignore_errors=True)

    # Index APPEND (r11): corpus ×N, batch FIXED, quantizer geometry
    # FIXED (16 lists) — the append assigns ONLY the batch against the
    # broadcast centroid table, so its cost must be CORPUS-INDEPENDENT:
    # the design bound is FLAT (ratio ≈ 1). Growth here would mean the
    # append started touching the corpus (the exact regression the
    # r10 verdict's item 2 exists to prevent).
    if want("ivf_append_corpus"):
        import shutil
        import tempfile

        tmp_ap = tempfile.mkdtemp(prefix="ivf_ap_probe_")
        # persist the quantizers UNTIMED (a deployment reads the tiny
        # centroid parquet, never re-derives it from the corpus — a
        # lazily-derived centroid slice would smuggle a corpus scan
        # into the timed append)
        for tag, corp in (("s", emb), ("b", big_emb)):
            cents, _ = sim.ivf_index_build(corp, n_centroids=16, spread=False)
            cents.write.mode("overwrite").parquet(f"{tmp_ap}/{tag}")
        sp_ap = emb.sparkSession
        fixed_batch_ap = emb.filter(F.col("vec_id") % 40 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
        ap_small = sim.ivf_index_append(
            fixed_batch_ap, sp_ap.read.parquet(f"{tmp_ap}/s"), spread=False
        )
        ap_big = sim.ivf_index_append(
            fixed_batch_ap, sp_ap.read.parquet(f"{tmp_ap}/b"), spread=False
        )
        time_pair(results, "ivf_append_corpus", lambda q: q, ap_small, ap_big)
        shutil.rmtree(tmp_ap, ignore_errors=True)

    # Index COMPACT (r11): grown assign table ×N — compaction is one
    # hash shuffle + within-partition sort of the (cid, id) index rows
    # (never the vectors), so the design bound is LINEAR in the index
    # row count. Super-linear growth here would mean the re-layout
    # started sorting globally or touching vectors.
    if want("ivf_compact_corpus"):
        import shutil
        import tempfile

        tmp_cp = tempfile.mkdtemp(prefix="ivf_cp_probe_")
        sp_cp = emb.sparkSession
        for tag, corp in (("s", emb), ("b", big_emb)):
            cents, assign = sim.ivf_index_build(corp, n_centroids=16, spread=False)
            # persist the grown table UNTIMED (compaction's input is the
            # stored index, not a derivation from the corpus)
            assign.withColumn("batch_id", F.lit(0)).write.mode("overwrite").partitionBy(
                "batch_id"
            ).parquet(f"{tmp_cp}/{tag}")
        cp_small = sim.ivf_index_compact(sp_cp.read.parquet(f"{tmp_cp}/s"))
        cp_big = sim.ivf_index_compact(sp_cp.read.parquet(f"{tmp_cp}/b"))
        time_pair(results, "ivf_compact_corpus", lambda q: q, cp_small, cp_big)
        shutil.rmtree(tmp_cp, ignore_errors=True)

    # Index RETRAIN (r11): corpus ×N — retraining is CORPUS-SCALE by
    # contract (every vector re-assigns under the new quantizer, the
    # FAISS retrain semantics), so the design bound is LINEAR: one
    # Lloyd assign+update pass plus the final build assign, each a
    # map-side broadcast product + one partial-agg shuffle. Super-
    # linear growth would mean the trainer started shuffling vectors
    # or the bounded dim·n_centroids driver collect grew with N.
    if want("ivf_retrain_corpus"):
        time_pair(results, "ivf_retrain_corpus",
                  lambda e: sim.ivf_index_retrain(e, n_centroids=16, spread=False)[1], emb, big_emb)

    # PQ index COMPACT (r11): grown codes table ×N — one hash shuffle
    # + within-partition sort of the (id, codes) rows (n_sub·8-byte
    # codes, never vectors), design bound LINEAR in the index rows.
    if want("pq_compact_corpus"):
        import shutil
        import tempfile

        tmp_pc = tempfile.mkdtemp(prefix="pq_cp_probe_")
        sp_pc = emb.sparkSession
        for tag, corp in (("s", emb), ("b", big_emb)):
            _, codes = sim.pq_index_build(corp, trained=False)
            codes.withColumn("batch_id", F.lit(0)).write.mode("overwrite").partitionBy(
                "batch_id"
            ).parquet(f"{tmp_pc}/{tag}")
        pc_small = sim.pq_index_compact(sp_pc.read.parquet(f"{tmp_pc}/s"))
        pc_big = sim.pq_index_compact(sp_pc.read.parquet(f"{tmp_pc}/b"))
        time_pair(results, "pq_compact_corpus", lambda q: q, pc_small, pc_big)
        shutil.rmtree(tmp_pc, ignore_errors=True)

    # MinHash index COMPACT (r11): grown (sig, bands) tables ×N —
    # compaction is one hash shuffle + within-partition sort PER INDEX
    # TABLE (rows of 3 longs each, never documents), so the design
    # bound is LINEAR in index rows. The inputs are persisted UNTIMED
    # (compaction reads the stored index, not a re-signing of the
    # corpus).
    if want("minhash_compact_corpus"):
        import shutil
        import tempfile

        tmp_mc = tempfile.mkdtemp(prefix="mh_cp_probe_")
        big_docs_mc = inflate(docs, ["doc_id"], INFLATE)
        sp_mc = docs.sparkSession
        for tag, corp in (("s", docs), ("b", big_docs_mc)):
            sig = dd.minhash_signatures(corp)
            sig.withColumn("batch_id", F.lit(0)).write.mode("overwrite").partitionBy(
                "batch_id"
            ).parquet(f"{tmp_mc}/sig_{tag}")
            dd.minhash_bands(sig).withColumn("batch_id", F.lit(0)).write.mode(
                "overwrite"
            ).partitionBy("batch_id").parquet(f"{tmp_mc}/bands_{tag}")

        def _compact_count(tag: str) -> int:
            sig_c, bands_c = dd.minhash_index_compact(
                sp_mc.read.parquet(f"{tmp_mc}/sig_{tag}"),
                sp_mc.read.parquet(f"{tmp_mc}/bands_{tag}"),
            )
            return sig_c.count() + bands_c.count()

        time_pair(results, "minhash_compact_corpus", _compact_count, "s", "b")

        # Index STATS (r11): the health read over the same grown bands
        # tables ×N — one partial-agg count into a ≤ buckets relation
        # plus constant-size aggregates, LINEAR bound. Growth past
        # linear would mean the hot-bucket pass stopped being a
        # partial agg (e.g. a global sort crept in).
        time_pair(results, "minhash_stats_corpus",
                  lambda tag: dd.minhash_index_stats(sp_mc.read.parquet(f"{tmp_mc}/bands_{tag}")), "s", "b")
        dd.release_caches()
        shutil.rmtree(tmp_mc, ignore_errors=True)

    # Winnowing pair join under degenerate duplication (r9): GROUPS
    # groups of D=30 identical docs — every fingerprint's df is 30,
    # above the df_cap of 20, so the cap drops ALL of them WHOLESALE
    # and the pair join sees zero postings. Inflation adds more groups;
    # the claim under probe is ratio ≈ N (fingerprint pass + df count)
    # and ZERO surviving pairs — a missing cap would emit
    # GROUPS·C(30,2) pairs and blow past linear.
    if want("winnow_hotdup"):
        spark_w = docs.sparkSession

        def hot_corpus(n_groups: int) -> DataFrame:
            base = spark_w.range(n_groups).select(
                F.col("id").alias("g"),
                F.concat_ws(
                    " ", *[F.concat(F.lit(f"tok{j}_"), F.col("id")) for j in range(40)]
                ).alias("text"),
            )
            copies = spark_w.range(30).select(F.col("id").alias("c"))
            return base.crossJoin(copies).select(
                (F.col("g") * 1000 + F.col("c")).alias("doc_id"), "text"
            )

        small_h, big_h = hot_corpus(60), hot_corpus(60 * INFLATE)
        assert tx.winnow_pairs(small_h, df_cap=20).count() == 0
        _, n_hot = time_pair(results, "winnow_hotdup", lambda d: tx.winnow_pairs(d, df_cap=20),
                             small_h, big_h, warm=False)
        assert n_hot == 0, "df_cap must wholesale-drop the degenerate fingerprints"

    # DSIR scoring (r9): the RAW side inflates N× while the target
    # distribution stays fixed — the production shape (small curated
    # target, huge crawl). Bucket stats are bounded-domain partial
    # aggs and the ratio table broadcasts, so the ratio must stay ~N;
    # super-linear would mean the scoring join stopped broadcasting or
    # the (doc, bucket) agg stopped collapsing map-side.
    if want("dsir_scores"):
        docs_l = load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
        tgt = docs_l.filter(F.col("lang") == "en")
        raw1 = docs_l.filter(F.col("lang") != "en")
        time_pair(results, "dsir_scores", lambda r: lp.dsir_scores(tgt, r), raw1,
                  inflate(raw1, ["doc_id"], INFLATE))

    # Incremental-dedup lookup: the BATCH stays fixed while the corpus
    # INDEX inflates N× — the daily-ingest shape. The index is read from
    # its persisted parquet form (as in production: built once, appended
    # after accepted batches), so the timed work is the lookup only:
    # batch shingling, the bands equi-join (batch side broadcast against
    # a linear index scan), and the per-minhash estimate over matches.
    # The ratio should stay far below N — the index is scanned (cheap,
    # id+sig columns only), never re-shingled and never shuffled.
    if want("minhash_lookup_fixed_batch"):
        import shutil
        import tempfile

        batch = docs.limit(500).select(
            (F.col("doc_id") + 5_000_000_000).alias("doc_id"), "text"
        )
        tmp = tempfile.mkdtemp(prefix="aces_probe_index_")
        try:
            for tag, corpus in (("1", docs), ("N", inflate(docs, ["doc_id"], INFLATE))):
                dd.minhash_signatures(corpus).write.mode("overwrite").parquet(f"{tmp}/sig{tag}")
                sig = spark.read.parquet(f"{tmp}/sig{tag}")
                dd.minhash_bands(sig).write.mode("overwrite").parquet(f"{tmp}/bands{tag}")
            s1, b1 = spark.read.parquet(f"{tmp}/sig1"), spark.read.parquet(f"{tmp}/bands1")
            sN, bN = spark.read.parquet(f"{tmp}/sigN"), spark.read.parquet(f"{tmp}/bandsN")
            time_pair(results, "minhash_lookup_fixed_batch", lambda ix: dd.minhash_lookup(batch, *ix),
                      (s1, b1), (sN, bN))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # Window-indicator family: the SERIES lengthens N× (disjoint bucket
    # ranges per copy) while symbols stay fixed — each symbol partition
    # deepens N×, so the per-partition sort bounds the ratio at
    # ~N·log N; a super-linear blow-up would mean the frame scan is
    # being re-evaluated per row.
    # materialize once so the N× run re-scans the candle SERIES, not the
    # tick→hourly_close aggregation N times — otherwise the measured
    # ratio conflates linear agg cost with the window-scan behavior this
    # probe claims to bound (r4 ADVICE)
    if want("bollinger_long_series"):
        closes = tsx.hourly_close(tsx.with_market_cols(ev)).localCheckpoint(eager=True)

        def lengthen(cl: DataFrame, n: int) -> DataFrame:
            parts = [
                cl.withColumn("bucket", F.col("bucket") + F.expr(f"INTERVAL {i * 100000} HOUR"))
                for i in range(n)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        time_pair(results, "bollinger_long_series", tsx.bollinger, closes, lengthen(closes, INFLATE))

    # Incremental span lookup (r6; r7: df table precomputed): FIXED
    # 50-doc batch vs a 1×/N× posting index — the daily-ingest
    # direction. Matched postings (and so output spans) grow ~N because
    # every index copy matches the batch; the claim under probe is that
    # the batch join cost rides matched volume (O(batch + matched)),
    # never the index row count — the former O(corpus-postings)
    # hot-gram count pass now lives at index-build time (gram_df) and
    # is excluded, matching production. Ratio must stay ~N, not N².
    if want("spans_lookup"):
        batch = docs.limit(50).select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
        )
        big_docs = inflate(docs, ["doc_id"], INFLATE)

        def spans_lookup_case(corpus: DataFrame) -> DataFrame:
            # production shape: df table precomputed at index-build time
            # (gram_df), so the batch never re-aggregates the posting
            # table — index build cost is OUTSIDE what this probe times.
            ix = dd.register_cache(dd.gram_hash_positions(corpus))
            idf = dd.register_cache(dd.gram_df(ix))
            return dd.repeated_spans_lookup(
                batch, ix, min_span=12, df_cap=50 * INFLATE, index_df=idf
            )

        time_pair(results, "spans_lookup", spans_lookup_case, docs, big_docs)

    # Adversarial span-dedup pair join (r7): a HIGH-DUPLICATION corpus
    # where every anchor's df sits just under df_cap — the worst case
    # for the anchors self-join, whose per-anchor fan-out is C(df, 2).
    # Groups of D near-identical docs; inflation adds MORE groups (per-
    # anchor fan-out constant at C(D,2), anchor count ×N), so the claim
    # under probe is ratio ≈ N — quadratic-in-corpus behavior (e.g. a
    # missing df cap) would show ratio ≈ N².
    if want("spans_hotdup"):
        D, GROUPS = 20, 60
        spark_ = docs.sparkSession

        def dup_corpus(n_groups: int) -> DataFrame:
            base = spark_.range(n_groups).select(
                F.col("id").alias("g"),
                F.concat_ws(
                    " ",
                    *[F.concat(F.lit(f"w{j}_"), F.col("id")) for j in range(40)],
                ).alias("text"),
            )
            copies = spark_.range(D).select(F.col("id").alias("c"))
            return base.crossJoin(copies).select(
                (F.col("g") * 1000 + F.col("c")).alias("doc_id"), "text"
            )

        def hotdup_case(corpus: DataFrame) -> DataFrame:
            return dd.repeated_spans(corpus, min_span=12, df_cap=D + 5)

        n1, nn = time_pair(results, "spans_hotdup", hotdup_case, dup_corpus(GROUPS),
                           dup_corpus(GROUPS * INFLATE))
        # output itself scales ×N: every group contributes C(D,2) pairs
        assert n1 == GROUPS * D * (D - 1) // 2, n1
        assert nn == GROUPS * INFLATE * D * (D - 1) // 2, nn

    # Adversarial containment pair join (r8, verdict item 4): the
    # containment screen shares the Jaccard inverted index, but its
    # OUTPUT rides C(D,2) per near-duplicate group — so like
    # spans_hotdup, probe it on a high-duplication corpus where every
    # shingle's df sits just under df_cap. Inflation adds MORE groups
    # (per-shingle fan-out constant at C(D,2), group count ×N) → ratio
    # must stay ~N; a missing df cap would show ~N². Also pins the
    # wholesale-drop contract: with df_cap below the group size every
    # shingle is dropped and the output is exactly zero.
    if want("containment_hotdup"):
        D, GROUPS = 20, 60
        spark_ = docs.sparkSession

        def dup_corpus_c(n_groups: int) -> DataFrame:
            base = spark_.range(n_groups).select(
                F.col("id").alias("g"),
                F.concat_ws(
                    " ",
                    *[F.concat(F.lit(f"w{j}_"), F.col("id")) for j in range(40)],
                ).alias("text"),
            )
            copies = spark_.range(D).select(F.col("id").alias("c"))
            return base.crossJoin(copies).select(
                (F.col("g") * 1000 + F.col("c")).alias("doc_id"), "text"
            )

        def containment_case(corpus: DataFrame) -> DataFrame:
            return dd.containment_pairs(
                corpus, threshold=0.6, df_frac=None, df_cap=D + 5
            )

        small_c, big_c = dup_corpus_c(GROUPS), dup_corpus_c(GROUPS * INFLATE)
        # df_cap below the duplicate-group df drops every shingle
        # wholesale — the stop-shingle contract, pinned here like
        # tests/test_spans.py pins it for the span family
        assert dd.containment_pairs(small_c, df_frac=None, df_cap=D - 1).count() == 0
        c1, cn = time_pair(results, "containment_hotdup", containment_case, small_c, big_c)
        # exact duplicates: every group contributes all C(D,2) pairs
        assert c1 == GROUPS * D * (D - 1) // 2, c1
        assert cn == GROUPS * INFLATE * D * (D - 1) // 2, cn

    # LSH hard-negative mining under ANCHOR-count inflation (r8,
    # verdict item 1 done-bar): corpus fixed, anchor set ×N — the
    # contrastive-training direction where the broadcast miner dies.
    # Candidate volume is Σ_anchors (bucket sizes), linear in anchors
    # at fixed corpus, so the ratio must stay ~N; a plan that scored
    # anchors × corpus (the broadcast shape) would blow past it.
    if want("hard_negatives_anchors"):
        def hn_case(mod: int) -> DataFrame:
            return sim.hard_negatives_lsh(
                emb, k=3, anchor_pred=F.col("vec_id") % mod == 0, spread=True
            )

        # N× more anchors when mod shrinks to 10
        time_pair(results, "hard_negatives_anchors", hn_case, 10 * INFLATE, 10)

    # Degenerate-bucket guard on the all-anchor miner (r9, verdict
    # item 1): a hot cluster of IDENTICAL vectors (mixed labels) lands
    # in the same cell of every LSH table — the uncapped self-fan-out
    # is |hot|² per table, the docstring's "one degenerate bucket is
    # the whole runtime" failure. With bucket_cap below the cluster
    # size the cells are dropped WHOLESALE, so runtime must be ~FLAT in
    # the hot-cluster size (background fixed, hot ×N contributes only
    # the map-side bucketing of the extra rows). Also pins the
    # wholesale-drop semantics: identical vectors share every bucket,
    # so no capped candidate can involve a hot id at either scale.
    if want("hard_negatives_hotbucket"):
        spark_ = docs.sparkSession
        DIM, B, M, CAP = 64, 2000, 500, 200

        def hot_emb(n_hot: int) -> DataFrame:
            bg = spark_.range(B).select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(DIM)),
                    lambda j: ((F.col("id") * 31 + j * 17) % 13 - 6).cast("double"),
                ).alias("embedding"),
                (F.col("id") % 4).cast("int").alias("label"),
            )
            hot = spark_.range(n_hot).select(
                (F.col("id") + 10_000_000).alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(DIM)),
                    lambda j: (j * 17 % 13 - 6).cast("double"),
                ).alias("embedding"),
                (F.col("id") % 2).cast("int").alias("label"),
            )
            return bg.unionByName(hot)

        def hb_case(n_hot: int) -> DataFrame:
            return sim.hard_negatives_lsh(
                hot_emb(n_hot), k=3, dim=DIM, bucket_cap=CAP, spread=True
            )

        # wholesale-drop contract: no hot id survives into the output
        assert hb_case(M).filter(F.col("query_id") >= 10_000_000).count() == 0
        time_pair(results, "hard_negatives_hotbucket", hb_case, M, M * INFLATE)
        assert hb_case(M * INFLATE).filter(F.col("query_id") >= 10_000_000).count() == 0

    # split_by_cluster under corpus inflation (r9, verdict item 6):
    # the docstring claims map-side split exprs + ONE partial-agg
    # groupBy + one keyed 8-byte equi-join — so ×N docs (and ×N
    # clusters) must cost ~N.
    if want("split_by_cluster"):
        weights = {"train": 18, "eval": 1, "test": 1}

        def split_case(d: DataFrame) -> DataFrame:
            assign = d.select("doc_id", (F.col("doc_id") / 3).cast("long").alias("cluster_id"))
            return lp.split_by_cluster(assign, weights)

        time_pair(results, "split_by_cluster", split_case, docs, inflate(docs, ["doc_id"], INFLATE))

    # epoch_upsample under repetition inflation (r9, verdict item 6):
    # corpus FIXED, reps ×N — the fan-out is a map-side explode of a
    # literal sequence (output rows = Σ reps, no shuffle), so time must
    # track output volume ~N, not corpus passes.
    if want("epoch_upsample_reps"):
        # reps must stay below EPOCH_STRIDE (= 8, collision-free copy
        # encoding), so the fan-out multiplier is clamped on 8× runs
        mult_n = min(INFLATE, lp.EPOCH_STRIDE - 1)

        def ups_case(mult: int) -> DataFrame:
            staged = docs.select("doc_id", (F.col("doc_id") % 4).cast("int").alias("stage"))
            return lp.epoch_upsample(staged, {s: mult for s in range(4)})

        n1, nn = time_pair(results, "epoch_upsample_reps", ups_case, 1, mult_n)
        assert nn == mult_n * n1  # exact fan-out arithmetic

    print(json.dumps({"inflate": INFLATE, "queries": results}))


if __name__ == "__main__":
    main()
