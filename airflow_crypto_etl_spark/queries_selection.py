"""Data-selection and fingerprinting queries (round 9) — the
model-distribution-aware passes a pretraining pipeline runs after the
heuristic and dedup filters:

- DSIR importance-resampling selection (Xie et al. 2023): hashed-unigram
  log-likelihood ratios between a small target domain and the raw crawl,
  summed per doc — the standard "make the crawl look like Wikipedia"
  selector,
- CCNet-style per-language perplexity buckets (Wenzek et al. 2020):
  head/middle/tail thirds by the bigram LM score within each language,
- product-quantization ANN with asymmetric distance computation
  (Jégou et al. 2011) plus its measured recall@k gate — the
  memory-bound ANN path alongside the LSH and IVF searchers,
- winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003) —
  the guaranteed-detection overlap fingerprint scheme (MOSS),
- (r10) the PERSISTED IVF index pair + incremental batch lookup
  (build once, assign only the batch per call — the minhash_lookup
  contract for vectors), and k-means-TRAINED PQ / IVFADC codebooks
  with their measured recall gates beside the seeded floors.

Exactness rules are the repo's: integer/rational sums across shuffles,
ln() only on bounded domains with the documented floor-quantization
idiom (theil/lm_score), double folds in pinned order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.hashing import char_hash_sql
from .operators import llm_prep as lp
from .operators import similarity as sim
from .operators import text as tx
from .queries import _t
from .queries_ext import _DUP_CORPUS_SQL, ANN_QUERY_IDS, _dot_sql, _dup_corpus, _norm_sql
from .queries_quality import ORACLE_LM_SCORE, lm_score_docs

_Q = 1 << 20
_IDS = ", ".join(str(i) for i in ANN_QUERY_IDS)

# ---------------------------------------------------------------------------
# DSIR — importance-resampling data selection
# ---------------------------------------------------------------------------

DSIR_TOP_N = 100


def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: target = the English slice, raw = every other
    language; the top-100 raw docs whose hashed-unigram distribution is
    most target-like, by summed per-bucket log-likelihood ratio (see
    operators/llm_prep.dsir_scores for the exactness and scale
    contract)."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    raw = docs.filter(F.col("lang") != "en")
    return lp.dsir_select(target, raw, top_n=DSIR_TOP_N)


_DSIR_B = lp.DSIR_BUCKETS
_DSIR_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"

ORACLE_DSIR = f"""
WITH t0 AS (
  SELECT doc_id, lang, {_DSIR_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, lang, unnest(toks) AS w FROM t0),
words AS (SELECT DISTINCT w FROM tok),
wh AS (SELECT w, ({char_hash_sql('w')}) % {_DSIR_B} AS b FROM words),
tk AS (SELECT doc_id, lang, b FROM tok JOIN wh USING (w)),
tgt AS (SELECT b FROM tk WHERE lang = 'en'),
raw AS (SELECT doc_id, b FROM tk WHERE lang <> 'en'),
ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tgt GROUP BY 1),
cr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM raw GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM tgt) AS n_t, (SELECT count(*) FROM raw) AS n_r),
lr AS (
  SELECT cr.b,
         CAST(floor(ln(
             CAST((COALESCE(ct.ct, 0) + 1) * (n_r + {_DSIR_B}) AS DOUBLE)
             / CAST((cr.cr + 1) * (n_t + {_DSIR_B}) AS DOUBLE)) * {float(_Q)}) AS BIGINT) AS lrq
  FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot),
dterm AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS m FROM raw GROUP BY 1, 2),
score AS (
  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens, CAST(sum(m * lrq) AS BIGINT) AS q
  FROM dterm JOIN lr USING (b) GROUP BY 1)
SELECT doc_id, n_tokens, CAST(q AS DOUBLE) / {float(_Q)} AS dsir_score
FROM score ORDER BY q DESC, doc_id ASC LIMIT {DSIR_TOP_N}
"""


# ---------------------------------------------------------------------------
# CCNet perplexity buckets
# ---------------------------------------------------------------------------


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality tiers: within each language, rank documents
    by the bigram LM score (the engine's KenLM-perplexity analog,
    queries_quality.lm_score_docs) and cut into head/middle/tail thirds
    (bucket 1 = most corpus-like). Published per (lang, bucket):
    doc count and mean LM score.

    Scale shape: the only new shuffle over lm_score's is the per-
    language ntile window — partitioned on ``lang`` (bounded domain;
    CCNet's bucketing is BY DEFINITION a per-language total order, and
    each language sorts in parallel). The mean is an integer sum of
    2^20-floor-quantized per-doc scores (each score is itself a pinned
    single division), so the aggregate is shuffle-order-free and
    oracle-exact."""
    docs = _t(spark, sf_dir, "documents")
    sc = lm_score_docs(docs)
    j = sc.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(F.col("lm_score").desc(), F.col("doc_id").asc())
    b = j.withColumn("bucket", F.ntile(3).over(w))
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.floor(F.col("lm_score") * _Q).cast("bigint")).alias("_sq"),
        )
        .select(
            "lang",
            "bucket",
            "n_docs",
            (
                F.col("_sq").cast("double") / F.col("n_docs") / F.lit(float(_Q))
            ).alias("avg_lm_score"),
        )
    )


ORACLE_CCNET_BUCKETS = f"""
WITH sc AS ({ORACLE_LM_SCORE}),
l AS (SELECT doc_id, lang FROM documents),
b AS (
  SELECT lang, lm_score,
         ntile(3) OVER (PARTITION BY lang ORDER BY lm_score DESC, doc_id ASC) AS bucket
  FROM sc JOIN l USING (doc_id))
SELECT lang, CAST(bucket AS INTEGER) AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(floor(lm_score * {_Q}) AS BIGINT)) AS DOUBLE)
         / count(*) / {float(_Q)} AS avg_lm_score
FROM b GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Product-quantization ANN + recall gate
# ---------------------------------------------------------------------------


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-10 for the standard query set (see
    operators/similarity.pq_topk): the corpus is searched in coded form
    (4 subspace codes per vector), distances come from a broadcast
    per-query lookup table."""
    return sim.pq_topk(_t(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, k=10)


_PQ_SUB, _PQ_CENT = sim.PQ_SUB, sim.PQ_CENT
_PQ_SD = 64 // _PQ_SUB


def _pq_d2_sql(a: str, b: str, s: str, sd: int) -> str:
    """Squared-L2 over subspace ``s`` of lists a, b — same fold order as
    operators.similarity.d2_sql (position-ascending, 0.0 seed)."""
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {sd + 1}), "
        f"i -> ({a}[{s}*{sd}+i] - {b}[{s}*{sd}+i]) * ({a}[{s}*{sd}+i] - {b}[{s}*{sd}+i]))), "
        f"(acc, x) -> acc + x)"
    )


_PQ_SEED_CB = f"c AS (SELECT vec_id AS cid, ve AS cv FROM v WHERE vec_id < {_PQ_CENT})"

_KM_SCALE = "1152921504606846976.0"  # 2^60, exact in double (the q_kmeans idiom)

# trained codebook CTE chain (ends in the same `c(cid, cv)` shape the
# seeded one-liner publishes): seed from the first n_cent vectors, one
# per-subspace Lloyd assign→update round with exact DECIMAL(38,0)
# 2^60-scaled sums — the operators/similarity.pq_codebook_trained
# round, unrolled. Empty (s, cid) cells COALESCE back to seed values.
_PQ_TRAINED_CB = f"""c0 AS (SELECT vec_id AS cid, ve AS cv FROM v WHERE vec_id < {_PQ_CENT}),
sub0 AS (SELECT unnest(range(0, {_PQ_SUB})) AS s),
d0 AS (
  SELECT v.vec_id, s, cid, {_pq_d2_sql('ve', 'cv', 's', _PQ_SD)} AS d2
  FROM v CROSS JOIN c0 CROSS JOIN sub0),
a0 AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, cid ASC) AS rn
    FROM d0) WHERE rn = 1),
upd AS (
  SELECT a0.s, a0.cid, t.i,
         SUM(CAST(ve[a0.s * {_PQ_SD} + t.i] * {_KM_SCALE} AS DECIMAL(38,0))) AS sm,
         COUNT(*) AS n
  FROM a0 JOIN v USING (vec_id), range(1, {_PQ_SD + 1}) t(i)
  GROUP BY 1, 2, 3),
cm AS (SELECT s, cid, i, CAST(sm AS DOUBLE) / {_KM_SCALE} / n AS m FROM upd),
cellz AS (
  SELECT c0.cid, j, COALESCE(cm.m, c0.cv[j]) AS val
  FROM c0 CROSS JOIN range(1, 65) t(j)
  LEFT JOIN cm ON cm.cid = c0.cid AND cm.s = (j - 1) // {_PQ_SD}
              AND cm.i = ((j - 1) % {_PQ_SD}) + 1),
c AS (SELECT cid, list(val ORDER BY j) AS cv FROM cellz GROUP BY cid)"""


def _pq_adc_oracle(cb_chain: str, lut_body: str | None = None) -> str:
    """ADC search body over a codebook CTE chain ending in
    ``c(cid, cv)`` — seeded and trained variants share every
    downstream CTE, so the trained registration cannot drift from the
    parity-proven ADC semantics. ``lut_body`` swaps the query set
    (default: the standard in-corpus ANN_QUERY_IDS; the persisted-
    index registration selects an id-shifted batch slice instead)."""
    if lut_body is None:
        lut_body = f"SELECT vec_id AS query_id, s, cid, d2 FROM d WHERE vec_id IN ({_IDS})"
    return f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve FROM embeddings),
{cb_chain},
sub AS (SELECT unnest(range(0, {_PQ_SUB})) AS s),
d AS (
  SELECT v.vec_id, s, cid, {_pq_d2_sql('ve', 'cv', 's', _PQ_SD)} AS d2
  FROM v CROSS JOIN c CROSS JOIN sub),
assign AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, cid AS code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, cid ASC) AS rn
    FROM d) WHERE rn = 1),
lut AS ({lut_body}),
scored AS (
  SELECT l.query_id, a.vec_id AS neighbor_id,
         list_reduce(list_prepend(0.0::DOUBLE, list(l.d2 ORDER BY l.s)),
                     (acc, x) -> acc + x) AS adc
  FROM assign a JOIN lut l ON a.s = l.s AND a.code = l.cid
  WHERE a.vec_id <> l.query_id
  GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rnk
      FROM scored)
SELECT query_id, neighbor_id, adc, CAST(rnk AS INTEGER) AS rank FROM r WHERE rnk <= 10
"""


ORACLE_ANN_PQ = _pq_adc_oracle(_PQ_SEED_CB)
ORACLE_ANN_PQ_TRAINED = _pq_adc_oracle(_PQ_TRAINED_CB)


def q_ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-10 with the K-MEANS-TRAINED codebook (r9 verdict
    item 2 — operators/similarity.pq_codebook_trained: one exact
    per-subspace Lloyd round seeded from the seeded book), same ADC
    search as q_ann_pq. Registered beside the seeded variant so the
    codebook-quality effect on the ACTUAL neighbor sets is
    oracle-pinned, not just the recall summary."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.pq_topk(
        emb, ANN_QUERY_IDS, k=10, codebook=sim.pq_codebook_trained(emb)
    )


def q_ann_pq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the TRAINED PQ/ADC searcher vs the exact L2 scan —
    what PQ actually delivers (the seeded q_ann_pq_recall is the
    floor; BASELINE.md records the measured lift)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.pq_recall(
        emb, ANN_QUERY_IDS, k=10, codebook=sim.pq_codebook_trained(emb)
    )


# (its oracle, ORACLE_ANN_PQ_TRAINED_RECALL, is defined below
# _ORACLE_ANN_L2 which it composes)


def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ/ADC searcher vs the exact L2 scan — PQ's
    measure-don't-guess gate, in PQ's own metric (squared L2, which is
    what ADC approximates; the cosine truth set would mis-grade it)."""
    return sim.pq_recall(_t(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, k=10)


_ORACLE_ANN_L2 = f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve FROM embeddings),
q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id IN ({_IDS})),
scored AS (
  SELECT query_id, v.vec_id AS neighbor_id,
         list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65),
             i -> (qv[i] - ve[i]) * (qv[i] - ve[i]))), (acc, x) -> acc + x) AS d2
  FROM v CROSS JOIN q WHERE v.vec_id <> query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rnk
      FROM scored)
SELECT query_id, neighbor_id, d2, CAST(rnk AS INTEGER) AS rank FROM r WHERE rnk <= 10
"""

def _recall_oracle(approx_sql: str) -> str:
    """Recall@k oracle body: hits of an approximate searcher's
    (query_id, neighbor_id) set against the exact-L2 truth."""
    return f"""
WITH ex AS ({_ORACLE_ANN_L2.strip()}),
ap AS ({approx_sql.strip()}),
hits AS (SELECT ex.query_id, COUNT(*) AS n_hits
         FROM ex JOIN ap ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
         GROUP BY ex.query_id),
tot AS (SELECT query_id, COUNT(*) AS n_true FROM ex GROUP BY query_id)
SELECT tot.query_id, CAST(COALESCE(hits.n_hits, 0) AS DOUBLE) / n_true AS recall
FROM tot LEFT JOIN hits ON tot.query_id = hits.query_id
"""


ORACLE_ANN_PQ_RECALL = _recall_oracle(ORACLE_ANN_PQ)
ORACLE_ANN_PQ_TRAINED_RECALL = _recall_oracle(ORACLE_ANN_PQ_TRAINED)


# ---------------------------------------------------------------------------
# IVFADC — coarse IVF + residual PQ (FAISS IVF-PQ composition)
# ---------------------------------------------------------------------------


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-10 (see operators/similarity.ivfpq_topk): coarse L2
    lists + residual-PQ codes, candidates by list equi-join, ADC
    scoring — the composed index layout a production vector store
    ships."""
    return sim.ivfpq_topk(_t(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, k=10)


_IVFPQ_NC, _IVFPQ_NP = sim.IVFPQ_COARSE, sim.IVFPQ_PROBE
_D2FULL = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (acc, x) -> acc + x)"
)

_IVFPQ_SEED_RCB = f"""rcb AS (SELECT vec_id - {_IVFPQ_NC} AS rid, r AS rv FROM resid
        WHERE vec_id >= {_IVFPQ_NC} AND vec_id < {_IVFPQ_NC + sim.IVFPQ_RCENT})"""

# trained residual codebook chain (ends in the same `rcb(rid, rv)`
# shape): one per-subspace Lloyd round over the corpus residuals,
# seeded from the seed slice — the
# operators/similarity.ivfpq_residual_codebook_trained round unrolled.
# Residuals are exact multiples of 2^-43, so the 2^60-scaled
# DECIMAL(38,0) update sums are exact integers in both engines.
_IVFPQ_TRAINED_RCB = f"""rcb0 AS (SELECT vec_id - {_IVFPQ_NC} AS rid, r AS rv FROM resid
        WHERE vec_id >= {_IVFPQ_NC} AND vec_id < {_IVFPQ_NC + sim.IVFPQ_RCENT}),
rsub0 AS (SELECT unnest(range(0, {_PQ_SUB})) AS s),
rd0 AS (
  SELECT resid.vec_id, s, rid, {_pq_d2_sql('r', 'rv', 's', _PQ_SD)} AS d2
  FROM resid CROSS JOIN rcb0 CROSS JOIN rsub0),
ra0 AS (
  SELECT vec_id, s, rid FROM (
    SELECT vec_id, s, rid,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, rid ASC) AS rn
    FROM rd0) WHERE rn = 1),
rupd AS (
  SELECT ra0.s, ra0.rid, t.i,
         SUM(CAST(r[ra0.s * {_PQ_SD} + t.i] * {_KM_SCALE} AS DECIMAL(38,0))) AS sm,
         COUNT(*) AS n
  FROM ra0 JOIN resid USING (vec_id), range(1, {_PQ_SD + 1}) t(i)
  GROUP BY 1, 2, 3),
rcm AS (SELECT s, rid, i, CAST(sm AS DOUBLE) / {_KM_SCALE} / n AS m FROM rupd),
rcellz AS (
  SELECT rcb0.rid, j, COALESCE(rcm.m, rcb0.rv[j]) AS val
  FROM rcb0 CROSS JOIN range(1, 65) t(j)
  LEFT JOIN rcm ON rcm.rid = rcb0.rid AND rcm.s = (j - 1) // {_PQ_SD}
               AND rcm.i = ((j - 1) % {_PQ_SD}) + 1),
rcb AS (SELECT rid, list(val ORDER BY j) AS rv FROM rcellz GROUP BY rid)"""


def _ivfpq_oracle(rcb_chain: str, coarse_chain: str | None = None) -> str:
    """IVFADC oracle body over a residual-codebook CTE chain ending in
    ``rcb(rid, rv)`` — seeded and trained variants share the coarse
    assignment, residual encode, probe, and ADC CTEs verbatim.
    ``coarse_chain`` swaps the id-seeded coarse quantizer CTE for the
    trained one (must end in ``c(cid, cv)``)."""
    if coarse_chain is None:
        coarse_chain = f"c AS (SELECT vec_id AS cid, ve AS cv FROM v WHERE vec_id < {_IVFPQ_NC})"
    return f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve FROM embeddings),
{coarse_chain},
ad AS (
  SELECT v.vec_id, cid, cv, ve, {_D2FULL.format(a='ve', b='cv')} AS d2
  FROM v CROSS JOIN c),
assign AS (
  SELECT vec_id, cid, cv, ve FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM ad) WHERE rn = 1),
resid AS (
  SELECT vec_id, cid AS list_id,
         list_transform(range(1, 65), i -> ve[i] - cv[i]) AS r
  FROM assign),
{rcb_chain},
sub AS (SELECT unnest(range(0, {_PQ_SUB})) AS s),
encd AS (
  SELECT resid.vec_id, list_id, s, rid, {_pq_d2_sql('r', 'rv', 's', _PQ_SD)} AS d2
  FROM resid CROSS JOIN rcb CROSS JOIN sub),
enc AS (
  SELECT vec_id, list_id, s, code FROM (
    SELECT vec_id, list_id, s, rid AS code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, rid ASC) AS rn
    FROM encd) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cid, cv, ve AS qe FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM ad WHERE vec_id IN ({_IDS})) WHERE rn <= {_IVFPQ_NP}),
qres AS (
  SELECT query_id, cid, list_transform(range(1, 65), i -> qe[i] - cv[i]) AS qr
  FROM probes),
lut AS (
  SELECT query_id, cid, s, rid, {_pq_d2_sql('qr', 'rv', 's', _PQ_SD)} AS d2
  FROM qres CROSS JOIN rcb CROSS JOIN sub),
scored AS (
  SELECT l.query_id, e.vec_id AS neighbor_id,
         list_reduce(list_prepend(0.0::DOUBLE, list(l.d2 ORDER BY l.s)),
                     (acc, x) -> acc + x) AS adc
  FROM enc e JOIN lut l ON e.list_id = l.cid AND e.s = l.s AND e.code = l.rid
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rnk
       FROM scored)
SELECT query_id, neighbor_id, adc, CAST(rnk AS INTEGER) AS rank FROM rk WHERE rnk <= 10
"""


ORACLE_ANN_IVFPQ = _ivfpq_oracle(_IVFPQ_SEED_RCB)
ORACLE_ANN_IVFPQ_TRAINED = _ivfpq_oracle(_IVFPQ_TRAINED_RCB)


def q_ann_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-10 with the K-MEANS-TRAINED residual codebook (r9
    verdict item 2 — operators/similarity.ivfpq_residual_codebook_trained:
    one exact per-subspace Lloyd round over the corpus residuals),
    same coarse lists / probes / ADC as q_ann_ivfpq."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivfpq_topk(
        emb, ANN_QUERY_IDS, k=10,
        rcb_rows=sim.ivfpq_residual_codebook_trained(emb),
    )


def q_ann_ivfpq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the TRAINED IVFADC searcher vs the exact L2 scan —
    what IVF-PQ delivers at its 4/16 search fraction (q_ann_ivfpq_recall
    is the seeded floor; BASELINE.md records the measured lift)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivfpq_recall(
        emb, ANN_QUERY_IDS, k=10,
        rcb_rows=sim.ivfpq_residual_codebook_trained(emb),
    )


def q_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVFADC vs the exact L2 scan at its 4/16 search
    fraction — completing the measured-recall table across all four
    index choices (LSH, IVF, PQ, IVF-PQ)."""
    return sim.ivfpq_recall(_t(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, k=10)


ORACLE_ANN_IVFPQ_RECALL = _recall_oracle(ORACLE_ANN_IVFPQ)
ORACLE_ANN_IVFPQ_TRAINED_RECALL = _recall_oracle(ORACLE_ANN_IVFPQ_TRAINED)


# ---------------------------------------------------------------------------
# Winnowing fingerprints
# ---------------------------------------------------------------------------


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint summary per document (see
    operators/text.winnow_fingerprints): k=8 char grams, w=4 windows,
    rightmost-min selection, distinct (hash, pos) set witnessed by an
    order-free integer checksum."""
    return tx.winnow_fingerprints(_t(spark, sf_dir, "documents"))


_WIN_K, _WIN_W, _WIN_MOD = tx.WINNOW_K, tx.WINNOW_W, tx._WINNOW_MOD


def _winnow_gram_sql(i: str) -> str:
    terms = " + ".join(
        f"codes[{i}+{j}]*{p}" if j else f"codes[{i}]*{p}"
        for j, p in enumerate(tx._WINNOW_POW)
    )
    return f"(({terms}) % {_WIN_MOD})"


ORACLE_WINNOWING = f"""
WITH c AS (
  SELECT doc_id,
         list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT) AS codes,
         length(text) AS n
  FROM documents WHERE length(text) >= {_WIN_K + _WIN_W - 1}),
s AS (
  SELECT doc_id, n - {_WIN_K} + 1 AS n_grams,
         list_transform(range(1, (n - {_WIN_K} + 1) - {_WIN_W} + 2), p ->
            list_reduce(
              list_transform(range(p, p + {_WIN_W}),
                             j -> struct_pack(h := {_winnow_gram_sql('j')}, np := -j)),
              (a, x) -> CASE WHEN x.h < a.h OR (x.h = a.h AND x.np < a.np)
                             THEN x ELSE a END)) AS sels
  FROM c),
u AS (SELECT doc_id, n_grams, unnest(sels) AS sel FROM s),
dd AS (SELECT DISTINCT doc_id, n_grams, sel.h AS h, sel.np AS np FROM u)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(count(*) AS INTEGER) AS n_selected,
       CAST(sum(h) AS BIGINT) AS fp_checksum
FROM dd GROUP BY 1, 2
"""


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS overlap candidates over the duplicate corpus (see
    operators/text.winnow_pairs): doc pairs sharing ≥3 distinct
    winnowed fingerprint hashes, boilerplate hashes with df > 20
    dropped WHOLESALE before the posting self-join — the df-cap guard
    is exercised by this registration, not merely available (the r8
    bucket-cap lesson)."""
    return tx.winnow_pairs(_dup_corpus(spark, sf_dir), min_shared=3, df_cap=20)


_WP_CAP, _WP_MIN = 20, 3

ORACLE_WINNOW_PAIRS = f"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
c AS (
  SELECT doc_id,
         list_transform(string_split(text, ''), ch -> ascii(ch)::BIGINT) AS codes,
         length(text) AS n
  FROM corpus WHERE length(text) >= {_WIN_K + _WIN_W - 1}),
s AS (
  SELECT doc_id,
         list_transform(range(1, (n - {_WIN_K} + 1) - {_WIN_W} + 2), p ->
            list_reduce(
              list_transform(range(p, p + {_WIN_W}),
                             j -> struct_pack(h := {_winnow_gram_sql('j')}, np := -j)),
              (a, x) -> CASE WHEN x.h < a.h OR (x.h = a.h AND x.np < a.np)
                             THEN x ELSE a END)) AS sels
  FROM c),
u AS (SELECT doc_id, unnest(sels) AS sel FROM s),
fp AS (SELECT DISTINCT doc_id, sel.h AS h FROM u),
keep AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= {_WP_CAP}),
fk AS (SELECT fp.doc_id, fp.h FROM fp JOIN keep USING (h)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
  FROM fk a JOIN fk b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= {_WP_MIN}
"""


# ---------------------------------------------------------------------------
# Matryoshka dimension-truncation recall curve
# ---------------------------------------------------------------------------


def q_ann_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of exact L2 search over the first d ∈ {8, 16, 32}
    embedding coordinates vs the full 64-dim exact truth (see
    operators/similarity.dim_truncated_recall) — the measured curve
    behind choosing a cheap prefix dimension for coarse ANN stages."""
    return sim.dim_truncated_recall(_t(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, k=10)


def _l2_truncated_sql(d: int) -> str:
    """Truncated-metric exact scan: same fold as _ORACLE_ANN_L2 with
    the term range bounded at d (prefix truncation needs no slice —
    only indices 1..d are touched)."""
    return f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve FROM embeddings),
q AS (SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id IN ({_IDS})),
scored AS (
  SELECT query_id, v.vec_id AS neighbor_id,
         list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {d + 1}),
             i -> (qv[i] - ve[i]) * (qv[i] - ve[i]))), (acc, x) -> acc + x) AS d2
  FROM v CROSS JOIN q WHERE v.vec_id <> query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rnk
      FROM scored)
SELECT query_id, neighbor_id FROM r WHERE rnk <= 10
"""


def _dim_recall_leg(d: int) -> str:
    return f"""
SELECT CAST({d} AS INTEGER) AS dim, tot.query_id,
       CAST(COALESCE(hits.n_hits, 0) AS DOUBLE) / n_true AS recall
FROM (SELECT query_id, COUNT(*) AS n_true FROM ex GROUP BY query_id) tot
LEFT JOIN (SELECT ex.query_id, COUNT(*) AS n_hits
           FROM ex JOIN a{d} ON ex.query_id = a{d}.query_id
                            AND ex.neighbor_id = a{d}.neighbor_id
           GROUP BY ex.query_id) hits ON tot.query_id = hits.query_id"""


ORACLE_ANN_DIM_RECALL = (
    "WITH ex AS MATERIALIZED (" + _ORACLE_ANN_L2.strip() + "),\n"
    + ",\n".join(f"a{d} AS ({_l2_truncated_sql(d).strip()})" for d in sim.MRL_DIMS)
    + "\n"
    + "\nUNION ALL\n".join(_dim_recall_leg(d).strip() for d in sim.MRL_DIMS)
)


# ---------------------------------------------------------------------------
# IVF batch lookup — the batch-ingest ANN path
# ---------------------------------------------------------------------------

IVF_BATCH_MOD = 40  # batch = every 40th corpus vector, id-shifted
# single source of truth for the quantizer geometry: the data-relative
# list_cap formula, the ivf_batch_lookup call, and the oracle f-string
# all derive from this one constant (ADVICE r9: three hardcoded 16s
# could silently diverge)
IVF_BATCH_CENTROIDS = 16


def q_ann_batch_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-ingest ANN (see operators/similarity.ivf_batch_lookup):
    an id-shifted sample of the corpus plays the new-ingest batch —
    every batch vector's nearest neighbor is its own original at
    cos 1.0, so the result doubles as an index-correctness witness.
    The inverted-list cap is LIVE and data-relative (2× the mean list
    occupancy, the q_hard_negatives_lsh_capped convention) so the
    degenerate-list guard fires at every scale factor; the corpus
    count is the bounded 1-row scalar collect (the k-means-seed
    pattern)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cap = (2 * emb.count()) // IVF_BATCH_CENTROIDS
    batch = emb.filter(F.col("vec_id") % IVF_BATCH_MOD == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return sim.ivf_batch_lookup(
        emb, batch, k=10, n_centroids=IVF_BATCH_CENTROIDS, n_probe=4,
        list_cap=cap, spread=False,
    )


# seeded coarse-quantizer chain: the first n_centroids corpus vectors
_IVF_SEED_CENTS = (
    f"c AS (SELECT vec_id AS cid, ve AS cv, nrm AS cn FROM v "
    f"WHERE vec_id < {IVF_BATCH_CENTROIDS})"
)

# TRAINED coarse-quantizer chain (r10 verdict item 1), ending in the
# same c(cid, cv, cn) shape: one FULL-dim Lloyd round under the index's
# own metric (cosine), seeded from the seed slice — the
# operators/similarity.ivf_centroids_trained round unrolled. Update
# sums are 2^60-scaled DECIMAL(38,0) (the q_kmeans idiom); empty
# clusters COALESCE back to their seed coordinates.
_IVF_TRAINED_CENTS = f"""c0 AS (SELECT vec_id AS cid, ve AS cv, nrm AS cn0 FROM v
      WHERE vec_id < {IVF_BATCH_CENTROIDS}),
td AS (SELECT v.vec_id, cid, {{dot}} / (nrm * cn0) AS cosc FROM v CROSS JOIN c0),
ta AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cid ASC) AS rn
    FROM td) WHERE rn = 1),
tu AS (
  SELECT ta.cid, t.i,
         SUM(CAST(ve[t.i] * {{scale}} AS DECIMAL(38,0))) AS sm, COUNT(*) AS n
  FROM ta JOIN v USING (vec_id), range(1, 65) t(i)
  GROUP BY 1, 2),
tm AS (SELECT cid, i, CAST(sm AS DOUBLE) / {{scale}} / n AS m FROM tu),
tcell AS (
  SELECT c0.cid, j, COALESCE(tm.m, c0.cv[j]) AS val
  FROM c0 CROSS JOIN range(1, 65) t(j)
  LEFT JOIN tm ON tm.cid = c0.cid AND tm.i = j),
tcv AS (SELECT cid, list(val ORDER BY j) AS cv FROM tcell GROUP BY cid),
c AS (SELECT cid, cv, {{nrm}} AS cn FROM tcv)"""


def _ivf_trained_cents_chain() -> str:
    return _IVF_TRAINED_CENTS.format(
        dot=_dot_sql("ve", "cv"), scale=_KM_SCALE, nrm=_norm_sql("cv")
    )


def _ivf_lookup_oracle(residue: int, shift: int, cent_chain: str | None = None) -> str:
    """Shared DuckDB twin of the IVF batch/index lookup semantics
    (batch = corpus vectors with id % IVF_BATCH_MOD = ``residue``,
    id-shifted by ``shift``). Whether the engine rebuilds the index
    per call (q_ann_batch_lookup), reads the persisted parquet pair
    (q_ann_index_lookup), or GROWS a base index by appending batch
    partitions (q_ann_index_append — the oracle always assigns the
    full union corpus directly, so a green append registration PROVES
    append ≡ rebuild), the published rows are identical — one oracle
    body serves all, so no registration can drift from the rebuild
    path's semantics. ``cent_chain`` swaps the seeded quantizer CTE
    for the trained one (must end in ``c(cid, cv, cn)``)."""
    return f"""
WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve FROM embeddings),
v AS (SELECT vec_id, ve, {_norm_sql('ve')} AS nrm FROM v0),
{cent_chain if cent_chain is not None else _IVF_SEED_CENTS},
ascored AS (
  SELECT v.vec_id, cid, {_dot_sql('ve', 'cv')} / (nrm * cn) AS cosc FROM v CROSS JOIN c),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cid ASC) AS rn FROM ascored)
  WHERE rn = 1),
keepl AS (
  SELECT cid FROM assign GROUP BY cid
  HAVING count(*) <= (2 * (SELECT count(*) FROM embeddings)) // {IVF_BATCH_CENTROIDS}),
assign_k AS (SELECT assign.* FROM assign JOIN keepl USING (cid)),
b AS (SELECT vec_id + {shift} AS query_id, ve AS qv, nrm AS qn
      FROM v WHERE vec_id % {IVF_BATCH_MOD} = {residue}),
bscored AS (
  SELECT query_id, cid, {_dot_sql('qv', 'cv')} / (qn * cn) AS cosc FROM b CROSS JOIN c),
probes AS (
  SELECT query_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosc DESC, cid ASC) AS rn
    FROM bscored)
  WHERE rn <= 4),
cand AS (
  SELECT query_id, assign_k.vec_id AS neighbor_id FROM assign_k JOIN probes USING (cid)),
scored AS (
  SELECT cand.query_id, neighbor_id, {_dot_sql('qv', 'nv.ve')} / (qn * nv.nrm) AS cos
  FROM cand JOIN v nv ON nv.vec_id = neighbor_id JOIN b ON b.query_id = cand.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
      FROM scored)
SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rank FROM r WHERE rnk <= 10
"""


ORACLE_ANN_BATCH_LOOKUP = _ivf_lookup_oracle(residue=0, shift=1000000)


# ---------------------------------------------------------------------------
# Persisted IVF index + incremental lookup — the production ingest loop
# ---------------------------------------------------------------------------

IVF_INDEX_RESIDUE = 1  # a DIFFERENT batch slice than q_ann_batch_lookup's
IVF_INDEX_SHIFT = 2000000


_SCRATCH_ROOTS: set = set()


def _ivf_index_root(sf_dir: str, kind: str = "ivf_index") -> "pathlib.Path":
    """Repo-anchored scratch location for a persisted index pair,
    keyed by a digest of the sf_dir AND this process's pid (r10 ADVICE:
    the shared sf_dir-only path raced under concurrent bench /
    determinism drivers — one process's overwrite delete could break
    the other's mid-query parquet read). Anchored to the repo, not the
    cwd (the driver's cwd is its own); cleaned up at process exit —
    not earlier, because the returned lookup DataFrame reads these
    files lazily when the driver collects it."""
    import atexit
    import hashlib
    import os
    import pathlib
    import shutil

    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    root = (
        pathlib.Path(__file__).resolve().parents[1]
        / ".scratch"
        / f"{kind}_{tag}_pid{os.getpid()}"
    )
    if not _SCRATCH_ROOTS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SCRATCH_ROOTS]
        )
    _SCRATCH_ROOTS.add(str(root))
    return root


def _in_threads(spark: SparkSession, fn, items: list, workers: int) -> None:
    """``fn(item)`` for every item, from a pool of ``workers`` threads.
    A plain pool thread starts with no job group, description or tags,
    so each call is wrapped in ``inheritable_thread_target`` when it is
    submitted: its jobs carry the caller's, and each thread gets its own
    copy of the caller's local properties."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), it) for it in items]
        for f in futures:
            f.result()


def _write_pair(root: "pathlib.Path", named_dfs: list) -> None:
    """Persist the two tables of an index pair CONCURRENTLY (guide
    §2.6): they derive from independent plans (the big table is built
    from the in-memory book, not the persisted one), each write owns
    its own directory, and Spark back-fills the small write's idle
    executors with the big write's tasks."""

    def one(item) -> None:
        name, df = item
        df.write.mode("overwrite").parquet(str(root / name))

    _in_threads(named_dfs[0][1].sparkSession, one, named_dfs, len(named_dfs))


def _write_batches(root: "pathlib.Path", name: str, batches: list) -> None:
    """Persist each batch's index rows to its own ``batch_id=`` partition
    DIRECTORY, overlapping the independent write jobs from a small
    thread pool (guide §2.6 — Spark runs concurrent driver-submitted
    jobs and back-fills executors freed by another job's tail; the
    batches are independent by construction). Writing the partition
    directory directly is layout-identical to
    ``partitionBy('batch_id')`` + dynamic overwrite and keeps the same
    replay idempotence — re-writing batch b overwrites exactly
    ``root/name/batch_id=b`` — while giving each concurrent job its own
    commit scope (no shared staging state between jobs)."""

    def one(item) -> None:
        b, rows = item
        rows.write.mode("overwrite").parquet(str(root / name / f"batch_id={b}"))

    _in_threads(batches[0].sparkSession, one, list(enumerate(batches)), min(3, len(batches)))


def q_ann_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL ingest path end-to-end (r9 verdict item 1):
    build the IVF index ONCE (operators/similarity.ivf_index_build,
    list_cap live at build time), persist both tables to parquet,
    read them back, and search a new batch with
    operators/similarity.ivf_index_lookup — ONLY the batch is
    assigned; the corpus is touched exclusively through its stored
    (centroids, assign) tables plus the exact-rescore vector join.
    The batch is a different id-slice than q_ann_batch_lookup's
    (residue 1, shift 2M), so the two registrations hash
    independently. Plain double/bigint index columns make the parquet
    round-trip bit-exact, which is why one shared oracle body serves
    both the rebuild and persisted paths."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cap = (2 * emb.count()) // IVF_BATCH_CENTROIDS
    cents, assign = sim.ivf_index_build(
        emb, n_centroids=IVF_BATCH_CENTROIDS, list_cap=cap, spread=False
    )
    root = _ivf_index_root(sf_dir)
    _write_pair(root, [("centroids", cents), ("assign", assign)])
    cents_p = spark.read.parquet(str(root / "centroids"))
    assign_p = spark.read.parquet(str(root / "assign"))
    batch = emb.filter(F.col("vec_id") % IVF_BATCH_MOD == IVF_INDEX_RESIDUE).select(
        (F.col("vec_id") + IVF_INDEX_SHIFT).alias("vec_id"), "embedding"
    )
    return sim.ivf_index_lookup(
        batch, emb, cents_p, assign_p, k=10, n_probe=4, spread=False
    )


ORACLE_ANN_INDEX_LOOKUP = _ivf_lookup_oracle(
    residue=IVF_INDEX_RESIDUE, shift=IVF_INDEX_SHIFT
)


# ---------------------------------------------------------------------------
# Growing the persisted IVF index — ivf_index_append (r10 verdict item 2)
# ---------------------------------------------------------------------------

IVF_APPEND_RES = (21, 22)  # the two id-slices appended after the base build
IVF_APPEND_LOOKUP_RESIDUE = 2  # residues 0/1 are taken by the sibling queries
IVF_APPEND_LOOKUP_SHIFT = 3000000


def q_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROWING-index ingest loop end-to-end (r10 verdict item 2 —
    the persisted index was search-only): build the IVF index over the
    corpus MINUS two id-slices, persist it, then append each held-out
    slice with operators/similarity.ivf_index_append into its own
    ``batch_id=`` parquet partition (dynamic overwrite — a replayed
    batch is a no-op), re-apply the data-relative list_cap over the
    grown assign table at read time, and search a new batch against
    base + appended partitions. The oracle assigns the FULL union
    corpus directly (the shared _ivf_lookup_oracle body), so this
    registration green PROVES append ≡ rebuild — the done-when of the
    r10 verdict, oracle-checked at both scale factors rather than only
    live-tested."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(~(F.col("vec_id") % IVF_BATCH_MOD).isin(list(IVF_APPEND_RES)))
    cents, assign0 = sim.ivf_index_build(
        base, n_centroids=IVF_BATCH_CENTROIDS, spread=False
    )
    root = _ivf_index_root(sf_dir, "ivf_append")
    cents.write.mode("overwrite").parquet(str(root / "centroids"))
    cents_p = spark.read.parquet(str(root / "centroids"))
    _write_batches(
        root,
        "assign",
        [assign0]
        + [
            sim.ivf_index_append(
                emb.filter(F.col("vec_id") % IVF_BATCH_MOD == r), cents_p, spread=False
            )
            for r in IVF_APPEND_RES
        ],
    )
    grown = spark.read.parquet(str(root / "assign")).select("cid", "vec_id")
    cap = (2 * emb.count()) // IVF_BATCH_CENTROIDS
    capped = sim.ivf_index_cap(grown, cap)
    batch = emb.filter(
        F.col("vec_id") % IVF_BATCH_MOD == IVF_APPEND_LOOKUP_RESIDUE
    ).select((F.col("vec_id") + IVF_APPEND_LOOKUP_SHIFT).alias("vec_id"), "embedding")
    return sim.ivf_index_lookup(
        batch, emb, cents_p, capped, k=10, n_probe=4, spread=False
    )


ORACLE_ANN_INDEX_APPEND = _ivf_lookup_oracle(
    residue=IVF_APPEND_LOOKUP_RESIDUE, shift=IVF_APPEND_LOOKUP_SHIFT
)


# ---------------------------------------------------------------------------
# Trained coarse quantizer (r10 verdict item 1)
# ---------------------------------------------------------------------------

IVF_TRAINED_LOOKUP_RESIDUE = 4
IVF_TRAINED_LOOKUP_SHIFT = 5000000


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-ingest ANN through the K-MEANS-TRAINED coarse quantizer
    (operators/similarity.ivf_centroids_trained: one exact full-dim
    Lloyd round under the index's own cosine metric, seeded from the
    seed slice) — r10 verdict item 1: the trained RESIDUAL books
    barely moved IVFADC recall because every coarse assignment was
    still id-seeded. Same lookup semantics as q_ann_batch_lookup
    (data-relative list_cap live), different id-slice/shift so the
    registrations hash independently; the occupancy-spread effect of
    training is published by q_ann_ivf_occupancy."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cap = (2 * emb.count()) // IVF_BATCH_CENTROIDS
    trained = sim.ivf_centroids_trained(
        emb, n_centroids=IVF_BATCH_CENTROIDS, metric="cos", spread=False
    )
    batch = emb.filter(
        F.col("vec_id") % IVF_BATCH_MOD == IVF_TRAINED_LOOKUP_RESIDUE
    ).select((F.col("vec_id") + IVF_TRAINED_LOOKUP_SHIFT).alias("vec_id"), "embedding")
    return sim.ivf_batch_lookup(
        emb, batch, k=10, n_centroids=IVF_BATCH_CENTROIDS, n_probe=4,
        list_cap=cap, spread=False, centroids=trained,
    )


ORACLE_ANN_IVF_TRAINED = _ivf_lookup_oracle(
    residue=IVF_TRAINED_LOOKUP_RESIDUE,
    shift=IVF_TRAINED_LOOKUP_SHIFT,
    cent_chain=_ivf_trained_cents_chain(),
)


def _ivf_topk_oracle(cent_chain: str) -> str:
    """ivf_topk twin over a coarse-quantizer CTE chain ending in
    ``c(cid, cv, cn)`` — seeded (queries_ext.ORACLE_ANN_IVF) and
    trained variants share every downstream CTE."""
    return f"""
WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve FROM embeddings),
v AS (SELECT vec_id, ve, {_norm_sql('ve')} AS nrm FROM v0),
{cent_chain},
ascored AS (
  SELECT v.vec_id, cid, {_dot_sql('ve', 'cv')} / (nrm * cn) AS cosc FROM v CROSS JOIN c),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cid ASC) AS rn FROM ascored)
  WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cid ASC) AS rn
    FROM ascored WHERE vec_id IN ({_IDS}))
  WHERE rn <= 4),
cand AS (
  SELECT DISTINCT query_id, assign.vec_id AS neighbor_id
  FROM assign JOIN probes USING (cid) WHERE assign.vec_id <> query_id),
q AS (SELECT vec_id AS query_id, ve AS qv, nrm AS qn FROM v WHERE vec_id IN ({_IDS})),
scored AS (
  SELECT cand.query_id, neighbor_id, {_dot_sql('qv', 'nv.ve')} / (qn * nv.nrm) AS cos
  FROM cand JOIN v nv ON nv.vec_id = neighbor_id JOIN q ON q.query_id = cand.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
      FROM scored)
SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rank FROM r WHERE rnk <= 10
"""


def q_ann_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF searcher under the TRAINED coarse
    quantizer vs the exact cosine scan — the companion gate to
    q_ann_ivf_recall's seeded floor; BASELINE.md records the measured
    lift (the r10 done-when)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivf_recall(
        emb, ANN_QUERY_IDS, k=10,
        centroids=sim.ivf_centroids_trained(emb, spread=False),
    )


def _cos_recall_oracle(approx_sql: str) -> str:
    """Recall@k oracle with the exact COSINE scan as truth (ivf_recall
    measures against brute_force_topk, not the L2 scan)."""
    from .queries_ext import ORACLE_ANN_TOPK

    return f"""
WITH ex AS ({ORACLE_ANN_TOPK.strip()}),
ap AS ({approx_sql.strip()}),
hits AS (SELECT ex.query_id, COUNT(*) AS n_hits
         FROM ex JOIN ap ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
         GROUP BY ex.query_id),
tot AS (SELECT query_id, COUNT(*) AS n_true FROM ex GROUP BY query_id)
SELECT tot.query_id, CAST(COALESCE(hits.n_hits, 0) AS DOUBLE) / n_true AS recall
FROM tot LEFT JOIN hits ON tot.query_id = hits.query_id
"""


ORACLE_ANN_IVF_TRAINED_RECALL = _cos_recall_oracle(
    _ivf_topk_oracle(_ivf_trained_cents_chain())
)


def q_ann_ivf_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-list occupancy spread, seeded vs trained quantizer —
    the r10 done-when asked for the max/mean balance effect of
    training to be RECORDED, so it is published as an oracle-checked
    registration rather than a one-off note: per variant, the number
    of non-empty lists, max/min occupancy, total assigned vectors,
    and spread = max/mean. A balanced quantizer (spread → 1) is what
    keeps the data-relative list_cap from wholesale-dropping lists.
    Scale shape: two map-side assignment passes (broadcast quantizer)
    into (cid, id)-pair partial-agg counts — the vectors never
    shuffle; the final per-variant agg is over ≤ n_centroids rows."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    trained = sim.ivf_centroids_trained(
        emb, n_centroids=IVF_BATCH_CENTROIDS, metric="cos", spread=False
    )

    def occ(centroids: DataFrame | None, variant: str) -> DataFrame:
        _, assign = sim.ivf_index_build(
            emb, n_centroids=IVF_BATCH_CENTROIDS, spread=False, centroids=centroids
        )
        sizes = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
        return sizes.agg(
            F.count(F.lit(1)).alias("n_lists"),
            F.max("n").alias("max_occ"),
            F.min("n").alias("min_occ"),
            F.sum("n").alias("n_vecs"),
        ).select(
            F.lit(variant).alias("variant"),
            "n_lists",
            "max_occ",
            "min_occ",
            "n_vecs",
            (
                F.col("max_occ").cast("double") * F.col("n_lists") / F.col("n_vecs")
            ).alias("spread"),
        )

    return occ(None, "seeded").unionByName(occ(trained, "trained"))


def _occupancy_leg(assign_cte: str, variant: str) -> str:
    return f"""
SELECT '{variant}' AS variant, CAST(count(*) AS BIGINT) AS n_lists,
       CAST(max(n) AS BIGINT) AS max_occ, CAST(min(n) AS BIGINT) AS min_occ,
       CAST(sum(n) AS BIGINT) AS n_vecs,
       CAST(max(n) AS DOUBLE) * count(*) / sum(n) AS spread
FROM (SELECT cid, count(*) AS n FROM {assign_cte} GROUP BY cid)"""


ORACLE_ANN_IVF_OCCUPANCY = f"""
WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve FROM embeddings),
v AS (SELECT vec_id, ve, {_norm_sql('ve')} AS nrm FROM v0),
cs AS (SELECT vec_id AS cid, ve AS cv, nrm AS cn FROM v WHERE vec_id < {IVF_BATCH_CENTROIDS}),
ssc AS (SELECT v.vec_id, cid, {_dot_sql('ve', 'cv')} / (nrm * cn) AS cosc FROM v CROSS JOIN cs),
assign_s AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cid ASC) AS rn FROM ssc)
  WHERE rn = 1),
{_ivf_trained_cents_chain()},
tsc AS (SELECT v.vec_id, c.cid, {_dot_sql('ve', 'c.cv')} / (nrm * c.cn) AS cosc FROM v CROSS JOIN c),
assign_t AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cid ASC) AS rn FROM tsc)
  WHERE rn = 1)
{_occupancy_leg('assign_s', 'seeded')}
UNION ALL
{_occupancy_leg('assign_t', 'trained')}
"""


def q_ann_ivfpq_coarse_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULLY-trained IVFADC: the coarse quantizer trained at full dim
    under L2 (ivf_centroids_trained(metric="l2") — the metric this
    stage assigns with) AND the residual codebook trained against
    those trained-coarse residuals. r10's measured finding was that
    trained residuals alone moved recall@10 only 0.150 → 0.1625
    because the seeded coarse partition was the binding constraint;
    this registration pins the full-trained neighbor sets and
    q_ann_ivfpq_coarse_trained_recall records the lift."""
    emb = _t(spark, sf_dir, "embeddings")
    tc = sim.ivf_centroids_trained(
        emb, n_centroids=sim.IVFPQ_COARSE, metric="l2", spread=False
    )
    rcb = sim.ivfpq_residual_codebook_trained(emb, coarse_rows=tc)
    return sim.ivfpq_topk(emb, ANN_QUERY_IDS, k=10, rcb_rows=rcb, coarse_rows=tc)


def q_ann_ivfpq_coarse_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the fully-trained IVFADC vs the exact L2 scan —
    completing the trained-vs-seeded recall table (seeded floor,
    trained-residual-only, fully-trained) at the same 4/16 search
    fraction."""
    emb = _t(spark, sf_dir, "embeddings")
    tc = sim.ivf_centroids_trained(
        emb, n_centroids=sim.IVFPQ_COARSE, metric="l2", spread=False
    )
    rcb = sim.ivfpq_residual_codebook_trained(emb, coarse_rows=tc)
    return sim.ivfpq_recall(emb, ANN_QUERY_IDS, k=10, rcb_rows=rcb, coarse_rows=tc)


# trained-coarse chain for the IVFADC oracle (L2 metric, ends in the
# same c(cid, cv) shape the seeded one-liner publishes)
_IVFPQ_TRAINED_CENTS = f"""c0 AS (SELECT vec_id AS cid, ve AS cv FROM v WHERE vec_id < {_IVFPQ_NC}),
td AS (SELECT v.vec_id, cid, {_D2FULL.format(a='ve', b='cv')} AS d2 FROM v CROSS JOIN c0),
ta AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM td) WHERE rn = 1),
tu AS (
  SELECT ta.cid, t.i,
         SUM(CAST(ve[t.i] * {_KM_SCALE} AS DECIMAL(38,0))) AS sm, COUNT(*) AS n
  FROM ta JOIN v USING (vec_id), range(1, 65) t(i)
  GROUP BY 1, 2),
tm AS (SELECT cid, i, CAST(sm AS DOUBLE) / {_KM_SCALE} / n AS m FROM tu),
tcell AS (
  SELECT c0.cid, j, COALESCE(tm.m, c0.cv[j]) AS val
  FROM c0 CROSS JOIN range(1, 65) t(j)
  LEFT JOIN tm ON tm.cid = c0.cid AND tm.i = j),
c AS (SELECT cid, list(val ORDER BY j) AS cv FROM tcell GROUP BY cid)"""

ORACLE_ANN_IVFPQ_COARSE_TRAINED = _ivfpq_oracle(
    _IVFPQ_TRAINED_RCB, coarse_chain=_IVFPQ_TRAINED_CENTS
)
ORACLE_ANN_IVFPQ_COARSE_TRAINED_RECALL = _recall_oracle(ORACLE_ANN_IVFPQ_COARSE_TRAINED)


# ---------------------------------------------------------------------------
# Persisted PQ index + incremental lookup (r10 verdict item 4)
# ---------------------------------------------------------------------------

PQ_INDEX_RESIDUE = 3
PQ_INDEX_SHIFT = 4000000


def q_ann_pq_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-PQ ingest path end-to-end (r10 verdict item 4 —
    q_ann_pq re-encoded the corpus per call): train the codebook and
    encode the corpus ONCE (operators/similarity.pq_index_build),
    persist the (codebook, codes) pair to parquet, read it back, and
    ADC-search a new batch with pq_index_lookup — only the batch's
    lookup tables are computed per call; the corpus contributes
    exclusively through its stored codes. Plain double/bigint index
    columns make the round-trip bit-exact; the oracle recomputes the
    trained book + codes from scratch (the shared trained-CB chain),
    so a green row pins persisted ≡ rebuild for the PQ side exactly
    as _ivf_lookup_oracle does for the IVF side."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codebook, codes = sim.pq_index_build(emb, trained=True)
    root = _ivf_index_root(sf_dir, "pq_index")
    _write_pair(root, [("codebook", codebook), ("codes", codes)])
    # read back with the schemas just written: no footer-inference jobs
    cb_p = spark.read.schema(codebook.schema).parquet(str(root / "codebook"))
    codes_p = spark.read.schema(codes.schema).parquet(str(root / "codes"))
    batch = emb.filter(F.col("vec_id") % IVF_BATCH_MOD == PQ_INDEX_RESIDUE).select(
        (F.col("vec_id") + PQ_INDEX_SHIFT).alias("vec_id"), "embedding"
    )
    return sim.pq_index_lookup(batch, cb_p, codes_p, k=10)


ORACLE_ANN_PQ_INDEX_LOOKUP = _pq_adc_oracle(
    _PQ_TRAINED_CB,
    lut_body=(
        f"SELECT vec_id + {PQ_INDEX_SHIFT} AS query_id, s, cid, d2 "
        f"FROM d WHERE vec_id % {IVF_BATCH_MOD} = {PQ_INDEX_RESIDUE}"
    ),
)


# ---------------------------------------------------------------------------
# Growing the persisted PQ index — pq_index_append (r11: the PQ side of
# the r10-item-2 growing-index contract; IVF and MinHash landed first)
# ---------------------------------------------------------------------------

PQ_APPEND_RES = (31, 32)  # the two id-slices appended after the base build
PQ_APPEND_LOOKUP_RESIDUE = 5
PQ_APPEND_LOOKUP_SHIFT = 6000000


def q_ann_pq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROWING-PQ-index ingest loop end-to-end: build the
    (codebook, codes) pair over the corpus MINUS two id-slices,
    persist it, append each held-out slice with
    operators/similarity.pq_index_append into its own ``batch_id=``
    parquet partition (dynamic overwrite — a replayed batch is a
    no-op), and ADC-search a new batch against base + appended codes.
    The codebook is FROZEN at build (the seeded book, so base and
    union corpora agree on it by construction — codebook QUALITY is
    pinned separately by q_ann_pq_index_lookup's trained chain); the
    oracle encodes the FULL union corpus directly, so this
    registration green PROVES append ≡ rebuild for the PQ side,
    completing the growing-index contract across all three persisted
    index families (IVF, MinHash, PQ)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(~(F.col("vec_id") % IVF_BATCH_MOD).isin(list(PQ_APPEND_RES)))
    codebook, codes0 = sim.pq_index_build(base, trained=False)
    root = _ivf_index_root(sf_dir, "pq_append")
    codebook.write.mode("overwrite").parquet(str(root / "codebook"))
    cb_p = spark.read.parquet(str(root / "codebook"))
    _write_batches(
        root,
        "codes",
        [codes0]
        + [
            sim.pq_index_append(
                emb.filter(F.col("vec_id") % IVF_BATCH_MOD == r), cb_p
            )
            for r in PQ_APPEND_RES
        ],
    )
    grown = spark.read.parquet(str(root / "codes")).select("vec_id", "codes")
    batch = emb.filter(
        F.col("vec_id") % IVF_BATCH_MOD == PQ_APPEND_LOOKUP_RESIDUE
    ).select((F.col("vec_id") + PQ_APPEND_LOOKUP_SHIFT).alias("vec_id"), "embedding")
    return sim.pq_index_lookup(batch, cb_p, grown, k=10)


ORACLE_ANN_PQ_INDEX_APPEND = _pq_adc_oracle(
    _PQ_SEED_CB,
    lut_body=(
        f"SELECT vec_id + {PQ_APPEND_LOOKUP_SHIFT} AS query_id, s, cid, d2 "
        f"FROM d WHERE vec_id % {IVF_BATCH_MOD} = {PQ_APPEND_LOOKUP_RESIDUE}"
    ),
)


# ---------------------------------------------------------------------------
# Compacting the grown PQ index — pq_index_compact (r11: the PQ member
# of the compactor family, completing compact across IVF/MinHash/PQ)
# ---------------------------------------------------------------------------

PQ_COMPACT_RES = (37, 38)  # id-slices appended, then compacted away
PQ_COMPACT_LOOKUP_RESIDUE = 8
PQ_COMPACT_LOOKUP_SHIFT = 9000000


def q_ann_pq_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ-index MAINTENANCE cycle end-to-end: build the
    (codebook, codes) pair over the corpus MINUS two id-slices, grow
    it by appending each slice batch_id-partitioned against the FROZEN
    codebook, then COMPACT the grown codes with
    operators/similarity.pq_index_compact — one (id, codes)-row
    shuffle into an id-clustered sorted base layout published to a
    fresh location (batch_id consumed, append epoch resets) — and
    ADC-search a new batch against the COMPACTED codes. The oracle
    encodes the full union corpus directly (the shared _pq_adc_oracle
    body), so a green row PROVES compact ≡ append ≡ rebuild for the
    PQ side — the last cell of the compact row in the lifecycle
    matrix. Unlike the IVF/MinHash compactors this buys no probe
    selectivity (ADC scans the coded corpus by design); the win is
    the small-file consolidation alone, stated honestly in the
    operator docstring."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(~(F.col("vec_id") % IVF_BATCH_MOD).isin(list(PQ_COMPACT_RES)))
    codebook, codes0 = sim.pq_index_build(base, trained=False)
    root = _ivf_index_root(sf_dir, "pq_compact")
    codebook.write.mode("overwrite").parquet(str(root / "codebook"))
    cb_p = spark.read.parquet(str(root / "codebook"))
    _write_batches(
        root,
        "codes",
        [codes0]
        + [
            sim.pq_index_append(
                emb.filter(F.col("vec_id") % IVF_BATCH_MOD == r), cb_p
            )
            for r in PQ_COMPACT_RES
        ],
    )
    grown = spark.read.parquet(str(root / "codes"))
    sim.pq_index_compact(grown).write.mode("overwrite").parquet(
        str(root / "codes_compacted")
    )
    compacted = spark.read.parquet(str(root / "codes_compacted"))
    batch = emb.filter(
        F.col("vec_id") % IVF_BATCH_MOD == PQ_COMPACT_LOOKUP_RESIDUE
    ).select((F.col("vec_id") + PQ_COMPACT_LOOKUP_SHIFT).alias("vec_id"), "embedding")
    return sim.pq_index_lookup(batch, cb_p, compacted, k=10)


ORACLE_ANN_PQ_INDEX_COMPACT = _pq_adc_oracle(
    _PQ_SEED_CB,
    lut_body=(
        f"SELECT vec_id + {PQ_COMPACT_LOOKUP_SHIFT} AS query_id, s, cid, d2 "
        f"FROM d WHERE vec_id % {IVF_BATCH_MOD} = {PQ_COMPACT_LOOKUP_RESIDUE}"
    ),
)


# ---------------------------------------------------------------------------
# Compacting the grown IVF index — ivf_index_compact (r11: the
# maintenance half of the append contract; a year of daily appends is
# the small-file problem at 100 TB)
# ---------------------------------------------------------------------------

IVF_COMPACT_RES = (25, 26)  # id-slices appended, then compacted away
IVF_COMPACT_LOOKUP_RESIDUE = 6
IVF_COMPACT_LOOKUP_SHIFT = 7000000


def q_ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full index MAINTENANCE cycle end-to-end: build the IVF
    index over the corpus MINUS two id-slices, grow it by appending
    each slice batch_id-partitioned (the q_ann_index_append loop),
    then COMPACT the grown table with
    operators/similarity.ivf_index_compact — one shuffle of the
    (cid, id) index rows into a list-clustered, within-partition-
    sorted layout published to a fresh location (batch_id consumed,
    so the append epoch resets) — and search a new batch against the
    COMPACTED index. The oracle assigns the full union corpus
    directly (the shared _ivf_lookup_oracle body), so this
    registration green PROVES compact ≡ append ≡ rebuild: compaction
    is pure re-layout, and the lookup plan gets back the bounded
    file-set-per-list read pattern that daily small-file appends
    erode at scale."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(~(F.col("vec_id") % IVF_BATCH_MOD).isin(list(IVF_COMPACT_RES)))
    cents, assign0 = sim.ivf_index_build(
        base, n_centroids=IVF_BATCH_CENTROIDS, spread=False
    )
    root = _ivf_index_root(sf_dir, "ivf_compact")
    cents.write.mode("overwrite").parquet(str(root / "centroids"))
    cents_p = spark.read.parquet(str(root / "centroids"))
    _write_batches(
        root,
        "assign",
        [assign0]
        + [
            sim.ivf_index_append(
                emb.filter(F.col("vec_id") % IVF_BATCH_MOD == r), cents_p, spread=False
            )
            for r in IVF_COMPACT_RES
        ],
    )
    grown = spark.read.parquet(str(root / "assign"))
    sim.ivf_index_compact(grown).write.mode("overwrite").parquet(
        str(root / "assign_compacted")
    )
    compacted = spark.read.parquet(str(root / "assign_compacted"))
    cap = (2 * emb.count()) // IVF_BATCH_CENTROIDS
    capped = sim.ivf_index_cap(compacted, cap)
    batch = emb.filter(
        F.col("vec_id") % IVF_BATCH_MOD == IVF_COMPACT_LOOKUP_RESIDUE
    ).select((F.col("vec_id") + IVF_COMPACT_LOOKUP_SHIFT).alias("vec_id"), "embedding")
    return sim.ivf_index_lookup(
        batch, emb, cents_p, capped, k=10, n_probe=4, spread=False
    )


ORACLE_ANN_INDEX_COMPACT = _ivf_lookup_oracle(
    residue=IVF_COMPACT_LOOKUP_RESIDUE, shift=IVF_COMPACT_LOOKUP_SHIFT
)


# ---------------------------------------------------------------------------
# Index health monitor — ivf_index_stats (r11: the maintenance signal
# that closes the build → append → compact lifecycle)
# ---------------------------------------------------------------------------

IVF_HEALTH_RES = (27, 28)  # the two id-slices appended before the health read


def q_ann_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index MAINTENANCE signal (operators/similarity.
    ivf_index_stats): build the IVF index over the corpus MINUS two
    id-slices, grow it by appending each slice batch_id-partitioned,
    then publish the one-row health summary an operator reads to
    decide WHEN to compact (append-batch buildup: n_append_batches,
    appended_frac) or retrain the quantizer (occupancy skew: spread,
    n_lists_over_cap against the data-relative cap). Pure index-table
    introspection — one partial-agg count over the (cid, id) rows plus
    a ≤ n_batches agg; the vectors are never touched."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(~(F.col("vec_id") % IVF_BATCH_MOD).isin(list(IVF_HEALTH_RES)))
    cents, assign0 = sim.ivf_index_build(
        base, n_centroids=IVF_BATCH_CENTROIDS, spread=False
    )
    root = _ivf_index_root(sf_dir, "ivf_health")
    cents.write.mode("overwrite").parquet(str(root / "centroids"))
    cents_p = spark.read.parquet(str(root / "centroids"))
    _write_batches(
        root,
        "assign",
        [assign0]
        + [
            sim.ivf_index_append(
                emb.filter(F.col("vec_id") % IVF_BATCH_MOD == r), cents_p, spread=False
            )
            for r in IVF_HEALTH_RES
        ],
    )
    grown = spark.read.parquet(str(root / "assign"))
    cap = (2 * emb.count()) // IVF_BATCH_CENTROIDS
    return sim.ivf_index_stats(grown, list_cap=cap)


# the health oracle assigns the union corpus directly (seed quantizer
# lives in the base by construction: seed ids < 16 are residues 0..15,
# disjoint from the appended slices), then recomputes every statistic
# from the assignment and the slice arithmetic.
ORACLE_ANN_INDEX_HEALTH = f"""
WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve FROM embeddings),
v AS (SELECT vec_id, ve, {_norm_sql('ve')} AS nrm FROM v0),
c AS (SELECT vec_id AS cid, ve AS cv, nrm AS cn FROM v WHERE vec_id < {IVF_BATCH_CENTROIDS}),
ascored AS (
  SELECT v.vec_id, cid, {_dot_sql('ve', 'cv')} / (nrm * cn) AS cosc FROM v CROSS JOIN c),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cid ASC) AS rn FROM ascored)
  WHERE rn = 1),
cap AS (SELECT (2 * count(*)) // {IVF_BATCH_CENTROIDS} AS cap FROM embeddings),
sizes AS (SELECT cid, count(*) AS n FROM assign GROUP BY cid),
lists AS (
  SELECT CAST(count(*) AS BIGINT) AS n_lists, CAST(sum(n) AS BIGINT) AS n_vecs,
         CAST(max(n) AS BIGINT) AS max_occ, CAST(min(n) AS BIGINT) AS min_occ,
         CAST(sum(CASE WHEN n > cap THEN 1 ELSE 0 END) AS BIGINT) AS n_lists_over_cap
  FROM sizes CROSS JOIN cap),
b AS (
  SELECT CAST(count(DISTINCT CASE WHEN vec_id % {IVF_BATCH_MOD} IN {IVF_HEALTH_RES}
                                  THEN vec_id % {IVF_BATCH_MOD} END) AS BIGINT) AS n_append_batches,
         CAST(sum(CASE WHEN vec_id % {IVF_BATCH_MOD} IN {IVF_HEALTH_RES} THEN 1 ELSE 0 END) AS BIGINT) AS appended_vecs
  FROM embeddings)
SELECT n_lists, n_vecs, max_occ, min_occ,
       CAST(max_occ AS DOUBLE) * n_lists / n_vecs AS spread,
       n_lists_over_cap, n_append_batches, appended_vecs,
       CAST(appended_vecs AS DOUBLE) / n_vecs AS appended_frac
FROM lists CROSS JOIN b
"""


# ---------------------------------------------------------------------------
# Retraining the persisted IVF index — ivf_index_retrain (r11: the
# maintenance ACTION the health monitor's occupancy-skew signal calls
# for, closing the build → append → compact → health → retrain loop)
# ---------------------------------------------------------------------------

IVF_RETRAIN_LOOKUP_RESIDUE = 7
IVF_RETRAIN_LOOKUP_SHIFT = 8000000


def q_ann_index_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RETRAIN maintenance action end-to-end
    (operators/similarity.ivf_index_retrain): when q_ann_index_health's
    spread / n_lists_over_cap signal says the quantizer no longer fits
    the corpus the appends grew it into, the operator trains the
    coarse quantizer over the current corpus (one exact full-dim
    Lloyd round under the index's own cosine metric) and rebuilds the
    (centroids, assign) pair under it, data-relative list_cap applied
    at retrain exactly as at build. Here the new pair is published to
    a fresh VERSIONED location (retraining re-keys every stored list,
    so the old pair must stay live until the atomic swap — the
    compact publish convention), read back, and a new batch is
    searched against the READ-BACK pair: a green row pins
    persisted-TRAINED ≡ rebuilt-trained through the parquet
    round-trip. q_ann_ivf_trained pins the in-memory trained path;
    this is its persisted twin, the trained analogue of
    q_ann_index_lookup — the last edge of the lifecycle square
    (seeded/trained × in-memory/persisted)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cap = (2 * emb.count()) // IVF_BATCH_CENTROIDS
    cents2, assign2 = sim.ivf_index_retrain(
        emb, n_centroids=IVF_BATCH_CENTROIDS, list_cap=cap, spread=False
    )
    root = _ivf_index_root(sf_dir, "ivf_retrain")
    _write_pair(root, [("centroids_v2", cents2), ("assign_v2", assign2)])
    cents_p = spark.read.parquet(str(root / "centroids_v2"))
    assign_p = spark.read.parquet(str(root / "assign_v2"))
    batch = emb.filter(
        F.col("vec_id") % IVF_BATCH_MOD == IVF_RETRAIN_LOOKUP_RESIDUE
    ).select((F.col("vec_id") + IVF_RETRAIN_LOOKUP_SHIFT).alias("vec_id"), "embedding")
    return sim.ivf_index_lookup(
        batch, emb, cents_p, assign_p, k=10, n_probe=4, spread=False
    )


ORACLE_ANN_INDEX_RETRAIN = _ivf_lookup_oracle(
    residue=IVF_RETRAIN_LOOKUP_RESIDUE,
    shift=IVF_RETRAIN_LOOKUP_SHIFT,
    cent_chain=_ivf_trained_cents_chain(),
)


# ---------------------------------------------------------------------------
# PQ index health monitor — pq_index_stats (r11: the code-utilization
# twin of ivf_index_stats, completing the health signal across the
# persisted index families)
# ---------------------------------------------------------------------------

PQ_HEALTH_RES = (35, 36)  # the two id-slices appended before the health read


def q_ann_pq_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ-index MAINTENANCE signal (operators/similarity.
    pq_index_stats): build the (codebook, codes) pair over the corpus
    MINUS two id-slices, grow it by appending each slice against the
    FROZEN codebook with batch_id bookkeeping, then publish the
    one-row health summary an operator reads to decide WHEN to
    retrain the codebook (code-space collapse: codes_used_min /
    max_code_frac — a collapsed subspace quantizes every vector to
    the same cell and ADC loses that subspace's discrimination) or
    compact (append-batch buildup: n_append_batches, appended_frac).
    Pure index-table introspection — one posexplode partial-agg over
    the (id, codes) rows into ≤ n_sub·n_cent cells plus a
    ≤ n_batches agg; the vectors are never touched. The seeded
    codebook lives in the base by construction (seed ids < n_cent are
    residues 0..15, disjoint from the appended slices), so the
    oracle encodes the full union corpus directly."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(~(F.col("vec_id") % IVF_BATCH_MOD).isin(list(PQ_HEALTH_RES)))
    codebook, codes0 = sim.pq_index_build(base, trained=False)
    grown = codes0.withColumn("batch_id", F.lit(0))
    for b, r in enumerate(PQ_HEALTH_RES, start=1):
        grown = grown.unionByName(
            sim.pq_index_append(
                emb.filter(F.col("vec_id") % IVF_BATCH_MOD == r), codebook
            ).withColumn("batch_id", F.lit(b))
        )
    return sim.pq_index_stats(grown)


ORACLE_ANN_PQ_INDEX_HEALTH = f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve FROM embeddings),
{_PQ_SEED_CB},
sub AS (SELECT unnest(range(0, {_PQ_SUB})) AS s),
d AS (
  SELECT v.vec_id, s, cid, {_pq_d2_sql('ve', 'cv', 's', _PQ_SD)} AS d2
  FROM v CROSS JOIN c CROSS JOIN sub),
assign AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, cid AS code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, cid ASC) AS rn
    FROM d) WHERE rn = 1),
per AS (SELECT s, code, count(*) AS n FROM assign GROUP BY s, code),
pers AS (SELECT s, count(*) AS used, max(n) AS mx FROM per GROUP BY s),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM v),
sm AS (SELECT CAST(count(*) AS BIGINT) AS n_sub,
              CAST(min(used) AS BIGINT) AS codes_used_min,
              CAST(max(used) AS BIGINT) AS codes_used_max,
              CAST(max(mx) AS BIGINT) AS _mxn FROM pers),
b AS (SELECT CAST(count(DISTINCT CASE WHEN vec_id % {IVF_BATCH_MOD} IN {PQ_HEALTH_RES}
                                      THEN vec_id % {IVF_BATCH_MOD} END) AS BIGINT) AS n_append_batches,
             CAST(sum(CASE WHEN vec_id % {IVF_BATCH_MOD} IN {PQ_HEALTH_RES} THEN 1 ELSE 0 END) AS BIGINT) AS appended_vecs
      FROM embeddings)
SELECT n_vecs, n_sub, codes_used_min, codes_used_max,
       CAST(_mxn AS DOUBLE) / n_vecs AS max_code_frac,
       n_append_batches, appended_vecs,
       CAST(appended_vecs AS DOUBLE) / n_vecs AS appended_frac
FROM tot CROSS JOIN sm CROSS JOIN b
"""


QUERIES_SELECTION = {
    "q_dsir": q_dsir,
    "q_ccnet_buckets": q_ccnet_buckets,
    "q_ann_pq": q_ann_pq,
    "q_ann_pq_recall": q_ann_pq_recall,
    "q_ann_pq_trained": q_ann_pq_trained,
    "q_ann_pq_trained_recall": q_ann_pq_trained_recall,
    "q_ann_ivfpq": q_ann_ivfpq,
    "q_ann_ivfpq_recall": q_ann_ivfpq_recall,
    "q_ann_ivfpq_trained": q_ann_ivfpq_trained,
    "q_ann_ivfpq_trained_recall": q_ann_ivfpq_trained_recall,
    "q_winnowing": q_winnowing,
    "q_winnow_pairs": q_winnow_pairs,
    "q_ann_dim_recall": q_ann_dim_recall,
    "q_ann_batch_lookup": q_ann_batch_lookup,
    "q_ann_index_lookup": q_ann_index_lookup,
    "q_ann_index_append": q_ann_index_append,
    "q_ann_ivf_trained": q_ann_ivf_trained,
    "q_ann_ivf_trained_recall": q_ann_ivf_trained_recall,
    "q_ann_ivf_occupancy": q_ann_ivf_occupancy,
    "q_ann_ivfpq_coarse_trained": q_ann_ivfpq_coarse_trained,
    "q_ann_ivfpq_coarse_trained_recall": q_ann_ivfpq_coarse_trained_recall,
    "q_ann_pq_index_lookup": q_ann_pq_index_lookup,
    "q_ann_pq_index_append": q_ann_pq_index_append,
    "q_ann_index_compact": q_ann_index_compact,
    "q_ann_index_health": q_ann_index_health,
    "q_ann_index_retrain": q_ann_index_retrain,
    "q_ann_pq_index_health": q_ann_pq_index_health,
    "q_ann_pq_index_compact": q_ann_pq_index_compact,
}

ORACLE_SELECTION = {
    "q_dsir": ORACLE_DSIR,
    "q_ccnet_buckets": ORACLE_CCNET_BUCKETS,
    "q_ann_pq": ORACLE_ANN_PQ,
    "q_ann_pq_recall": ORACLE_ANN_PQ_RECALL,
    "q_ann_pq_trained": ORACLE_ANN_PQ_TRAINED,
    "q_ann_pq_trained_recall": ORACLE_ANN_PQ_TRAINED_RECALL,
    "q_ann_ivfpq": ORACLE_ANN_IVFPQ,
    "q_ann_ivfpq_recall": ORACLE_ANN_IVFPQ_RECALL,
    "q_ann_ivfpq_trained": ORACLE_ANN_IVFPQ_TRAINED,
    "q_ann_ivfpq_trained_recall": ORACLE_ANN_IVFPQ_TRAINED_RECALL,
    "q_winnowing": ORACLE_WINNOWING,
    "q_winnow_pairs": ORACLE_WINNOW_PAIRS,
    "q_ann_dim_recall": ORACLE_ANN_DIM_RECALL,
    "q_ann_batch_lookup": ORACLE_ANN_BATCH_LOOKUP,
    "q_ann_index_lookup": ORACLE_ANN_INDEX_LOOKUP,
    "q_ann_index_append": ORACLE_ANN_INDEX_APPEND,
    "q_ann_ivf_trained": ORACLE_ANN_IVF_TRAINED,
    "q_ann_ivf_trained_recall": ORACLE_ANN_IVF_TRAINED_RECALL,
    "q_ann_ivf_occupancy": ORACLE_ANN_IVF_OCCUPANCY,
    "q_ann_ivfpq_coarse_trained": ORACLE_ANN_IVFPQ_COARSE_TRAINED,
    "q_ann_ivfpq_coarse_trained_recall": ORACLE_ANN_IVFPQ_COARSE_TRAINED_RECALL,
    "q_ann_pq_index_lookup": ORACLE_ANN_PQ_INDEX_LOOKUP,
    "q_ann_pq_index_append": ORACLE_ANN_PQ_INDEX_APPEND,
    "q_ann_index_compact": ORACLE_ANN_INDEX_COMPACT,
    "q_ann_index_health": ORACLE_ANN_INDEX_HEALTH,
    "q_ann_index_retrain": ORACLE_ANN_INDEX_RETRAIN,
    "q_ann_pq_index_health": ORACLE_ANN_PQ_INDEX_HEALTH,
    "q_ann_pq_index_compact": ORACLE_ANN_PQ_INDEX_COMPACT,
}
