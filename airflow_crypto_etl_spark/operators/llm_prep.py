"""LLM training-data preparation operators beyond the dedup/ANN/text
batteries: PII scrubbing, Gopher-style repetition filters, benchmark
contamination screening, and context-window sequence packing.

These are the remaining verbs a 100 TB pretraining pipeline runs between
raw crawl and tokenizer, expressed Spark-first:

- everything is built-in-function / window / equi-join shaped (codegen,
  no Python in the hot path);
- the one global-looking step (sequence packing) is bucketed so its
  window state is per-bucket, never a single global partition;
- contamination screening broadcasts the (small) benchmark index, so
  the corpus side never shuffles.

Each operator has a DuckDB-oracle-checkable query in queries_ext.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .layout import local_rows
from .text import tokens_col

# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Conservative patterns valid in BOTH Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround, no \b differences in play.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}
PII_MASKS = {"email": "<EMAIL>", "phone": "<PHONE>", "ipv4": "<IP>"}
# ipv4 must scrub before phone (a dotted quad contains phone-shaped
# digit runs); email before both so usernames with digits survive as a
# single mask.
PII_ORDER = ("email", "ipv4", "phone")


def scrub_pii(df: DataFrame, text_col: str = "text", out_col: str = "scrubbed") -> DataFrame:
    """Mask emails / phone numbers / IPv4 addresses entirely in
    codegen'd regexp functions — the per-document redaction pass every
    released corpus runs. ``n_<kind>`` counts are per-pattern OCCURRENCE
    counts over the raw text (computed before any masking); when
    patterns overlap (a phone-shaped digit run inside an email local
    part), the earlier pattern in ``PII_ORDER`` wins the mask while both
    occurrences are still counted — counts measure exposure, not which
    mask landed."""
    out = df
    for kind in PII_ORDER:
        out = out.withColumn(
            f"n_{kind}", F.size(F.regexp_extract_all(F.col(text_col), F.lit(PII_PATTERNS[kind]), F.lit(0)))
        )
    scrubbed = F.col(text_col)
    for kind in PII_ORDER:
        scrubbed = F.regexp_replace(scrubbed, PII_PATTERNS[kind], PII_MASKS[kind])
    return out.withColumn(out_col, scrubbed)


# ---------------------------------------------------------------------------
# Repetition / Gopher-style quality signals
# ---------------------------------------------------------------------------

def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals as exact integer ratios (both
    engines compute sum-then-one-divide, so doubles are IEEE-identical):

    - ``top_token_ratio``: occurrences of the most frequent token / n
      (high → boilerplate);
    - ``dup_token_ratio``: tokens appearing more than once / n;
    - ``mean_token_len``: total token chars / n (degenerate short/long
      tokens signal non-text).
    """
    toks = tokens_col(text_col)
    n = F.size(toks)
    # occurrences of each token via the distinct list; max count is the
    # mode frequency. filter+size is an O(n·distinct) fold in codegen —
    # fine for document-sized arrays.
    counts = F.transform(
        F.array_distinct(toks),
        lambda d: F.size(F.filter(toks, lambda t: t == d)),
    )
    top = F.array_max(counts)
    dup_tokens = F.aggregate(
        F.filter(counts, lambda c: c > 1), F.lit(0), lambda a, x: a + x
    )
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return df.withColumns(
        {
            "n_tokens": n,
            "top_token_ratio": F.when(n > 0, top.cast("double") / n).otherwise(0.0),
            "dup_token_ratio": F.when(n > 0, dup_tokens.cast("double") / n).otherwise(0.0),
            "mean_token_len": F.when(n > 0, tok_chars.cast("double") / n).otherwise(0.0),
        }
    )


# ---------------------------------------------------------------------------
# Benchmark contamination screening
# ---------------------------------------------------------------------------

def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_common: int = 2,
) -> DataFrame:
    """Flag corpus documents sharing ≥ ``min_common`` word-n-gram
    shingles with any benchmark document (eval-set leakage screening).

    Scale shape: the benchmark index (distinct shingles of a small eval
    set) is BROADCAST; the corpus explodes shingles map-side and
    equi-joins the broadcast index, then one partial-agg groupBy per
    (corpus doc, benchmark doc). The 100 TB corpus never shuffles its
    text — only matched (doc, bench, shingle) ids move."""
    from .dedup import _doc_shingles

    c_sh = _doc_shingles(corpus, id_col, text_col, n)
    b_sh = _doc_shingles(benchmark, id_col, text_col, n).select(
        F.col(id_col).alias("bench_id"), "shingle"
    )
    hits = (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy(id_col, "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    return hits.select(id_col, "bench_id", "n_common")


# ---------------------------------------------------------------------------
# Context-window sequence packing
# ---------------------------------------------------------------------------

def pack_sequences(
    docs: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 32,
) -> DataFrame:
    """Assign documents to context-window bins by CONCAT-AND-CHUNK (the
    standard pretraining packing: concatenate the bucket's token stream
    in doc-id order and split at ``capacity`` boundaries): a doc's bin
    is where its first token lands — ``bin_seq = floor((cumsum -
    n_tokens) / capacity)`` — so a doc may STRADDLE a bin boundary and
    its tail belongs to the next window (the downstream batcher splits
    it there; nothing is silently dropped). This is deliberately NOT
    whole-doc first-fit, which needs a sequential scan that no window
    function expresses.

    Scale shape: a GLOBAL running sum would serialize 100 TB through one
    window partition, so packing is bucketed — docs hash into
    ``n_buckets`` independent streams, each with its own running sum and
    bin sequence (bin identity = (bucket, bin_seq)). Buckets pack in
    parallel and the wasted tail is one partial window per bucket, which
    at corpus scale is noise."""
    from ..functions.hashing import affine_hash

    toks = F.size(tokens_col(text_col))
    w = Window.partitionBy("bucket").orderBy(id_col)
    # bucket on a HASH of the id, not the raw id: block-allocated or
    # strided id spaces (shard bits in the low positions) would collapse
    # pmod(id, n) into few buckets and re-serialize the packing. The
    # affine hash is engine-portable, so the oracle mirrors it exactly.
    binned = (
        docs.select(id_col, toks.alias("n_tokens"))
        .withColumn(
            "bucket", F.pmod(affine_hash(F.col(id_col), F.lit(7)), F.lit(n_buckets)).cast("int")
        )
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn(
            "bin_seq",
            F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(capacity)).cast("int"),
        )
    )
    return binned.select(id_col, "n_tokens", "bucket", "bin_seq")


# ---------------------------------------------------------------------------
# Deterministic corpus splitting (train / valid / test)
# ---------------------------------------------------------------------------

SPLIT_RESOLUTION = 10_000


def split_corpus(
    df: DataFrame,
    weights: dict[str, int],
    id_col: str = "doc_id",
    salt: int = 11,
) -> DataFrame:
    """Assign each row to a named split (train/valid/test/...) by a
    deterministic, engine-portable hash of its id — the standard
    holdout construction for pretraining corpora. Properties that
    matter at 100 TB:

    - STABLE: membership depends only on (id, salt), so re-runs,
      backfills, and incremental appends never migrate a document
      across splits (no leakage between train and eval over time);
    - STATELESS / map-side: a pure codegen'd expression, no shuffle,
      no global sample() coordination, no rand() (which is
      partition-order dependent and unreproducible across retries);
    - EXACT: thresholds compare integers (``h * total < cum *
      resolution``), so the oracle replays it bit-for-bit.

    ``weights`` maps split name → integer weight; expected share of
    split i is weights[i]/sum(weights).
    """
    return df.withColumn("split", _split_expr(F.col(id_col), weights, salt))


def _split_expr(key: Column, weights: dict[str, int], salt: int) -> Column:
    """The split-assignment expression of :func:`split_corpus`, factored
    so cluster-keyed splitting reuses the identical integer-exact
    threshold arithmetic."""
    from ..functions.hashing import affine_hash

    total = sum(weights.values())
    h = F.pmod(affine_hash(key, F.lit(salt)), F.lit(SPLIT_RESOLUTION))
    expr: Column | None = None
    cum = 0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        cond = (h * total) < (cum * SPLIT_RESOLUTION)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])


def split_by_cluster(
    assign: DataFrame,
    weights: dict[str, int],
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    salt: int = 11,
) -> DataFrame:
    """Leakage-SAFE holdout: assign splits by hashing the DEDUP CLUSTER
    id, not the document id, so near-duplicate documents can never
    straddle train and eval — the contamination mode a plain id-hash
    split cannot prevent (two near-identical docs hash independently,
    and with a 5% eval split ~10% of duplicate pairs leak an eval doc's
    near-twin into train).

    Input is a cluster assignment (from dedup.duplicate_clusters or any
    pair generator + clustering): one row per doc with its cluster id.
    Output adds ``split`` (cluster-keyed — the safe assignment),
    ``naive_split`` (id-keyed, what split_corpus would do), and
    ``naive_leak`` (true iff the doc's cluster straddles >1 naive
    split — the audit column: its TRUE count is exactly the leakage the
    cluster-keyed split prevents; the cluster-keyed assignment itself
    can never leak, by construction).

    Scale shape: both assignments are map-side codegen'd expressions;
    the audit is one partial-agg groupBy over cluster ids plus one
    keyed equi-join of 8-byte keys — no windows, no broadcast of
    anything row-scale. Same stability guarantees as split_corpus:
    membership depends only on (cluster_id, salt), so appends that
    join an existing cluster land in that cluster's split."""
    out = assign.withColumn("split", _split_expr(F.col(cluster_col), weights, salt))
    out = out.withColumn("naive_split", _split_expr(F.col(id_col), weights, salt))
    audit = out.groupBy(cluster_col).agg(
        (F.size(F.collect_set("naive_split")) > 1).alias("naive_leak")
    )
    return out.join(audit, cluster_col).select(
        id_col, cluster_col, "split", "naive_split", "naive_leak"
    )


# ---------------------------------------------------------------------------
# Source-mixture rebalancing
# ---------------------------------------------------------------------------

def mixture_rebalance(
    df: DataFrame,
    target_weights: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: int = 13,
) -> DataFrame:
    """Downsample sources so the kept corpus matches a target mixture
    (e.g. web 60 / books 25 / code 15) — the data-mixing step every
    pretraining run performs before tokenization.

    Construction: with per-source counts ``c_s``, integer target
    weights ``w_s`` (sum ``W``), the largest achievable mixture total
    is ``T = min_s floor(c_s * W / w_s)`` (the scarcest source binds).
    Each source keeps rows where ``h < thr_s`` with the per-source
    integer threshold ``thr_s = ceil(w_s * T * R / (W * c_s))`` —
    equivalent to the rational keep-rate comparison but computed ONCE
    per source on the tiny rate table (decimal-exact there), so the
    per-row filter is a plain int64 comparison that cannot overflow no
    matter how large the per-source counts grow. Sources missing from
    ``target_weights`` are dropped; a TARGET source absent from the
    corpus binds the mixture at zero (cap 0 → empty result) rather
    than silently vanishing from the mix.

    Scale shape: per-source counts are a partial-agg groupBy over the
    (few) sources; the tiny rate table joins back BROADCAST, and the
    keep decision is a map-side codegen'd filter — the corpus itself
    shuffles zero bytes.
    """
    from ..functions.hashing import affine_hash

    if not target_weights or any(v <= 0 for v in target_weights.values()):
        raise ValueError("target_weights must be non-empty with positive weights")
    w_total = sum(target_weights.values())
    spark = df.sparkSession
    # Weights as a table (not a map lookup on counts): a target source
    # with ZERO corpus rows then still contributes a cap_s = 0 row.
    wdf = local_rows(
        spark,
        [(k, int(v)) for k, v in target_weights.items()],
        T.StructType([T.StructField(source_col, T.StringType()), T.StructField("_mr_w", T.LongType())]),
    )
    counts = (
        wdf.join(
            df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_mr_c")),
            source_col,
            "left",
        )
        .withColumn("_mr_c", F.coalesce("_mr_c", F.lit(0)))
        .withColumn("_mr_cap", F.expr(f"_mr_c * {w_total} div _mr_w"))
    )
    t_bind = counts.agg(F.min("_mr_cap").alias("_mr_t"))
    # thr = ceil(w_s*T*R / (W*c_s)), decimal-exact on the few-row rate
    # table; thr <= R by construction (w_s*T <= W*c_s), so it is a small
    # int and the per-row comparison h < thr stays in int64 trivially.
    rates = counts.crossJoin(F.broadcast(t_bind)).withColumn(
        "_mr_thr",
        F.expr(
            "CASE WHEN _mr_c = 0 THEN CAST(0 AS BIGINT) ELSE "
            f"  CAST(_mr_w AS DECIMAL(38,0)) * _mr_t * {SPLIT_RESOLUTION}"
            f"    div (CAST({w_total} AS DECIMAL(38,0)) * _mr_c)"
            "  + CASE WHEN "
            f"    CAST(_mr_w AS DECIMAL(38,0)) * _mr_t * {SPLIT_RESOLUTION}"
            f"      % (CAST({w_total} AS DECIMAL(38,0)) * _mr_c) = 0"
            "    THEN 0 ELSE 1 END "
            "END",
        ),
    )
    h = F.pmod(affine_hash(F.col(id_col), F.lit(salt)), F.lit(SPLIT_RESOLUTION))
    return (
        df.join(F.broadcast(rates.select(source_col, "_mr_thr")), source_col)
        .filter(h < F.col("_mr_thr"))
        .drop("_mr_thr")
    )


EPOCH_STRIDE = 8  # > max repetition count; keeps copy ids collision-free


def epoch_upsample(
    staged: DataFrame,
    reps_by_stage: dict[int, int],
    id_col: str = "doc_id",
    stage_col: str = "stage",
    n_shards: int = 16,
    salt: int = 17,
) -> DataFrame:
    """Quality-weighted EPOCH UPSAMPLING: repeat cleaner data more —
    the data-constrained scaling knob (Muennighoff et al. 2023: up to
    ~4 epochs of good data beat one epoch of worse data) made
    deterministic. Input is a corpus with a quality stage column (e.g.
    the distributed ntile of q_curriculum); ``reps_by_stage`` maps
    stage → repetition count; every document is fanned out to that many
    copies, and each copy gets a STABLE shard assignment from the
    overflow-safe affine hash of (doc_id, copy) — so the emitted
    training stream is reproducible row-for-row across reruns,
    backfills, and partitioning changes (no rand(), no
    zipWithIndex-style partition-order dependence).

    Scale shape: the fan-out is a map-side explode of a literal
    sequence (output rows = Σ reps, no shuffle); the shard id is a
    codegen'd expression. Downstream writers partition by shard —
    one shuffle keyed on (shard) if a clustered layout is wanted,
    zero if shard-partitioned files suffice.

    Max repetition must stay below EPOCH_STRIDE (collision-free copy
    encoding: combined = (doc_id mod P)·STRIDE + copy, reduced mod P —
    int64-safe for any 64-bit id, same guard as the bootstrap fan-out).
    """
    from ..functions.hashing import MERSENNE_P, affine_hash

    if any(r < 0 or r >= EPOCH_STRIDE for r in reps_by_stage.values()):
        raise ValueError(f"repetition counts must be in [0, {EPOCH_STRIDE})")
    rep: Column | None = None
    for stg, r in reps_by_stage.items():
        cond = F.col(stage_col) == stg
        rep = F.when(cond, r) if rep is None else rep.when(cond, r)
    reps = F.coalesce(rep, F.lit(0))
    fan = staged.withColumn("_er", reps).filter(F.col("_er") > 0).withColumn(
        "epoch_copy", F.explode(F.sequence(F.lit(0), F.col("_er") - 1))
    )
    combined = (
        (F.col(id_col) % MERSENNE_P) * EPOCH_STRIDE + F.col("epoch_copy")
    ) % MERSENNE_P
    shard = F.pmod(affine_hash(combined, F.lit(salt)), F.lit(n_shards))
    return fan.withColumn("shard", shard).drop("_er")


# ---------------------------------------------------------------------------
# RAG / context-window chunking
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    retrieval/RAG indexing verb (and the long-document splitter ahead
    of embedding). Chunk starts step by ``chunk_size - overlap``; the
    final chunk may be short (never empty), and empty documents emit
    no chunks. A tail start whose chunk would be ≤ ``overlap`` tokens
    is suppressed: that chunk is a pure suffix of the previous one and
    would duplicate content in a RAG index (kept only when start is 0,
    i.e. the document itself is that short).

    Scale shape: sequence + explode + slice are all codegen'd array
    expressions — one narrow map stage, zero shuffles, and the output
    inherits the input partitioning (chunks of a doc stay on its
    partition for the downstream embed step).
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    toks = tokens_col(text_col)
    out = (
        df.select(id_col, toks.alias("_toks"))
        .filter(F.size("_toks") > 0)
        .withColumn("start", F.explode(F.sequence(F.lit(0), F.size("_toks") - 1, F.lit(stride))))
        .filter(F.expr(f"start = 0 OR start + {overlap} < size(_toks)"))
        .withColumn("chunk_id", F.expr(f"start div {stride}").cast("int"))
        .withColumn("chunk_toks", F.slice(F.col("_toks"), F.col("start") + 1, chunk_size))
    )
    return out.select(
        id_col,
        "chunk_id",
        F.size("chunk_toks").alias("n_chunk_tokens"),
        F.array_join("chunk_toks", " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Embedding quantization (int8)
# ---------------------------------------------------------------------------

def quantize_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the
    storage/serving compression step for a 100 TB vector corpus (4×
    smaller than float32, 8× than float64; dot products stay within
    ~1% for unit-norm vectors).

    ``scale = max|x| / 127``; ``q_i = floor(x_i/scale + 0.5)`` (round
    half toward +inf — identical in every engine, unlike banker's
    rounding). All arithmetic is double-precision IEEE with a fixed op
    order, so the oracle reproduces it bit-for-bit. Pure codegen'd
    array expressions; no shuffle, no UDF.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, F.abs))
    scale = max_abs / F.lit(127.0)
    q = F.when(max_abs > 0, F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("bigint"))).otherwise(
        F.transform(v, lambda x: F.lit(0).cast("bigint"))
    )
    return df.withColumns({"q_scale": scale, "_q": q}).withColumns(
        {
            "n_dims": F.size("_q"),
            "q_sum": F.aggregate(F.col("_q"), F.lit(0).cast("bigint"), lambda a, x: a + x),
            "q_l1": F.aggregate(
                F.col("_q"), F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)
            ),
            "q_min": F.array_min("_q"),
            "q_max": F.array_max("_q"),
        }
    ).drop("_q")


# ---------------------------------------------------------------------------
# Deterministic global shuffle + length-bucketed batching
# ---------------------------------------------------------------------------


def shuffle_shards(
    docs: DataFrame, n_shards: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic global shuffle into training shards — the
    randomization pass before sharded tokenizer output, without
    ``rand()`` (reproducible across reruns/engines, the same reasoning
    as the hash train/test split): shuffle key = affine_hash(id),
    shard = key mod n_shards, pos = rank of (key, id) within the shard.

    Scale: one hash shuffle; each shard's ordering is an independent
    per-shard sort (Spark runs the rank window per shard partition —
    no global sort, no driver involvement). Writers follow with
    repartition(shard) + sortWithinPartitions(pos) for on-disk order.
    """
    from ..functions.hashing import affine_hash

    key = affine_hash(F.col(id_col), F.lit(11))
    w = Window.partitionBy("shard").orderBy("skey", id_col)
    return (
        docs.select(id_col)
        .withColumn("skey", key)
        .withColumn("shard", F.pmod(F.col("skey"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


def length_batches(
    docs: DataFrame,
    batch_size: int = 8,
    boundaries: tuple[int, ...] = (64, 128, 256),
    n_streams: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batch assembly (padding-waste minimization): docs
    fall into token-length bands at the given boundaries, are ordered by
    (n_tokens, id) within a band, and grouped into fixed-size batches —
    so each batch pads only to its own max length, not the corpus max.

    Scale shape mirrors ``pack_sequences``: each band is sub-split into
    ``n_streams`` independent hash streams so the rank window never
    serializes a hot band through one partition; similar lengths still
    co-batch within a stream, so the padding property holds
    statistically. Batch identity = (bucket, stream, batch_seq).
    """
    from ..functions.hashing import affine_hash

    toks = F.size(tokens_col(text_col))
    bucket = sum(
        (F.col("n_tokens") >= F.lit(b)).cast("int") for b in boundaries
    )
    w = Window.partitionBy("bucket", "stream").orderBy("n_tokens", id_col)
    rk = F.row_number().over(w) - 1
    return (
        docs.select(id_col, toks.alias("n_tokens"))
        .withColumn(
            "stream", F.pmod(affine_hash(F.col(id_col), F.lit(13)), F.lit(n_streams)).cast("int")
        )
        .withColumn("bucket", bucket.cast("int"))
        .withColumn("batch_seq", F.floor(rk / F.lit(batch_size)).cast("int"))
        .withColumn("batch_pos", (rk % F.lit(batch_size)).cast("int"))
        .select(id_col, "n_tokens", "bucket", "stream", "batch_seq", "batch_pos")
    )


def chunk_by_sentences(
    docs: DataFrame,
    capacity: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sentence-boundary RAG chunking — the linguistic sibling of the
    fixed-window chunker: split each document at sentence breaks
    ('. ' — an RE2-safe delimiter so the oracle splits identically; no
    lookbehind), then assign each sentence to the chunk where its first
    token lands (floor((cumsum − n)/capacity), the same straddle
    convention as pack_sequences). Per-doc windows partition by id —
    embarrassingly parallel, no cross-doc state."""
    sents = docs.select(
        id_col, F.posexplode(F.split(F.col(text_col), r"\. ")).alias("sent_idx", "sent")
    )
    n_tok = F.size(F.filter(F.split(F.col("sent"), " "), lambda t: t != ""))
    w = Window.partitionBy(id_col).orderBy("sent_idx")
    return (
        sents.withColumn("n_tokens", n_tok)
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            id_col,
            "sent_idx",
            "n_tokens",
            F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(capacity))
            .cast("int")
            .alias("chunk_id"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096
_DSIR_Q = 1 << 20  # log-ratio quantizer (the theil/lm_score idiom)


def dsir_scores(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR importance scores: hashed-unigram bag features, per-bucket
    smoothed log-likelihood ratio between the TARGET distribution (the
    small high-quality set) and the RAW distribution (the big crawl),
    summed over each raw document's tokens — docs whose token buckets
    look target-like score high and get selected.

    Exactness: the per-bucket log-ratio ln(((c_t+1)·(N_r+B)) /
    ((c_r+1)·(N_t+B))) is evaluated ONCE per bucket (≤ B = 4096
    evaluations) on a double formed from exact int64 products, then
    floor-quantized at 2^20 — the documented theil/lm_score ln-parity
    idiom, bounded to the bucket domain. Per-doc scores are integer
    sums of (count × quantized ratio), shuffle-order-free.

    Scale shape: the bucket stats are ONE partial-agg groupBy over a
    B-bounded domain each (tiny result, broadcast back); the per-doc
    (doc, bucket) counts collapse map-side because a document's tokens
    never span partitions; the scoring join broadcasts the ≤B-row
    ratio table. Nothing row-scale ever shuffles except ~1 row per
    (doc, distinct bucket).

    Output: (id_col, n_tokens, q) with q the integer 2^20-quantized
    score — divide by 2^20 for the log-importance weight.
    """
    from ..functions.hashing import char_hash

    def toks(df: DataFrame) -> DataFrame:
        return (
            df.select(F.col(id_col), tokens_col(text_col).alias("_toks"))
            .select(F.col(id_col), F.explode("_toks").alias("_w"))
            .withColumn("_b", char_hash(F.col("_w")) % n_buckets)
            .select(F.col(id_col), "_b")
        )

    tgt_tok = toks(target)
    raw_tok = toks(raw)
    ct = tgt_tok.groupBy("_b").agg(F.count(F.lit(1)).alias("_ct"))
    cr = raw_tok.groupBy("_b").agg(F.count(F.lit(1)).alias("_cr"))
    tot = (
        tgt_tok.agg(F.count(F.lit(1)).alias("_nt"))
        .crossJoin(raw_tok.agg(F.count(F.lit(1)).alias("_nr")))
    )
    lr = (
        cr.join(ct, "_b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "_b",
            F.floor(
                F.log(
                    ((F.coalesce(F.col("_ct"), F.lit(0)) + 1) * (F.col("_nr") + n_buckets))
                    .cast("double")
                    / ((F.col("_cr") + 1) * (F.col("_nt") + n_buckets)).cast("double")
                )
                * F.lit(float(_DSIR_Q))
            )
            .cast("bigint")
            .alias("_lrq"),
        )
    )
    dterm = raw_tok.groupBy(id_col, "_b").agg(F.count(F.lit(1)).alias("_m"))
    return (
        dterm.join(F.broadcast(lr), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_m").alias("n_tokens"),
            F.sum(F.col("_m") * F.col("_lrq")).alias("q"),
        )
    )


def dsir_select(
    target: DataFrame,
    raw: DataFrame,
    top_n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Deterministic DSIR selection: the ``top_n`` raw docs by
    importance score (ties to the smaller doc id). The paper's
    Gumbel-noise resample is replaced by the rank cut so the selected
    set is reproducible and oracle-checkable; the scores themselves are
    the paper's. orderBy+limit compiles to TakeOrderedAndProject — a
    per-partition top-n then a driver merge of n·partitions rows, never
    a global sort."""
    sc = dsir_scores(target, raw, text_col, id_col, n_buckets)
    return (
        sc.orderBy(F.col("q").desc(), F.col(id_col).asc())
        .limit(top_n)
        .select(
            id_col,
            "n_tokens",
            (F.col("q").cast("double") / F.lit(float(_DSIR_Q))).alias("dsir_score"),
        )
    )
