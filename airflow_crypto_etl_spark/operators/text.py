"""Text-analysis operators for training-data pipelines.

Beyond reference parity (the reference has no text ops — SURVEY.md §2.9
"no regex/string manipulation"), these are the document-corpus operators
a 100 TB pretraining pipeline needs: token statistics, quality scoring,
language ID, and content fingerprinting over the ``documents`` table.

The operators are column expressions run JVM-side — no Python UDFs in
any hot path, so throughput is bounded by scan speed, not serde. The
measured exception is winnowing: its per-character gram/window math ran
as interpreted higher-order-function lambdas (Spark's ``transform`` and
``aggregate`` fall back from whole-stage codegen), so it is one numpy
kernel in a ``mapInArrow`` pass instead. Each operator is deterministic
and engine-portable so the DuckDB oracle can replay it exactly (see
functions.hashing for the portability rules).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import char_hash

# Tiny per-language stopword lists for the n-gram/stopword-ratio
# language-ID heuristic. Real corpora would ship larger lists; the
# operator shape (portable set-membership ratio per language, argmax)
# is what matters.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "sur"),
}


def tokens_col(text: str | Column) -> Column:
    """Whitespace tokenization as a codegen'd expression (no UDF)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, " "), lambda t: t != "")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: n_tokens, distinct tokens, mean token length."""
    toks = tokens_col(text_col)
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return df.withColumns(
        {
            "n_tokens": F.size(toks),
            "n_distinct_tokens": F.size(F.array_distinct(toks)),
            "n_token_chars": tok_chars,
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring (length / stopword / repetition ratios).

    Emits exact rational ingredients (counts) plus a double score whose
    arithmetic is a fixed op sequence — portable across engines. The
    score mirrors common pretraining filters (Gopher/C4-style rules):
    penalize very short docs and low lexical diversity, reward stopword
    presence.
    """
    df = token_stats(df, text_col)
    en_stop = STOPWORDS["en"]
    n_stop = F.size(F.filter(tokens_col(text_col), lambda t: t.isin(*en_stop)))
    n_tok = F.col("n_tokens").cast("double")
    score = (
        F.least(n_tok / 100.0, F.lit(1.0)) * 0.4
        + (F.col("n_distinct_tokens") / F.col("n_tokens")) * 0.4
        + F.least(F.col("n_stopwords") * 5.0 / F.col("n_tokens"), F.lit(1.0)) * 0.2
    )
    return df.withColumn("n_stopwords", n_stop).withColumn(
        "quality_score", F.when(F.col("n_tokens") > 0, score).otherwise(F.lit(0.0))
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-ratio language ID: per language, the fraction of tokens in
    that language's stopword list; predict the argmax (ties broken by
    language code order), 'und' when no list matches any token."""
    toks = tokens_col(text_col)
    ratios = {
        lang: (F.size(F.filter(toks, lambda t: t.isin(*words))).cast("double") / F.size(toks))
        for lang, words in STOPWORDS.items()
    }
    df = df.withColumns({f"ratio_{lang}": r for lang, r in ratios.items()})
    best = F.greatest(*[F.col(f"ratio_{lang}") for lang in STOPWORDS])
    pred = F.lit("und")
    # reversed so earlier language codes win ties via later overwrite
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when((F.col(f"ratio_{lang}") == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return df.withColumn("pred_lang", pred)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint: polynomial rolling hash over the full text
    (functions.hashing.char_hash) — the exact-dedup key that doesn't
    require shuffling full document bodies, only 8-byte hashes."""
    return df.withColumn("fingerprint", char_hash(text_col))


def subword_tokens_col(text: str | Column, max_piece: int = 4) -> Column:
    """BPE-ish regex tokenization, fully codegen'd: GPT-2-style
    pre-tokenization into letter runs / digit runs / single punctuation
    (``[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]``), then fixed-length chunking of
    each run to ≤``max_piece`` chars — the byte-fallback piece shape a
    real BPE produces, without a learned merge table (which would be a
    broadcast lookup join on this same column)."""
    c = F.col(text) if isinstance(text, str) else text
    runs = F.regexp_extract_all(c, F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), F.lit(0))
    return F.flatten(
        F.transform(
            runs,
            lambda r: F.transform(
                F.sequence(F.lit(1), F.ceil(F.length(r) / max_piece).cast("int")),
                lambda i: F.substring(r, (i - 1) * max_piece + 1, max_piece),
            ),
        )
    )


def subword_stats(df: DataFrame, text_col: str = "text", max_piece: int = 4) -> DataFrame:
    """Subword token counts: pieces, distinct pieces, pieces-per-word
    ratio (the compression signal quality filters use)."""
    pieces = subword_tokens_col(text_col, max_piece)
    words = tokens_col(text_col)
    return df.withColumns(
        {
            "n_pieces": F.size(pieces),
            "n_distinct_pieces": F.size(F.array_distinct(pieces)),
            "pieces_per_word": F.round(
                F.size(pieces) / F.greatest(F.size(words), F.lit(1)), 4
            ),
        }
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary and TF-IDF keyword extraction
# ---------------------------------------------------------------------------

def term_frequencies(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, term, tf): one row per distinct term per doc. The explode is
    map-side; the single shuffle keys on (id, term) with map-side
    partial counting."""
    terms = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
    return terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))


def vocab_topk(df: DataFrame, k: int = 100, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus vocabulary: the k most frequent terms with occurrence and
    document counts — the vocabulary-construction pass of tokenizer
    training. Two partial-aggregable shuffles (doc-term, then term) and
    a TakeOrdered top-k; ties broken by term so the result is total."""
    tf = term_frequencies(df, text_col, id_col)
    by_term = tf.groupBy("term").agg(
        F.sum("tf").alias("n_occurrences"), F.count(F.lit(1)).alias("n_docs")
    )
    return by_term.orderBy(F.col("n_occurrences").desc(), F.col("term").asc()).limit(k)


def tfidf_topk(df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document top-k distinctive terms by TF-IDF.

    The IDF is the BM25 rational form (N - df + 0.5) / (df + 0.5) — an
    algebraic function of integer counts, so Spark and the DuckDB
    oracle produce bit-identical doubles (ln() would hang parity on
    libm rounding). Ranking ties break on the term string, making the
    top-k total and engine-stable.

    Scale: doc-term counts and the per-term doc frequency are both
    partial-aggregable; the df join keys on term (AQE broadcasts it
    when the vocabulary is small enough); the final top-k window keys
    on the doc — no global sort anywhere."""
    tf = term_frequencies(df, text_col, id_col)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_term"))
    n_docs = df.select(F.count(F.lit(1)).cast("double").alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf") * (F.col("_n") - F.col("df_term") + F.lit(0.5)) / (F.col("df_term") + F.lit(0.5)),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= k)
        .select(id_col, "term", "tf", "df_term", "tfidf", "term_rank")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD 2003)
# ---------------------------------------------------------------------------

WINNOW_K = 8  # char-gram length
WINNOW_W = 4  # window of consecutive gram hashes
_WINNOW_MOD = 1 << 30  # CHAR_MOD — keeps sums far from int64 overflow
# 31^(K-1) ... 31^0 — the explicit polynomial weights of one gram hash:
# equal to the step-wise (acc*31 + c) % MOD hash by modular arithmetic,
# and exact in int64 before the final mod (0x10FFFF · Σ31^j ≈ 3.2e16).
# The DuckDB oracles render the same weights as one flat SQL sum.
_WINNOW_POW = [31 ** (WINNOW_K - 1 - j) for j in range(WINNOW_K)]


def winnow_select(
    texts: pa.Array, k: int = WINNOW_K, w: int = WINNOW_W
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The winnowing kernel over one Arrow string column; Spark-free, so
    tests and microbenches call it directly.

    For every text of at least ``k + w - 1`` code points: hash each
    char k-gram, take each window of ``w`` consecutive gram hashes'
    minimum (rightmost position on ties — the paper's robust-winnowing
    rule) and keep the distinct selected positions. Null and shorter
    texts have no complete window and select nothing.

    The batch is one numpy pass: all kept texts are concatenated into
    one code-point array, every gram hash and window minimum is computed
    over it, and only the windows that lie inside one text are read.

    Returns ``(rows, n_grams, doc, h)``: ``rows`` are the indices of the
    kept texts, ``n_grams`` their gram counts, and each selected position
    contributes one ``(doc, h)`` entry — ``rows[doc]`` is its text and
    ``h`` its gram hash, in text order."""
    strs = texts.to_pylist()
    n = np.array([0 if t is None else len(t) for t in strs], dtype=np.int64)
    rows = np.flatnonzero(n >= k + w - 1)
    n = n[rows]
    if not rows.size:
        return rows, n, rows, n
    # code points, as Spark's split(text, '') + ascii read them
    c = np.frombuffer("".join(strs[i] for i in rows).encode("utf-32-le"), np.uint32)
    c = c.astype(np.int64)
    m = c.size - k + 1
    g = sum(c[j : j + m] * p for j, p in enumerate(_WINNOW_POW)) % _WINNOW_MOD
    # window minimum over g[p : p + w]: `<=` lets the rightmost tie win
    m -= w - 1
    best, pick = g[:m], np.zeros(m, dtype=np.int64)
    for j in range(1, w):
        take = g[j : j + m] <= best
        best = np.where(take, g[j : j + m], best)
        pick = np.where(take, j, pick)
    pick += np.arange(m)
    # the windows that lie inside one text: text i's start, then n_win[i] windows
    start = np.cumsum(n) - n
    n_win = n - (k + w - 2)
    p = np.arange(n_win.sum()) + np.repeat(start - (np.cumsum(n_win) - n_win), n_win)
    pos = np.unique(pick[p])
    return rows, n - k + 1, np.searchsorted(start, pos, side="right") - 1, g[pos]


def _winnow_map(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    w: int,
    fields: list[T.StructField],
    emit: Callable[[pa.Array, np.ndarray, np.ndarray, np.ndarray, np.ndarray], dict],
) -> DataFrame:
    """Run :func:`winnow_select` over ``df`` as one ``mapInArrow`` pass:
    ``emit(ids, rows, n_grams, doc, h)`` turns one batch's selection into
    output columns after the id field (name, type, nullability) copied
    from ``df``. Zero shuffle: one task per scan split."""
    src = df.select(id_col, text_col)
    schema = T.StructType([src.schema.fields[0], *fields])

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            yield pa.RecordBatch.from_pydict(emit(rb.column(0), *winnow_select(rb.column(1), k, w)))

    return src.mapInArrow(batches, schema)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Winnowing document fingerprints: hash every char k-gram, slide a
    w-gram window, keep each window's minimum hash (rightmost on ties —
    the paper's robust-winnowing rule), and de-duplicate the selected
    (hash, position) pairs. Guarantees at least one shared fingerprint
    for any match of length ≥ k + w - 1, with density 2/(w+1) — the
    MOSS scheme for plagiarism/overlap detection at corpus scale.

    The per-character math is the numpy kernel :func:`winnow_select` in
    one ``mapInArrow`` pass, not column expressions: as
    ``transform``/``aggregate`` lambdas it ran interpreted, outside
    whole-stage codegen, and q_winnowing ran ~20× slower at sf0.1. Zero
    shuffle: at 100 TB the fingerprint pass is a pure map over the
    corpus, and cross-doc overlap search is then an equi-join on the
    8-byte fingerprint hashes, never on text. Docs shorter than k+w-1
    chars have no complete window and are filtered (they cannot produce
    a guaranteed match anyway).

    Output per doc: n_grams, n_selected (distinct fingerprints kept,
    ≈ 2/(w+1)·n_grams), fp_checksum (integer sum of the distinct
    selected hashes — order-free, an equality witness for the whole
    fingerprint set).
    """

    def emit(ids, rows, n_grams, doc, h):
        n_sel = np.bincount(doc, minlength=rows.size)
        checksum = np.add.reduceat(h, np.cumsum(n_sel) - n_sel) if h.size else h
        return {
            id_col: ids.take(rows),
            "n_grams": pa.array(n_grams, pa.int64()),
            "n_selected": pa.array(n_sel, pa.int32()),
            "fp_checksum": pa.array(checksum, pa.int64()),
        }

    return _winnow_map(
        df, text_col, id_col, k, w,
        [
            T.StructField("n_grams", T.LongType()),
            T.StructField("n_selected", T.IntegerType()),
            T.StructField("fp_checksum", T.LongType()),
        ],
        emit,
    )


def winnow_pairs(
    df: DataFrame,
    min_shared: int = 3,
    df_cap: int | None = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """MOSS-style overlap detection over winnowing fingerprints: doc
    pairs sharing at least ``min_shared`` distinct fingerprint HASHES.
    By the winnowing guarantee, any shared run of k+w-1 = 11 chars
    yields at least one shared hash, so min_shared=3 demands ~3
    independent shared runs (or one long one) — the plagiarism/overlap
    candidate set.

    Scale shape: the fingerprint pass is the zero-shuffle
    :func:`winnow_select` map of :func:`winnow_fingerprints`; pairing is
    an EQUI-join of the (doc, hash) posting list with itself on the
    8-byte hash — never an all-pairs product. ``df_cap`` drops
    boilerplate hashes shared by more than df_cap docs WHOLESALE before
    the join (the lsh_near_pairs discipline): one viral fingerprint
    otherwise contributes C(df, 2) pairs and owns the runtime at 100 TB.
    The cap is exercised by the registered query, not just available.
    The posting list feeds THREE consumers (the df count and both join
    sides), so it is cached via :func:`dedup.register_cache` — without
    it the corpus-wide fingerprint projection re-runs three times."""

    def emit(ids, rows, n_grams, doc, h):
        # per-doc DISTINCT hashes computed inside the batch (a hash
        # selected at several positions collapses here), so the posting
        # list needs no global distinct shuffle
        key = np.unique(doc * _WINNOW_MOD + h)
        return {
            id_col: ids.take(rows[key // _WINNOW_MOD]),
            "h": pa.array(key % _WINNOW_MOD, pa.int64()),
        }

    picked = _winnow_map(df, text_col, id_col, k, w, [T.StructField("h", T.LongType())], emit)
    from .dedup import register_cache

    picked = register_cache(picked)
    if df_cap is not None:
        keep = picked.groupBy("h").agg(F.count(F.lit(1)).alias("_df")).filter(
            F.col("_df") <= df_cap
        )
        picked = picked.join(keep.select("h"), "h")
    a = picked.select(F.col(id_col).alias("doc_a"), "h")
    b = picked.select(F.col(id_col).alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
