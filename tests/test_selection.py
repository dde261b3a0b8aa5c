"""Round-9 selection battery: DSIR, CCNet buckets, PQ/ADC ANN,
winnowing fingerprints — first-principles Python references recomputed
per test (sequential IEEE folds, same op order as the Spark plans), so
these are engine-vs-math checks, not engine-vs-itself.

Reference parity note: the reference pipeline has no data-selection or
fingerprinting surface — this family is part of the training-data
extension (SURVEY.md LLM-prep battery)."""

from __future__ import annotations

import math
import random

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_crypto_etl_spark.operators import llm_prep as lp
from airflow_crypto_etl_spark.operators import similarity as sim
from airflow_crypto_etl_spark.operators import text as tx
from airflow_crypto_etl_spark.queries_selection import (
    q_ann_ivfpq,
    q_ann_ivfpq_recall,
    q_ann_pq,
    q_ann_pq_recall,
    q_ccnet_buckets,
    q_dsir,
)
from airflow_crypto_etl_spark.sources.tables import load_table

from conftest import SF_DIR

CHAR_MOD = 1 << 30
Q20 = 1 << 20


def _docs_rows():
    return duckdb.sql(
        f"SELECT doc_id, text, lang FROM '{SF_DIR}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def _emb_rows():
    return duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF_DIR}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()


# ---------------------------------------------------------------------------
# Winnowing — python reference equivalence
# ---------------------------------------------------------------------------


def _py_winnow_picked(text: str | None, k: int = 8, w: int = 4):
    """(n_grams, {(hash, -position)} selected), or None for a text with
    no complete window."""
    if text is None:
        return None
    codes = [ord(c) for c in text]
    n = len(codes)
    if n < k + w - 1:
        return None
    gh = []
    for i in range(n - k + 1):
        h = 0
        for j in range(k):
            h = h * 31 + codes[i + j]
        gh.append(h % CHAR_MOD)
    picked = set()
    for p in range(len(gh) - w + 1):
        # min hash, rightmost on ties == lexicographic min of (h, -pos)
        best = min((gh[p + j], -(p + j + 1)) for j in range(w))
        picked.add(best)
    return len(gh), picked


def _py_winnow(text: str | None, k: int = 8, w: int = 4):
    got = _py_winnow_picked(text, k, w)
    if got is None:
        return None
    n_grams, picked = got
    return n_grams, len(picked), sum(h for h, _ in picked)


def _py_winnow_pairs(texts: dict, min_shared: int, df_cap: int | None) -> dict:
    """{(doc_a, doc_b): n_shared} over the distinct selected hashes."""
    post = {}
    for i, t in texts.items():
        got = _py_winnow_picked(t)
        if got is not None:
            post[i] = {h for h, _ in got[1]}
    n_docs = {}
    for hs in post.values():
        for h in hs:
            n_docs[h] = n_docs.get(h, 0) + 1
    if df_cap is not None:
        post = {i: {h for h in hs if n_docs[h] <= df_cap} for i, hs in post.items()}
    ids = sorted(post)
    pairs = {}
    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            n = len(post[a] & post[b])
            if n >= min_shared:
                pairs[(a, b)] = n
    return pairs


def _winnow_battery(seed: int = 20031) -> list:
    """Seeded texts at the kernel's edges: null, empty, one code point
    short of a window (k+w-2 = 10), exactly one window (11), long (600),
    NUL, CRLF, combining marks, non-BMP and U+10FFFF — plus texts that
    share a run, so the pairs side has matches to find."""
    rng = random.Random(seed)
    alphabet = ["a", "b", " ", "\x00", "\r\n", "e\u0301", "\u0308", "\u4e2d",
                "\U0001f600", "\U0010ffff", "\t", "z"]
    texts = [None, "", "x" * 10, "x" * 11, "\U0010ffff" * 11, "\x00" * 12, "y" * 600]
    for n in [0, 1, 10, 11, 12, 40, 600] * 12:
        texts.append("".join(rng.choice(alphabet) for _ in range(n))[:n])
    run = "the quick brown fox jumps over the lazy dog, twice \U0001f600 over"
    for _ in range(30):
        texts.append(
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 6)))
            + run[: rng.randint(11, len(run))]
            + "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
        )
    return texts


_BATTERY_IDS = [("doc_id", T.LongType()), ("doc id", T.IntegerType())]


def _battery_df(spark, id_name, id_type):
    schema = T.StructType(
        [T.StructField(id_name, id_type), T.StructField("text", T.StringType())]
    )
    return spark.createDataFrame(list(enumerate(_winnow_battery())), schema)


def test_winnow_matches_python_reference(spark, sf_dir):
    out = {
        r["doc_id"]: (r["n_grams"], r["n_selected"], r["fp_checksum"])
        for r in tx.winnow_fingerprints(load_table(spark, sf_dir, "documents")).collect()
    }
    checked = 0
    for doc_id, text, _lang in _docs_rows():
        ref = _py_winnow(text)
        if ref is None:
            assert doc_id not in out
            continue
        assert out[doc_id] == ref, f"doc {doc_id}"
        checked += 1
    assert checked >= 400

    # edge battery, with the id column's name and type carried through
    texts = _winnow_battery()
    for id_name, id_type in _BATTERY_IDS:
        got = tx.winnow_fingerprints(_battery_df(spark, id_name, id_type), id_col=id_name)
        assert got.schema.fields[0] == T.StructField(id_name, id_type)
        out = {r[0]: tuple(r[1:]) for r in got.collect()}
        ref = {i: _py_winnow(t) for i, t in enumerate(texts)}
        assert out == {i: v for i, v in ref.items() if v is not None}
        assert len(out) >= 80


def test_winnow_shared_substring_guarantee(spark):
    """The winnowing guarantee: two docs sharing a substring of length
    >= k + w - 1 = 11 share at least one fingerprint HASH (position
    differs, hash set intersects)."""
    shared = "the quick brown fox jumps over"
    df = spark.createDataFrame(
        [(1, "AAAA " + shared + " BBBB"), (2, "zzzz " + shared + " qqqq")],
        ["doc_id", "text"],
    )
    # recompute hash sets with the python reference
    texts = {r["doc_id"]: r["text"] for r in df.collect()}

    def hash_set(t):
        codes = [ord(c) for c in t]
        gh = []
        for i in range(len(codes) - 7):
            h = 0
            for j in range(8):
                h = h * 31 + codes[i + j]
            gh.append(h % CHAR_MOD)
        return {
            min((gh[p + j], -(p + j + 1)) for j in range(4))[0]
            for p in range(len(gh) - 3)
        }

    assert hash_set(texts[1]) & hash_set(texts[2])
    # and the operator agrees with the reference on these rows
    got = {r["doc_id"]: r["n_selected"] for r in tx.winnow_fingerprints(df).collect()}
    assert got[1] > 0 and got[2] > 0


# ---------------------------------------------------------------------------
# DSIR — python reference equivalence
# ---------------------------------------------------------------------------


def _py_char_hash(s: str) -> int:
    h = 0
    for c in s:
        h = (h * 31 + ord(c)) % CHAR_MOD
    return h


def test_dsir_matches_python_reference(spark, sf_dir):
    B = lp.DSIR_BUCKETS
    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    raw_docs: dict[int, list[int]] = {}
    for doc_id, text, lang in _docs_rows():
        toks = [t for t in text.split(" ") if t]
        buckets = [_py_char_hash(t) % B for t in toks]
        if lang == "en":
            for b in buckets:
                ct[b] = ct.get(b, 0) + 1
        else:
            raw_docs[doc_id] = buckets
            for b in buckets:
                cr[b] = cr.get(b, 0) + 1
    n_t, n_r = sum(ct.values()), sum(cr.values())
    lrq = {
        b: math.floor(
            math.log(((ct.get(b, 0) + 1) * (n_r + B)) / ((c + 1) * (n_t + B))) * Q20
        )
        for b, c in cr.items()
    }
    scores = {
        d: (len(bs), sum(lrq[b] for b in bs)) for d, bs in raw_docs.items()
    }
    expect = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))[:100]

    got = q_dsir(spark, sf_dir).collect()
    assert len(got) == 100
    got_sorted = sorted(got, key=lambda r: (-r["dsir_score"], r["doc_id"]))
    for row, (doc_id, (n_tokens, q)) in zip(got_sorted, expect):
        assert row["doc_id"] == doc_id
        assert row["n_tokens"] == n_tokens
        # ln parity: python libm vs JVM Math.log — allow one quantum
        # per bucket-term; scores are ~1e5 quanta wide
        assert abs(row["dsir_score"] - q / Q20) < 1e-3


# ---------------------------------------------------------------------------
# CCNet buckets — structural properties
# ---------------------------------------------------------------------------


def test_ccnet_bucket_structure(spark, sf_dir):
    rows = q_ccnet_buckets(spark, sf_dir).collect()
    by_lang: dict[str, dict[int, int]] = {}
    for r in rows:
        assert r["bucket"] in (1, 2, 3)
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r["n_docs"]
    assert set(by_lang) == {"en", "de", "es", "fr", "zh"}
    for lang, buckets in by_lang.items():
        sizes = [buckets.get(b, 0) for b in (1, 2, 3)]
        # ntile: sizes differ by at most 1, earlier tiles never smaller
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        assert sizes[0] >= sizes[1] >= sizes[2], (lang, sizes)


def test_ccnet_head_scores_dominate(spark, sf_dir):
    """Mean LM score must be non-increasing head → middle → tail within
    every language (the whole point of the bucketing)."""
    rows = q_ccnet_buckets(spark, sf_dir).collect()
    by_lang: dict[str, dict[int, float]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r["avg_lm_score"]
    for lang, m in by_lang.items():
        assert m[1] >= m[2] >= m[3], (lang, m)


# ---------------------------------------------------------------------------
# PQ — python reference equivalence and recall gate
# ---------------------------------------------------------------------------


def _py_d2(a, b):
    """Squared L2 as Spark's sequential fold over ``zip_with``: null when
    either side or any element is null, or when the lengths differ
    (``zip_with`` pads the shorter side with nulls)."""
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + (x - y) * (x - y)
    return acc


def _py_dot(a, b):
    """Dot product as Spark's sequential fold, with :func:`_py_d2`'s
    null rules."""
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + x * y
    return acc


def _py_best(scored, metric):
    """The cid of the best (score, cid) pair in Spark's order: for
    ``cos`` the maximum, NaN highest and a null lowest (``max_by`` over
    ``struct(score, -cid)``); for ``l2`` the minimum, a null first and
    NaN last (``array_min`` over ``struct(d, cid)``); ties to the
    smaller cid."""

    def key(sc):
        s, cid = sc
        if s is None:
            return (2 if metric == "cos" else 0, 0.0, cid)
        if math.isnan(s):
            return (0 if metric == "cos" else 2, 0.0, cid)
        return (1, -s if metric == "cos" else s, cid)

    return min(scored, key=key)[1]


def _py_pq_codes(v, cents, n_sub=4, sd=16):
    """Per subspace, the cid of Spark's ``array_min`` over
    ``struct(d, cid)``: a null ``d`` sorts first, NaN after every number,
    then the smaller cid; an empty book codes to null."""

    def sub(x, s):
        return None if x is None else x[s * sd : (s + 1) * sd]

    def key(dc):
        d, cid = dc
        if d is None:
            return (0, 0, 0.0, cid)
        return (1, 1, 0.0, cid) if math.isnan(d) else (1, 0, d, cid)

    return [
        min(((_py_d2(sub(v, s), sub(cv, s)), cid) for cid, cv in cents.items()),
            key=key, default=(None, None))[1]
        for s in range(n_sub)
    ]


def _py_pq(emb_rows, n_sub=4, n_cent=16, dim=64, k=10, query_ids=range(8), cents=None):
    sd = dim // n_sub
    vecs = {vid: [float(x) for x in v] for vid, v in emb_rows}
    if cents is None:
        cents = {cid: vecs[cid] for cid in range(n_cent)}

    def sub(v, s):
        return v[s * sd : (s + 1) * sd]

    codes = {vid: _py_pq_codes(v, cents, n_sub, sd) for vid, v in vecs.items()}
    out = {}
    for q in query_ids:
        qv = vecs[q]
        lut = {
            (s, cid): _py_d2(sub(qv, s), sub(cv, s))
            for s in range(n_sub)
            for cid, cv in cents.items()
        }
        scored = []
        for vid, cs in codes.items():
            if vid == q:
                continue
            adc = 0.0
            for s in range(n_sub):
                adc = adc + lut[(s, cs[s])]
            scored.append((adc, vid))
        scored.sort()
        out[q] = [(vid, adc) for adc, vid in scored[:k]]
    return out


def test_pq_matches_python_reference(spark, sf_dir):
    ref = _py_pq(_emb_rows())
    got: dict[int, list] = {}
    for r in q_ann_pq(spark, sf_dir).orderBy("query_id", "rank").collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["adc"]))
    assert set(got) == set(ref)
    for q in ref:
        assert [v for v, _ in got[q]] == [v for v, _ in ref[q]], f"query {q}"
        for (_, a), (_, b) in zip(got[q], ref[q]):
            assert a == b  # bit-identical sequential folds


def test_pq_encode_contract(spark, sf_dir):
    enc = sim.pq_encode(load_table(spark, sf_dir, "embeddings")).collect()
    assert len(enc) == len(_emb_rows())
    for r in enc:
        assert len(r["codes"]) == sim.PQ_SUB
        assert all(0 <= c < sim.PQ_CENT for c in r["codes"])
    # centroids encode to themselves (their own subvector distance is 0)
    own = {r["vec_id"]: r["codes"] for r in enc if r["vec_id"] < sim.PQ_CENT}
    vecs = {vid: v for vid, v in _emb_rows() if vid < sim.PQ_CENT}
    for vid, codes in own.items():
        for s, c in enumerate(codes):
            # chosen centroid's subvector must be at distance 0 from the
            # vector's own subvector (== its own, or an exact duplicate)
            a = vecs[vid][s * 16 : (s + 1) * 16]
            b = vecs[c][s * 16 : (s + 1) * 16]
            assert list(a) == list(b)


def _pq_encode_codes(spark, rows, vec_type="double", cents=None, **kw):
    """{vec_id: codes} of pq_encode over ``rows``; ``cents`` ({cid: cv},
    kept in its insertion order) is passed as the (cid, cv) book rows,
    None keeps the default seeded book."""
    emb = spark.createDataFrame(rows, f"vec_id bigint, embedding array<{vec_type}>")
    book = None
    if cents is not None:
        book = spark.createDataFrame(list(cents.items()), "cid bigint, cv array<double>")
    return {r["vec_id"]: r["codes"] for r in sim.pq_encode(emb, codebook=book, **kw).collect()}


def test_pq_encode_matches_python_reference_on_a_seeded_battery(spark):
    """pq_encode against the sequential-fold reference on seeded random
    float vectors: even ids Gaussian, odd ids small integers, whose
    subspace distances tie exactly and so exercise the smaller-cid rule.
    Checked under the default seeded book, an explicit book of integer
    vectors given in descending cid order, and eight subspaces."""
    rng = random.Random(20261019)
    rows = [
        (i, [float(rng.randint(-2, 2)) if i % 2 else rng.gauss(0, 1) for _ in range(64)])
        for i in range(300)
    ]
    # the reference sees the float32 values Spark stores
    vecs = {i: [float(x) for x in np.float32(v)] for i, v in rows}
    seeded = {cid: vecs[cid] for cid in range(16)}
    book = {cid: vecs[2 * cid + 101] for cid in reversed(range(16))}
    for cents, n_sub, kw in ((None, 4, {}), (book, 4, {}), (book, 8, {"n_sub": 8})):
        got = _pq_encode_codes(spark, rows, "float", cents, **kw)
        ref = cents if cents is not None else seeded
        want = {i: _py_pq_codes(v, ref, n_sub, 64 // n_sub) for i, v in vecs.items()}
        assert got == want, (n_sub, [i for i in want if got.get(i) != want[i]][:10])


def test_pq_encode_degenerate_rows_match_python_reference(spark):
    """pq_encode on SQL-degenerate input keeps Spark's null and NaN
    semantics: a null vector or element nulls the subspace distance, which
    sorts first; NaN sorts last; a short vector's last subspace is shorter
    than the centroid's and so is null, a long vector's extra elements
    are ignored; exact ties go to the smaller cid; an empty book codes to
    null."""
    rng = random.Random(5)

    def vec():
        return [rng.gauss(0, 1) for _ in range(64)]

    def edit(v, **cells):
        v = list(v)
        for i, x in cells.items():
            v[int(i[1:])] = x
        return v

    nan, inf = float("nan"), float("inf")
    book = {cid: vec() for cid in range(16)}
    base = vec()
    rows = [
        (100, None),
        (101, edit(base, i5=None)),
        (102, edit(base, i20=nan)),
        (103, edit(base, i40=inf)),
        (104, edit(base, i60=-inf)),
        (105, base[:60]),
        (106, base + [1.0, 2.0, 3.0, 4.0]),
        (107, list(book[3])),
        (108, list(book[2])),
        (109, edit(book[5], i0=inf, i16=inf, i32=-inf, i48=-inf)),
        (110, base),
    ]
    tie = {cid: (book[2] if cid == 9 else cv) for cid, cv in reversed(book.items())}
    bad = dict(book)
    bad[4] = edit(book[4], i3=nan)
    bad[6] = edit(book[6], i30=inf)
    bad[11] = edit(book[11], i50=-inf, i51=inf)
    bad[13] = edit(book[13], i17=nan, i18=inf)
    short = {cid: (cv[:60] if cid == 5 else cv) for cid, cv in book.items()}
    nulls = {cid: (None if cid == 14 else edit(cv, i9=None) if cid == 12 else cv)
             for cid, cv in book.items()}
    for name, cents in (("book", book), ("tie", tie), ("non-finite", bad),
                        ("short", short), ("nulls", nulls), ("empty", {})):
        got = _pq_encode_codes(spark, rows, cents=cents)
        want = {i: _py_pq_codes(v, cents) for i, v in rows}
        assert got == want, (name, {i: (got.get(i), w) for i, w in want.items() if got.get(i) != w})
    # the default seeded book, whose seeds are the degenerate rows
    seeds = [(i - 100, v) for i, v in rows if i != 100] + [(100, None), (200, vec())]
    got = _pq_encode_codes(spark, seeds)
    cents = {i: v for i, v in seeds if i < 16}
    assert got == {i: _py_pq_codes(v, cents) for i, v in seeds}


def test_pq_recall_bounds(spark, sf_dir):
    rows = q_ann_pq_recall(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0
    # 16 centroids × 4 subspaces on clustered data should beat random
    assert sum(r["recall"] for r in rows) / len(rows) >= 0.3


# ---------------------------------------------------------------------------
# IVFADC — python reference equivalence and recall gate
# ---------------------------------------------------------------------------


def _py_ivfpq(emb_rows, n_coarse=16, n_probe=4, n_sub=4, dim=64, k=10, query_ids=range(8),
              rcb=None):
    sd = dim // n_sub
    vecs = {vid: [float(x) for x in v] for vid, v in emb_rows}
    coarse = {cid: vecs[cid] for cid in range(n_coarse)}

    def d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    assign = {
        vid: min((d2(v, cv), cid) for cid, cv in sorted(coarse.items()))[1]
        for vid, v in vecs.items()
    }
    resid = {
        vid: [x - y for x, y in zip(v, coarse[assign[vid]])] for vid, v in vecs.items()
    }
    if rcb is None:
        rcb = {rid: resid[rid + n_coarse] for rid in range(16)}

    def sub(v, s):
        return v[s * sd : (s + 1) * sd]

    codes = {
        vid: [
            min(((d2(sub(r, s), sub(rv, s)), rid) for rid, rv in sorted(rcb.items())))[1]
            for s in range(n_sub)
        ]
        for vid, r in resid.items()
    }
    out = {}
    for q in query_ids:
        qv = vecs[q]
        probed = sorted((d2(qv, cv), cid) for cid, cv in coarse.items())[:n_probe]
        scored = []
        for _, cid in probed:
            qr = [x - y for x, y in zip(qv, coarse[cid])]
            lut = {
                (s, rid): d2(sub(qr, s), sub(rv, s))
                for s in range(n_sub)
                for rid, rv in rcb.items()
            }
            for vid, lid in assign.items():
                if lid != cid or vid == q:
                    continue
                adc = 0.0
                for s in range(n_sub):
                    adc = adc + lut[(s, codes[vid][s])]
                scored.append((adc, vid))
        scored.sort()
        out[q] = [(vid, adc) for adc, vid in scored[:k]]
    return out


def test_ivfpq_matches_python_reference(spark, sf_dir):
    ref = _py_ivfpq(_emb_rows())
    got: dict[int, list] = {}
    for r in q_ann_ivfpq(spark, sf_dir).orderBy("query_id", "rank").collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["adc"]))
    assert set(got) == set(ref)
    for q in ref:
        assert [v for v, _ in got[q]] == [v for v, _ in ref[q]], f"query {q}"
        for (_, a), (_, b) in zip(got[q], ref[q]):
            assert a == b  # bit-identical sequential folds


def test_ivfpq_recall_bounds(spark, sf_dir):
    rows = q_ann_ivfpq_recall(spark, sf_dir).collect()
    assert len(rows) == 8
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0


def _search_rows(df):
    """{query_id: [(neighbor_id, adc), ...]} of a PQ/IVFPQ search, by rank."""
    got: dict[int, list] = {}
    for r in df.orderBy("query_id", "rank").collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["adc"]))
    return got


def test_ivfpq_adc_table_is_keyed_by_rid(spark, sf_dir):
    """The IVFPQ lookup table maps a residual-book id to its distance,
    so a book's ids need not be 0..n-1: the seed book with every rid
    shifted by 100 searches exactly as the seeded default, and a book
    missing rid 3 (a corpus without that seed id) matches the Python
    reference over the same book."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = _emb_rows()
    resid = _py_residuals(rows)
    book = {rid: resid[rid + 16] for rid in range(16)}

    def search(rcb):
        df = spark.createDataFrame(list(rcb.items()), "rid bigint, rv array<double>")
        return _search_rows(sim.ivfpq_topk(emb, list(range(8)), k=10, rcb_rows=df))

    seeded = _search_rows(sim.ivfpq_topk(emb, list(range(8)), k=10))
    assert len(seeded) == 8
    assert search({rid + 100: rv for rid, rv in book.items()}) == seeded
    gapped = {rid: rv for rid, rv in book.items() if rid != 3}
    ref = _py_ivfpq(rows, rcb=gapped)
    assert search(gapped) == {q: list(v) for q, v in ref.items()}


@pytest.mark.parametrize("dim", [32, 96])
def test_pq_and_ivfpq_take_the_dimension_from_the_book(spark, dim):
    """Every PQ and IVFPQ entry point splits the book's dimension: on a
    seeded 40-vector corpus of 32 or 96 dims, the encode, the append,
    the rebuild-per-call and persisted-index searches and the IVFPQ
    search equal the Python reference at that dimension."""
    rng = random.Random(1000 + dim)
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # the reference sees the float32 values Spark stores
    ref_rows = [(i, [float(x) for x in np.float32(v)]) for i, v in rows]
    vecs = dict(ref_rows)
    seeded = {cid: vecs[cid] for cid in range(16)}
    want_codes = {i: _py_pq_codes(v, seeded, 4, dim // 4) for i, v in vecs.items()}
    codes_of = lambda df: {r["vec_id"]: r["codes"] for r in df.collect()}  # noqa: E731
    assert codes_of(sim.pq_encode(emb)) == want_codes
    codebook, codes = sim.pq_index_build(emb, trained=False)
    assert codes_of(codes) == want_codes
    assert codes_of(sim.pq_index_append(emb, codebook)) == want_codes
    ids = list(range(8))
    want = {q: list(v) for q, v in _py_pq(ref_rows, dim=dim).items()}
    assert _search_rows(sim.pq_topk(emb, ids, k=10)) == want
    batch = emb.filter(F.col("vec_id").isin(ids))
    assert _search_rows(sim.pq_index_lookup(batch, codebook, codes, k=10)) == want
    want = {q: list(v) for q, v in _py_ivfpq(ref_rows, dim=dim).items()}
    assert _search_rows(sim.ivfpq_topk(emb, ids, k=10)) == want



@pytest.mark.parametrize(
    "name", ["q_ann_pq_index_lookup", "q_ann_index_append", "q_dedup_index_compact"]
)
def test_thread_pool_jobs_keep_the_job_group(spark, sf_dir, spark_jobs, name):
    """The index writes run from a thread pool (_write_pair,
    _write_batches, the compact query's persist pool); their jobs must
    carry the caller's job group like every other job of the query."""
    import __spark_entry__ as entrymod

    with spark_jobs() as jobs:
        entrymod.queries()[name](spark, sf_dir).collect()
    assert jobs.n >= 3
    assert jobs.ungrouped == 0, f"{jobs.ungrouped} of the query's jobs left its group"

# ---------------------------------------------------------------------------
# Winnow pairs — overlap detection + df-cap behavior
# ---------------------------------------------------------------------------


def test_winnow_pairs_detects_shared_run(spark):
    shared = "the quick brown fox jumps over the lazy dog again"
    rows = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " unique tail one here"),
            (2, "zzzz " + shared + " entirely different ending"),
            (3, "no overlap with anything else at all in this document"),
        ],
        ["doc_id", "text"],
    )
    got = {(r["doc_a"], r["doc_b"]): r["n_shared"] for r in
           __import__("airflow_crypto_etl_spark.operators.text", fromlist=["x"]).winnow_pairs(
               rows, min_shared=3, df_cap=20).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 3
    assert not any(3 in pair for pair in got)


def test_winnow_pairs_df_cap_drops_boilerplate(spark):
    """25 docs sharing one boilerplate sentence (df=25 > cap=20): every
    boilerplate fingerprint is dropped wholesale, so no pair survives;
    with the cap lifted the C(25,2) pairs appear."""
    from airflow_crypto_etl_spark.operators.text import winnow_pairs

    boiler = "all rights reserved click here to unsubscribe from this list"
    df = spark.createDataFrame(
        [(i, f"doc number {i} distinct words " + boiler) for i in range(25)],
        ["doc_id", "text"],
    )
    capped = winnow_pairs(df, min_shared=3, df_cap=20).count()
    uncapped = winnow_pairs(df, min_shared=3, df_cap=None).count()
    assert capped == 0
    assert uncapped == 25 * 24 // 2


@pytest.mark.parametrize("min_shared,df_cap", [(1, None), (3, 20), (1, 4)])
def test_winnow_pairs_matches_python_reference(spark, min_shared, df_cap):
    texts = dict(enumerate(_winnow_battery()))
    ref = _py_winnow_pairs(texts, min_shared, df_cap)
    assert ref
    for id_name, id_type in _BATTERY_IDS:
        got = tx.winnow_pairs(
            _battery_df(spark, id_name, id_type), min_shared, df_cap, id_col=id_name
        )
        assert [f.dataType for f in got.schema.fields[:2]] == [id_type, id_type]
        assert {(r["doc_a"], r["doc_b"]): r["n_shared"] for r in got.collect()} == ref


# ---------------------------------------------------------------------------
# Trained codebooks (r10): one exact per-subspace Lloyd round — python
# reference parity of the codebook itself, the searches it feeds, and
# the measured recall behavior vs the seeded floor
# ---------------------------------------------------------------------------

_POW2_60_INT = 1 << 60
_POW2_60_F = 1152921504606846976.0


def _q60(x: float) -> int:
    """2^60-scale + DECIMAL(38,0) cast, python twin: the product is
    exact (power-of-two multiply), but a coordinate below 2^-37 makes
    it non-integral — both engines' decimal casts round HALF-UP there,
    so the reference must too (plain int() truncates).

    Parity caveat pinned by these tests: Spark's double→decimal cast
    is STRING-mediated (shortest round-trip repr, 17 significant
    digits), so a quantum ≥ ~2^57 can land a few ulps off the exact
    integer. The sums stay order-free/deterministic (each value's cast
    is itself deterministic), and the final means agree with this
    exact-integer reference to ~1e-15 relative — hence isclose below,
    not ==, mirroring the kmeans numpy-parity tests."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(x * _POW2_60_F).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-15)


def _py_mean(values):
    """The engine's exact mean of one cell (``similarity._exact_mean``):
    the 2^60-scaled integer sum of the non-null values over the count
    of them all (Spark's ``sum`` skips a null, ``count`` does not);
    None when every value is null."""
    vals = [x for x in values if x is not None]
    if not vals:
        return None
    return float(sum(_q60(x) for x in vals)) / _POW2_60_F / len(values)


def _py_train_subspace_round(vecs_by_key, seed_cents, n_sub=4, dim=64):
    """One Lloyd round per subspace over ``vecs_by_key`` (exact
    integer sums of 2^60-scaled coordinates, one float division chain
    — the operators/similarity decimal idiom in pure Python). Returns
    the new full-dim centroid dict; empty cells keep seed values."""
    sd = dim // n_sub

    def sub(v, s):
        return None if v is None else v[s * sd : (s + 1) * sd]

    new = {cid: list(cv) for cid, cv in seed_cents.items()}
    for s in range(n_sub):
        groups: dict[int, list] = {}
        for _vid, v in sorted(vecs_by_key.items()):
            scored = [(_py_d2(sub(v, s), sub(cv, s)), cid) for cid, cv in seed_cents.items()]
            groups.setdefault(_py_best(scored, "l2"), []).append(v)
        for cid, members in groups.items():
            # a null vector has no slice to average
            members = [m for m in members if m is not None]
            for i in range(sd if members else 0):
                new[cid][s * sd + i] = _py_mean([m[s * sd + i] for m in members])
    return new


def test_pq_trained_codebook_matches_python_reference(spark, sf_dir):
    rows = _emb_rows()
    vecs = {vid: [float(x) for x in v] for vid, v in rows}
    seed = {cid: vecs[cid] for cid in range(16)}
    want = _py_train_subspace_round(vecs, seed)
    cb = sim.pq_codebook_trained(load_table(spark, sf_dir, "embeddings")).collect()
    got = {r["cid"]: list(r["cv"]) for r in cb}
    assert set(got) == set(want)
    for cid in want:
        assert all(_close(a, b) for a, b in zip(got[cid], want[cid])), cid


def test_pq_trained_search_matches_python_reference(spark, sf_dir):
    from airflow_crypto_etl_spark.queries_selection import q_ann_pq_trained

    rows = _emb_rows()
    vecs = {vid: [float(x) for x in v] for vid, v in rows}
    seed = {cid: vecs[cid] for cid in range(16)}
    trained = _py_train_subspace_round(vecs, seed)
    ref = _py_pq(rows, cents=trained)
    got: dict[int, list] = {}
    for r in q_ann_pq_trained(spark, sf_dir).orderBy("query_id", "rank").collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["adc"]))
    assert set(got) == set(ref)
    for q in ref:
        assert [v for v, _ in got[q]] == [v for v, _ in ref[q]], f"query {q}"
        for (_, a), (_, b) in zip(got[q], ref[q]):
            assert _close(a, b)  # trained centroids: see _q60 parity caveat


def _py_residuals(rows, n_coarse=16):
    """Each vector's residual against its nearest seed coarse centroid
    (l2, Spark's order), with ``zip_with``'s nulls."""
    vecs = {
        vid: None if v is None else [None if x is None else float(x) for x in v]
        for vid, v in rows
    }
    coarse = {cid: vecs[cid] for cid in range(n_coarse)}

    def minus(v, c):
        if v is None or c is None:
            return None
        return [
            None if i >= min(len(v), len(c)) or v[i] is None or c[i] is None else v[i] - c[i]
            for i in range(max(len(v), len(c)))
        ]

    return {
        vid: minus(v, coarse[_py_best([(_py_d2(v, c), cid) for cid, c in coarse.items()], "l2")])
        for vid, v in vecs.items()
    }


def test_ivfpq_trained_rcb_matches_python_reference(spark, sf_dir):
    rows = _emb_rows()
    resid = _py_residuals(rows)
    seed = {rid: resid[rid + 16] for rid in range(16)}
    want = _py_train_subspace_round(resid, seed)
    got = {
        r["rid"]: list(r["rv"])
        for r in sim.ivfpq_residual_codebook_trained(
            load_table(spark, sf_dir, "embeddings")
        ).collect()
    }
    assert set(got) == set(want)
    for rid in want:
        assert all(_close(a, b) for a, b in zip(got[rid], want[rid])), rid


def test_ivfpq_trained_search_matches_python_reference(spark, sf_dir):
    from airflow_crypto_etl_spark.queries_selection import q_ann_ivfpq_trained

    rows = _emb_rows()
    resid = _py_residuals(rows)
    seed = {rid: resid[rid + 16] for rid in range(16)}
    ref = _py_ivfpq(rows, rcb=_py_train_subspace_round(resid, seed))
    got: dict[int, list] = {}
    for r in q_ann_ivfpq_trained(spark, sf_dir).orderBy("query_id", "rank").collect():
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["adc"]))
    assert set(got) == set(ref)
    for q in ref:
        assert [v for v, _ in got[q]] == [v for v, _ in ref[q]], f"query {q}"
        for (_, a), (_, b) in zip(got[q], ref[q]):
            assert _close(a, b)  # trained centroids: see _q60 parity caveat


def test_trained_recall_bounds(spark, sf_dir):
    from airflow_crypto_etl_spark.queries_selection import (
        q_ann_ivfpq_trained_recall,
        q_ann_pq_trained_recall,
    )

    for fn in (q_ann_pq_trained_recall, q_ann_ivfpq_trained_recall):
        rows = fn(spark, sf_dir).collect()
        assert len(rows) == 8
        for r in rows:
            assert 0.0 <= r["recall"] <= 1.0


# ---------------------------------------------------------------------------
# Trained coarse quantizer (r11): full-dim Lloyd round — python
# reference parity under both metrics, plus the persisted-PQ and
# occupancy contracts
# ---------------------------------------------------------------------------


def _py_train_fulldim_round(vecs, seed_cents, metric, dim=64):
    """One full-dimension Lloyd round (the operators/similarity
    ivf_centroids_trained semantics in pure Python): assignment under
    the index's metric (cos: max cosine, ties to smaller cid; l2: min
    squared distance, ties to smaller cid) with sequential-fold
    arithmetic matching the engine's codegen order, then exact
    2^60-scaled integer mean updates; empty clusters keep seeds."""

    def cos(v, c):
        d = _py_dot(v, c)
        return None if d is None else d / (math.sqrt(_py_dot(v, v)) * math.sqrt(_py_dot(c, c)))

    score = cos if metric == "cos" else _py_d2
    groups: dict[int, list] = {}
    for _vid, v in sorted(vecs.items()):
        scored = [(score(v, c), cid) for cid, c in seed_cents.items()]
        groups.setdefault(_py_best(scored, metric), []).append(v)
    new = {cid: list(cv) for cid, cv in seed_cents.items()}
    for cid, members in groups.items():
        members = [m for m in members if m is not None]
        for j in range(dim if members else 0):
            new[cid][j] = _py_mean([m[j] for m in members])
    return new


@pytest.mark.parametrize("metric", ["cos", "l2"])
def test_ivf_centroids_trained_matches_python_reference(spark, sf_dir, metric):
    rows = _emb_rows()
    vecs = {vid: [float(x) for x in v] for vid, v in rows}
    seed = {cid: vecs[cid] for cid in range(16)}
    want = _py_train_fulldim_round(vecs, seed, metric)
    got = {
        r["cid"]: list(r["cv"])
        for r in sim.ivf_centroids_trained(
            load_table(spark, sf_dir, "embeddings"), metric=metric, spread=False
        ).collect()
    }
    assert set(got) == set(want)
    for cid in want:
        assert all(_close(a, b) for a, b in zip(got[cid], want[cid])), cid


def test_ivf_centroids_trained_rejects_an_unknown_metric_before_any_job(
    spark, sf_dir, spark_jobs
):
    emb = load_table(spark, sf_dir, "embeddings")
    with spark_jobs() as jobs, pytest.raises(ValueError, match="unknown metric"):
        sim.ivf_centroids_trained(emb, metric="ip")
    assert jobs.n == 0


def _kernel_battery(spark):
    """(vectors, book) frames whose rows hit every rule of the
    nearest-centroid kernel: a null vector and a null element, NaN and
    ±inf, a shorter and a longer vector, a vector equal to a centroid,
    duplicate centroids (exact ties), and book rows that are short,
    non-finite or hold a null."""
    nan, inf = float("nan"), float("inf")
    rng = random.Random(11)
    book = [(cid, [round(rng.gauss(0, 1), 2) for _ in range(4)]) for cid in range(8)]
    book[5] = (5, list(book[2][1]))  # exact tie with cid 2
    book[6] = (6, [1.0, nan, 0.5, 0.5])
    book[7] = (7, [1.0, 2.0, 3.0])
    book.append((9, [0.5, None, 1.0, 1.0]))
    book.append((12, [inf, 1.0, 1.0, 1.0]))
    vecs = [(i, [round(rng.gauss(0, 1), 2) for _ in range(4)]) for i in range(12)]
    vecs += [
        (20, None), (21, [1.0, None, 2.0, 0.5]), (22, [nan, 1.0, 1.0, 1.0]),
        (23, [inf, 1.0, 1.0, 1.0]), (24, [-inf, 0.0, 1.0, 1.0]), (25, [1.0, 2.0, 3.0]),
        (26, [1.0, 2.0, 3.0, 4.0, 5.0]), (27, list(book[3][1])), (28, [2 * x for x in book[2][1]]),
    ]
    schema = "id bigint, v array<double>"
    return spark.createDataFrame(vecs, schema), book


@pytest.mark.parametrize("metric", ["cos", "l2"])
def test_nearest_centroid_kernel_matches_spark(spark, metric):
    """Every rule of ``similarity.nearest_centroids`` pinned against the
    SQL forms it replaced: the top-3 picks and scores equal a
    ``row_number`` window over the ``dot_sql``/``d2_sql`` scores (cos
    desc, d2 asc, then cid), the top pick equals ``max_by`` over
    ``struct(cos, -cid)`` / ``array_min`` over ``struct(d2, cid)``, and
    the residual equals ``zip_with(v, cv, (x, y) -> x - y)``; every
    double bit for bit, null and NaN included."""
    from pyspark.sql import Window

    vecs, book = _kernel_battery(spark)
    bk = spark.createDataFrame(book, "cid bigint, cv array<double>")
    if metric == "cos":
        score = f"{sim.dot_sql('v', 'cv')} / ({sim.norm2_sql('v')} * {sim.norm2_sql('cv')})"
        order = [F.col("score").desc(), F.col("cid").asc()]
    else:
        score = sim.d2_sql("v", "cv")
        order = [F.col("score").asc(), F.col("cid").asc()]
    pairs = vecs.crossJoin(bk).select(
        "id", "cid", F.expr(score).alias("score"),
        F.expr("zip_with(v, cv, (x, y) -> x - y)").alias("r"),
    )
    w = Window.partitionBy("id").orderBy(*order)
    want = pairs.withColumn("rank", F.row_number().over(w)).filter("rank <= 3")
    got = sim._nearest_map(vecs, book, metric, 3, resid=True).withColumn(
        "rank", F.row_number().over(Window.partitionBy("id").orderBy(F.monotonically_increasing_id()))
    )

    def rows(df):
        return sorted(repr(tuple(r)) for r in df.select("id", "rank", "cid", "score", "r").collect())

    assert rows(got) == rows(want)
    if metric == "cos":
        best = pairs.groupBy("id").agg(
            F.max_by("cid", F.struct("score", (-F.col("cid")).alias("n"))).alias("cid")
        )
    else:
        best = vecs.crossJoin(
            spark.createDataFrame([(book,)], "b array<struct<cid: bigint, cv: array<double>>>")
        ).selectExpr("id", f"array_min(transform(b, e -> struct({sim.d2_sql('v', 'e.cv')} AS d, e.cid AS cid))).cid AS cid")
    one = sim._nearest_map(vecs, book, metric).select("id", "cid")
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, best.collect()))
    assert one.count() == vecs.count() == 21


def _zero_norm_corpus(spark, zero_id):
    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    rows[zero_id] = (zero_id, [0.0] * 8)
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_a_zero_norm_vector_fails_with_the_module_error(spark, tmp_path):
    """A zero-norm vector has no cosine. As a seed centroid it raises
    ValueError naming the cid on the driver, before the assignment
    runs; as a corpus, batch or query vector it fails the kernel task
    with a message naming its id. Under l2 the same corpora train."""
    seed0, row20 = _zero_norm_corpus(spark, 0), _zero_norm_corpus(spark, 20)
    clean = _zero_norm_corpus(spark, 39).filter("vec_id < 39")
    cents, assign = sim.ivf_index_build(clean, spread=False)
    cents.write.parquet(str(tmp_path / "centroids"))
    cents_p = spark.read.parquet(str(tmp_path / "centroids"))
    zero_book = cents_p.withColumn(
        "cv", F.when(F.col("cid") == 4, F.array_repeat(F.lit(0.0), 8)).otherwise(F.col("cv"))
    )
    seed_cases = [
        lambda: sim.ivf_index_build(seed0, spread=False)[1].collect(),
        lambda: sim.ivf_topk(seed0, [1, 2], k=5).collect(),
        lambda: sim.ivf_centroids_trained(seed0, metric="cos", spread=False).collect(),
    ]
    for case in seed_cases:
        with pytest.raises(ValueError, match="centroid 0 has zero norm"):
            case()
    with pytest.raises(ValueError, match="centroid 4 has zero norm"):
        sim.ivf_index_lookup(clean, clean, zero_book, assign, spread=False).collect()
    row_cases = [
        lambda: sim.ivf_index_build(row20, spread=False)[1].collect(),
        lambda: sim.ivf_topk(row20, [1, 2], k=5).collect(),
        lambda: sim.ivf_centroids_trained(row20, metric="cos", spread=False).collect(),
        lambda: sim.ivf_index_lookup(row20, clean, cents_p, assign, spread=False).collect(),
    ]
    for case in row_cases:
        with pytest.raises(Exception, match="vector 20 has zero norm"):
            case()
    for emb in (seed0, row20):
        assert sim.ivf_centroids_trained(emb, metric="l2", spread=False).count() == 16


def test_ivf_index_retrain_gives_the_oracle_rows_every_run(spark, sf_dir, duck):
    """q_ann_index_retrain writes its two index tables from two threads
    over plans that share the trained book. With the book a local
    relation, a lambda projection over it was folded on the driver with
    shared lambda variables and could put vectors in the wrong lists;
    the kernel holds the book in its closure, so every one of 20 runs
    returns the DuckDB oracle's rows."""
    import __spark_entry__ as entrymod
    from airflow_crypto_etl_spark.operators.dedup import release_caches

    def norm(rows):
        return sorted((r[0], r[1], r[3], round(r[2], 9)) for r in rows)

    want = norm(duck.execute(entrymod.oracle_sql()["q_ann_index_retrain"]).fetchall())
    q = entrymod.queries()["q_ann_index_retrain"]
    assert len(want) > 0
    for _ in range(20):
        try:
            got = q(spark, sf_dir).select("query_id", "neighbor_id", "cos", "rank").collect()
        finally:
            release_caches()
        assert norm(got) == want


@pytest.mark.parametrize("dim", [32, 96])
def test_trained_books_follow_the_corpus_dimension(spark, dim):
    """Every trained book takes its dimension from the corpus: on a
    seeded 40-vector corpus of 32 or 96 dims each trained vector has
    the corpus's length and equals the Python reference round at that
    dimension."""
    rng = random.Random(dim)
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # the reference sees the float32 values Spark stores
    vecs = {i: [float(x) for x in np.float32(v)] for i, v in rows}
    seed = {cid: vecs[cid] for cid in range(16)}
    resid = _py_residuals(list(vecs.items()))
    want = {
        "ivf_cos": _py_train_fulldim_round(vecs, seed, "cos", dim),
        "ivf_l2": _py_train_fulldim_round(vecs, seed, "l2", dim),
        "pq": _py_train_subspace_round(vecs, seed, dim=dim),
        "ivfpq": _py_train_subspace_round(
            resid, {rid: resid[rid + 16] for rid in range(16)}, dim=dim
        ),
    }
    got = {
        "ivf_cos": sim.ivf_centroids_trained(emb, spread=False),
        "ivf_l2": sim.ivf_centroids_trained(emb, metric="l2", spread=False),
        "pq": sim.pq_codebook_trained(emb),
        "ivfpq": sim.ivfpq_residual_codebook_trained(emb),
    }
    for name, book in got.items():
        book = {r[0]: list(r[1]) for r in book.collect()}
        assert set(book) == set(want[name]), name
        for cid, cv in book.items():
            assert len(cv) == dim, (name, cid, len(cv))
            assert all(_close(a, b) for a, b in zip(cv, want[name][cid])), (name, cid)


def test_ivf_occupancy_contract(spark, sf_dir):
    """q_ann_ivf_occupancy publishes one row per quantizer variant;
    both variants assign the WHOLE corpus (n_vecs equal), and spread
    is exactly max/mean. The trained-vs-seeded spread DELTA is
    recorded in BASELINE.md as a measurement, not asserted — on a
    tiny fixture one Lloyd round need not strictly dominate."""
    from airflow_crypto_etl_spark.queries_selection import q_ann_ivf_occupancy

    rows = {r["variant"]: r for r in q_ann_ivf_occupancy(spark, sf_dir).collect()}
    assert set(rows) == {"seeded", "trained"}
    n = load_table(spark, sf_dir, "embeddings").count()
    for r in rows.values():
        assert r["n_vecs"] == n
        assert 1 <= r["n_lists"] <= 16
        assert r["max_occ"] >= r["min_occ"] >= 1
        assert _close(r["spread"], r["max_occ"] * r["n_lists"] / r["n_vecs"])


def test_trained_coarse_recall_bounds(spark, sf_dir):
    from airflow_crypto_etl_spark.queries_selection import (
        q_ann_ivf_trained_recall,
        q_ann_ivfpq_coarse_trained_recall,
    )

    for fn in (q_ann_ivf_trained_recall, q_ann_ivfpq_coarse_trained_recall):
        rows = fn(spark, sf_dir).collect()
        assert len(rows) == 8
        for r in rows:
            assert 0.0 <= r["recall"] <= 1.0


def test_pq_index_roundtrip_matches_pq_topk(spark, sf_dir, tmp_path):
    """pq_index_build → parquet → pq_index_lookup on in-corpus queries
    must return byte-identical rows to the rebuild-per-call pq_topk
    with the same trained codebook: the index columns are plain
    double/bigint, so persistence cannot perturb a single rank or ADC
    score."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codebook, codes = sim.pq_index_build(emb, trained=True)
    codebook.write.parquet(str(tmp_path / "codebook"))
    codes.write.parquet(str(tmp_path / "codes"))
    cb_p = spark.read.parquet(str(tmp_path / "codebook"))
    codes_p = spark.read.parquet(str(tmp_path / "codes"))
    ids = [0, 1, 2, 3, 4, 5, 6, 7]
    batch = emb.filter(F.col("vec_id").isin(ids))
    persisted = sim.pq_index_lookup(batch, cb_p, codes_p, k=10)
    rebuilt = sim.pq_topk(
        emb, ids, k=10, codebook=sim.pq_codebook_trained(emb)
    )
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    got = sorted(persisted.collect(), key=key)
    want = sorted(rebuilt.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 80


def test_pq_index_stats_counts_degenerate_rows(spark, sf_dir):
    """r11 ADVICE item 3: rows whose codes array is NULL or empty must
    still count in n_vecs (the pre-single-pass codes-table count
    semantics) instead of being dropped by posexplode."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _cb, codes = sim.pq_index_build(emb.filter(F.col("vec_id") < 50), trained=False)
    degenerate = codes.sparkSession.createDataFrame(
        [(100001, None), (100002, [])], "vec_id bigint, codes array<bigint>"
    )
    healthy = codes.count()
    row = sim.pq_index_stats(codes.unionByName(degenerate)).collect()[0]
    assert row["n_vecs"] == healthy + 2


def test_pq_index_build_codes_equal_append(spark, sf_dir):
    """The build-IS-append invariant as a TEST (r11 verdict item 6):
    pq_index_build encodes the corpus directly under its 1-row book
    (skipping pq_index_append's explode→repack of the same book), so
    this pins that the build's codes are row-identical to
    pq_index_append applied to the whole corpus against the build's
    exploded (cid, cv) codebook — for both the seeded and the trained
    book."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    for trained in (False, True):
        codebook, codes = sim.pq_index_build(emb, trained=trained)
        via_append = sim.pq_index_append(emb, codebook)
        got = sorted(
            (r["vec_id"], tuple(r["codes"])) for r in codes.collect()
        )
        want = sorted(
            (r["vec_id"], tuple(r["codes"])) for r in via_append.collect()
        )
        assert got == want and len(got) > 0


def test_trained_books_survive_a_null_seed_element(spark):
    """A seed vector with a null element: its score is null against
    every vector, which sorts lowest under ``cos`` and first under
    ``l2``, and the update's mean skips the null. The three trained
    quantizers equal the Python reference rounds under those rules, and
    the trained PQ index still encodes every vector."""
    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(200)]
    rows[3][1][7] = None
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    vecs = {i: [None if x is None else float(np.float32(x)) for x in v] for i, v in rows}
    seed = {cid: vecs[cid] for cid in range(16)}
    resid = _py_residuals(list(vecs.items()))
    want = {
        "ivf_cos": _py_train_fulldim_round(vecs, seed, "cos"),
        "ivf_l2": _py_train_fulldim_round(vecs, seed, "l2"),
        "ivfpq": _py_train_subspace_round(resid, {rid: resid[rid + 16] for rid in range(16)}),
    }
    got = {
        "ivf_cos": sim.ivf_centroids_trained(emb),
        "ivf_l2": sim.ivf_centroids_trained(emb, metric="l2"),
        "ivfpq": sim.ivfpq_residual_codebook_trained(emb),
    }
    for name, book in got.items():
        book = {r[0]: list(r[1]) for r in book.collect()}
        assert set(book) == set(want[name]), name
        for cid, cv in book.items():
            assert all(
                a is b is None or (None not in (a, b) and _close(a, b))
                for a, b in zip(cv, want[name][cid], strict=True)
            ), (name, cid)
    codebook, codes = sim.pq_index_build(emb, trained=True)
    cents = {r["cid"]: r["cv"] for r in codebook.collect()}
    got = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert got == {i: _py_pq_codes(v, cents) for i, v in vecs.items()}


@pytest.mark.parametrize(
    "name,budget",
    [
        # seed collect, the Lloyd round's two, two index writes; lookup's five
        ("q_ann_pq_index_lookup", 10),
        # the base and each appended slice are one pq_assign pass each;
        # a Python task has a fixed cost, so extra passes show as time
        ("q_ann_pq_index_append", 14),
        ("q_ann_pq_index_health", 11),
        # the trained books: each Lloyd round is one collect of its seeds
        # and one of the update's cell means; a book the driver holds is
        # a local relation, so collecting it back runs no job
        ("q_kmeans", 4),
        ("q_ann_ivf_trained", 12),
        ("q_ann_pq_trained", 8),
        ("q_ann_ivfpq_trained", 10),
        # the IVFPQ residual codes are one pq_assign pass against the
        # driver-side residual book; the coarse assignment and the probes
        # are nearest_centroids passes against the coarse book, which is
        # collected once and never broadcast
        ("q_ann_ivfpq", 7),
        ("q_ann_ivfpq_recall", 10),
        ("q_ann_ivfpq_coarse_trained", 11),
        # every IVF assignment and probe is one nearest_centroids pass:
        # no broadcast of the centroids, no argmax shuffle, no probe window
        ("q_ann_ivf", 11),
        ("q_ann_index_lookup", 15),
        ("q_ann_index_append", 19),
        ("q_ann_index_retrain", 17),
        ("q_semantic_dedup", 10),
    ],
)
def test_pq_index_job_budget(spark, sf_dir, spark_jobs, name, budget):
    """The persisted-index, IVF, IVFPQ, k-means and trained-book queries
    stay within their Spark job budget for a warm construct plus noop
    execute."""
    import __spark_entry__ as entrymod
    from airflow_crypto_etl_spark.operators.dedup import release_caches

    q = entrymod.queries()[name]

    def run():
        try:
            q(spark, sf_dir).write.format("noop").mode("overwrite").save()
        finally:
            release_caches()

    run()
    with spark_jobs() as jobs:
        run()
    assert jobs.n <= budget, jobs.n


def test_index_builders_quote_column_names(spark, sf_dir):
    """The trained index builders splice caller-supplied column names
    into SQL text: names that need quoting (a space, a hyphen) build
    the same index as the default names."""
    from airflow_crypto_etl_spark.operators.dedup import release_caches

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    odd = emb.select(F.col("vec_id").alias("vec id"), F.col("embedding").alias("emb-v"))
    rows = lambda df: sorted(tuple(map(str, r)) for r in df.collect())  # noqa: E731
    try:
        for build in (
            lambda e, **names: sim.pq_index_build(e, trained=True, **names),
            lambda e, **names: sim.ivf_index_retrain(e, spread=False, **names),
        ):
            book, index = build(odd, id_col="vec id", vec_col="emb-v")
            book_d, index_d = build(emb)
            assert rows(book) == rows(book_d) and book.count() == 16
            assert rows(index) == rows(index_d) and index.count() == emb.count()
    finally:
        release_caches()


def test_pq_index_append_equals_rebuild_and_replay_noop(spark, sf_dir, tmp_path):
    """The growing-PQ-index contract (q_ann_pq_index_append's live
    twin): lookup against base + two appended batch_id partitions is
    row-identical to a rebuild over the union corpus with the same
    frozen codebook, and REPLAYING an appended batch (dynamic
    partition overwrite of its own batch_id) leaves the codes table's
    row set unchanged."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(~(F.col("vec_id") % 10).isin([7, 8]))
    codebook, codes0 = sim.pq_index_build(base, trained=False)
    codebook.write.parquet(str(tmp_path / "codebook"))
    cb_p = spark.read.parquet(str(tmp_path / "codebook"))
    codes_dir = str(tmp_path / "codes")

    def write_batch(rows, b):
        (
            rows.withColumn("batch_id", F.lit(b))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(codes_dir)
        )

    write_batch(codes0, 0)
    slices = [emb.filter(F.col("vec_id") % 10 == r) for r in (7, 8)]
    for b, sl in enumerate(slices, start=1):
        write_batch(sim.pq_index_append(sl, cb_p), b)
    grown = spark.read.parquet(codes_dir).select("vec_id", "codes")
    ids = [0, 1, 2, 3]
    batch = emb.filter(F.col("vec_id").isin(ids))
    appended = sim.pq_index_lookup(batch, cb_p, grown, k=10)
    # rebuild over the UNION corpus with the SAME frozen book (the
    # append contract: the codebook is versioned with the index, so a
    # rebuild re-encodes everything against it rather than re-seeding)
    codes_union = sim.pq_index_append(emb, cb_p)
    rebuilt = sim.pq_index_lookup(batch, cb_p, codes_union, k=10)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    got = sorted(appended.collect(), key=key)
    want = sorted(rebuilt.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 40
    # replayed batch is a no-op on the stored row set
    before = sorted(
        tuple(r) for r in spark.read.parquet(codes_dir).select("vec_id", "codes").collect()
    )
    write_batch(sim.pq_index_append(slices[0], cb_p), 1)
    after = sorted(
        tuple(r) for r in spark.read.parquet(codes_dir).select("vec_id", "codes").collect()
    )
    assert before == after


def test_ivf_index_compact_is_pure_relayout(spark, sf_dir, tmp_path):
    """ivf_index_compact consumes batch_id and preserves the exact
    (cid, vec_id) row multiset of the grown table, and lookup against
    the compacted index is row-identical to lookup against the grown
    one — compaction is pure re-layout (the small-file maintenance
    half of the append contract)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(~(F.col("vec_id") % 10).isin([3, 4]))
    cents, assign0 = sim.ivf_index_build(base, n_centroids=16, spread=False)
    cents.write.parquet(str(tmp_path / "centroids"))
    cents_p = spark.read.parquet(str(tmp_path / "centroids"))
    assign_dir = str(tmp_path / "assign")
    for b, rows in enumerate(
        [assign0]
        + [
            sim.ivf_index_append(
                emb.filter(F.col("vec_id") % 10 == r), cents_p, spread=False
            )
            for r in (3, 4)
        ]
    ):
        (
            rows.withColumn("batch_id", F.lit(b))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(assign_dir)
        )
    grown = spark.read.parquet(assign_dir)
    sim.ivf_index_compact(grown).write.parquet(str(tmp_path / "compacted"))
    compacted = spark.read.parquet(str(tmp_path / "compacted"))
    assert set(compacted.columns) == {"cid", "vec_id"}
    grown_rows = sorted((r["cid"], r["vec_id"]) for r in grown.collect())
    comp_rows = sorted((r["cid"], r["vec_id"]) for r in compacted.collect())
    assert grown_rows == comp_rows
    batch = emb.filter(F.col("vec_id") % 10 == 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    via_grown = sorted(
        sim.ivf_index_lookup(
            batch, emb, cents_p, grown.select("cid", "vec_id"), k=10, spread=False
        ).collect(),
        key=key,
    )
    via_comp = sorted(
        sim.ivf_index_lookup(batch, emb, cents_p, compacted, k=10, spread=False).collect(),
        key=key,
    )
    assert [tuple(r) for r in via_grown] == [tuple(r) for r in via_comp]
    assert len(via_comp) > 0


def test_ivf_index_stats_arithmetic(spark, sf_dir, tmp_path):
    """ivf_index_stats recomputes exactly: n_vecs = corpus size,
    appended_vecs = the appended slices' row count, n_append_batches =
    batches beyond base, spread = max*lists/vecs; and a table WITHOUT
    batch_id (a compacted base) reports zero append bookkeeping."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(~(F.col("vec_id") % 10).isin([6, 9]))
    cents, assign0 = sim.ivf_index_build(base, n_centroids=16, spread=False)
    cents.write.parquet(str(tmp_path / "centroids"))
    cents_p = spark.read.parquet(str(tmp_path / "centroids"))
    assign_dir = str(tmp_path / "assign")
    for b, rows in enumerate(
        [assign0]
        + [
            sim.ivf_index_append(
                emb.filter(F.col("vec_id") % 10 == r), cents_p, spread=False
            )
            for r in (6, 9)
        ]
    ):
        (
            rows.withColumn("batch_id", F.lit(b))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(assign_dir)
        )
    grown = spark.read.parquet(assign_dir)
    n = emb.count()
    napp = emb.filter((F.col("vec_id") % 10).isin([6, 9])).count()
    cap = (2 * n) // 16
    row = sim.ivf_index_stats(grown, list_cap=cap).collect()[0]
    assert row["n_vecs"] == n
    assert row["appended_vecs"] == napp
    assert row["n_append_batches"] == 2
    assert math.isclose(row["appended_frac"], napp / n, rel_tol=1e-12)
    assert math.isclose(
        row["spread"], row["max_occ"] * row["n_lists"] / row["n_vecs"], rel_tol=1e-12
    )
    assert row["n_lists_over_cap"] == 0 and 1 <= row["n_lists"] <= 16
    # compacted (no batch_id) → zero append bookkeeping, same list stats
    comp = sim.ivf_index_stats(sim.ivf_index_compact(grown), list_cap=cap).collect()[0]
    assert comp["n_append_batches"] == 0 and comp["appended_vecs"] == 0
    assert (comp["n_lists"], comp["n_vecs"], comp["max_occ"], comp["min_occ"]) == (
        row["n_lists"], row["n_vecs"], row["max_occ"], row["min_occ"]
    )


def test_ivf_index_retrain_equals_trained_rebuild(spark, sf_dir, tmp_path):
    """ivf_index_retrain publishes exactly the pair a trained rebuild
    over the same corpus produces (the retrain ACTION is the trained
    build, versioned); the parquet round-trip is bit-exact; and a
    lookup through the READ-BACK retrained pair is row-identical to
    the rebuild-per-call trained path (ivf_batch_lookup with trained
    centroids) — the persisted-trained edge of the lifecycle square."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    cap = (2 * n) // 16
    cents2, assign2 = sim.ivf_index_retrain(
        emb, n_centroids=16, list_cap=cap, spread=False
    )
    trained = sim.ivf_centroids_trained(emb, n_centroids=16, metric="cos", spread=False)
    cents_d, assign_d = sim.ivf_index_build(
        emb, n_centroids=16, list_cap=cap, spread=False, centroids=trained
    )
    assert sorted(map(tuple, cents2.collect())) == sorted(map(tuple, cents_d.collect()))
    assert sorted(map(tuple, assign2.collect())) == sorted(map(tuple, assign_d.collect()))
    cents2.write.parquet(str(tmp_path / "centroids_v2"))
    assign2.write.parquet(str(tmp_path / "assign_v2"))
    cents_p = spark.read.parquet(str(tmp_path / "centroids_v2"))
    assign_p = spark.read.parquet(str(tmp_path / "assign_v2"))
    # bit-exact round-trip: plain double/bigint columns
    assert sorted(map(tuple, cents_p.collect())) == sorted(map(tuple, cents2.collect()))
    batch = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    via_persisted = sorted(
        sim.ivf_index_lookup(batch, emb, cents_p, assign_p, k=10, spread=False).collect(),
        key=key,
    )
    via_rebuild = sorted(
        sim.ivf_batch_lookup(
            emb, batch, k=10, n_centroids=16, n_probe=4, list_cap=cap,
            spread=False, centroids=trained,
        ).collect(),
        key=key,
    )
    assert [tuple(r) for r in via_persisted] == [tuple(r) for r in via_rebuild]
    assert len(via_persisted) > 0


def test_pq_index_stats_arithmetic(spark, sf_dir):
    """pq_index_stats recomputes exactly against a Python reference
    over the collected codes: n_vecs, per-subspace code utilization
    (codes_used_min/max), the worst single-code concentration
    max_code_frac, and the batch_id append bookkeeping; a table
    WITHOUT batch_id reports zero append bookkeeping."""
    from collections import Counter

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(~(F.col("vec_id") % 10).isin([4, 7]))
    codebook, codes0 = sim.pq_index_build(base, trained=False)
    grown = codes0.withColumn("batch_id", F.lit(0))
    for b, r in enumerate((4, 7), start=1):
        grown = grown.unionByName(
            sim.pq_index_append(
                emb.filter(F.col("vec_id") % 10 == r), codebook
            ).withColumn("batch_id", F.lit(b))
        )
    row = sim.pq_index_stats(grown).collect()[0]
    codes = {r["vec_id"]: list(r["codes"]) for r in grown.collect()}
    n = emb.count()
    napp = emb.filter((F.col("vec_id") % 10).isin([4, 7])).count()
    assert row["n_vecs"] == n == len(codes)
    per = Counter((s, c) for cl in codes.values() for s, c in enumerate(cl))
    used = Counter(s for (s, _c) in per)
    assert row["n_sub"] == sim.PQ_SUB == len(used)
    assert row["codes_used_min"] == min(used.values())
    assert row["codes_used_max"] == max(used.values())
    assert math.isclose(row["max_code_frac"], max(per.values()) / n, rel_tol=1e-12)
    assert row["n_append_batches"] == 2
    assert row["appended_vecs"] == napp
    assert math.isclose(row["appended_frac"], napp / n, rel_tol=1e-12)
    bare = sim.pq_index_stats(grown.drop("batch_id")).collect()[0]
    assert bare["n_append_batches"] == 0 and bare["appended_vecs"] == 0
    assert (bare["n_vecs"], bare["codes_used_min"], bare["codes_used_max"]) == (
        row["n_vecs"], row["codes_used_min"], row["codes_used_max"]
    )


def test_pq_index_compact_is_pure_relayout(spark, sf_dir, tmp_path):
    """pq_index_compact consumes batch_id and preserves the exact
    (vec_id, codes) row multiset of the grown codes table, and ADC
    lookup against the compacted table is row-identical to lookup
    against the grown one — compaction is pure re-layout (the
    small-file maintenance half; no probe selectivity is claimed, per
    the operator docstring)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(~(F.col("vec_id") % 10).isin([6, 8]))
    codebook, codes0 = sim.pq_index_build(base, trained=False)
    codebook.write.parquet(str(tmp_path / "codebook"))
    cb_p = spark.read.parquet(str(tmp_path / "codebook"))
    codes_dir = str(tmp_path / "codes")
    for b, rows in enumerate(
        [codes0]
        + [
            sim.pq_index_append(emb.filter(F.col("vec_id") % 10 == r), cb_p)
            for r in (6, 8)
        ]
    ):
        (
            rows.withColumn("batch_id", F.lit(b))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(codes_dir)
        )
    grown = spark.read.parquet(codes_dir)
    sim.pq_index_compact(grown).write.parquet(str(tmp_path / "compacted"))
    compacted = spark.read.parquet(str(tmp_path / "compacted"))
    assert set(compacted.columns) == {"vec_id", "codes"}
    grown_rows = sorted((r["vec_id"], tuple(r["codes"])) for r in grown.collect())
    comp_rows = sorted((r["vec_id"], tuple(r["codes"])) for r in compacted.collect())
    assert grown_rows == comp_rows
    batch = emb.filter(F.col("vec_id") % 10 == 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    via_grown = sorted(
        sim.pq_index_lookup(
            batch, cb_p, grown.select("vec_id", "codes"), k=10
        ).collect(),
        key=key,
    )
    via_comp = sorted(
        sim.pq_index_lookup(batch, cb_p, compacted, k=10).collect(), key=key
    )
    assert [tuple(r) for r in via_grown] == [tuple(r) for r in via_comp]
    assert len(via_comp) > 0
