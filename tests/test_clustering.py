"""Embedding clustering (deterministic k-means) + SemDeDup semantic dedup.

The load-bearing claim for 100 TB is ORDER-FREEDOM: the centroid update
uses 2^60-scaled decimal sums, so shuffle merge order can never change a
bit of the result. Tests pin that (same answer under different
partitionings), pin assignment against an independent numpy recompute,
and pin the dedup election on planted duplicates.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from airflow_crypto_etl_spark.operators import similarity as sim
from airflow_crypto_etl_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_kmeans_partitioning_invariance(emb):
    """The whole point of the decimal-sum centroid update: repartitioning
    the corpus (different shuffle merge orders) yields the IDENTICAL
    assignment and bitwise-identical distances."""
    a = {r["vec_id"]: (r["cluster"], r["dist"])
         for r in sim.kmeans_assign(emb.repartition(3), k=8, iters=1).collect()}
    b = {r["vec_id"]: (r["cluster"], r["dist"])
         for r in sim.kmeans_assign(emb.repartition(13), k=8, iters=1).collect()}
    assert a == b


def test_kmeans_assignment_matches_numpy(emb):
    """Final assignments agree with an independent numpy recompute of
    the same algorithm (float64 throughout; distances compared to the
    argmin, ties impossible on this data)."""
    rows = emb.select("vec_id", "embedding").collect()
    ids = sorted(r["vec_id"] for r in rows)[:8]
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    cents = [vecs[i].copy() for i in ids]
    # one Lloyd round: assign to seeds, mean per cluster, re-assign
    def assign(cents):
        out = {}
        for vid, v in vecs.items():
            d = [float(((v - c) ** 2).sum()) for c in cents]
            out[vid] = int(np.argmin(d))
        return out
    a0 = assign(cents)
    for j in range(8):
        members = [vecs[vid] for vid, c in a0.items() if c == j]
        if members:
            cents[j] = np.mean(members, axis=0)
    expected = assign(cents)
    got = {r["vec_id"]: r["cluster"]
           for r in sim.kmeans_assign(emb, k=8, iters=1).collect()}
    # numpy mean differs from the exact decimal mean only at ~1e-16;
    # allow disagreement only if the two nearest centroids are within
    # that slack (none on this corpus — assert exact equality)
    assert got == expected


def test_kmeans_cluster_count_and_coverage(emb):
    out = sim.kmeans_assign(emb, k=8, iters=1)
    n = emb.count()
    assert out.count() == n
    clusters = {r["cluster"] for r in out.select("cluster").distinct().collect()}
    assert clusters <= set(range(8)) and len(clusters) >= 2


def test_kmeans_degenerate_input(spark):
    """More clusters than rows: each row is its own seed and cluster.
    An empty corpus raises ValueError. A NaN seed element is a valid
    plan literal: NaN distances sort after every number, and tie to the
    smaller cluster. The NaN row joins cluster 0, so that cluster's
    updated mean is NaN in the first coordinate (as ``avg`` gives) and
    every distance to it is NaN."""
    schema = "vec_id bigint, embedding array<double>"
    few = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])], schema)
    got = {r["vec_id"]: (r["cluster"], r["dist"]) for r in sim.kmeans_assign(few, k=8).collect()}
    assert got == {0: (0, 0.0), 1: (1, 0.0), 2: (2, 0.0)}
    with pytest.raises(ValueError):
        sim.kmeans_assign(spark.createDataFrame([], schema), k=8)
    nan, inf = float("nan"), float("inf")
    rows = [(0, [0.0, 0.0]), (1, [nan, 1.0]), (2, [4.0, 4.0]), (3, [2.0, 0.0])]
    out = sim.kmeans_assign(spark.createDataFrame(rows, schema), k=2).collect()
    got = {r["vec_id"]: (r["cluster"], r["dist"]) for r in out}
    assert {i: c for i, (c, _) in got.items()} == {0: 0, 1: 0, 2: 0, 3: 0}
    assert all(math.isnan(d) for _, d in got.values())
    lit = spark.range(1).select(F.expr(sim._dbl_array_sql([1.5, nan, inf, -inf, -0.0])))
    assert [repr(x) for x in lit.first()[0]] == ["1.5", "nan", "inf", "-inf", "-0.0"]


def test_exact_mean_propagates_non_finite_values(spark):
    """A NaN or ±inf value has no 2^60 decimal form: the exact mean of a
    coordinate holding one is NaN or the infinity, as ``avg`` gives,
    instead of dropping the value from the sum while counting it in n.
    Finite coordinates keep the exact mean, and a centroid whose only
    member has a NaN is a NaN literal, not a null."""
    nan, inf = float("nan"), float("inf")
    schema = "vec_id bigint, embedding array<double>"
    rows = [(i, [float(i), 1.0, 0.5, 1.0]) for i in range(20)]
    rows += [(20, [nan, 1.0, inf, -inf]), (21, [1.0, 1.0, 0.5, inf])]
    mu = sim._exact_means(spark.createDataFrame(rows, schema))
    assert math.isnan(mu[0]) and mu[1] == 1.0 and mu[2] == inf and math.isnan(mu[3])
    assert list(sim._exact_means(spark.createDataFrame(rows[:20], schema))) == [9.5, 1.0, 0.5, 1.0]
    emb = spark.createDataFrame([(0, [nan, 0.0]), (1, [1.0, 1.0])], schema)
    got = {r["vec_id"]: (r["cluster"], r["dist"]) for r in sim.kmeans_assign(emb, k=2).collect()}
    assert got[0][0] == 0 and math.isnan(got[0][1])
    assert got[1] == (1, 0.0)


def test_semantic_dedup_plants(spark):
    """Planted corpus: two exact duplicates of vector 0 and one
    orthogonal vector. Duplicates elect the lowest-id original; the
    original itself and the orthogonal vector are kept."""
    base = [1.0, 0.0, 2.0, 0.0]
    rows = [
        (0, base),
        (1, [0.0, 3.0, 0.0, 1.0]),       # unrelated direction
        (2, [x * 2.0 for x in base]),     # same direction as 0 (cos=1)
        (3, base),                        # exact duplicate of 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           sim.semantic_dedup(df, k=2, threshold=0.95).collect()}
    assert not out[0]["is_dup"] and out[0]["dup_of"] is None
    assert not out[1]["is_dup"]
    assert out[2]["is_dup"] and out[2]["dup_of"] == 0
    assert out[3]["is_dup"] and out[3]["dup_of"] == 0


def test_semantic_dedup_bounds_pairs_to_clusters(emb):
    """dup_of must always name a lower id in the SAME cluster — the
    within-cluster search never crosses cluster boundaries."""
    out = sim.semantic_dedup(emb, k=8, threshold=0.4)
    clusters = {r["vec_id"]: r["cluster"] for r in out.collect()}
    for r in out.where("is_dup").collect():
        assert r["dup_of"] < r["vec_id"]
        assert clusters[r["dup_of"]] == r["cluster"]


def test_covariance_matches_numpy(emb):
    rows = emb.select("vec_id", "embedding").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    C = np.cov(X, rowvar=False, bias=True)
    got = sim.embedding_covariance(emb).collect()
    assert len(got) == X.shape[1] * (X.shape[1] + 1) // 2
    for r in got:
        assert abs(r["cov"] - C[r["i"], r["j"]]) < 1e-12


def test_covariance_partitioning_invariance(emb):
    a = {(r["i"], r["j"]): r["cov"]
         for r in sim.embedding_covariance(emb.repartition(3)).collect()}
    b = {(r["i"], r["j"]): r["cov"]
         for r in sim.embedding_covariance(emb.repartition(11)).collect()}
    assert a == b  # bitwise, not approx


def test_gram_arrow_agrees_with_exact_pass(emb):
    """The Arrow scale path (per-partition numpy X'X partials) agrees
    with the exact decimal pass to float-merge tolerance."""
    n = emb.count()
    cov = {(r["i"], r["j"]): r["cov"] for r in sim.embedding_covariance(emb).collect()}
    mu_rows = sim._exact_means(emb)
    for r in sim.gram_arrow(emb).collect():
        i, j = r["i"], r["j"]
        exact = cov[(i, j)] + mu_rows[i] * mu_rows[j]
        assert abs(r["g"] / n - exact) < 1e-9
        assert r["n"] == n


def test_pca_project_laws(emb):
    proj, comps, evs = sim.pca_project(emb, k=4)
    # components orthonormal
    G = comps @ comps.T
    assert np.allclose(G, np.eye(len(comps)), atol=1e-10)
    # eigenvalues descending, non-negative
    assert all(evs[i] >= evs[i + 1] for i in range(len(evs) - 1))
    assert (evs > -1e-12).all()
    # deterministic sign: largest-|loading| coordinate positive
    for u in comps:
        assert u[int(np.argmax(np.abs(u)))] > 0
    # population variance of each projection equals its eigenvalue
    P = np.array([[r[f"pc{c}"] for c in range(4)] for r in proj.collect()])
    var = P.var(axis=0)  # projections are mean-centered by construction
    assert np.allclose(var, evs, rtol=1e-8)
    assert np.allclose(P.mean(axis=0), 0.0, atol=1e-10)


def test_mahalanobis_matches_numpy(emb):
    rows = emb.select("vec_id", "embedding").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mu = X.mean(axis=0)
    C = np.cov(X, rowvar=False, bias=True) + 1e-9 * np.eye(X.shape[1])
    Ci = np.linalg.inv(C)
    D = (X - mu) @ Ci * (X - mu)
    exp = {r["vec_id"]: float(D[i].sum()) for i, r in enumerate(rows)}
    got = {r["vec_id"]: r["maha_sq"] for r in sim.mahalanobis_scores(emb).collect()}
    for vid, e in exp.items():
        assert got[vid] == pytest.approx(e, rel=1e-6)
    assert all(v >= 0 for v in got.values())


def test_ann_recall_bounds_and_exact_self_recall(emb):
    """Recall is in [0,1] per query; running recall of the exact scorer
    against itself is identically 1."""
    out = {r["query_id"]: r["recall"]
           for r in sim.ann_recall(emb, [0, 1, 2, 3], k=10).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(0.0 <= v <= 1.0 for v in out.values())
