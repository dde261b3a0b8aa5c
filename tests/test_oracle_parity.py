"""Replicates the driver's correctness gate locally: every registered
query runs on Spark and its oracle SQL runs on DuckDB over the same
parquet; row count, column names, and order-insensitive values must
match (floats compared at fixed precision)."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def _norm(v):
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return f"b:{v}"
    # Decimals are deliberately NOT coerced to float: the driver's hash
    # distinguishes decimal from double representation (round-1 lesson —
    # coercing here masked 8 real hash failures), so the sim must too.
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v:.4f}"
    if isinstance(v, dt.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, dt.date):
        return f"d:{v.isoformat()}"
    return f"{type(v).__name__[0]}:{v}"


def _spark_rows(df):
    cols = sorted(df.columns)
    return cols, sorted(tuple(_norm(r[c]) for c in cols) for r in df.collect())


def _duck_rows(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = cur.fetchall()
    return sorted(names), sorted(tuple(_norm(row[i]) for i in order) for row in rows)


def test_all_queries_have_oracles_or_are_flagged():
    missing = [n for n in QUERIES if n not in ORACLES]
    # Non-SQL-expressible ops may omit oracles, but they must be the
    # documented ones (rows-only checks), not accidental gaps.
    allowed_rows_only = {n for n in QUERIES if n.startswith(("q_stream_", "q_multimodal_", "q_rest_"))}
    assert set(missing) <= allowed_rows_only, f"queries without oracle: {missing}"


# Queries whose plans legitimately contain a BroadcastNestedLoopJoin —
# every entry is a BOUNDED broadcast side (scalar/1-row aggregates, a
# 3-row band table, an 8-row salt range, 8 ANN query vectors, a bounded
# codebook or ADC lookup table). The list is exact: an entry whose plan
# holds no product fails the gate, so it cannot outlive the join it
# allows. CartesianProduct (non-broadcast product) is banned outright:
# at 100 TB an accidental product join is fatal.
_PRODUCT_OK = {
    "q_contract_enforce",   # 1-row total x 1-row violations
    "q_reconcile_counts",   # 1-row src x 1-row dst counts
    "q_ann_topk",           # corpus x broadcast 8 query vectors
    "q_ann_topk_arrow",     # same scoring shape, einsum kernel
    "q_ann_recall",         # composes q_ann_topk's broadcast scoring shape
    "q_ann_ivf_recall",     # the exact side composes q_ann_topk's shape
                            # (IVF assignment and probes are kernel passes)
    "q_hard_negatives",     # corpus x broadcast 8 anchor vectors (cross-label)
    "q_hard_negatives_recall",  # exact side composes q_hard_negatives' shape
                                # (the LSH side is pure equi-join)
    "q_dedup_pr",           # 1-row n_true x n_flagged x n_caught scalar bind
    "q_dedup_ngram",        # dfreq x broadcast 1-row corpus count
    "q_dedup_containment",  # same dfreq x broadcast 1-row corpus count
    "q_distinctive_terms",  # broadcast 1-row corpus count (DF pruning)
    "q_range_join",         # broadcast 3-row band interval table
    "q_salted_join",        # right x broadcast 8-row salt range
    "q_tpch_q2",            # broadcast 1-row min-cost scalar
    "q_tpch_q11",           # broadcast 1-row group-total scalar
    "q_tpch_q20",           # broadcast scalar availqty threshold
    "q_tpch_q22",           # broadcast 1-row avg(acctbal) scalar
    "q_mixture_rebalance",  # broadcast 1-row binding mixture total
    "q_target_encode",      # category table x broadcast 1-row global prior
    "q_tfidf",              # broadcast 1-row corpus doc-count scalar
    "q_collocations",       # broadcast 1-row corpus doc-count scalar
    "q_bm25",               # broadcast 1-row (n_docs, avgdl) scalar
    "q_hll_distinct",       # 1-row sketch x 1-row exact-count scalar
    "q_rfm",                # broadcast 1-row corpus-horizon scalar
    "q_cuped",              # 2-arm row x broadcast 1-row pooled-theta scalar
    "q_quantile_sketch",    # 1-row sketch x 1-row exact-percentile scalar
    "q_bootstrap_ci",       # 1-row CI x broadcast 1-row point-estimate scalar
    "q_mann_whitney",       # 1-row rank sums x broadcast 1-row tie-term scalar
    "q_kmv_intersect",      # 1-row sketch stats x broadcast 1-row exact counts
    "q_sequential_ab",      # day rollup x broadcast 1-row arm-totals scalar
    "q_ann_pq",             # queries x broadcast 16-row codebook (the ADC
                            # LUT) + corpus codes x broadcast 8-row LUTs
    "q_ann_pq_recall",      # composes q_ann_pq + the broadcast exact-L2 scan
    "q_ann_pq_trained",     # q_ann_pq's shapes over the trained book
    "q_ann_pq_trained_recall",   # composes the trained search + exact-L2 scan
    "q_ann_ivfpq",          # probed (query, list) x broadcast 16-row
                            # residual codebook (the ADC LUT)
    "q_ann_ivfpq_recall",   # composes q_ann_ivfpq + the broadcast exact-L2 scan
    "q_ann_ivfpq_trained",  # q_ann_ivfpq's LUT over the trained residual book
    "q_ann_ivfpq_trained_recall",  # composes the trained search + exact-L2 scan
    "q_dsir",               # bucket table x broadcast 1-row token totals
    "q_token_coverage",     # 3-row per-k union x broadcast 1-row token totals
    "q_ann_dim_recall",     # composes q_ann_topk's broadcast exact-L2 scan x4 legs
    "q_corpus_drift",       # day table (<=8 rows) x broadcast bounded
                            # (source x quality-tier) cell domain
    "q_ann_ivf_trained_recall",   # the broadcast exact-cosine scan (the
                                  # trained searcher is kernel passes)
    "q_ann_ivfpq_coarse_trained",  # q_ann_ivfpq's LUT over the trained
                                   # coarse quantizer's residuals
    "q_ann_ivfpq_coarse_trained_recall",  # + the broadcast exact-L2 scan
    "q_ann_pq_index_lookup",  # queries x broadcast 16-row book (the ADC
                              # LUT) + corpus codes x broadcast batch LUTs
    "q_ann_pq_index_append",  # q_ann_pq_index_lookup's LUT shapes over
                              # the grown codes
    "q_ann_index_health",     # 1-row list-stats x 1-row batch-stats
    "q_ann_pq_index_health",  # 1-row code-stats x 1-row batch-stats
    "q_ann_pq_index_compact", # q_ann_pq_index_lookup's LUT shapes over
                              # the compacted codes
    "q_dedup_index_health",   # <=buckets sizes x broadcast 1-row totals
                              # + 1-row totals x 1-row hot/batch-stats
}


# Queries whose plans legitimately contain an UNPARTITIONED WindowExec —
# every entry windows a BOUNDED relation (post-aggregation cardinality
# capped by a domain, never by row count), where "move all rows to one
# partition" is a constant-size driver-adjacent step. Any rank statistic
# over an unbounded relation must use operators/rank.py instead (the
# round-5 verdict's scale-killer family — q_auc, q_decile_lift's ntile,
# q_rfm, q_calibration, q_mann_whitney, q_spearman, q_hte_segments,
# q_sample_weighted, q_sort, q_winsorize all swapped in round 6).
_GLOBAL_WINDOW_OK = {
    "q_benford": "first-digit histogram: ≤ 9 rows",
    "q_bm25": "rank over the ALREADY-LIMITED top-k rows (TakeOrdered upstream)",
    "q_decile_lift": "overall-rate window over the 10-row decile rollup",
    "q_jsd": "per-event-type cells: bounded by the type domain",
    "q_kaplan_meier": "life table keyed by duration days (bounded domain)",
    "q_ks_drift": "distinct milli-quantized values (bounded value domain)",
    "q_logrank": "joint life table keyed by duration days (bounded domain)",
    "q_psi": "fixed-width value buckets (bounded domain)",
    "q_quantile_sketch": "~100-bucket mergeable histogram (bounded domain)",
    "q_stream_quantile": "~100-bucket mergeable histogram (bounded domain)",
    "q_sequential_ab": "cumulative window over the daily enrollment rollup (bounded by the day domain)",
}


def _unpartitioned_windows(df) -> list[str]:
    """Window-style physical operators with an EMPTY partition spec in
    the pre-AQE physical plan — each is a single-partition global sort
    of its input at scale."""
    plan = df._jdf.queryExecution().sparkPlan()
    found: list[str] = []
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name in ("WindowExec", "WindowGroupLimitExec", "WindowInPandasExec"):
            if node.partitionSpec().isEmpty():
                found.append(name)
        kids = node.children()
        for i in range(kids.length()):
            stack.append(kids.apply(i))
    return found


def _assert_published_contract(name, df):
    """Three invariants for every registered query:

    1. No DecimalType in the final schema — the driver's oracle side
       materializes DECIMAL as float64, so decimal output fails the
       value hash on representation (round-1: 8/50 checked queries).
    2. Plan hygiene — no row-at-a-time Python UDF (BatchEvalPython), no
       undeclared cartesian/nested-loop product in the plan, and a
       product in the plan of every query allowlisted for one.
    3. No UNPARTITIONED window over an unbounded relation (round-6 gate):
       a global `Window.orderBy` moves every row to ONE partition — the
       scale-killer the distributed rank primitive exists to avoid.
       Bounded-relation exceptions are allowlisted with their bound.
    """
    from airflow_crypto_etl_spark.queries import has_decimal

    dec = [f.name for f in df.schema.fields if has_decimal(f.dataType)]
    assert not dec, f"{name}: DecimalType escapes to final schema (incl. nested): {dec}"
    try:
        plan = df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
    except Exception:
        return  # plan introspection is best-effort (e.g. foreign wrappers)
    assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF in plan"
    bad = [m for m in ("CartesianProduct", "BroadcastNestedLoopJoin") if m in plan]
    if name not in _PRODUCT_OK:
        assert not bad, f"{name}: undeclared product join {bad} in plan"
    else:
        assert bad, f"{name}: allowlisted in _PRODUCT_OK but its plan holds no product"
    if name not in _GLOBAL_WINDOW_OK:
        try:
            gw = _unpartitioned_windows(df)
        except Exception:
            gw = []  # plan introspection is best-effort
        assert not gw, (
            f"{name}: unpartitioned window {gw} — single-partition sort at "
            f"scale; use operators/rank.py or allowlist with the bound"
        )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_query_schema(name, spark, sf_dir):
    _assert_published_contract(name, QUERIES[name](spark, sf_dir))


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    _assert_published_contract(name, df)
    s_cols, s_rows = _spark_rows(df)
    d_cols, d_rows = _duck_rows(duck, ORACLES[name])
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    mismatches = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:5]}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema) >= 5


def test_manifest_is_current():
    """MANIFEST.json (the driver's stratified-sampling index) must match
    the live registry — a stale manifest silently unbalances which
    families the driver's K-sample exercises."""
    import json
    import pathlib
    import sys

    root = pathlib.Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root / "scripts"))
    try:
        from gen_manifest import build
    finally:
        sys.path.pop(0)
    committed = json.loads((root / "MANIFEST.json").read_text())
    assert committed == build(), "MANIFEST.json stale — run scripts/gen_manifest.py"


def test_no_rdd_probe_on_query_paths():
    """Grep-gate (r4 verdict item 6): `.rdd` access inside the package
    forces an RDD-conversion analyzer pass per call — a hidden tax on
    every registered query that touches it. The only sanctioned mention
    is prose in jdbc_upsert.py's module docstring."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "airflow_crypto_etl_spark"
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if ".rdd" in line and "``" not in line and not line.lstrip().startswith("#"):
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert not offenders, f".rdd plan-materializing probe on a query path: {offenders}"


def test_no_unconditional_corpus_repartition():
    """Grep-gate (r7 verdict item 2): a `.repartition(` on a corpus-side
    relation must be caller-gated behind the `spread` discipline — at
    100 TB an unconditional round-robin repartition is a full extra pass
    of the corpus through the exchange for zero benefit (the scan
    already yields thousands of partitions). Sanctioned sites:
    `layout.widen`, the one widening helper, behind its
    `if not spread` guard; compaction.py's small-file compactor, whose
    entire JOB is choosing the output file count; and the three
    `*_index_compact` compactors, which hash-repartition INDEX rows
    (cid/band/sig ids, never vectors or documents) — the call is the
    operator, not overhead."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "airflow_crypto_etl_spark"
    compactors = {
        ("operators/dedup.py", "minhash_index_compact"),
        ("operators/similarity.py", "ivf_index_compact"),
        ("operators/similarity.py", "pq_index_compact"),
    }
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        rel = str(py.relative_to(pkg)).replace("\\", "/")
        if rel == "sinks/compaction.py":
            continue
        text = py.read_text()
        lines = text.splitlines()
        # line -> the functions whose body spans it (outermost first)
        enclosing: dict[int, list[ast.FunctionDef]] = {}
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.FunctionDef):
                for ln in range(node.lineno, node.end_lineno + 1):
                    enclosing.setdefault(ln, []).append(node)
        for i, line in enumerate(lines, 1):
            if ".repartition(" not in line or line.lstrip().startswith("#"):
                continue
            funcs = enclosing.get(i, [])
            names = {f.name for f in funcs}
            if any((rel, n) in compactors for n in names):
                continue
            if rel == "operators/layout.py" and funcs and funcs[-1].name == "widen":
                guard = lines[funcs[-1].lineno - 1 : i - 1]
                if any(g.strip() == "if not spread:" for g in guard):
                    continue
            offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, (
        f"unconditional .repartition( outside the spread discipline: {offenders}"
    )
