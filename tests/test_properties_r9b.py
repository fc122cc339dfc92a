"""Property-based invariants for the round-9 second-wave operators: the
oracle gate pins cross-engine equality on the fixed testdata and the
brute-force sweeps pin the definitions; these sweep randomized inputs
for the structural invariants that must hold on ANY data (symmetry,
bounds, conservation, relabeling-invariance)."""

from __future__ import annotations

import sys
from pathlib import Path

from hypothesis import HealthCheck, given, settings, strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SPARK_SETTINGS = dict(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

SCORED = st.lists(
    st.tuples(
        st.floats(min_value=0.0, max_value=100.0, allow_nan=False,
                  allow_infinity=False).map(lambda x: round(x, 1)),
        st.integers(min_value=0, max_value=1),
    ),
    min_size=4, max_size=30,
).filter(lambda xs: 0 < sum(l for _, l in xs) < len(xs))


@given(rows=SCORED)
@settings(**SPARK_SETTINGS)
def test_auc_label_flip_symmetry(spark, rows):
    # swapping the class labels must mirror AUC around 1/2 EXACTLY:
    # wins2(flipped) = 2*np*nn - wins2, so the bp figures satisfy
    # floor(x) + floor(total - x) in {total-1, total} — and equal total
    # exactly when 2*np*nn divides wins2*10000
    from docetl_spark.functions.stats import auc_rank

    df = spark.createDataFrame([(s, l, 1 - l) for s, l in rows],
                               "s double, l int, lf int")
    a = auc_rank(df, "s", "l").collect()[0]["auc_bp"]
    b = auc_rank(df, "s", "lf").collect()[0]["auc_bp"]
    assert a + b in (9999, 10000)
    assert 0 <= a <= 10000


@given(rows=SCORED)
@settings(**SPARK_SETTINGS)
def test_ks_group_swap_symmetry_and_bounds(spark, rows):
    from docetl_spark.functions.stats import ks_statistic

    df = spark.createDataFrame(
        [(s, "a" if l else "b") for s, l in rows], "v double, g string")
    r1 = ks_statistic(df, "v", "g", group_a="a", group_b="b").collect()[0]
    r2 = ks_statistic(df, "v", "g", group_a="b", group_b="a").collect()[0]
    # |F_a - F_b| is symmetric in the pair
    assert r1["ks_num"] == r2["ks_num"] and r1["ks_bp"] == r2["ks_bp"]
    assert 0 <= r1["ks_bp"] <= 10000
    assert (r1["n_a"], r1["n_b"]) == (r2["n_b"], r2["n_a"])


CATS = st.lists(st.integers(min_value=0, max_value=5), min_size=2, max_size=40)


@given(cats=CATS)
@settings(**SPARK_SETTINGS)
def test_simpson_bounds_and_relabel_invariance(spark, cats):
    from docetl_spark.functions.stats import diversity_simpson

    df = spark.createDataFrame([(f"c{c}",) for c in cats], "c string")
    r = diversity_simpson(df, "c").collect()[0]
    assert 0 <= r["simpson_bp"] <= 10000
    # bijective relabeling cannot change the figure
    rl = spark.createDataFrame([(f"z{9 - c}",) for c in cats], "c string")
    r2 = diversity_simpson(rl, "c").collect()[0]
    assert r["simpson_bp"] == r2["simpson_bp"]
    assert r["n"] == len(cats)


@given(cats=CATS)
@settings(**SPARK_SETTINGS)
def test_mode_share_conservation(spark, cats):
    from docetl_spark.functions.stats import mode_by

    df = spark.createDataFrame([(f"c{c}",) for c in cats], "v string")
    r = mode_by(df, "v").collect()[0]
    assert r["total"] == len(cats)
    # the mode's count is the true max frequency
    freq = {}
    for c in cats:
        freq[f"c{c}"] = freq.get(f"c{c}", 0) + 1
    assert r["n"] == max(freq.values())
    assert r["mode"] == min(k for k, v in freq.items() if v == r["n"])


# exact-cent values: the doubling invariance below is a statement about
# SHARES, which survives scaling only when to_cents(2v) == 2*to_cents(v)
# — true for cent-exact inputs, false for half-cent ones by design
VALS = st.lists(
    st.floats(min_value=0.0, max_value=1e4, allow_nan=False,
              allow_infinity=False).map(lambda x: round(x, 2)),
    min_size=1, max_size=25,
).filter(lambda xs: sum(round(x * 100) for x in xs) > 0)


@given(vals=VALS)
@settings(**SPARK_SETTINGS)
def test_hhi_bounds_and_scale_invariance(spark, vals):
    from docetl_spark.functions.stats import concentration_hhi

    rows = [(f"e{i % 4}", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "e string, v double")
    r = concentration_hhi(df, "v", "e").collect()[0]
    k = r["n_entities"]
    # HHI bounded by [10000/k (floor may round down), 10000]
    assert r["hhi_bp"] <= 10000
    assert r["hhi_bp"] >= 10000 // k - 1
    assert r["top_share_bp"] * k >= r["hhi_bp"] - k  # top share dominates
    # doubling every value in exact cents leaves shares (and HHI) fixed
    d2 = spark.createDataFrame([(e, v * 2) for e, v in rows], "e string, v double")
    r2 = concentration_hhi(d2, "v", "e").collect()[0]
    assert r2["hhi_bp"] == r["hhi_bp"]


TIMES = st.lists(st.integers(min_value=0, max_value=1000),
                 min_size=1, max_size=30)


@given(times=TIMES)
@settings(**SPARK_SETTINGS)
def test_bursts_monotone_in_window(spark, times):
    from docetl_spark.functions.timeseries import bursts

    df = spark.createDataFrame([(1, t) for t in times], "k int, ts long")
    small = bursts(df, keys=["k"], ts_col="ts", window_ns=10).collect()[0]
    big = bursts(df, keys=["k"], ts_col="ts", window_ns=100).collect()[0]
    # a wider window can only hold MORE events at the peak
    assert small["peak_n"] <= big["peak_n"]
    assert 1 <= small["peak_n"] <= len(times)
    whole = bursts(df, keys=["k"], ts_col="ts", window_ns=2000).collect()[0]
    assert whole["peak_n"] == len(times)  # window covers everything
    assert whole["peak_start_ns"] == min(times)


@given(cats=CATS)
@settings(**SPARK_SETTINGS)
def test_transition_probs_rows_conserve_counts(spark, cats):
    from docetl_spark.functions.timeseries import transition_probs

    df = spark.createDataFrame(
        [(1, i, f"s{c}") for i, c in enumerate(cats)], "k int, ts long, s string")
    out = transition_probs(df, keys=["k"], ts_col="ts", state_col="s").collect()
    # total transition count = n - 1 for one key's unbroken stream
    assert sum(r["n"] for r in out) == len(cats) - 1
    # per-from bp probabilities sum to ~10000 (floor loses < row count)
    from collections import defaultdict
    probs = defaultdict(int)
    rows_per = defaultdict(int)
    for r in out:
        probs[r["from_state"]] += r["prob_bp"]
        rows_per[r["from_state"]] += 1
    for f, s in probs.items():
        assert 10000 - rows_per[f] < s <= 10000


TIE_VALS = st.lists(st.integers(min_value=0, max_value=3), min_size=3,
                    max_size=30)


@given(vals=TIE_VALS)
@settings(**SPARK_SETTINGS)
def test_global_quantiles_survive_heavy_ties(spark, vals):
    # the ROWS-frame regression shape: few distinct values, many ties —
    # the global (distributed-rank) median must equal the sorted
    # middle, and every rank 1..n must be assigned exactly once
    from pyspark.sql import functions as F

    from docetl_spark.functions.stats import exact_quantiles, prefix_scan

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double")
    got = exact_quantiles(df, "v", [0.5]).collect()[0]["p50"]
    s = sorted(float(v) for v in vals)
    import math
    # exact_quantiles implements the interpolating percentile
    # definition: index i = p*(n-1), linear between the two
    # order statistics it straddles
    i = 0.5 * (len(s) - 1)
    f, c = math.floor(i), math.ceil(i)
    assert got == s[f] + (s[c] - s[f]) * (i - f)
    ranked = prefix_scan(df, [F.col("v").asc()], rank_col="r")[0].collect()
    assert sorted(r["r"] for r in ranked) == list(range(1, len(vals) + 1))
    # ranks respect the value order even across tie groups
    by_rank = {r["r"]: r["v"] for r in ranked}
    seq = [by_rank[i] for i in range(1, len(vals) + 1)]
    assert seq == sorted(seq)
