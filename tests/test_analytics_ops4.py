"""Round-9 (second wave) analytics additions: auc_rank, chi_square_bp,
ks_statistic, concentration_hhi, diversity_simpson, mode_by, lift_table,
vocab_profile, dup_cluster_sizes, bursts, transition_probs. Registry
oracle parity is covered by test_oracle_gate; these pin semantics on
synthetic edges the testdata doesn't hit (tie midranks, zero-observed
chi2 cells, missing KS classes, monopoly HHI, singleton diversity,
burst windows at the boundary)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from docetl_spark.functions.dedup import dup_cluster_sizes
from docetl_spark.functions.stats import (
    auc_rank,
    chi_square_bp,
    concentration_hhi,
    diversity_simpson,
    ks_statistic,
    lift_table,
    mode_by,
)
from docetl_spark.functions.text import vocab_profile
from docetl_spark.functions.timeseries import bursts, transition_probs


# ------------------------------------------------------------ auc_rank

def test_auc_perfect_and_reversed(spark):
    # perfect separation -> 10000; reversed labels -> 0
    df = spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)], "s double, l int")
    assert auc_rank(df, "s", "l").collect()[0]["auc_bp"] == 10000
    rev = df.withColumn("l", 1 - F.col("l"))
    assert auc_rank(rev, "s", "l").collect()[0]["auc_bp"] == 0


def test_auc_ties_midrank(spark):
    # all scores tied -> AUC exactly 1/2 (midranks make this exact)
    df = spark.createDataFrame(
        [(1.0, 0), (1.0, 1), (1.0, 0), (1.0, 1)], "s double, l int")
    r = auc_rank(df, "s", "l").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc_bp"]) == (2, 2, 5000)


def test_auc_single_class_null_and_label_check(spark):
    one = spark.createDataFrame([(1.0, 1), (2.0, 1)], "s double, l int")
    assert auc_rank(one, "s", "l").collect()[0]["auc_bp"] is None
    bad = spark.createDataFrame([(1.0, 2)], "s double, l int")
    with pytest.raises(Exception, match="0/1"):
        auc_rank(bad, "s", "l").collect()
    with pytest.raises(ValueError, match="reserves"):
        auc_rank(one.withColumnRenamed("s", "auc_bp"), "l", "l", by=["auc_bp"])


def test_auc_hand_checked_value(spark):
    # scores 1..5, labels 0,0,1,0,1: pairs won = (2 above score3's 2 negs
    # below)... brute force on the definition instead:
    rows = [(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 0), (5.0, 1)]
    df = spark.createDataFrame(rows, "s double, l int")
    pos = [s for s, l in rows if l == 1]
    neg = [s for s, l in rows if l == 0]
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0
               for p in pos for n in neg)
    expect = int(wins * 10000 // (len(pos) * len(neg)))
    assert auc_rank(df, "s", "l").collect()[0]["auc_bp"] == expect


# ------------------------------------------------------- chi_square_bp

def test_chi2_independent_is_zero(spark):
    # perfectly proportional table -> every o == e -> chi2 exactly 0
    rows = [(a, b) for a in ("x", "y") for b in ("u", "v") for _ in range(5)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_bp(df, "a", "b").collect()[0]
    assert (r["n"], r["n_cells"], r["dof"], r["chi2_bp"]) == (20, 4, 1, 0)


def test_chi2_includes_zero_cells(spark):
    # diagonal-only 2x2: zero-observed off-diagonal cells contribute
    # their full expected mass; chi2/n -> 1 for a perfect association
    rows = [("x", "u")] * 10 + [("y", "v")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_bp(df, "a", "b").collect()[0]
    assert r["n_cells"] == 4  # grid, not just the 2 observed cells
    # exact: each cell term = (o*n - r*c)^2 * 10000 DIV (r*c*n)
    # = (10*20-10*10)^2*10000 DIV (10*10*20) = 50000 for all 4 cells
    assert r["chi2_bp"] == 200000


def test_chi2_by_groups(spark):
    rows = [("g1", "x", "u")] * 4 + [("g1", "y", "v")] * 4 + \
           [("g2", "x", "u")] * 2 + [("g2", "x", "v")] * 2
    df = spark.createDataFrame(rows, "g string, a string, b string")
    out = {r["g"]: r for r in chi_square_bp(df, "a", "b", by=["g"]).collect()}
    assert out["g1"]["dof"] == 1 and out["g1"]["chi2_bp"] > 0
    assert out["g2"]["dof"] == 0 and out["g2"]["chi2_bp"] == 0


# ------------------------------------------------------- ks_statistic

def test_ks_identical_and_disjoint(spark):
    same = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (1.0, "b"), (2.0, "b")], "v double, g string")
    r = ks_statistic(same, "v", "g", group_a="a", group_b="b").collect()[0]
    assert r["ks_bp"] == 0
    disj = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (3.0, "b"), (4.0, "b")], "v double, g string")
    r = ks_statistic(disj, "v", "g", group_a="a", group_b="b").collect()[0]
    assert r["ks_bp"] == 10000 and r["ks_num"] == 4  # |2*2 - 0*2|


def test_ks_missing_class_is_null(spark):
    df = spark.createDataFrame([(1.0, "a"), (2.0, "a")], "v double, g string")
    r = ks_statistic(df, "v", "g", group_a="a", group_b="b").collect()[0]
    assert r["n_b"] == 0 and r["ks_bp"] is None


# --------------------------------------------------- concentration_hhi

def test_hhi_monopoly_and_equal_split(spark):
    mono = spark.createDataFrame([("e1", 10.0), ("e1", 5.0)], "e string, v double")
    r = concentration_hhi(mono, "v", "e").collect()[0]
    assert (r["hhi_bp"], r["top_share_bp"]) == (10000, 10000)
    eq = spark.createDataFrame(
        [("e1", 5.0), ("e2", 5.0), ("e3", 5.0), ("e4", 5.0)], "e string, v double")
    r = concentration_hhi(eq, "v", "e").collect()[0]
    assert (r["n_entities"], r["hhi_bp"], r["top_share_bp"]) == (4, 2500, 2500)


def test_hhi_zero_total_and_negative(spark):
    zero = spark.createDataFrame([("e1", 0.0), ("e2", None)], "e string, v double")
    r = concentration_hhi(zero, "v", "e").collect()[0]
    assert r["hhi_bp"] is None and r["total_cents"] == 0
    neg = spark.createDataFrame([("e1", -1.0)], "e string, v double")
    with pytest.raises(Exception, match="negative"):
        concentration_hhi(neg, "v", "e").collect()


# --------------------------------------------------- diversity_simpson

def test_simpson_uniform_single_and_singleton(spark):
    # all same category -> 0; all distinct -> 10000 (unbiased form)
    same = spark.createDataFrame([("c",)] * 5, "c string")
    assert diversity_simpson(same, "c").collect()[0]["simpson_bp"] == 0
    dist = spark.createDataFrame([("a",), ("b",), ("c",)], "c string")
    assert diversity_simpson(dist, "c").collect()[0]["simpson_bp"] == 10000
    single = spark.createDataFrame([("a",)], "c string")
    assert diversity_simpson(single, "c").collect()[0]["simpson_bp"] is None


def test_simpson_null_is_a_level(spark):
    df = spark.createDataFrame([("a",), (None,)], "c string")
    r = diversity_simpson(df, "c").collect()[0]
    assert r["n_categories"] == 2 and r["simpson_bp"] == 10000


# ------------------------------------------------------------ mode_by

def test_mode_tiebreak_and_share(spark):
    df = spark.createDataFrame(
        [(1, "b"), (1, "b"), (1, "a"), (1, "a"), (1, "c")], "g int, v string")
    r = mode_by(df, "v", by=["g"]).collect()[0]
    # tie between a and b at 2 -> smallest value wins
    assert (r["mode"], r["n"], r["total"], r["share_bp"]) == ("a", 2, 5, 4000)


def test_mode_null_can_win(spark):
    df = spark.createDataFrame([(None,), (None,), ("x",)], "v string")
    r = mode_by(df, "v").collect()[0]
    assert r["mode"] is None and r["n"] == 2


# ---------------------------------------------------------- lift_table

def test_lift_table_exact_buckets(spark):
    # 10 rows, 2 buckets of 5; positives concentrated in the top scores
    rows = [(float(s), 1 if s > 7 else 0, s) for s in range(1, 11)]
    df = spark.createDataFrame(rows, "s double, l int, id int")
    out = {r["bucket"]: r for r in lift_table(
        df, "s", "l", buckets=2, tiebreak=["id"]).collect()}
    assert out[1]["n"] == 5 and out[1]["n_pos"] == 3
    assert out[1]["rate_bp"] == 6000 and out[1]["lift_bp"] == 20000
    assert out[2]["n_pos"] == 0 and out[2]["cum_rate_bp"] == 3000
    assert out[2]["lift_bp"] == 10000  # full population = base rate


def test_lift_table_label_check_and_all_negative(spark):
    bad = spark.createDataFrame([(1.0, 3, 1)], "s double, l int, id int")
    with pytest.raises(Exception, match="0/1"):
        lift_table(bad, "s", "l", tiebreak=["id"]).collect()
    allneg = spark.createDataFrame(
        [(float(i), 0, i) for i in range(4)], "s double, l int, id int")
    out = lift_table(allneg, "s", "l", buckets=2, tiebreak=["id"]).collect()
    assert all(r["lift_bp"] is None for r in out)


# ------------------------------------------------------- vocab_profile

def test_vocab_profile_counts(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat", "en"), (2, "the dog", "en"), (3, "", "en"),
         (4, None, "en")],
        "doc_id long, text string, lang string")
    r = vocab_profile(df, "text", id_col="doc_id", by=["lang"]).collect()[0]
    # tokens: the,cat,sat,the,dog -> 5; types: the,cat,sat,dog -> 4;
    # hapax: cat,sat,dog -> 3; docs with tokens: 2
    assert (r["n_docs"], r["n_tokens"], r["n_types"], r["n_hapax"]) == (2, 5, 4, 3)
    assert r["ttr_bp"] == 8000 and r["hapax_bp"] == 7500


def test_vocab_profile_global(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c")], "doc_id long, text string")
    r = vocab_profile(df, "text", id_col="doc_id").collect()[0]
    assert (r["n_docs"], r["n_tokens"], r["n_types"], r["n_hapax"]) == (2, 5, 3, 1)


# --------------------------------------------------- dup_cluster_sizes

def test_dup_cluster_sizes_distribution(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "unique one"),
         (4, "HELLO world."), (5, "another")],
        "id long, text string")
    out = {r["size"]: r for r in dup_cluster_sizes(df, "text").collect()}
    # hello-world cluster of 3; two singletons
    assert out[3]["n_clusters"] == 1 and out[3]["rows_removed"] == 2
    assert out[1]["n_clusters"] == 2 and out[1]["rows_removed"] == 0
    assert sum(r["n_rows"] for r in out.values()) == 5


def test_dup_cluster_sizes_null_texts_cluster(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "id long, text string")
    out = dup_cluster_sizes(df, "text").collect()
    assert len(out) == 1 and out[0]["size"] == 2


# ------------------------------------------------------------- bursts

def test_bursts_window_boundary(spark):
    # events at t=0, 50, 99, 100 with window 100: window starting at 0
    # covers [0, 99] -> 3 events; window at 50 covers [50,149] -> 3 too;
    # peak start must be the EARLIEST (0)
    df = spark.createDataFrame(
        [(1, 0), (1, 50), (1, 99), (1, 100)], "k int, ts long")
    r = bursts(df, keys=["k"], ts_col="ts", window_ns=100).collect()[0]
    assert (r["peak_n"], r["peak_start_ns"]) == (3, 0)


def test_bursts_validation(spark):
    df = spark.createDataFrame([(1, 0)], "k int, ts long")
    with pytest.raises(ValueError, match="window_ns"):
        bursts(df, keys=["k"], ts_col="ts", window_ns=0)
    with pytest.raises(ValueError, match="at least one key"):
        bursts(df, keys=[], ts_col="ts", window_ns=10)


# ----------------------------------------------------- transition_probs

def test_transition_probs_sum_to_one_ish(spark):
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "c"),
         (2, 1, "a"), (2, 2, "b")],
        "k int, ts long, s string")
    out = transition_probs(df, keys=["k"], ts_col="ts", state_col="s").collect()
    by_from = {}
    for r in out:
        by_from.setdefault(r["from_state"], []).append(r)
    a_rows = {r["to_state"]: r for r in by_from["a"]}
    # from a: ->b twice, ->c once
    assert a_rows["b"]["n"] == 2 and a_rows["b"]["from_total"] == 3
    assert a_rows["b"]["prob_bp"] == 6666 and a_rows["c"]["prob_bp"] == 3333


# -------------------------------------------- closing review regressions

def test_auc_and_lift_raw_label_domain_check(spark):
    # a probability column must RAISE, not truncate 0.9 -> 0 (the
    # cast-then-check ordering bug): checked on the raw value
    from docetl_spark.functions.stats import auc_rank, lift_table

    prob = spark.createDataFrame(
        [(1.0, 0.9, 1), (2.0, 0.2, 2), (3.0, 1.0, 3)], "s double, l double, id int")
    with pytest.raises(Exception, match="0/1"):
        auc_rank(prob, "s", "l").collect()
    with pytest.raises(Exception, match="0/1"):
        lift_table(prob, "s", "l", tiebreak=["id"]).collect()
    # exact 0.0/1.0 doubles are legitimate boolean-ish labels
    ok = spark.createDataFrame(
        [(1.0, 0.0, 1), (2.0, 1.0, 2)], "s double, l double, id int")
    assert auc_rank(ok, "s", "l").collect()[0]["auc_bp"] == 10000


def test_lift_table_global_matches_ntile_by_path(spark):
    # 10 rows / 4 buckets: the by path (Spark ntile) and the global
    # path (closed-form NTILE over the distributed rank) must assign
    # identical buckets — the one-liner rank formula interleaved them
    from docetl_spark.functions.stats import lift_table
    from pyspark.sql import functions as F

    rows = [(float(i), i % 2, i) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "s double, l int, id int")
    glob = {r["bucket"]: (r["n"], r["n_pos"]) for r in lift_table(
        df, "s", "l", buckets=4, tiebreak=["id"]).collect()}
    by = {r["bucket"]: (r["n"], r["n_pos"]) for r in lift_table(
        df.withColumn("g", F.lit(1)), "s", "l", buckets=4,
        tiebreak=["id"], by=["g"]).collect()}
    assert glob == by
    assert [glob[b][0] for b in sorted(glob)] == [3, 3, 2, 2]
    # n < buckets: bucket ids are 1..n, never skipped
    two = spark.createDataFrame(rows[:2], "s double, l int, id int")
    got = sorted(r["bucket"] for r in lift_table(
        two, "s", "l", buckets=10, tiebreak=["id"]).collect())
    assert got == [1, 2]


def test_empty_inputs_vanish_not_null_rows(spark):
    # "no data, no figure": the global (no-by) aggregates must emit
    # ZERO rows on empty/all-NULL input, not one all-NULL row
    from docetl_spark.functions.stats import (
        auc_rank, chi_square_bp, concentration_hhi, diversity_simpson,
        ks_statistic,
    )
    from docetl_spark.functions.text import vocab_profile

    empty = spark.createDataFrame([], "s double, l int, g string")
    assert auc_rank(empty, "s", "l").count() == 0
    assert ks_statistic(empty, "s", "g", group_a="a", group_b="b").count() == 0
    assert chi_square_bp(empty, "g", "l").count() == 0
    assert concentration_hhi(empty, "s", "g").count() == 0
    assert diversity_simpson(empty, "g").count() == 0
    allnull = spark.createDataFrame(
        [(None, None)], "a string, b string")
    assert chi_square_bp(allnull, "a", "b").count() == 0
    blank_docs = spark.createDataFrame(
        [(1, ""), (2, None)], "doc_id long, text string")
    assert vocab_profile(blank_docs, "text", id_col="doc_id").count() == 0


def test_reserved_internal_names_raise(spark):
    from docetl_spark.functions.stats import ks_statistic, lift_table

    df = spark.createDataFrame([(1.0, "a", 1)], "v double, g string, _ca int")
    with pytest.raises(ValueError, match="reserves"):
        ks_statistic(df, "v", "g", group_a="a", group_b="b", by=["_ca"])
    df2 = spark.createDataFrame([(1.0, 1, 1)], "s double, l int, _lt_r int")
    with pytest.raises(ValueError, match="reserves"):
        lift_table(df2, "s", "l", tiebreak=["_lt_r"])


def test_new_op_types_validate_required_keys():
    from docetl_spark.plans.validate import validate_config

    cfg = {
        "datasets": {"d": {"type": "memory", "data": [{"x": 1}]}},
        "operations": [{"name": "a", "type": "auc"}],  # missing cols
        "pipeline": {"steps": [{"name": "s", "input": "d",
                                "operations": ["a"]}]},
    }
    issues = validate_config(cfg)
    msgs = [i.message for i in issues if i.level == "error"]
    assert any("score_col" in m for m in msgs) and any(
        "label_col" in m for m in msgs)


# ------------------------------------------------------------- wave 3

def test_pareto_coverage_hand_checked(spark):
    from docetl_spark.functions.stats import pareto_coverage

    # entity totals: a=50, b=30, c=15, d=5 (total 100)
    rows = [("a", 50.0), ("b", 30.0), ("c", 15.0), ("d", 5.0)]
    df = spark.createDataFrame(rows, "e string, v double")
    out = {r["threshold_bp"]: r for r in pareto_coverage(
        df, "v", "e", thresholds_bp=(5000, 8000, 9500, 10000)).collect()}
    assert (out[5000]["k"], out[5000]["share_bp"]) == (1, 5000)
    assert (out[8000]["k"], out[8000]["share_bp"]) == (2, 8000)
    assert (out[9500]["k"], out[9500]["share_bp"]) == (3, 9500)
    assert (out[10000]["k"], out[10000]["share_bp"]) == (4, 10000)
    with pytest.raises(ValueError, match="thresholds_bp"):
        pareto_coverage(df, "v", "e", thresholds_bp=(0,))
    with pytest.raises(Exception, match="negative"):
        pareto_coverage(spark.createDataFrame([("a", -1.0)], "e string, v double"),
                        "v", "e").collect()


def test_pareto_coverage_global_matches_by_path(spark):
    # the prefix_scan desc-order path must agree with the window path
    from docetl_spark.functions.stats import pareto_coverage
    import random

    rng = random.Random(7)
    rows = [(f"e{i}", round(rng.uniform(0, 100), 2)) for i in range(37)]
    df = spark.createDataFrame(rows, "e string, v double")
    glob = {r["threshold_bp"]: (r["k"], r["share_bp"]) for r in
            pareto_coverage(df, "v", "e").collect()}
    by = {r["threshold_bp"]: (r["k"], r["share_bp"]) for r in
          pareto_coverage(df.withColumn("g", F.lit(1)), "v", "e",
                          by=["g"]).collect()}
    assert glob == by and len(glob) == 3


def test_correlation_r2_exact_cases(spark):
    from docetl_spark.functions.stats import correlation_r2

    # perfect positive line -> 10000, sign 1
    pos = spark.createDataFrame(
        [(float(i), float(2 * i + 3)) for i in range(1, 6)], "x double, y double")
    r = correlation_r2(pos, "x", "y").collect()[0]
    assert (r["r2_bp"], r["sign"]) == (10000, 1)
    # perfect negative line -> 10000, sign -1
    neg = spark.createDataFrame(
        [(float(i), float(-3 * i)) for i in range(1, 6)], "x double, y double")
    r = correlation_r2(neg, "x", "y").collect()[0]
    assert (r["r2_bp"], r["sign"]) == (10000, -1)
    # zero variance side -> NULL
    flat = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0)], "x double, y double")
    assert correlation_r2(flat, "x", "y").collect()[0]["r2_bp"] is None
    # n=1 -> NULL; empty vanishes
    one = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    assert correlation_r2(one, "x", "y").collect()[0]["r2_bp"] is None
    assert correlation_r2(one.filter("x < 0"), "x", "y").count() == 0


def test_correlation_r2_range_guard(spark):
    from docetl_spark.functions.stats import correlation_r2

    big = spark.createDataFrame(
        [(1e7, 1e7), (2e7, 2.1e7), (3e7, 2.9e7)], "x double, y double")
    with pytest.raises(Exception, match="exact range"):
        correlation_r2(big, "x", "y").collect()  # cents of 1e7 overflow
    # the documented remedy: coarser units bring it back in range
    r = correlation_r2(big, "x", "y", x_scale=1, y_scale=1).collect()[0]
    assert r["r2_bp"] is not None and 9000 < r["r2_bp"] <= 10000


def test_sequence_ngrams_hand_checked(spark):
    from docetl_spark.functions.timeseries import sequence_ngrams

    rows = [(1, i, s) for i, s in enumerate("abab")] + \
           [(2, i, s) for i, s in enumerate("ab")]  # key 2 too short for n=3
    df = spark.createDataFrame(rows, "k int, ts long, s string")
    out = {(r["state_1"], r["state_2"], r["state_3"]): r["support"]
           for r in sequence_ngrams(df, keys=["k"], ts_col="ts",
                                    state_col="s", n=3).collect()}
    assert out == {("a", "b", "a"): 1, ("b", "a", "b"): 1}
    with pytest.raises(ValueError, match="n >= 2"):
        sequence_ngrams(df, keys=["k"], ts_col="ts", state_col="s", n=1)
    top = sequence_ngrams(df, keys=["k"], ts_col="ts", state_col="s",
                          n=2, top_n=1).collect()
    # (a,b): twice in key 1's "abab" + once in key 2's "ab"
    assert len(top) == 1 and top[0]["support"] == 3


def test_zipf_profile_hand_checked(spark):
    from docetl_spark.functions.text import zipf_profile

    df = spark.createDataFrame(
        [(1, "x x x y y z"), (2, "x y")], "doc_id long, text string")
    rows = {r["rank"]: r for r in zipf_profile(
        df, "text", id_col="doc_id", top_n=10).collect()}
    assert (rows[1]["term"], rows[1]["tf"], rows[1]["df"]) == ("x", 4, 2)
    assert (rows[2]["term"], rows[2]["tf"]) == ("y", 3)
    assert rows[2]["rank_tf"] == 6 and rows[2]["share_of_top_bp"] == 7500
    assert rows[3]["share_of_top_bp"] == 2500  # z: 1/4


def test_correlation_r2_denominator_guard_is_named(spark):
    # review repro: num == 0 (true r2 representable) but dx*dy would
    # overflow decimal(38,0) — must die in the NAMED guard, not a raw
    # SparkArithmeticException from the denominator product
    from docetl_spark.functions.stats import correlation_r2

    df = spark.createDataFrame(
        [(-1e10, 1e10), (0.0, 0.0), (1e10, 1e10)], "x double, y double")
    with pytest.raises(Exception, match="exact range"):
        correlation_r2(df, "x", "y", x_scale=1, y_scale=1).collect()


def test_sequence_ngrams_keeps_null_state_grams(spark):
    # r9 ADVICE: a genuine NULL *state* in the last gram slot must count
    # (transitions() keeps (A -> NULL) pairs); only lead()'s
    # end-of-stream padding is dropped, via the _eos sentinel
    from docetl_spark.functions.timeseries import sequence_ngrams

    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, None), (1, 3, "b")], "k int, ts long, s string")
    out = {(r["state_1"], r["state_2"]): r["support"] for r in
           sequence_ngrams(df, keys=["k"], ts_col="ts", state_col="s",
                           n=2).collect()}
    assert out == {("a", None): 1, (None, "b"): 1}
    out3 = {(r["state_1"], r["state_2"], r["state_3"]): r["support"]
            for r in sequence_ngrams(df, keys=["k"], ts_col="ts",
                                     state_col="s", n=3).collect()}
    assert out3 == {("a", None, "b"): 1}


def test_sequence_ngrams_null_ts_orders_last(spark):
    # NULL ts must sort LAST (ANSI/DuckDB parity), not first
    from docetl_spark.functions.timeseries import sequence_ngrams

    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (1, None, "z")], "k int, ts long, s string")
    out = {(r["state_1"], r["state_2"]): r["support"] for r in
           sequence_ngrams(df, keys=["k"], ts_col="ts", state_col="s",
                           n=2).collect()}
    assert out == {("a", "b"): 1, ("b", "z"): 1}  # z last, never first


def test_correlation_r2_guard_survives_column_pruning(spark):
    # the guard is embedded in r2_bp itself: selecting ONLY r2_bp (so
    # Catalyst prunes the sign column) must still hit the named error
    from docetl_spark.functions.stats import correlation_r2

    big = spark.createDataFrame([(1e7, 1e7), (2e7, 2.1e7), (3e7, 2.9e7)],
                                "x double, y double")
    with pytest.raises(Exception, match="exact range"):
        correlation_r2(big, "x", "y").select("r2_bp").collect()


def test_scd2_null_ts_raises_loudly(spark):
    # a NULL-ts changelog row would create two is_current rows per key
    # under NULLS LAST ordering — it raises instead
    from docetl_spark.functions.timeseries import changelog_to_scd2

    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, None, "c")], "k int, ts long, v string")
    with pytest.raises(Exception, match="NULL ts_col"):
        changelog_to_scd2(df, keys=["k"], ts_col="ts", attrs=["v"]).collect()
    ok = changelog_to_scd2(
        df.filter("ts IS NOT NULL"), keys=["k"], ts_col="ts", attrs=["v"]
    ).collect()
    assert sum(1 for r in ok if r["is_current"]) == 1
