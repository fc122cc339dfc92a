"""Association, divergence, robust-location and survival statistics —
the round-10 exact-analytics wave.

Same contract as functions/stats.py (the wave-2/3 home): every decision
figure is integer arithmetic in basis points / cents (never a double
near a comparison), every global path avoids bare partitionless windows
(distributed prefix sums or bounded-by-contract helpers), and every op
ships with a DuckDB oracle replaying the identical formulation
bit-for-bit. Reference parity: the reference engine (docetl) has no
statistics layer — these extend the repo's training-data-pipeline
surface (feature association for labeling QA, corpus drift monitoring,
curriculum/survival analyses over event streams).

The one double in this module is kaplan_meier's survival probability,
computed as an ORDERED FOLD over per-interval factors — the
events_ewma precedent: both engines execute the identical IEEE
multiply sequence over identical inputs, so even doubles hash-match.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F

from .stats import (
    _checked_binary_label,
    bounded_global_window,
    broadcast_scalar_join,
    carry_caches,
    chi_square_bp,
    prefix_scan,
    to_cents,
)


def _midrank2(df: DataFrame, value_col: str, out_col: str,
              by: list[str] | None) -> DataFrame:
    """Append ``out_col`` = 2·midrank of ``value_col`` (an exact
    integer: a tie group spanning ranks s..s+c-1 has midrank s+(c-1)/2,
    the only half-integer in rank statistics — doubling clears it).

    Grouped: rank() + a tie-count window riding the (by) shuffle.
    GLOBAL: collapse to distinct values (one map-side-combinable
    count), distributed prefix sum over the value order
    (prefix_scan — never a bare global window), then a join back on
    the value; 2·midrank of a tie group ending at cumulative count m
    with c members is 2m − c + 1."""
    if by:
        r = F.rank().over(W.partitionBy(*by).orderBy(F.col(value_col).asc()))
        c = F.count(F.lit(1)).over(W.partitionBy(*by, value_col))
        return df.withColumn(out_col, (F.lit(2) * r + c - F.lit(1)).cast("long"))
    dv = df.groupBy(F.col(value_col).alias("_mr_v")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_mr_c")
    )
    cum, _ = prefix_scan(dv, F.col("_mr_v").asc(), sums=["_mr_c"])
    mr = cum.select(
        F.col("_mr_v"),
        (F.lit(2) * F.col("_mr_c_cum") - F.col("_mr_c") + F.lit(1))
        .cast("long").alias(out_col),
    )
    return carry_caches(
        df.join(mr, df[value_col] == mr["_mr_v"]).drop("_mr_v"), df, cum)


def spearman_by(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    by: list[str] | None = None,
) -> DataFrame:
    """Spearman rank correlation, EXACT: Pearson on 2·midranks (the
    standard tie-corrected rho — midranks ARE the tie correction), so
    every sum is integer and the figure replays bit-for-bit. Output
    mirrors correlation_r2: ``by`` + ``n`` + ``sign`` + ``rho2_bp``
    (signed square in basis points — rho itself needs a sqrt, and a
    double sqrt near a decision is the policy this family exists to
    avoid; sign + rho² carries the same information).

    Rows with a NULL in either column drop BEFORE ranking (a NULL
    can't hold a rank; dropping after would shift every midrank).

    The arithmetic runs on CENTERED rank moments, derived
    algebraically from the uncentered sums: Σ2mr = n(n+1) exactly, so
    with m = n(n+1)², num = ΣXY − m, dx = ΣXX − m, dy = ΣYY − m (X/Y
    the 2-midranks) — identical rational value to the textbook
    n·Sxy − SxSy formulation (their common n factor cancels in the
    DIV), but one factor of n SMALLER in magnitude, which is what
    keeps sf-scale groups inside decimal(38,0): the delegation to
    correlation_r2 this replaced overflowed its |num| guard at ~4.5k
    rows per group; the centered form is exact to ~450k rows per
    group, and RAISES the named guard beyond (rank statistics on
    larger single groups should be computed on a coarser grain).

    Plan: midranks per column — grouped: two windows riding the (by)
    shuffle; GLOBAL: two distinct-value collapses through the
    distributed range-partitioned prefix sum + value joins (the
    ks/auc posture — never a bare global window) — then ONE
    map-side-combinable three-sum aggregation.
    """
    reserved = {"n", "sign", "rho2_bp", "_sp_x", "_sp_y", "_mr_v", "_mr_c",
                "_mr_c_cum", "_pid"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"spearman_by reserves column names {clash}")
    base = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    if not by:
        # GLOBAL path (r11 optimization, guide §5): each prefix_scan
        # runs an offset-collect ACTION over its distinct-value table,
        # so the two midrank passes plus the final sums re-derived
        # ``base``'s lineage three times from the raw scan. Persist it
        # (evictable storage; release handle attached). The grouped
        # path stays uncached — its windows ride one shuffle with no
        # extra actions.
        base = base.persist()
    ranked = _midrank2(base, x_col, "_sp_x", by)
    ranked = _midrank2(ranked, y_col, "_sp_y", by)
    x = F.col("_sp_x").cast("decimal(38,0)")
    y = F.col("_sp_y").cast("decimal(38,0)")
    sums = ranked.groupBy(*(by or [])).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    cen = sums.select(
        *(by or []), "_n",
        F.expr("_sxy - _n * (_n + 1) * (_n + 1)").alias("_num"),
        F.expr("_sxx - _n * (_n + 1) * (_n + 1)").alias("_dx"),
        F.expr("_syy - _n * (_n + 1) * (_n + 1)").alias("_dy"),
    )
    # num²·10⁴ must fit decimal(38,0): 17 digits of num is safe
    # (2·17 + 4 = 38); dx·dy likewise bounded by the digit sum
    oob = F.expr(
        "2 * length(CAST(abs(_num) AS STRING)) > 34"
        " OR length(CAST(_dx AS STRING)) + length(CAST(_dy AS STRING)) > 38"
    )
    err = F.lit(
        "spearman_by: rank moments exceed the decimal(38,0) exact range"
        " (group too large) — compute on a coarser grain or sample")
    rho2 = F.when(
        (F.col("_n") >= 2) & (F.col("_dx") > 0) & (F.col("_dy") > 0),
        F.expr("CAST(_num * _num * 10000 DIV (_dx * _dy) AS BIGINT)"),
    )
    def _guarded(val):
        return F.when(oob, F.raise_error(err)).otherwise(val)

    out = cen.filter(F.col("_n") > 0).select(
        *(by or []),
        F.col("_n").cast("long").alias("n"),
        _guarded(F.signum(F.col("_num").cast("double")).cast("int")).alias("sign"),
        _guarded(rho2).alias("rho2_bp"),
    )
    if not by:
        out._docetl_cached_input = base  # release: .unpersist() when done
    return carry_caches(out, out, ranked)


def cramers_v2(
    df: DataFrame,
    col_a: str,
    col_b: str,
    *,
    by: list[str] | None = None,
) -> DataFrame:
    """Cramér's V (association strength between two categoricals),
    EXACT as the SQUARE in basis points: V² = chi² / (n·min(r−1,c−1)),
    so v2_bp = chi2_bp DIV (n·min(r−1,c−1)) — chi2_bp already carries
    the 10⁴ factor, making v2_bp one integer DIV on top of
    chi_square_bp's guarded integer sum. V² is 0..1 with the same
    reading as V (0 independent, 1 fully determined), minus the sqrt;
    because chi2_bp sums per-cell FLOORED DIVs, perfect association
    reads a few bp under 10000 (truncation is always downward — the
    figure never overstates association).

    Output: ``by`` + ``n`` + ``r_levels`` + ``c_levels`` + ``chi2_bp``
    + ``v2_bp``; v2_bp is NULL when either column has a single level
    (min(r−1,c−1) = 0 — association undefined, and a silent 0 would
    read as 'independent').

    Plan: chi_square_bp's grid (one raw shuffle, category-bounded
    after) joined with a tiny per-group level-count aggregate —
    grouped on ``by``, global via the broadcast scalar join.
    """
    reserved = {"n", "r_levels", "c_levels", "chi2_bp", "v2_bp", "_sk"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"cramers_v2 reserves column names {clash}")
    chi_raw = chi_square_bp(df, col_a, col_b, by=by)
    chi = chi_raw.drop("n_cells", "dof")
    lv = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(*(by or []))
        .agg(
            F.countDistinct(col_a).alias("r_levels"),
            F.countDistinct(col_b).alias("c_levels"),
        )
    )
    if by:
        j = chi.join(lv, list(by))
    else:
        j = broadcast_scalar_join(chi, lv, df_col="n", scalar_col="r_levels")
    k = F.least(F.col("r_levels"), F.col("c_levels")) - F.lit(1)
    out = j.select(
        *(by or []), "n", "r_levels", "c_levels", "chi2_bp",
        F.when(k > 0, F.expr(
            "CAST(CAST(chi2_bp AS DECIMAL(38,0)) DIV "
            "(CAST(n AS DECIMAL(38,0)) * (least(r_levels, c_levels) - 1)) AS BIGINT)"
        )).alias("v2_bp"),
    )
    # propagate chi_square_bp's persisted cell table release handle
    cached = getattr(chi_raw, "_docetl_cached_input", None)
    if cached is not None:
        out._docetl_cached_input = cached
    return out


def impurity_by(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    *,
    by: list[str] | None = None,
) -> DataFrame:
    """Gini impurity decomposition of a label by a candidate feature —
    the decision-tree split criterion as a feature-usefulness report,
    EXACT: parent impurity (n² − Σc²)·10⁴ DIV n², the
    feature-weighted child impurity Σ_v (n_v² − Σc_v²)·10⁴ DIV (n_v·n)
    (each value's term one integer DIV — deterministic, replayable),
    and their difference — how much label uncertainty the feature
    removes, in basis points. NULL features or labels drop.

    Output: ``by`` + ``n`` + ``n_values`` + ``parent_gini_bp`` +
    ``child_gini_bp`` + ``reduction_bp``.

    Exact-arithmetic bound: n² must fit decimal(38,0) → n ≤ 10¹⁹ —
    no realistic guard needed (the chi² family raises at 6·10⁸; Gini's
    products are squares of counts only, never count·total·count).

    Plan: one count per (by, feature, label) cell — everything after is
    bounded by category cardinality: two re-aggs (per-value, per-label)
    and a join of the (tiny) per-group total — grouped on ``by``,
    global via the broadcast scalar join. One raw-stream shuffle.
    """
    reserved = {"n", "n_values", "parent_gini_bp", "child_gini_bp",
                "reduction_bp", "_im_f", "_im_l", "_im_c", "_sk"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"impurity_by reserves column names {clash}")
    bys = list(by or [])
    cells = (
        df.filter(F.col(feature_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(*bys, F.col(feature_col).alias("_im_f"),
                 F.col(label_col).alias("_im_l"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_im_c"))
    ).persist()  # referenced twice (per-value + label marginals); cell-sized
    # per-(by, feature-value): rows and Σ label-count²
    per_v = cells.groupBy(*bys, "_im_f").agg(
        F.sum("_im_c").alias("_nv"),
        F.sum(F.col("_im_c") * F.col("_im_c")).alias("_ssq_v"),
    )
    # per-(by): total and Σ (label-marginal)² — marginals need their own
    # re-agg (summing per-feature Σc² would square the wrong counts)
    lbl = cells.groupBy(*bys, "_im_l").agg(F.sum("_im_c").alias("_cl"))
    parent = lbl.groupBy(*bys).agg(
        F.sum("_cl").alias("_np"),
        F.sum(F.col("_cl") * F.col("_cl")).alias("_ssq_p"),
    )
    if bys:
        j = per_v.join(parent, bys)
    else:
        j = broadcast_scalar_join(per_v, parent, df_col="_nv", scalar_col="_np")
    child_terms = j.withColumn(
        "_child_term",
        F.expr("(_nv * _nv - _ssq_v) * 10000 DIV (_nv * _np)"),
    )
    out = child_terms.groupBy(*bys).agg(
        F.max("_np").cast("long").alias("n"),
        F.count(F.lit(1)).alias("n_values"),
        F.max(F.expr("(_np * _np - _ssq_p) * 10000 DIV (_np * _np)"))
        .cast("long").alias("parent_gini_bp"),
        F.sum("_child_term").cast("long").alias("child_gini_bp"),
    )
    out = out.withColumn(
        "reduction_bp", F.col("parent_gini_bp") - F.col("child_gini_bp")
    )
    out._docetl_cached_input = cells  # release: .unpersist() when done
    return out


def dist_drift(
    df: DataFrame,
    category_col: str,
    period_col: str,
    *,
    base,
    current,
    by: list[str] | None = None,
    detail: bool = False,
) -> DataFrame:
    """Categorical distribution drift between two period labels, EXACT
    via total-variation distance in basis points: with p/q the floored
    per-category shares (count·10⁴ DIV total) of the base/current
    periods, tv_bp = Σ|p_bp − q_bp| DIV 2 — the L1 drift monitor
    (PSI's ln() is a double near a decision; TV carries the same
    monitoring signal in exact integers and is bounded 0..10000).
    A NULL category is a REAL level (missingness drifting is exactly
    what a corpus monitor must catch); rows from other periods are
    ignored; a NULL period never matches either label.

    Summary (default): ``by`` + ``n_base`` + ``n_current`` +
    ``n_categories`` + ``tv_bp`` (NULL when either period is empty —
    drift against nothing is undefined, and 0 would read as 'no
    drift'). ``detail=True`` instead emits per-category rows:
    ``by`` + ``category`` + ``n_base`` + ``n_current`` +
    ``base_share_bp`` + ``current_share_bp`` + ``drift_bp`` (signed).

    Plan: one filtered count per (by, category) with conditional sums
    per side — a single raw shuffle; totals join grouped on ``by`` /
    broadcast-scalar global; everything downstream is
    category-cardinality-bounded.
    """
    reserved = {"n_base", "n_current", "n_categories", "tv_bp", "category",
                "base_share_bp", "current_share_bp", "drift_bp", "_dd_c",
                "_dd_a", "_dd_b", "_sk"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"dist_drift reserves column names {clash}")
    bys = list(by or [])
    src = df.filter(F.col(period_col).isin([base, current]))
    cells = src.groupBy(*bys, F.col(category_col).alias("_dd_c")).agg(
        F.sum(F.when(F.col(period_col) == base, 1).otherwise(0))
        .cast("decimal(38,0)").alias("_dd_a"),
        F.sum(F.when(F.col(period_col) == current, 1).otherwise(0))
        .cast("decimal(38,0)").alias("_dd_b"),
    ).persist()  # referenced twice (totals + join back); category-sized
    tot = cells.groupBy(*bys).agg(
        F.sum("_dd_a").alias("_ta"), F.sum("_dd_b").alias("_tb")
    )
    if bys:
        j = cells.join(tot, bys)
    else:
        j = broadcast_scalar_join(cells, tot, df_col="_dd_a", scalar_col="_ta")
    shares = j.select(
        *bys, F.col("_dd_c"),
        F.col("_dd_a").cast("long").alias("n_base"),
        F.col("_dd_b").cast("long").alias("n_current"),
        F.when(F.col("_ta") > 0, F.expr("CAST(_dd_a * 10000 DIV _ta AS BIGINT)"))
        .alias("base_share_bp"),
        F.when(F.col("_tb") > 0, F.expr("CAST(_dd_b * 10000 DIV _tb AS BIGINT)"))
        .alias("current_share_bp"),
    )
    if detail:
        out = shares.select(
            *bys, F.col("_dd_c").alias("category"), "n_base", "n_current",
            "base_share_bp", "current_share_bp",
            (F.coalesce("current_share_bp", F.lit(0))
             - F.coalesce("base_share_bp", F.lit(0))).alias("drift_bp"),
        )
        out._docetl_cached_input = cells  # release: .unpersist() when done
        return out
    out = shares.groupBy(*bys).agg(
        F.sum("n_base").alias("n_base"),
        F.sum("n_current").alias("n_current"),
        F.count(F.lit(1)).alias("n_categories"),
        F.when(
            (F.sum("n_base") > 0) & (F.sum("n_current") > 0),
            # integer DIV, not float /2-then-cast: Spark's cast truncates
            # (3.5→3) but DuckDB's CAST(x/2 AS BIGINT) rounds (3.5→4), so
            # an odd Σ|drift_bp| would diverge cross-engine; DIV matches
            # the oracle's `// 2` exactly for the non-negative sum here
            F.expr(
                "SUM(ABS(COALESCE(current_share_bp, 0)"
                " - COALESCE(base_share_bp, 0))) DIV 2"
            ).cast("long"),
        ).alias("tv_bp"),
    )
    out._docetl_cached_input = cells  # release: .unpersist() when done
    return out


def woe_table(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    *,
    by: list[str] | None = None,
) -> DataFrame:
    """Evidence table for a categorical feature against a 0/1 label —
    the weight-of-evidence report with the ln() removed: per feature
    value, the positive/negative class shares (exact floored bp of
    each CLASS total, the WOE convention) and the cross-multiplied
    odds ratio odds_bp = n_pos·total_neg·10⁴ DIV (n_neg·total_pos)
    (exact — NOT the ratio of the floored shares). WOE = ln(odds);
    ln is monotone, so ranking/thresholding on odds_bp is ranking on
    WOE with no double near the decision. odds_bp is NULL when the
    value has no negatives (infinite odds) or the data has no
    positives (undefined).

    ``label_col`` must be 0/1 — checked on the RAW value
    (_checked_binary_label: a probability column or a string label
    raises instead of silently truncating). NULL features/labels drop.

    Output: ``by`` + ``value`` + ``n`` + ``n_pos`` + ``n_neg`` +
    ``pos_share_bp`` + ``neg_share_bp`` + ``odds_bp``.

    Plan: one labeled count per (by, value) + a per-group class-total
    join (grouped / broadcast-scalar global) — one raw shuffle,
    value-cardinality-bounded after.
    """
    reserved = {"value", "n", "n_pos", "n_neg", "pos_share_bp",
                "neg_share_bp", "odds_bp", "_we_v", "_we_l", "_sk"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"woe_table reserves column names {clash}")
    bys = list(by or [])
    lab = _checked_binary_label(label_col, "woe_table")
    cells = (
        df.filter(F.col(feature_col).isNotNull() & F.col(label_col).isNotNull())
        .select(*bys, F.col(feature_col).alias("_we_v"), lab.alias("_we_l"))
        .groupBy(*bys, "_we_v")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
            F.sum("_we_l").cast("decimal(38,0)").alias("_npos"),
        )
        .withColumn("_nneg", F.col("_n") - F.col("_npos"))
    ).persist()  # referenced twice (totals + join back); value-cardinality-sized
    tot = cells.groupBy(*bys).agg(
        F.sum("_npos").alias("_tp"), F.sum("_nneg").alias("_tn")
    )
    if bys:
        j = cells.join(tot, bys)
    else:
        j = broadcast_scalar_join(cells, tot, df_col="_n", scalar_col="_tp")
    out = j.select(
        *bys, F.col("_we_v").alias("value"),
        F.col("_n").cast("long").alias("n"),
        F.col("_npos").cast("long").alias("n_pos"),
        F.col("_nneg").cast("long").alias("n_neg"),
        F.when(F.col("_tp") > 0, F.expr("CAST(_npos * 10000 DIV _tp AS BIGINT)"))
        .alias("pos_share_bp"),
        F.when(F.col("_tn") > 0, F.expr("CAST(_nneg * 10000 DIV _tn AS BIGINT)"))
        .alias("neg_share_bp"),
        F.when(
            (F.col("_nneg") > 0) & (F.col("_tp") > 0),
            F.expr("CAST(_npos * _tn * 10000 DIV (_nneg * _tp) AS BIGINT)"),
        ).alias("odds_bp"),
    )
    out._docetl_cached_input = cells  # release: .unpersist() when done
    return out


# trimmed_mean_by ranks inputs estimated above this many bytes with the
# grouped prefix_scan instead of one window task per group
_RANGE_RANK_MIN_BYTES = 32 << 20


def _input_bytes(df: DataFrame) -> int:
    """Summed size estimates of ``df``'s leaf relations — the file
    bytes for a scan, whatever filters or joins sit above it (a join's
    own estimate is the product of its inputs'). 0 when a leaf has no
    size statistics: a Python-list or RDD input estimates
    ``spark.sql.defaultSizeInBytes`` (Long.MaxValue by default)."""
    unknown = df.sparkSession._jsparkSession.sessionState().conf() \
        .defaultSizeInBytes()
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    sizes = [int(leaves.apply(i).stats().sizeInBytes())
             for i in range(leaves.size())]
    return 0 if any(b >= unknown for b in sizes) else sum(sizes)


def trimmed_mean_by(
    df: DataFrame,
    value_col: str,
    *,
    by: list[str],
    trim_bp: int = 1000,
    scale: int = 100,
) -> DataFrame:
    """Per-group trimmed mean, EXACT in fixed-point cents: drop the
    lowest and highest floor(n·trim_bp/10⁴) rows of each group by
    value order and average the rest — the robust location estimate
    between mean (trim 0) and median (trim → 5000). Values fix-point
    at ``scale`` (to_cents) BEFORE summing, so the kept-sum is an
    integer and the mean one integer DIV; which of several TIED rows
    straddling a trim boundary get dropped is arbitrary, and harmless:
    any choice removes the same value multiset, so the sum is
    deterministic. trim_bp must leave at least one row conceptually
    (< 5000); groups where trimming empties anyway (n·trim_bp·2 ≥
    n·10⁴ never happens below 5000) keep ≥ 1 row. NULL values drop.

    Output: ``by`` + ``n`` + ``n_trimmed_each`` + ``n_kept`` +
    ``sum_kept_cents`` + ``trimmed_mean_cents``.

    Plan, picked by the input's estimated size (its leaf relations'
    ``sizeInBytes``, the file bytes for a scan; an input without size
    statistics counts as small): up to
    ``_RANGE_RANK_MIN_BYTES``, one (by)-shuffle carries the rank window
    and the count — the per-group sort is the family's exact-order
    bound, right for small inputs, where a range scan's extra small jobs
    lose to the per-job floor. Above it, the grouped ``prefix_scan``
    (guide §2.5): each group's sort distributes across the session's
    partitions, so a low-cardinality or hub-skewed ``by`` no longer
    serialises into one task (lineitem_trimmed_mean's 3-value key
    sorted 3 x 2M rows on 3 cores: 9.8 s at sf1 -> 2.6 s). Both produce
    the identical result: ranks differ only in tie order WITHIN equal
    (by, value), which the kept-sum is invariant to by the multiset
    argument above. Requires
    ``by`` — a global trimmed mean over a row-cardinality table needs
    the distributed-rank machinery; compose quantile_buckets + filter
    for that.
    """
    if not by:
        raise ValueError(
            "trimmed_mean_by requires grouping keys; for a global trimmed "
            "mean compose quantile_buckets (distributed rank) + filter"
        )
    if not (0 <= int(trim_bp) < 5000):
        raise ValueError("trim_bp must be in [0, 5000)")
    reserved = {"n", "n_trimmed_each", "n_kept", "sum_kept_cents",
                "trimmed_mean_cents", "_tm_c", "_tm_r", "_tm_n"}
    clash = sorted(reserved & set(by))
    if clash:
        raise ValueError(f"trimmed_mean_by reserves column names {clash}")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *by, to_cents(value_col, scale).cast("decimal(38,0)").alias("_tm_c")
    )
    if _input_bytes(df) > _RANGE_RANK_MIN_BYTES:
        ranked, _ = prefix_scan(base, "_tm_c", by=by, rank_col="_tm_r")
        ranked = carry_caches(
            ranked.withColumnRenamed("_tm_r_total", "_tm_n"), ranked)
    else:
        w = W.partitionBy(*by).orderBy(F.col("_tm_c").asc())
        ranked = base.withColumn("_tm_r", F.row_number().over(w)).withColumn(
            "_tm_n", F.count(F.lit(1)).over(W.partitionBy(*by))
        )
    k = F.expr(f"_tm_n * {int(trim_bp)} DIV 10000")
    kept = ranked.filter((F.col("_tm_r") > k) & (F.col("_tm_r") <= F.col("_tm_n") - k))
    out = kept.groupBy(*by).agg(
        F.max("_tm_n").cast("long").alias("n"),
        F.max(k).cast("long").alias("n_trimmed_each"),
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("_tm_c").cast("long").alias("sum_kept_cents"),
        F.expr("CAST(sum(_tm_c) DIV count(1) AS BIGINT)").alias("trimmed_mean_cents"),
    )
    return carry_caches(out, ranked)


def _merge_count_inversions(seq) -> int:
    """Inversions of ``seq`` (strict: pairs i<j with seq[i] > seq[j]) —
    Knight's merge-count, O(n log n), vectorized: the base case counts
    all 64-wide blocks at once via a broadcast upper-triangle compare,
    then bottom-up merges count cross-block inversions with one
    ``searchsorted`` per merge. ``seq`` must be an int64 numpy array
    (factorized codes keep comparisons exact for any orderable dtype)."""
    import numpy as np

    n = len(seq)
    if n < 2:
        return 0
    w0 = 64
    inv = 0
    nb = n // w0
    parts = []
    if nb:
        blocks = seq[: nb * w0].reshape(nb, w0)
        iu, ju = np.triu_indices(w0, 1)
        inv += int(np.sum(blocks[:, iu] > blocks[:, ju], dtype=np.int64))
        parts.append(np.sort(blocks, axis=1).ravel())
    tail = seq[nb * w0:]
    if len(tail) > 1:
        ti, tj = np.triu_indices(len(tail), 1)
        inv += int(np.sum(tail[ti] > tail[tj], dtype=np.int64))
    if len(tail):
        parts.append(np.sort(tail))
    buf = np.concatenate(parts) if len(parts) > 1 else parts[0]
    width = w0
    while width < n:
        for lo in range(0, n, 2 * width):
            mid = lo + width
            hi = min(lo + 2 * width, n)
            if mid >= hi:
                continue
            left, right = buf[lo:mid], buf[mid:hi]
            # pairs (x in left, y in right) with x > y: per y, the count
            # of left elements > y is len(left) - rank_right(y in left)
            pos = np.searchsorted(left, right, side="right")
            inv += int(len(left) * len(right) - pos.sum())
            buf[lo:hi] = np.sort(np.concatenate([left, right]), kind="mergesort")
        width *= 2
    return inv


def _grouped_inversions(
    df: DataFrame, by: list[str], k1: str, k2: str, out_col: str
) -> DataFrame:
    """Per group: inversions of the ``k2`` sequence when rows are
    ordered by (``k1`` asc, ``k2`` asc) — the count of strictly
    discordant pairs (k1_a < k1_b, k2_a > k2_b; ties on k1 contribute
    nothing because equal-k1 runs are k2-ascending). One applyInPandas
    task per group (the family's documented exact-order bound — groups
    parallelize, a group's O(n log n) count runs in one Arrow batch);
    values are factorized to int64 codes first, so comparisons stay
    exact for decimals/strings/timestamps alike."""
    import pandas as pd
    import numpy as np

    fields = ", ".join(f"`{c}` {df.schema[c].dataType.simpleString()}" for c in by)
    schema = f"{fields}, {out_col} long"

    def count(key, pdf):
        c1 = pd.factorize(pdf[k1], sort=True)[0]
        c2 = pd.factorize(pdf[k2], sort=True)[0]
        order = np.lexsort((c2, c1))
        inv = _merge_count_inversions(c2[order].astype(np.int64))
        return pd.DataFrame([[*key, inv]], columns=[*by, out_col])

    return df.select(*by, k1, k2).groupBy(*by).applyInPandas(count, schema)


def _kendall_core(a1, a2):
    """Per-group exact Kendall-family decomposition over two aligned
    value arrays: (n, tie_1, tie_2, tie_both, inversions) where tie_1 =
    Σ_a C(c_a, 2) over a1 values (pairs tied on a1), tie_2 likewise on
    a2, tie_both on (a1, a2) cells, and inversions = strictly
    discordant pairs of the a2 sequence ordered (a1 asc, a2 asc) —
    Knight's merge-count. One vectorized pass; all counts exact int64
    (codes < n, so the both-tied pairing code n·c1+c2 < n² stays far
    below 2**63 at any permitted group size). Inputs may be any
    orderable dtype (object arrays of decimals/strings included):
    np.unique factorizes them to exact int64 codes first."""
    import numpy as np

    n = len(a1)
    u1, c1 = np.unique(np.asarray(a1), return_inverse=True)
    u2, c2 = np.unique(np.asarray(a2), return_inverse=True)
    c1 = c1.astype(np.int64)
    c2 = c2.astype(np.int64)

    def _ties(counts) -> int:
        return int((counts * (counts - 1) // 2).sum())

    tie_1 = _ties(np.bincount(c1, minlength=1))
    tie_2 = _ties(np.bincount(c2, minlength=1))
    cells = np.unique(c1 * np.int64(n) + c2, return_counts=True)[1]
    tie_both = _ties(cells)
    order = np.lexsort((c2, c1))
    inv = _merge_count_inversions(c2[order])
    return n, tie_1, tie_2, tie_both, inv


def mann_kendall_by(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    by: list[str],
    max_group_rows: int = 500_000,
) -> DataFrame:
    """Mann-Kendall trend statistic per group, EXACT: over every pair
    of observations i<j (by time), S = #(v_j > v_i) − #(v_j < v_i) —
    the non-parametric monotone-trend test's core, an integer. Emits
    the pair decomposition too (n_up/n_down/n_tie) so a caller can
    apply any significance recipe; the normal-approximation z needs a
    sqrt and lives outside the exact contract.

    O(n log n) per group — NOT pairwise: the tie terms decompose into
    linear aggregations over the per-(group, t, v) count table
    (n_pairs = C(n,2) − Σ_t C(c_t,2); ties-on-v likewise), and the
    discordant count n_down is EXACTLY the inversion count of the
    value sequence ordered by (t asc, v asc) — Knight's merge-count
    (see _grouped_inversions), one vectorized Arrow task per group.
    Then n_up = n_pairs − n_tie − n_down and S falls out. Identical
    outputs to the pairwise definition, at log-linear cost.

    ``max_group_rows`` keeps the one-task-per-group inversion count
    honest (a named raise, the chi² posture) — the default allows
    500k observations per group, 250× the old quadratic-join bound.
    Equal-timestamp pairs are excluded (no order → no trend evidence);
    NULL values/timestamps drop.

    Output: ``by`` + ``n`` + ``n_pairs`` + ``n_up`` + ``n_down`` +
    ``n_tie`` + ``s``.

    Plan: ONE map-side-combinable shuffle — groupBy(by) +
    collect_list(struct(t, v)) — then one BATCHED pandas UDF computes
    every figure per group (tie decompositions as vectorized bincounts,
    the discordant count as Knight's merge-count) with hundreds of
    groups per Arrow batch. r11 optimization, measured both ways: the
    former 4-branch aggregate + 3-join plan shuffled the same rows
    twice and carried 18 Exchange nodes; a per-group applyInPandas
    collapsed the plan but paid a pandas round-trip per group (~20%
    slower at 3k small groups). The collect_list form keeps the single
    shuffle AND batches the Python boundary. No self-join anywhere.
    """
    if not by:
        raise ValueError("mann_kendall_by requires grouping keys")
    reserved = {"n", "n_pairs", "n_up", "n_down", "n_tie", "s", "_mk_n",
                "_mk_t", "_mk_v", "_mk_c", "_mk_inv"}
    clash = sorted(reserved & set(by))
    if clash:
        raise ValueError(f"mann_kendall_by reserves column names {clash}")
    import pandas as pd

    base = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(*by, F.col(ts_col).alias("_mk_t"), F.col(value_col).alias("_mk_v"))
    limit = int(max_group_rows)

    @F.pandas_udf("n long, n_pairs long, n_up long, n_down long, "
                  "n_tie long, s long")
    def mk(groups: pd.Series) -> pd.DataFrame:
        out = []
        for g in groups:
            if len(g) > limit:
                raise ValueError(
                    f"mann_kendall_by: a group exceeds max_group_rows="
                    f"{limit} pre-aggregated observations — "
                    "the inversion count runs one task per group; roll the "
                    "series up first or raise the bound")
            n, tie_t, tie_v, tie_tv, inv = _kendall_core(
                [r["_mk_t"] for r in g], [r["_mk_v"] for r in g])
            n_pairs = n * (n - 1) // 2 - tie_t
            n_tie = tie_v - tie_tv
            n_up = n_pairs - n_tie - inv
            out.append((n, n_pairs, n_up, inv, n_tie, n_up - inv))
        return pd.DataFrame(
            out, columns=["n", "n_pairs", "n_up", "n_down", "n_tie", "s"])

    agg = base.groupBy(*by).agg(
        F.collect_list(F.struct("_mk_t", "_mk_v")).alias("_mk_g"))
    return agg.select(*by, mk(F.col("_mk_g")).alias("_mk_s")).select(
        *by, "_mk_s.*")


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    *,
    by: list[str] | None = None,
) -> DataFrame:
    """Kaplan-Meier survival curve per group: at each distinct
    observed duration t, the risk set n_risk (subjects with duration
    ≥ t), events d_t, censored c_t, and the product-limit survival
    estimate S(t) = Π_{u ≤ t, event time} (n_risk(u) − d_u)/n_risk(u).

    ``event_col`` is 1 = event observed at t, 0 = censored at t
    (checked raw — _checked_binary_label); durations are non-negative
    integers (day/week grain — the curve has one row per distinct
    duration, which is what bounds the fold below). NULLs drop.

    ``survival`` is the module's one double, by the events_ewma
    precedent: each factor is ONE division of two exact integers, and
    the curve is an ORDERED FOLD (slice + aggregate) over the factor
    list — both engines run the identical IEEE sequence on identical
    inputs, so even the doubles replay bit-for-bit. Censored-only
    times contribute a factor of exactly 1.0 via (n−0)/n == 1.0 — the
    estimate steps only at event times, as Kaplan-Meier requires.

    Output: ``by`` + ``t`` + ``n_risk`` + ``n_events`` +
    ``n_censored`` + ``survival``.

    Plan: one count per (by, t); the risk set is an exclusive
    cumulative sum over the per-group interval table (distinct-
    duration-bounded window riding the (by) shuffle; global: one
    bounded-by-contract partition — the interval table IS the output,
    curve-length rows by construction); the prefix products fold over
    a per-group sorted factor array (O(k²) in curve length k — day
    grain keeps k in the thousands; resample coarser grain for more).
    """
    reserved = {"t", "n_risk", "n_events", "n_censored", "survival",
                "_km_t", "_km_d", "_km_c", "_km_rm"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"kaplan_meier reserves column names {clash}")
    bys = list(by or [])
    lab = _checked_binary_label(event_col, "kaplan_meier")
    base = df.filter(
        F.col(duration_col).isNotNull() & F.col(event_col).isNotNull()
    ).select(
        *bys,
        F.when(
            F.col(duration_col).cast("long") < 0,
            F.raise_error(F.lit("kaplan_meier: durations must be >= 0")),
        ).otherwise(F.col(duration_col).cast("long")).alias("_km_t"),
        lab.alias("_km_e"),
    )
    iv = base.groupBy(*bys, "_km_t").agg(
        F.sum("_km_e").cast("long").alias("_km_d"),
        F.sum(F.lit(1) - F.col("_km_e")).cast("long").alias("_km_c"),
    )
    wcum = (
        (W.partitionBy(*bys) if bys else bounded_global_window("_km_t"))
        .orderBy(F.col("_km_t").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy(*bys) if bys else bounded_global_window("_km_t")
    staged = (
        iv.withColumn("_rm_incl", F.sum(F.col("_km_d") + F.col("_km_c")).over(wcum))
        .withColumn("_total", F.sum(F.col("_km_d") + F.col("_km_c")).over(wall))
        .withColumn("n_risk", F.col("_total") - F.col("_rm_incl")
                    + F.col("_km_d") + F.col("_km_c"))
        .withColumn(
            "_factor",
            (F.col("n_risk") - F.col("_km_d")).cast("double")
            / F.col("n_risk").cast("double"),
        )
    )
    curves = staged.groupBy(*bys).agg(
        F.sort_array(F.collect_list(F.struct(
            F.col("_km_t").alias("t"), F.col("n_risk").alias("n_risk"),
            F.col("_km_d").alias("d"), F.col("_km_c").alias("c"),
            F.col("_factor").alias("f"),
        ))).alias("_curve")
    )
    exploded = curves.select(
        *bys, F.posexplode("_curve").alias("_pos", "_row"),
        F.col("_curve").alias("_cv"),
    )
    return exploded.select(
        *bys,
        F.col("_row.t").alias("t"),
        F.col("_row.n_risk").alias("n_risk"),
        F.col("_row.d").alias("n_events"),
        F.col("_row.c").alias("n_censored"),
        F.expr(
            "aggregate(transform(slice(_cv, 1, _pos + 1), s -> s.f), "
            "CAST(1.0 AS DOUBLE), (acc, x) -> acc * x)"
        ).alias("survival"),
    )


def kendall_tau_by(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    by: list[str],
    max_group_rows: int = 500_000,
) -> DataFrame:
    """Kendall's tau per group, EXACT in basis points: over all row
    pairs, tau_a_bp = (concordant − discordant)·10⁴ DIV n_pairs — the
    rank-agreement figure behind judge-vs-judge and model-vs-human
    agreement checks, with its full pair decomposition (ties on x, on
    y, on both) so tau-b is one formula away.

    O(n log n) per group — NOT pairwise (Knight 1966): the tie terms
    decompose into linear aggregations over the per-(group, x, y)
    count table (ties-on-x = Σ_x C(c_x,2), minus the both-tied term
    Σ_{x,y} C(c_xy,2); y likewise), and the discordant count is
    EXACTLY the inversion count of the y sequence ordered by (x asc,
    y asc) — equal-x runs are y-ascending, so only strictly
    opposite-ordered pairs invert (see _grouped_inversions). Then
    concordant = C(n,2) − ties − discordant. Identical outputs to the
    pairwise definition, at log-linear cost.

    ``max_group_rows`` keeps the one-task-per-group inversion count
    honest (named raise) — the default allows 500k rows per group,
    250× the old quadratic-join bound. NULLs in either column drop.
    Groups with < 2 rows report zero pairs and NULL tau.

    Output: ``by`` + ``n`` + ``n_pairs`` + ``n_concordant`` +
    ``n_discordant`` + ``n_tie_x`` + ``n_tie_y`` + ``n_tie_both`` +
    ``tau_a_bp``.

    Plan: ONE map-side-combinable shuffle — groupBy(by) +
    collect_list(struct(x, y)) — then one BATCHED pandas UDF computes
    every figure per group (tie decompositions as vectorized bincounts,
    the discordant count as Knight's merge-count) with hundreds of
    groups per Arrow batch (r11 optimization: the former 4-branch
    aggregate + 3-join plan shuffled the same rows twice; see
    mann_kendall_by for the applyInPandas-per-group comparison). No
    self-join anywhere. ``tau_a_bp`` replays Spark's decimal DIV
    exactly: truncation toward zero on the exact integer ratio.
    """
    if not by:
        raise ValueError("kendall_tau_by requires grouping keys")
    reserved = {"n", "n_pairs", "n_concordant", "n_discordant", "n_tie_x",
                "n_tie_y", "n_tie_both", "tau_a_bp", "_kt_x", "_kt_y",
                "_kt_c", "_kt_inv"}
    clash = sorted(reserved & set(by))
    if clash:
        raise ValueError(f"kendall_tau_by reserves column names {clash}")
    import pandas as pd

    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(*by, F.col(x_col).alias("_kt_x"), F.col(y_col).alias("_kt_y"))
    limit = int(max_group_rows)

    @F.pandas_udf("n long, n_pairs long, n_concordant long, "
                  "n_discordant long, n_tie_x long, n_tie_y long, "
                  "n_tie_both long, tau_a_bp long")
    def kt(groups: pd.Series) -> pd.DataFrame:
        out = []
        for g in groups:
            if len(g) > limit:
                raise ValueError(
                    f"kendall_tau_by: a group exceeds max_group_rows="
                    f"{limit} — the inversion count runs one "
                    "task per group; pre-aggregate first or raise the bound")
            n, tie_x_all, tie_y_all, tie_xy, inv = _kendall_core(
                [r["_kt_x"] for r in g], [r["_kt_y"] for r in g])
            n_pairs = n * (n - 1) // 2
            n_tie_x = tie_x_all - tie_xy
            n_tie_y = tie_y_all - tie_xy
            n_conc = n_pairs - n_tie_x - n_tie_y - tie_xy - inv
            if n_pairs > 0:
                num = (n_conc - inv) * 10000
                # exact integer DIV with truncation toward zero —
                # Spark's decimal integral-divide semantics (// floors)
                tau = abs(num) // n_pairs
                tau = -tau if num < 0 else tau
            else:
                tau = None
            out.append((n, n_pairs, n_conc, inv, n_tie_x, n_tie_y,
                        tie_xy, tau))
        return pd.DataFrame(
            out, columns=["n", "n_pairs", "n_concordant", "n_discordant",
                          "n_tie_x", "n_tie_y", "n_tie_both", "tau_a_bp"])

    agg = base.groupBy(*by).agg(
        F.collect_list(F.struct("_kt_x", "_kt_y")).alias("_kt_g"))
    return agg.select(*by, kt(F.col("_kt_g")).alias("_kt_s")).select(
        *by, "_kt_s.*")


def theil_sen_by(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    by: list[str],
    slope_scale: int = 1000,
    value_scale: int = 100,
    max_group_rows: int = 2000,
    method: str = "exact",
    pairs_per_row: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Theil-Sen slope per group: the MEDIAN of all pairwise slopes
    (v_j − v_i)/(t_j − t_i) over i<j by time — the robust trend
    estimate (up to ~29% outliers cannot move it, unlike OLS). Each
    slope materializes as an integer ``slope_milli`` =
    Δcents·slope_scale DIV Δt (the documented fixed-point truncation —
    both engines floor the same rational the same way), and the median
    is the EXACT lower median of those integers (rank = (n_pairs+1)
    DIV 2 — deterministic, no interpolation). Equal-timestamp pairs
    drop (undefined slope); NULLs drop; groups with < 2 distinct-time
    rows vanish from the slope table and report NULL slope.

    ``method="exact"`` (default) keeps the quadratic-pairs contract of
    the estimator's definition: pre-aggregated series only, RAISES
    past ``max_group_rows`` (the exact pairwise median has no
    subquadratic decomposition the repo's integer contract can
    express).

    ``method="sampled"`` is the documented SCALE PATH (the
    approx_quantiles precedent — a sketch with a pinned error-bound
    test, rows-only vs the oracle): each row draws ``pairs_per_row``
    deterministic partners (md5-derived offsets within its group — no
    randomness, replayable), slopes are computed over those m = n·D
    sampled pairs only, and ``slope_milli`` is the exact lower median
    OF THE SAMPLE. The sample median's rank among all C(n,2) slopes
    concentrates at n_pairs/2 ± O(n_pairs/√m); duplicate sampled
    pairs are kept (a documented property of the estimator, not
    deduplicated). Linear in n·D — no guard needed; ``max_group_rows``
    is ignored. n_pairs reports the SAMPLED pair count.

    Output: ``by`` + ``n`` + ``n_pairs`` + ``slope_milli`` (fixed-point
    Δvalue-per-Δt·slope_scale, in value_scale units).

    Plan (exact): the guarded per-group pair join, slopes as integers,
    then the lower median as a per-group rank window over the
    (bounded) slope table — one sorted task per group, the family's
    documented bound. Plan (sampled): per-group row_number + count
    windows ride one group shuffle, partners explode to n·D rows, ONE
    self equi-join on (group, index) fetches partner payloads, median
    as the same rank window over the linear slope table.
    """
    if not by:
        raise ValueError("theil_sen_by requires grouping keys")
    if method not in ("exact", "sampled"):
        raise ValueError(f"theil_sen_by: unknown method {method!r}")
    reserved = {"n", "n_pairs", "slope_milli", "_th_t", "_th_c",
                "_i", "_ng", "_d", "_h", "_j", "_tb", "_cb", "_sl", "_np"}
    clash = sorted(reserved & set(by))
    if clash:
        raise ValueError(f"theil_sen_by reserves column names {clash}")
    if method == "sampled":
        return _theil_sen_sampled(
            df, ts_col, value_col, by=by, slope_scale=slope_scale,
            value_scale=value_scale, pairs_per_row=int(pairs_per_row),
            seed=int(seed),
        )
    import numpy as np
    import pandas as pd

    base = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *by, F.col(ts_col).cast("long").alias("_th_t"),
        to_cents(value_col, value_scale).cast("decimal(38,0)").alias("_th_c"),
    )
    limit, sc = int(max_group_rows), int(slope_scale)

    # r11 optimization: the guarded per-group pair join materialized n²
    # rows through a shuffle + rank window; the same bounded pair set
    # fits one Arrow batch, where the slopes are one vectorized int64
    # pass and the exact lower median one np.partition. Plan: ONE
    # map-side-combinable collect_list shuffle feeds a BATCHED pandas
    # UDF (many groups per Arrow batch — no per-group pandas
    # round-trip), no self-join. Slope arithmetic replays the decimal
    # formulation exactly — truncation toward zero, with a python-int
    # fallback when |Δcents|·scale could exceed int64 (the decimal
    # path's headroom).
    @F.pandas_udf("n long, n_pairs long, slope_milli long")
    def ts(groups: pd.Series) -> pd.DataFrame:
        out = []
        for g in groups:
            n = len(g)
            if n > limit:
                raise ValueError(
                    f"theil_sen_by: a group exceeds max_group_rows="
                    f"{limit} — pairs are quadratic; "
                    "pre-aggregate first")
            cl = [int(r["_th_c"]) for r in g]
            t = np.fromiter((r["_th_t"] for r in g), np.int64, count=n)
            i, j = np.triu_indices(n, 1)
            dt = t[j] - t[i]
            keep = dt != 0
            m = int(keep.sum())
            if m == 0:
                out.append((n, 0, None))
                continue
            cmax = max((abs(x) for x in cl), default=0)
            if cmax <= (2**63 - 1) // (2 * sc + 1):
                c = np.fromiter(cl, np.int64, count=n)
                num = (c[j] - c[i])[keep] * sc
                den = dt[keep]
                q = np.abs(num) // np.abs(den)
                sl = np.where((num < 0) != (den < 0), -q, q)
            else:  # exact python-int path for decimal-scale magnitudes
                ii, jj = i[keep], j[keep]
                sl = np.fromiter(
                    (
                        (abs(d) * sc // abs(w)) * (-1 if (d < 0) != (w < 0) else 1)
                        for d, w in (
                            (cl[b_] - cl[a_], int(t[b_]) - int(t[a_]))
                            for a_, b_ in zip(ii.tolist(), jj.tolist())
                        )
                    ),
                    dtype=np.int64, count=m)
            med = int(np.partition(sl, (m - 1) // 2)[(m - 1) // 2])
            out.append((n, m, med))
        return pd.DataFrame(out, columns=["n", "n_pairs", "slope_milli"])

    agg = base.groupBy(*by).agg(
        F.collect_list(F.struct("_th_t", "_th_c")).alias("_th_g"))
    return agg.select(*by, ts(F.col("_th_g")).alias("_th_s")).select(
        *by, "_th_s.*")


def _theil_sen_sampled(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    by: list[str],
    slope_scale: int,
    value_scale: int,
    pairs_per_row: int,
    seed: int,
) -> DataFrame:
    """theil_sen_by's linear sampled-pairs path (see its docstring).
    Partner index for (row i, draw d) = ((i − 1 + 1 + h mod (n−1)) mod
    n) + 1 with h = the first 8 md5 hex digits of '{seed}|{keys}|{i}|
    {d}' — never self, uniform over the other n−1 rows, identical in
    any engine."""
    bys = list(by)
    w = W.partitionBy(*bys).orderBy(F.col("_th_t").asc(), F.col("_th_c").asc())
    wall = W.partitionBy(*bys)
    base = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *bys, F.col(ts_col).cast("long").alias("_th_t"),
        to_cents(value_col, value_scale).cast("decimal(38,0)").alias("_th_c"),
    ).withColumn("_i", F.row_number().over(w)).withColumn(
        "_ng", F.count(F.lit(1)).over(wall))
    # base is referenced three times (group-size aggregate, draw
    # explosion, partner side of the index join) and is ROW-grain —
    # an r11 attempt to cache it won at sf0.1 (4.6 -> 1.7 s) but
    # REGRESSED 2-3x at the sf1 scale slice (the 16x draw explosion
    # reads slower from columnar cache than from the pipelined
    # recompute, and the cached blocks churn under memory pressure),
    # so the lineage replays instead: recompute-per-branch is the
    # scale posture here.
    counts = base.groupBy(*bys).agg(F.count(F.lit(1)).alias("_n"))
    key_str = F.concat_ws("|", *[F.col(c).cast("string") for c in bys])
    draws = base.filter(F.col("_ng") >= 2).select(
        *bys, "_i", "_ng", "_th_t", "_th_c",
        F.explode(F.sequence(F.lit(0), F.lit(pairs_per_row - 1))).alias("_d"),
    ).withColumn(
        "_h",
        F.conv(F.substring(F.md5(F.concat_ws(
            "|", F.lit(str(seed)), key_str,
            F.col("_i").cast("string"), F.col("_d").cast("string"))),
            1, 8), 16, 10).cast("long"),
    ).withColumn(
        "_j",
        (F.col("_i") - 1 + 1 + F.col("_h") % (F.col("_ng") - 1)) % F.col("_ng") + 1,
    ).select(*bys, "_j", "_th_t", "_th_c")
    # ^ project before the exchange (guide §2.3): the partner join only
    # needs the group key, the partner index and this row's (t, cents) —
    # _i/_ng/_d/_h would otherwise ride the 16n-row shuffle for nothing.
    partner = base.select(
        *bys, F.col("_i").alias("_j"),
        F.col("_th_t").alias("_tb"), F.col("_th_c").alias("_cb"))
    pairs = draws.join(partner, bys + ["_j"]).filter(F.col("_th_t") != F.col("_tb"))
    slope = F.expr(
        f"CAST((_cb - _th_c) * {int(slope_scale)} AS DECIMAL(38,0))"
        " DIV CAST(_tb - _th_t AS DECIMAL(38,0))"
    )
    slopes = pairs.select(*bys, slope.cast("long").alias("_sl"))
    wr = W.partitionBy(*bys).orderBy(F.col("_sl").asc())
    ranked = (
        slopes.withColumn("_r", F.row_number().over(wr))
        .withColumn("_np", F.count(F.lit(1)).over(W.partitionBy(*bys)))
    )
    med = ranked.filter(
        F.col("_r") == F.expr("(_np + 1) DIV 2")
    ).select(*bys, F.col("_sl").alias("slope_milli"),
             F.col("_np").cast("long").alias("n_pairs"))
    return counts.join(med, bys, "left").select(
        *bys, F.col("_n").cast("long").alias("n"),
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        F.col("slope_milli"),
    )


def cohen_kappa_by(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    *,
    by: list[str] | None = None,
) -> DataFrame:
    """Cohen's kappa inter-rater agreement per group, EXACT in basis
    points: with A = #(a == b) agreements, n rows, and S = Σ_k
    count_a(k)·count_b(k) the chance-agreement mass from the marginals,
    kappa = (A/n − S/n²) / (1 − S/n²) = (A·n − S) / (n² − S) — ONE
    integral division of two exact integers, never a ratio of floored
    intermediate shares. The labeling-QA / judge-vs-judge figure that
    po_bp alone overstates whenever the label distribution is skewed.

    Output: ``by`` + ``n`` + ``n_agree`` + ``po_bp`` (floored observed
    agreement) + ``pe_bp`` (floored chance agreement) + ``kappa_bp``
    (NULL when n² == S — both raters constant on one category, kappa
    undefined). NULL ratings on either side drop; category equality is
    exact (cast to string on both sides so cross-type columns compare
    the way the marginals group).

    Plan: ONE shuffle to the (by, a, b) pair-count grain; agreements,
    marginals, and S all re-aggregate from it map-side-combinably (the
    kendall decomposition posture). No joins, no windows.
    """
    reserved = {"n", "n_agree", "po_bp", "pe_bp", "kappa_bp",
                "_ck_a", "_ck_b", "_ck_c"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"cohen_kappa_by reserves column names {clash}")
    bys = list(by or [])
    base = df.filter(
        F.col(rater_a).isNotNull() & F.col(rater_b).isNotNull()
    ).select(
        *bys,
        F.col(rater_a).cast("string").alias("_ck_a"),
        F.col(rater_b).cast("string").alias("_ck_b"),
    )
    # persisted: referenced three times (both marginals + the agreement
    # aggregate) with different column prunings, so uncached plans
    # re-scan and re-shuffle the raw rows per branch (the mutual_info_by
    # finding); pair-count-cardinality-sized, release handle attached
    ab = base.groupBy(*bys, "_ck_a", "_ck_b").agg(
        F.count(F.lit(1)).alias("_ck_c")).persist()
    # marginal products per category: S = Σ_k ca_k * cb_k — join the two
    # marginals on the category (bounded by category cardinality)
    ca = ab.groupBy(*bys, F.col("_ck_a").alias("_k")).agg(
        F.sum("_ck_c").alias("_ca"))
    cb = ab.groupBy(*bys, F.col("_ck_b").alias("_k")).agg(
        F.sum("_ck_c").alias("_cb"))
    s = (
        ca.join(cb, bys + ["_k"])
        .groupBy(*bys)
        .agg(F.sum(
            F.col("_ca").cast("decimal(38,0)") * F.col("_cb")).alias("_s"))
    )
    g = ab.groupBy(*bys).agg(
        F.sum("_ck_c").alias("_n"),
        F.sum(F.when(F.col("_ck_a") == F.col("_ck_b"), F.col("_ck_c"))
              .otherwise(0)).alias("_agree"),
    )
    out = g.join(s, bys) if bys else g.crossJoin(s)
    out = out.select(
        *bys,
        F.col("_n").cast("long").alias("n"),
        F.col("_agree").cast("long").alias("n_agree"),
        F.expr("CAST(CAST(_agree AS DECIMAL(38,0)) * 10000"
               " DIV _n AS BIGINT)").alias("po_bp"),
        F.expr("CAST(_s * 10000 DIV (CAST(_n AS DECIMAL(38,0)) * _n)"
               " AS BIGINT)").alias("pe_bp"),
        F.expr(
            "CASE WHEN CAST(_n AS DECIMAL(38,0)) * _n - _s <> 0 THEN "
            "CAST((CAST(_agree AS DECIMAL(38,0)) * _n - _s) * 10000 "
            "DIV (CAST(_n AS DECIMAL(38,0)) * _n - _s) AS BIGINT) END"
        ).alias("kappa_bp"),
    )
    out._docetl_cached_input = ab  # release: .unpersist() when done
    return out


def psi_by(
    df: DataFrame,
    category_col: str,
    period_col: str,
    *,
    base,
    current,
    by: list[str] | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Population stability index between two period labels — the
    industry-standard drift score dist_drift's TV deliberately avoids,
    shipped with the bm25_topk double-discipline so it still
    hash-replays cross-engine: per-category shares are EXACT floored
    basis points first (zero shares smoothed to 1 bp — the standard
    PSI zero rule, deterministic), each term ((p−q)/10⁴)·ln(p/q) is a
    double computed from those INTEGERS and cast to DECIMAL(28,12)
    (burying the 1-ulp JVM-vs-libm ln() wobble far below the rounding
    digit), and the per-group PSI is the order-independent decimal sum
    rounded to ``round_dp``. Categories present in either period
    participate; NULL category is a real level; NULL period matches
    neither label.

    Output: ``by`` + ``n_base`` + ``n_current`` + ``n_categories`` +
    ``psi`` (double, NULL when either period is empty).

    Plan: identical to dist_drift — one shuffle to the (by, category)
    conditional-count grain, a broadcast scalar join for the totals,
    one aggregation. The interpretation ladder (<0.1 stable, 0.1-0.25
    moderate, >0.25 major) rides on a double that is bit-stable.
    """
    reserved = {"n_base", "n_current", "n_categories", "psi",
                "_ps_c", "_ps_a", "_ps_b", "_ta", "_tb"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"psi_by reserves column names {clash}")
    bys = list(by or [])
    cells = df.select(
        *bys, F.col(category_col).alias("_ps_c"),
        F.when(F.col(period_col) == F.lit(base), 1).otherwise(0).alias("_in_a"),
        F.when(F.col(period_col) == F.lit(current), 1).otherwise(0).alias("_in_b"),
    ).filter((F.col("_in_a") == 1) | (F.col("_in_b") == 1)).groupBy(
        *bys, "_ps_c"
    ).agg(
        F.sum("_in_a").alias("_ps_a"),
        F.sum("_in_b").alias("_ps_b"),
    ).persist()  # referenced twice (totals + join back); category-sized
    if bys:
        tot = cells.groupBy(*bys).agg(
            F.sum("_ps_a").alias("_ta"), F.sum("_ps_b").alias("_tb"))
        j = cells.join(tot, bys)
    else:
        tot = cells.agg(F.sum("_ps_a").alias("_ta"), F.sum("_ps_b").alias("_tb"))
        j = broadcast_scalar_join(cells, tot, df_col="_ps_a", scalar_col="_ta")
    shares = j.select(
        *bys, "_ps_a", "_ps_b", "_ta", "_tb",
        # floored bp shares, zeros smoothed to 1 bp (the PSI zero rule);
        # an EMPTY period yields NULL shares (psi is NULL then anyway —
        # the when-guard below — but ANSI DIV by zero must never fire)
        F.when(F.col("_ta") > 0, F.greatest(
            F.expr("CAST(_ps_a * 10000 DIV _ta AS BIGINT)"), F.lit(1)))
        .alias("_p"),
        F.when(F.col("_tb") > 0, F.greatest(
            F.expr("CAST(_ps_b * 10000 DIV _tb AS BIGINT)"), F.lit(1)))
        .alias("_q"),
    )
    term = (
        (F.col("_p") - F.col("_q")).cast("double") / F.lit(10000.0)
        * F.log(F.col("_p").cast("double") / F.col("_q").cast("double"))
    ).cast("decimal(28,12)")
    out = shares.groupBy(*bys).agg(
        F.sum("_ps_a").cast("long").alias("n_base"),
        F.sum("_ps_b").cast("long").alias("n_current"),
        F.count(F.lit(1)).alias("n_categories"),
        F.when(
            (F.sum("_ps_a") > 0) & (F.sum("_ps_b") > 0),
            F.round(F.sum(term), int(round_dp)).cast("double"),
        ).alias("psi"),
    )
    out._docetl_cached_input = cells  # release: .unpersist() when done
    return out


def kruskal_wallis_by(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    by: list[str] | None = None,
) -> DataFrame:
    """Kruskal–Wallis H (rank-based one-way ANOVA) per ``by`` cell,
    EXACT in basis points: with 2·midranks r (integers — _midrank2, the
    spearman machinery), S_g = Σ r within a level of ``group_col``, and
    Σ_g S_g = n(n+1) exactly, H = 3·(Σ_g S_g²/n_g − n(n+1)²)/(n(n+1)).
    Each per-level term is floored ONCE at micro precision
    (S_g²·10⁶ DIV n_g — both engines floor identically, error < 1e-6
    per level), then h_bp = 3·(Σterm − 10⁶·n(n+1)²) DIV (100·n(n+1)).
    The tie-corrected figure divides by C = 1 − ΣT/(n³−n) with
    T = Σ(t³−t) over value-tie groups: h_tie_bp = h_bp·(n³−n) DIV
    (n³−n−ΣT), NULL when every value ties (C = 0, H undefined).

    Output: ``by`` + ``n`` + ``n_groups`` + ``h_bp`` + ``h_tie_bp``.
    Rows with NULL value or NULL group drop before ranking (a NULL
    holds no rank; the reference population is the tested rows).

    Plan (r11 optimization, guide §2.3/§2.4): H depends on the data
    only through the per-(by, group, value) COUNTS, so the row grain
    collapses in ONE map-side-combinable aggregation before any rank
    machinery runs. Midranks then compute on the distinct-VALUE grain
    (2·midrank of value v with cumulative count m and c members is
    2m − c + 1) — grouped: a running-sum window riding the (by)
    shuffle over the collapsed table; GLOBAL: the distributed
    prefix-sum collapse (never a bare global window) — and join back
    at the (by, group, value) grain (S_g = Σ_v c_gv·mr2_v: identical
    integers to ranking every row), never at the row grain. Tie mass
    T re-aggregates from the same distinct-value table. The former
    shape ranked the full row grain (a row-sized value join) and
    re-derived the base twice more for ties — ~20 Exchanges at the
    bench vs ~9 now. Named exact-range guards (the
    changepoint posture — never a silent ANSI overflow): per level,
    S_g²·10⁶ must fit 38 digits and the quotient S_g²·10⁶/n_g the
    10³² decimal-division capacity (≈ 10⁷–10⁸ rows per cell before the
    raise); the tie-corrected quotient must fit BIGINT (raises when
    the tie correction C → 0 on a nearly-all-tied cell).
    """
    reserved = {"n", "n_groups", "h_bp", "h_tie_bp", "_kw_r", "_kw_g",
                "_kw_v", "_gvc", "_mr_v", "_mr_c", "_mr_c_cum", "_pid"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"kruskal_wallis_by reserves column names {clash}")
    bys = list(by or [])
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(*bys, F.col(value_col).alias("_kw_v"),
             F.col(group_col).cast("string").alias("_kw_g"))
    # collapse the row grain ONCE (map-side combinable); everything
    # downstream — midranks, rank sums, tie mass — runs on count
    # tables bounded by distinct-value cardinality. Cached: the
    # distinct-value re-agg AND the midrank join-back both read it
    # (evictable storage; the theil_sen/label_propagation idiom).
    gv = base.groupBy(*bys, "_kw_g", "_kw_v").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_gvc")).persist()
    dv = gv.groupBy(*bys, "_kw_v").agg(F.sum("_gvc").alias("_mr_c"))
    if bys:
        wcum = (W.partitionBy(*bys).orderBy(F.col("_kw_v").asc())
                .rowsBetween(W.unboundedPreceding, W.currentRow))
        mr = dv.withColumn("_mr_c_cum", F.sum("_mr_c").over(wcum))
    else:
        mr, _ = prefix_scan(dv, F.col("_kw_v").asc(), sums=["_mr_c"])
    # 2·midrank of the tie group ending at cumulative count m with c
    # members is 2m − c + 1 — an exact integer on the value grain
    mr = carry_caches(mr.select(
        *bys, "_kw_v", "_mr_c",
        (F.lit(2) * F.col("_mr_c_cum") - F.col("_mr_c") + F.lit(1))
        .cast("decimal(38,0)").alias("_kw_r")), mr)
    # per-(by, group): rank sum and count from the counts grain —
    # S_g = Σ_v c_gv · mr2_v, the same integers row-ranking produced
    per_g = gv.join(mr.select(*bys, "_kw_v", "_kw_r"),
                    bys + ["_kw_v"]).groupBy(*bys, "_kw_g").agg(
        F.sum("_gvc").alias("_ng"),
        F.sum(F.col("_gvc") * F.col("_kw_r")).alias("_sg"),
    )
    err = F.lit(
        "kruskal_wallis_by: rank moments exceed the exact decimal range"
        " (cell too large) — compute on a coarser grain or sample")
    # Per-level micro term S_g²·10⁶ DIV n_g computed in DECIMAL —
    # Spark's `div` yields a BIGINT and silently/ANSI-overflows on the
    # ~10²⁰⁺ quotients real rank sums produce (the r10 changepoint
    # lesson): floor(x/b) = (x − pmod(x, b))/b stays decimal-exact up
    # to the (38,6) division capacity of 10³². Digit guards keep both
    # the product (≤ 38 digits) and the quotient (≤ 32) representable;
    # the CASE keeps ANSI from ever evaluating an overflowing branch.
    lvl_oob = (
        "length(CAST(_sg AS STRING)) > 16"
        " OR 2 * length(CAST(_sg AS STRING))"
        " - length(CAST(_ng AS STRING)) > 25")
    term = (
        f"CASE WHEN {lvl_oob} THEN CAST(NULL AS DECIMAL(38,0))"
        " ELSE CAST((_sg * _sg * 1000000"
        " - pmod(_sg * _sg * 1000000, _ng)) / _ng AS DECIMAL(38,0)) END")
    agg = per_g.groupBy(*bys).agg(
        F.sum("_ng").alias("_n"),
        F.count(F.lit(1)).alias("_k"),
        F.sum(F.expr(term)).alias("_sumterm"),
        # guard rides INSIDE the output expressions below — a free-
        # standing check column would be pruned away by Catalyst
        F.max(F.expr(lvl_oob)).alias("_oob"),
    )
    # tie mass from the midrank table — it already carries the
    # per-value count (and the global path holds it persisted inside
    # prefix_scan), so ties cost one small-table aggregation, never
    # another pass over gv
    ties = mr.select(*bys, F.col("_mr_c").alias("_t")).groupBy(*bys).agg(
        F.sum(F.expr("_t * _t * _t - _t")).alias("_tt"))
    j = (agg.join(ties, bys) if bys else
         broadcast_scalar_join(agg, ties, df_col="_n", scalar_col="_tt"))
    hnum = "(3 * (_sumterm - 1000000 * _n * (_n + 1) * (_n + 1)))"
    hden = "(100 * _n * (_n + 1))"
    # quotient = 10⁴·H ≤ 10⁴·n — BIGINT-safe for every n the per-level
    # guard admits, so the plain DIV is exact here
    h_bp = F.expr(f"CAST({hnum} DIV {hden} AS BIGINT)")
    # tie-corrected: h_bp·(n³−n) DIV (n³−n−T); guard the product into
    # 38 digits and the quotient (C → 0 blows it up) into BIGINT
    tie_oob = (
        f"length(CAST(abs(CAST({hnum} DIV {hden} AS BIGINT)) AS STRING))"
        " + length(CAST(_n * _n * _n - _n AS STRING)) > 38"
        f" OR length(CAST(abs(CAST({hnum} DIV {hden} AS BIGINT)) AS STRING))"
        " + length(CAST(_n * _n * _n - _n AS STRING))"
        " - length(CAST(_n * _n * _n - _n - _tt AS STRING)) + 1 > 18")
    h_tie = F.expr(
        f"CASE WHEN {tie_oob} THEN NULL ELSE "
        f"CAST(CAST({hnum} DIV {hden} AS DECIMAL(38,0))"
        " * (_n * _n * _n - _n)"
        " DIV (_n * _n * _n - _n - _tt) AS BIGINT) END")

    def _guarded(cond, val):
        return F.when(cond, F.raise_error(err)).otherwise(val)

    out = j.select(
        *bys,
        F.col("_n").cast("long").alias("n"),
        F.col("_k").cast("int").alias("n_groups"),
        _guarded(F.col("_oob"),
                 F.when((F.col("_n") >= 2) & (F.col("_k") >= 2), h_bp))
        .alias("h_bp"),
        _guarded(
            F.col("_oob") | (
                (F.expr("_n * _n * _n - _n - _tt") > 0) & F.expr(tie_oob)),
            F.when(
                (F.col("_n") >= 2) & (F.col("_k") >= 2)
                & (F.expr("_n * _n * _n - _n - _tt") > 0),
                h_tie,
            )).alias("h_tie_bp"),
    )
    out._docetl_cached_input = gv  # release: .unpersist() when done
    return carry_caches(out, out, mr)


def mutual_info_by(
    df: DataFrame,
    a_col: str,
    b_col: str,
    *,
    by: list[str] | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns per
    ``by`` cell — the feature-association figure chi²/Cramér's V
    doesn't give in information units, shipped with the psi_by double
    discipline so it hash-replays cross-engine: every term
    (c/n)·ln(c·n/(ca·cb)) is a double computed from EXACT integer
    counts, cast to DECIMAL(28,12) (burying the 1-ulp ln() wobble),
    order-independently summed as decimal, rounded to ``round_dp``.
    NULL in either column drops the row (a missing label is not a
    level here — cast NULLs to a sentinel upstream to count them).

    Output: ``by`` + ``n`` + ``n_cells`` + ``mi`` (nats, ≥ 0 up to
    rounding; NULL when n = 0).

    Plan: the cohen_kappa decomposition — ONE shuffle to the
    (by, a, b) pair-count grain; marginals re-aggregate from it
    map-side-combinably and join back at the cell grain (bounded by
    label-pair cardinality, never by rows). r11 optimization (guide
    §5): the cell table is referenced FOUR times (cells + both
    marginals + the total) — uncached, each reference re-executed the
    row-grain scan and aggregation (16 Exchanges at the bench); the
    persisted frame is label-pair-sized (evictable storage; release
    handle attached, the theil_sen idiom).
    """
    reserved = {"n", "n_cells", "mi", "_mi_a", "_mi_b", "_mi_c",
                "_ca", "_cb", "_n"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"mutual_info_by reserves column names {clash}")
    bys = list(by or [])
    cells = df.filter(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    ).select(
        *bys,
        F.col(a_col).cast("string").alias("_mi_a"),
        F.col(b_col).cast("string").alias("_mi_b"),
    ).groupBy(*bys, "_mi_a", "_mi_b").agg(
        F.count(F.lit(1)).alias("_mi_c")).persist()
    ca = cells.groupBy(*bys, "_mi_a").agg(F.sum("_mi_c").alias("_ca"))
    cb = cells.groupBy(*bys, "_mi_b").agg(F.sum("_mi_c").alias("_cb"))
    if bys:
        tot = cells.groupBy(*bys).agg(F.sum("_mi_c").alias("_n"))
        j = (cells.join(ca, bys + ["_mi_a"]).join(cb, bys + ["_mi_b"])
             .join(tot, bys))
    else:
        tot = cells.agg(F.sum("_mi_c").alias("_n"))
        j = broadcast_scalar_join(
            cells.join(ca, ["_mi_a"]).join(cb, ["_mi_b"]),
            tot, df_col="_mi_c", scalar_col="_n")
    term = (
        F.col("_mi_c").cast("double") / F.col("_n").cast("double")
        * F.log(
            F.col("_mi_c").cast("double") * F.col("_n").cast("double")
            / (F.col("_ca").cast("double") * F.col("_cb").cast("double")))
    ).cast("decimal(28,12)")
    out = j.groupBy(*bys).agg(
        F.sum("_mi_c").cast("long").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.when(F.sum("_mi_c") > 0,
               F.round(F.sum(term), int(round_dp)).cast("double")).alias("mi"),
    )
    out._docetl_cached_input = cells  # release: .unpersist() when done
    return out


def anova_f_by(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    by: list[str] | None = None,
    scale: int = 100,
) -> DataFrame:
    """One-way ANOVA F per ``by`` cell, EXACT in basis points on
    fixed-point values (to_cents at ``scale``): with per-level sums
    S_g = Σv, the between/within sum-of-squares decomposition runs on
    micro-floored level terms t_g = S_g²·10⁶ DIV n_g (both engines
    floor identically): SSB·10⁶ = Σt_g − S²·10⁶ DIV n and SSW·10⁶ =
    10⁶·Σv² − Σt_g, so f_bp = SSB·(n−k)·10⁴ DIV (SSW·(k−1)) and the
    effect size eta2_bp = SSB·10⁴ DIV (SSB+SSW) are single integral
    divisions of exact integers. NULL value or group drops the row.

    Output: ``by`` + ``n`` + ``n_groups`` + ``f_bp`` (NULL when SSW=0
    — all within-level values identical — or k < 2 or n ≤ k) +
    ``eta2_bp`` (NULL when SST = 0).

    Plan: ONE shuffle to the (by, group) grain carrying (n, Σv, Σv²);
    cell totals re-aggregate map-side-combinably. Named exact-range
    guards (the changepoint posture): per level, S_g²·10⁶ must fit 38
    digits and its n_g-quotient the 10³² decimal-division capacity;
    the F quotient must fit BIGINT (raises when SSW → 0 with a huge
    SSB instead of silently overflowing) — coarser grain or a smaller
    scale beyond.
    """
    reserved = {"n", "n_groups", "f_bp", "eta2_bp", "_av_v", "_av_g"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"anova_f_by reserves column names {clash}")
    bys = list(by or [])
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(*bys, F.col(group_col).cast("string").alias("_av_g"),
             to_cents(F.col(value_col), scale).alias("_av_v"))
    per_g = base.groupBy(*bys, "_av_g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_ng"),
        F.sum(F.col("_av_v").cast("decimal(38,0)")).alias("_sg"),
        F.sum(F.col("_av_v").cast("decimal(38,0)") * F.col("_av_v"))
        .alias("_qg"),
    )
    err = F.lit(
        "anova_f_by: level moments exceed the exact decimal range"
        " (cell too large) — coarser grain or smaller scale")
    # micro terms S²·10⁶ DIV n in DECIMAL (Spark's `div` yields BIGINT
    # and overflows on real cents data — the kruskal/changepoint
    # posture): floor(x/b) = (x − pmod(x, b))/b, digit-guarded into
    # the 38-digit product and 10³² quotient capacity, CASE-protected
    # so ANSI never evaluates an overflowing branch
    lvl_oob = (
        "length(CAST(abs(_sg) AS STRING)) > 16"
        " OR 2 * length(CAST(abs(_sg) AS STRING))"
        " - length(CAST(_ng AS STRING)) > 25")

    def _microterm(s: str, b: str) -> str:
        return (f"CAST(({s} * {s} * 1000000"
                f" - pmod({s} * {s} * 1000000, {b})) / {b}"
                " AS DECIMAL(38,0))")

    agg = per_g.groupBy(*bys).agg(
        F.sum("_ng").alias("_n"),
        F.count(F.lit(1)).alias("_k"),
        F.sum("_sg").alias("_s"),
        F.sum("_qg").alias("_q"),
        F.sum(F.expr(
            f"CASE WHEN {lvl_oob} THEN CAST(NULL AS DECIMAL(38,0))"
            f" ELSE {_microterm('_sg', '_ng')} END")).alias("_sumterm"),
        # guard rides INSIDE the output expressions below (pruning-safe)
        F.max(F.expr(lvl_oob)).alias("_oob"),
    ).select(
        *bys, "_n", "_k",
        # the global-sum and Σv²-product guards fold into _oob; every
        # big expression below is CASE-protected so ANSI never
        # evaluates an overflowing branch before the named raise
        (F.col("_oob") | F.expr(
            "length(CAST(abs(_s) AS STRING)) > 16"
            " OR 2 * length(CAST(abs(_s) AS STRING))"
            " - length(CAST(_n AS STRING)) > 25"
            " OR length(CAST(_q AS STRING)) > 32")).alias("_oob"),
        F.expr(
            "CASE WHEN length(CAST(abs(_s) AS STRING)) > 16"
            " OR 2 * length(CAST(abs(_s) AS STRING))"
            " - length(CAST(_n AS STRING)) > 25 THEN NULL"
            f" ELSE _sumterm - {_microterm('_s', '_n')} END").alias("_ssb"),
        F.expr("CASE WHEN length(CAST(_q AS STRING)) > 32 THEN NULL"
               " ELSE _q * 1000000 - _sumterm END").alias("_ssw"),
    )
    # F quotient must fit the BIGINT that DIV yields (SSW → 0 blows it
    # up): digit-guard, named raise — never a silent ANSI overflow
    f_oob = (
        "length(CAST(abs(_ssb) AS STRING))"
        " + length(CAST(_n - _k AS STRING)) + 4 > 38"
        " OR length(CAST(_ssw AS STRING)) + length(CAST(_k - 1 AS STRING)) > 38"
        " OR length(CAST(abs(_ssb) AS STRING))"
        " + length(CAST(_n - _k AS STRING)) + 4"
        " - (length(CAST(_ssw AS STRING))"
        " + length(CAST(_k - 1 AS STRING)) - 1) + 1 > 18")

    def _guarded(cond, val):
        return F.when(cond, F.raise_error(err)).otherwise(val)

    return agg.select(
        *bys,
        F.col("_n").cast("long").alias("n"),
        F.col("_k").cast("int").alias("n_groups"),
        _guarded(
            F.col("_oob") | (
                (F.col("_k") >= 2) & (F.col("_n") > F.col("_k"))
                & (F.col("_ssw") > 0) & F.expr(f_oob)),
            F.when(
                (F.col("_k") >= 2) & (F.col("_n") > F.col("_k"))
                & (F.col("_ssw") > 0),
                F.expr(f"CASE WHEN {f_oob} THEN NULL ELSE"
                       " CAST(_ssb * (_n - _k) * 10000"
                       " DIV (_ssw * (_k - 1)) AS BIGINT) END"),
            )).alias("f_bp"),
        _guarded(
            F.col("_oob"),
            F.when(
                F.col("_ssb") + F.col("_ssw") > 0,
                F.expr("CAST(_ssb * 10000 DIV (_ssb + _ssw) AS BIGINT)"),
            )).alias("eta2_bp"),
    )


# Poisson(1) CDF thresholds at the 24-bit md5-draw grain: a draw
# u < _POIS_T[k] (first k that clears) gives multiplicity k, i.e.
# P(w = k) = e⁻¹/k! to 24-bit resolution; draws past the last
# threshold (P ≈ 1.1e-6) cap at 9. Integer constants — both engines
# compare the identical u24 against the identical literals.
_POIS_T = (6171992, 12343985, 15429982, 16458647, 16715813,
           16767247, 16775819, 16777044, 16777197)


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    *,
    id_col: str,
    by: list[str] | None = None,
    n_boot: int = 100,
    seed: int = 42,
    level_bp: int = 9500,
    scale: int = 100,
) -> DataFrame:
    """Percentile bootstrap confidence interval for the per-group mean
    via the POISSON bootstrap — the resampling scheme that actually
    works at 100 TB: instead of materializing B multinomial resamples,
    each row draws its multiplicity in replicate b as Poisson(1)
    (independent across rows, so one streaming pass computes every
    replicate), which converges to the classical bootstrap as n grows.
    Deterministic and cross-engine replayable: the draw is the md5
    24-bit integer idiom (training.sample_temperature) compared against
    integer CDF thresholds — no RNG state, no doubles.

    Output: ``by`` + ``n`` + ``mean_cents`` (point estimate, exact
    integral DIV) + ``ci_lo_cents`` + ``ci_hi_cents`` (order
    statistics of the B replicate means at (1±level)/2 — indices
    floor(((10⁴−level_bp)/2)·(B_eff−1)/10⁴) from each end, ties broken
    by replicate id) + ``n_boot`` (replicates with nonzero resample
    mass; tiny groups may lose a few to all-zero draws).

    One md5 per ROW (not per row × replicate): the replicate-b draw is
    double hashing over the row digest — u_b = (low32 + b·(high32|1))
    mod 2²⁴, the dsir _hash_index idiom — so the hash cost is O(n)
    while the B draws are integer ops (at B=100 this is ~3× the whole
    op's wall vs an md5 per pair).

    Plan: one explode of a B-length replicate sequence per row that
    feeds the (by, b) partial aggregation IN THE SAME STAGE — the
    exploded B·n rows pipeline into map-side combine, so the shuffle
    carries only groups × B rows; then one B-row-per-group window for
    the order statistics (global case rides bounded_global_window — B
    is bounded by contract). NULL value or id drops the row.
    """
    if not 1 <= int(n_boot) <= 10_000:
        raise ValueError("bootstrap_ci: n_boot must be in [1, 10000]")
    if not 0 < int(level_bp) < 10000:
        raise ValueError("bootstrap_ci: level_bp must be in (0, 10000)")
    reserved = {"n", "mean_cents", "ci_lo_cents", "ci_hi_cents", "n_boot",
                "_bc_v", "_bc_id", "_b", "_u", "_w", "_swv", "_sw",
                "_mean", "_rn", "_beff", "_klo", "_h1", "_h2"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"bootstrap_ci reserves column names {clash}")
    bys = list(by or [])
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        *bys,
        F.col(id_col).cast("string").alias("_bc_id"),
        to_cents(F.col(value_col), scale).alias("_bc_v"),
    )
    # one digest per row, then the replicate-b 24-bit draw by double
    # hashing: u_b = (low32 + b * (high32 | 1)) mod 2^24. The md5/conv
    # stay JVM expressions (identical draws to the documented recipe).
    hashed = base.withColumn(
        "_h1",
        F.conv(F.substring(F.md5(F.concat_ws(
            "|", F.lit(str(int(seed))), F.col("_bc_id"))), 1, 8), 16, 10)
        .cast("long"),
    ).withColumn(
        "_h2",
        F.conv(F.substring(F.md5(F.concat_ws(
            "|", F.lit(str(int(seed))), F.col("_bc_id"))), 9, 8), 16, 10)
        .cast("long"),
    ).drop("_bc_id")
    # r11 optimization (guide §4.2/§2.3): the former plan exploded every
    # row B times through a 10-branch CASE and partial-aggregated the
    # B·n rows, behind a cache barrier that existed only to stop
    # Catalyst collapsing the md5 into the post-explode plan. ONE
    # mapInPandas pass now computes, per partition, the exact partial
    # sums for every (group, replicate) — the replicate draws are one
    # vectorized (rows × B) integer pass (np.searchsorted over the same
    # thresholds reproduces the CASE exactly; all arithmetic < 2^63 by
    # construction of the 24-bit draw) — PLUS the point-estimate
    # partials (b = -1 rows), so the source is scanned exactly once,
    # with no cache and no B× row explosion. Partial sums accumulate as
    # python ints and ship as decimal(38,0) (exact at any scale); the
    # tiny partial table (partitions × groups × (B+1) rows) is cached
    # and re-aggregated for both the point estimate and the replicate
    # means — the figures are sums of the same integers in either plan.
    import numpy as np

    fields = ", ".join(
        f"`{c}` {base.schema[c].dataType.simpleString()}" for c in bys)
    pre = f"{fields}, " if bys else ""
    pschema = f"{pre}_b int, _sw decimal(38,0), _swv decimal(38,0)"
    B = int(n_boot)
    pois = np.array(_POIS_T, dtype=np.int64)

    def partials(batches):
        from decimal import Decimal

        acc: dict = {}  # by-key tuple -> [n, sum_v, sw[B] ints, swv[B] ints]
        for pdf in batches:
            if not len(pdf):
                continue
            groups = (pdf.groupby(bys, dropna=False, sort=False)
                      if bys else [((), pdf)])
            for key, g in groups:
                if bys and not isinstance(key, tuple):
                    key = (key,)
                ent = acc.setdefault(
                    tuple(key), [0, 0, [0] * B, [0] * B])
                v = g["_bc_v"].to_numpy(np.int64)
                h1 = g["_h1"].to_numpy(np.int64)
                h2 = g["_h2"].to_numpy(np.int64) | 1
                ent[0] += len(g)
                ent[1] += int(v.sum(dtype=object)) if len(v) else 0
                # |w·v| sums stay in int64 when max|v| is bounded; the
                # object fallback keeps exactness for pathological cents
                safe = (len(v) == 0 or
                        int(np.abs(v).max()) <= (2**63 - 1) // (9 * max(len(v), 1)))
                for lo in range(0, B, 512):
                    bs = np.arange(lo, min(lo + 512, B), dtype=np.int64)
                    u = (h1[:, None] + bs[None, :] * h2[:, None]) % 16777216
                    w = np.searchsorted(pois, u, side="right")
                    sws = w.sum(axis=0)
                    if safe:
                        swvs = (w * v[:, None]).sum(axis=0)
                        for j, b in enumerate(bs.tolist()):
                            ent[2][b] += int(sws[j])
                            ent[3][b] += int(swvs[j])
                    else:
                        vo = v.astype(object)
                        for j, b in enumerate(bs.tolist()):
                            ent[2][b] += int(sws[j])
                            ent[3][b] += int((w[:, j].astype(object) * vo).sum())
        import pandas as pd

        rows = []
        for key, (n_g, sv, sw, swv) in acc.items():
            rows.append((*key, -1, Decimal(n_g), Decimal(sv)))
            for b in range(B):
                rows.append((*key, b, Decimal(sw[b]), Decimal(swv[b])))
        cols = [*bys, "_b", "_sw", "_swv"]
        yield pd.DataFrame(rows, columns=cols)

    part_tbl = hashed.select(*bys, "_bc_v", "_h1", "_h2") \
        .mapInPandas(partials, pschema).cache()
    point = part_tbl.filter(F.col("_b") == -1).groupBy(*bys).agg(
        F.sum("_sw").alias("_pn"),
        F.sum("_swv").alias("_ps"),
    ).select(
        *bys, F.col("_pn").cast("long").alias("n"),
        F.expr("CAST(_ps DIV _pn AS BIGINT)").alias("mean_cents"))
    means = part_tbl.filter(F.col("_b") >= 0).groupBy(*bys, "_b").agg(
        F.sum("_swv").alias("_swv"),
        F.sum("_sw").alias("_sw"),
    ).filter(F.col("_sw") > 0).select(
        *bys, "_b", F.expr("CAST(_swv DIV _sw AS BIGINT)").alias("_mean"))
    if bys:
        w_rank = W.partitionBy(*bys).orderBy(F.col("_mean").asc(),
                                             F.col("_b").asc())
        w_all = W.partitionBy(*bys)
    else:
        w_rank = bounded_global_window("_b", F.col("_mean").asc(),
                                       F.col("_b").asc())
        w_all = bounded_global_window("_b")
    alpha2 = 10000 - int(level_bp)
    ranked = means.select(
        *bys, "_mean",
        (F.row_number().over(w_rank) - 1).alias("_rn"),
        F.count(F.lit(1)).over(w_all).alias("_beff"),
    ).withColumn(
        "_klo", F.expr(f"CAST({alpha2} * (_beff - 1) DIV 20000 AS INT)"))
    ci = ranked.groupBy(*bys).agg(
        F.max(F.when(F.col("_rn") == F.col("_klo"), F.col("_mean")))
        .alias("ci_lo_cents"),
        F.max(F.when(F.col("_rn") == F.col("_beff") - 1 - F.col("_klo"),
                     F.col("_mean"))).alias("ci_hi_cents"),
        F.max("_beff").cast("long").alias("n_boot"),
    )
    out = (point.join(ci, bys) if bys else
           broadcast_scalar_join(point, ci, df_col="n", scalar_col="n_boot"))
    out = out.select(*bys, "n", "mean_cents",
                     "ci_lo_cents", "ci_hi_cents", "n_boot")
    out._docetl_cached_input = part_tbl  # release: .unpersist() when done
    return out
