"""Round-12 optimization pins: frame-level cache-release handles, the
bench stdout round-comparability scheme, the narrow-scan keyed widening
helper, the Arrow literal-frame type gate, and the repo-wide persist
hygiene convention (VERDICT r11 items #1/#10, ADVICE r11)."""

import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402


# ---------------------------------------------------------------- handles
def test_frame_propagates_and_releases_cache_handles(spark):
    """_next must harvest _docetl_cached_input (DataFrame or list) from
    the op's result, and collect() must unpersist after materializing
    (ADVICE r11 medium: the observe wrapper used to drop the attribute,
    pinning corpus-scale relations for the session)."""
    from docetl_spark.frame import SemanticFrame

    src = spark.range(10).toDF("id")
    cached = src.select("id").persist()
    out = cached.selectExpr("id * 2 AS id2")
    out._docetl_cached_input = cached

    fr = SemanticFrame.from_df(spark.range(5).toDF("x"))
    fr2 = fr._next(out, "probe_op")
    assert len(fr2._caches) == 1
    cached.count()  # materialize the cache
    assert cached.storageLevel.useMemory or cached.storageLevel.useDisk
    fr2.collect()
    assert not (cached.storageLevel.useMemory or cached.storageLevel.useDisk)


def test_frame_harvests_list_handles(spark):
    from docetl_spark.frame import SemanticFrame

    a = spark.range(3).persist()
    b = spark.range(4).persist()
    out = spark.range(2).toDF("id")
    out._docetl_cached_input = [a, b]
    fr = SemanticFrame.from_df(spark.range(1))._next(out, "probe_op")
    assert len(fr._caches) == 2
    assert fr.release_caches() == 2


def test_retrieve_context_join_attaches_handles_and_warns_on_id_col(spark):
    from docetl_spark.backend import FakeBackend
    from docetl_spark.retrievers import retrieve_context_join

    df = spark.createDataFrame([(1, "alpha"), (2, "beta")], "id long, lang string")
    corpus = df.select(F.col("lang").alias("t")).distinct()
    with pytest.warns(DeprecationWarning, match="id_col is ignored"):
        out = retrieve_context_join(
            df, corpus, FakeBackend(), text_keys=["t"], query_keys=["lang"],
            k=1, id_col="id",
        )
    handles = out._docetl_cached_input
    assert isinstance(handles, list) and len(handles) >= 1
    out.count()
    for h in handles:
        h.unpersist()


# ---------------------------------------------------------------- bench stdout
def test_bench_stdout_map_includes_prev_top25_and_respects_budget():
    import json

    import bench

    cur = {f"query_{i:03d}": float(300 - i) for i in range(240)}
    # previous round's hot spots are now fast — they must STILL appear
    prev = dict(cur)
    for i in range(25):
        prev[f"old_hot_{i}"] = 1000.0 + i
        cur[f"old_hot_{i}"] = 0.01
    m = bench._stdout_query_map(cur, prev)
    for i in range(25):
        assert f"old_hot_{i}" in m, "previous top-25 must be force-included"
    top25_now = sorted(cur, key=lambda k: -cur[k])[:25]
    assert all(k in m for k in top25_now), "current top-25 must be included"
    line = json.dumps({"metric": "x", "queries": m}, separators=(",", ":"))
    assert len(line) <= bench.STDOUT_LINE_BUDGET


def test_bench_stdout_map_no_prev():
    import bench

    cur = {f"q{i}": float(i) for i in range(50)}
    m = bench._stdout_query_map(cur, None)
    assert len(m) == 50  # all fit comfortably


# ---------------------------------------------------------------- widening
def test_widen_scan_for_agg_widens_narrow_scan(spark, sf_dir):
    from docetl_spark.session import widen_scan_for_agg

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey")
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if li.rdd.getNumPartitions() >= target:
        pytest.skip("scan already wide on this host")
    w = widen_scan_for_agg(li, "l_orderkey")
    assert "RepartitionByExpression" in w._jdf.queryExecution().optimizedPlan().toString()
    # grouping on the same key must not add a second exchange
    agg = w.groupBy("l_orderkey").count()
    phys = agg._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Exchange") <= 1


def test_widen_scan_for_agg_noop_on_wide_plans(spark, sf_dir):
    from docetl_spark.session import widen_scan_for_agg

    base = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey").groupBy("l_orderkey").count()
    assert widen_scan_for_agg(base, "l_orderkey") is base


# ---------------------------------------------------------------- arrow gate
def test_arrow_literal_ok_gates_temporal_and_nested():
    from pyspark.sql import types as T

    from docetl_spark.session import arrow_literal_ok

    flat = T.StructType([
        T.StructField("a", T.LongType()), T.StructField("b", T.StringType()),
        T.StructField("c", T.DecimalType(38, 0)),
    ])
    assert arrow_literal_ok(flat)
    for bad in (T.TimestampType(), T.DateType(),
                T.ArrayType(T.LongType()),
                T.StructType([T.StructField("x", T.LongType())])):
        s = T.StructType([T.StructField("a", T.LongType()),
                          T.StructField("b", bad)])
        assert not arrow_literal_ok(s), bad


# ---------------------------------------------------------------- hygiene
def test_every_functions_cache_carries_release_convention():
    """Every .cache()/.persist() in docetl_spark/functions must either
    attach a _docetl_cached_input release handle in the same function or
    unpersist inline (VERDICT r11 #10). New caches must opt into the
    convention or document an exemption HERE."""
    exempt: set[str] = set()  # "<file>:<function>" entries, with a reason
    root = Path(__file__).resolve().parents[1] / "docetl_spark" / "functions"
    offenders = []
    for p in sorted(root.glob("*.py")):
        parts = re.split(r"(?m)^def ", p.read_text())
        for part in parts[1:]:
            name = part.split("(", 1)[0]
            if not re.search(r"\.(?:cache|persist)\(", part):
                continue
            key = f"{p.name}:{name}"
            if key in exempt:
                continue
            if "_docetl_cached_input" in part or ".unpersist()" in part:
                continue
            offenders.append(key)
    assert offenders == [], (
        f"caches without a release handle or inline unpersist: {offenders}")


# ------------------------------------------------- grouped range rank
def test_trimmed_mean_range_impl_matches_window(spark, monkeypatch, tmp_path):
    """The grouped prefix_scan rank (picked above _RANGE_RANK_MIN_BYTES;
    it keeps a hub/low-cardinality group's sort off one task) must
    produce the identical result as the window rank, and both must match
    a brute-force trimmed mean — including NULL group keys, ties
    straddling the trim boundary, and groups smaller than the trim.
    The input is a parquet scan, so its size estimate is its file bytes."""
    from docetl_spark.functions import mlstats

    rows = []
    for i in range(997):
        g = [None, "a", "b", "c"][i % 4] if i % 11 else None
        v = float((i * 37) % 100) / 4.0  # heavy ties
        rows.append((g, v))
    rows.append(("tiny", 1.0))  # single-row group
    spark.createDataFrame(rows, "g string, v double").write.parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))

    groups: dict = {}
    for g, v in rows:
        groups.setdefault(g, []).append(int(v * 100 + 0.5))
    want = []
    for g, cents in groups.items():
        cents.sort()
        n, k = len(cents), len(cents) * 500 // 10000
        kept = cents[k:n - k]
        want.append((g, n, k, len(kept), sum(kept), sum(kept) // len(kept)))

    def canon(tuples):
        return sorted(tuples, key=lambda t: (t[0] is None, t))

    # the window path pins nothing; the range path pins its sorted frame
    for min_bytes, pins in ((float("inf"), False), (0, True)):
        monkeypatch.setattr(mlstats, "_RANGE_RANK_MIN_BYTES", min_bytes)
        got = mlstats.trimmed_mean_by(df, "v", by=["g"], trim_bp=500)
        assert bool(getattr(got, "_docetl_cached_input", None)) == pins
        assert canon(tuple(r) for r in got.collect()) == canon(want)
        for h in getattr(got, "_docetl_cached_input", []):
            h.unpersist()
    assert len(want) == 5  # NULL, a, b, c, tiny


def test_trimmed_mean_unsized_input_takes_window(spark, monkeypatch):
    """A Python-list input has no size statistics (it estimates
    spark.sql.defaultSizeInBytes); it counts as small and keeps the
    window rank, whatever the threshold."""
    from docetl_spark.frame import SemanticFrame
    from docetl_spark.functions import mlstats

    monkeypatch.setattr(mlstats, "_RANGE_RANK_MIN_BYTES", 0)
    fr = SemanticFrame.from_list(spark, [{"g": "a", "v": 1.0}, {"g": "a", "v": 2.0}])
    got = mlstats.trimmed_mean_by(fr.df, "v", by=["g"])
    assert getattr(got, "_docetl_cached_input", None) is None
    assert [tuple(r) for r in got.collect()] == [("a", 2, 0, 2, 300, 150)]


def _scan_input(spark, case):
    """(frame, by) for one prefix_scan parity case; ``id`` is unique."""
    if case.endswith("empty"):
        rows = []
    elif case == "global_ties":
        rows = [(i, None, float(i % 5)) for i in range(300)]
    elif case == "global_null_order":
        rows = [(i, None, None if i % 4 == 0 else float(i % 9)) for i in range(300)]
    elif case == "grouped_ties":
        rows = [(i, "g%d" % (i % 3), float(i % 7)) for i in range(500)]
    elif case == "grouped_nulls":
        rows = [(i, None if i % 5 == 0 else "g%d" % (i % 3),
                 None if i % 7 == 0 else float(i % 6)) for i in range(400)]
    else:  # grouped_split
        # one hub group holds ~95% of the rows over many distinct values,
        # so the range partitioner must split it across partitions
        rows = [(i, "hub" if i % 20 else "g%d" % (i % 3), float(i % 97))
                for i in range(1200)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    return df, (["g"] if case.startswith("grouped") else [])


@pytest.mark.parametrize("case", [
    "global_ties", "global_null_order", "global_empty",
    "grouped_ties", "grouped_nulls", "grouped_split", "grouped_empty",
])
def test_prefix_scan_matches_window(spark, case):
    """prefix_scan's rank and running sum equal a window row_number()
    and ROWS-frame sum() over the same order, per group or globally.
    Tied rows may take their ranks in any order, so each (group, value)
    tie group is compared as the multiset of its (rank, running sum)
    pairs — ``x`` depends on the value only, so that multiset is
    permutation-invariant."""
    from pyspark.sql import Window as W

    from docetl_spark.functions.stats import prefix_scan

    df, by = _scan_input(spark, case)
    df = df.withColumn("x", F.coalesce(F.col("v"), F.lit(-1.0)).cast("long") * 2 + 3)
    order = [F.col("v").asc()]
    got, totals = prefix_scan(df, order, by=by, sums=["x"], rank_col="r")
    ws = (W.partitionBy(*by) if by else W).orderBy(*order) \
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    want = df.withColumn("r", F.row_number().over(ws)) \
        .withColumn("x_cum", F.sum("x").over(ws))

    def tie_groups(rows):
        out = {}
        for row in rows:
            out.setdefault((row["g"], row["v"]), []).append(
                (int(row["r"]), int(row["x_cum"])))
        return {k: sorted(v) for k, v in out.items()}

    rows = got.collect()
    assert len(rows) == df.count()
    assert tie_groups(rows) == tie_groups(want.collect())
    n = {}
    s = {}
    for row in df.collect():
        n[row["g"]] = n.get(row["g"], 0) + 1
        s[row["g"]] = s.get(row["g"], 0) + row["x"]
    if by:
        assert totals is None
        for row in rows:
            assert (row["r_total"], row["x_total"]) == (n[row["g"]], s[row["g"]])
    else:
        assert totals == {"r": sum(n.values()), "x": sum(s.values())}
    for h in got._docetl_cached_input:
        h.unpersist()


def test_prefix_scan_recomputed_after_release_fails_loudly(spark):
    """The driver offsets describe the partitions of the cached sorted
    frame. Once that cache is released, a recompute re-samples the range
    boundaries (20k unique keys: the sample is random), and the scan
    must raise rather than number rows with another partition's offset."""
    from docetl_spark.functions.stats import prefix_scan

    df = spark.range(20000).selectExpr("id", "(id * 7919) % 20000 AS v")
    got, totals = prefix_scan(df.repartition(4), "v", rank_col="r")
    assert totals == {"r": 20000}
    for h in got._docetl_cached_input:
        h.unpersist()
    with pytest.raises(Exception, match="rebuild the frame"):
        got.collect()


def test_prefix_scan_reserves_its_count_key(spark):
    from docetl_spark.functions.stats import prefix_scan

    df = spark.range(3).selectExpr("id AS _n")
    with pytest.raises(ValueError, match="_n"):
        prefix_scan(df, "_n", sums=["_n"])


# ------------------------------------------------- cache release on collect
def test_collect_releases_prefix_scan_caches(spark, sf_dir):
    """Collecting rfm_segments (three nested global scans) and the
    global quantile_buckets through SemanticFrame releases every cache
    the scans pinned — none stays for the session."""
    from docetl_spark.frame import SemanticFrame

    sc = spark.sparkContext
    spark.catalog.clearCache()
    before = set(sc._jsc.getPersistentRDDs().keySet())
    orders = SemanticFrame.read_parquet(spark, f"{sf_dir}/orders.parquet") \
        .with_columns(epoch="CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)")
    rfm = orders.rfm_segments(keys=["o_custkey"], ts_col="epoch",
                              amount_col="o_totalprice")
    assert len(rfm.collect()) > 0
    buckets = orders.quantile_buckets("o_totalprice", 4, tiebreak=["o_orderkey"])
    assert len(buckets.collect()) > 0
    assert set(sc._jsc.getPersistentRDDs().keySet()) - before == set()


# ------------------------------------------------- build-phase job budget
# Building customer_rfm fires the driver collects of three nested global
# scans. 22 is what the range-rank helpers prefix_scan replaced fired here
# (sf0.001, this suite's session settings); an extra eager action in
# prefix_scan shows up as a failure instead of as drift.
RFM_BUILD_JOBS = 22


def test_customer_rfm_build_jobs_within_budget(spark, sf_dir):
    import __spark_entry__ as entry

    sc = spark.sparkContext
    tag = "customer_rfm-build-jobs"
    sc.setJobGroup(tag, "customer_rfm build")
    try:
        df = entry.queries()["customer_rfm"](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n = len(sc.statusTracker().getJobIdsForGroup(tag))
    assert 0 < n <= RFM_BUILD_JOBS, n
    assert len(df.collect()) > 0
    for h in df._docetl_cached_input:
        h.unpersist()


def test_actions_after_collect_read_the_collected_rows(spark):
    """collect() releases the prefix-scan caches; later actions on the
    frame, and frames derived from it before or after, still return the
    collected rows. 20k unique keys: the range sampler does not take
    every row, so a recompute would draw other partition boundaries."""
    from docetl_spark.frame import SemanticFrame

    sc = spark.sparkContext
    spark.catalog.clearCache()
    before = set(sc._jsc.getPersistentRDDs().keySet())
    src = spark.range(20000).selectExpr("id", "(id * 7919) % 20000 AS v")
    b = SemanticFrame.from_df(src.repartition(4)).quantile_buckets("v", 4)
    early = b.where("bucket = 1")  # derived before the collect
    rows = b.collect()
    want = sorted((r["id"], r["bucket"]) for r in rows)
    assert [n for _, n in want].count(1) == 5000
    # ``early`` still plans over the scan, so its cache stays pinned
    assert set(sc._jsc.getPersistentRDDs().keySet()) - before
    pdf = b.to_pandas()
    assert sorted(zip(pdf["id"].tolist(), pdf["bucket"].tolist())) == want
    late = b.where("bucket = 1")
    assert sorted(r["id"] for r in late.collect()) == \
        [i for i, n in want if n == 1]
    assert sorted(r["id"] for r in early.collect()) == \
        [i for i, n in want if n == 1]
    assert set(sc._jsc.getPersistentRDDs().keySet()) - before == set()
