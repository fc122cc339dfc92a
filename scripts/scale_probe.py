"""Scale probe: measure operator scaling on synthetic N-times blow-ups.

Builds N-fold copies of the driver testdata (ids shifted per copy so keys
stay unique, text salted per copy so near-dup structure is preserved
rather than multiplied), then times representative operators at 1x and
Nx. Near-linear wall-clock growth at fixed parallelism is the pass
criterion — it means the plan has no super-linear join/shuffle and no
driver-side O(n) step.

Usage: python scripts/scale_probe.py [N] [--also N2,...]
Writes parquet under /tmp/scale_probe/ (removed and rebuilt per run).
"""

from __future__ import annotations

import json
import shutil
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")
from docetl_spark import get_spark  # noqa: E402
from docetl_spark.functions import dedup, similarity, text  # noqa: E402

BASE = "/root/testdata/sf0.1"
OUT = "/tmp/scale_probe"


def blow_up(spark, table: str, n: int, id_col: str, text_col: str | None = None,
            jitter_cols: list[str] | None = None, suffix: str = ""):
    df = spark.read.parquet(f"{BASE}/{table}.parquet")
    base_count = df.count()
    copies = []
    for i in range(n):
        c = df.withColumn(id_col, F.col(id_col) + F.lit(i * (base_count + 1)))
        if jitter_cols and i > 0:
            # --jitter-values: per-copy offset on VALUE columns so the
            # DISTINCT-value cardinality scales with N (a plain blow-up
            # replicates values and keeps it flat — the round-9 probe
            # blind spot: a value-ordered sort/rank/cumsum that
            # single-partitions on distinct values looks linear under
            # key-offset replication and falls over on real data).
            # +i*0.0101 shifts the cents grid by ~i per copy.
            for jc in jitter_cols:
                c = c.withColumn(jc, F.col(jc) + F.lit(i * 0.0101))
        if text_col is not None and i > 0:
            # rewrite EVERY token per copy so copies are NOT near-duplicates
            # of copy 0 (a suffix salt only perturbs the last shingles and
            # leaves 10 near-identical variants per doc -> candidate pairs
            # quadratic in N by construction; measured 33.8x at N=10). With
            # per-copy token prefixes the duplicate structure stays constant
            # per copy and the probe measures the PLAN, not the data.
            c = c.withColumn(
                text_col, F.regexp_replace(F.col(text_col), r"(\w+)", f"c{i}_$1")
            )
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    path = f"{OUT}/{table}_x{n}{suffix}.parquet"
    out.repartition(max(32, n * 4)).write.mode("overwrite").parquet(path)
    return path


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 2)


def probe(spark, docs_path: str, emb_path: str, line_path: str, events_path: str | None = None) -> dict:
    import os

    only = set(filter(None, os.environ.get("SCALE_PROBE_OPS", "").split(",")))
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    emb = spark.read.parquet(emb_path)
    line = spark.read.parquet(line_path)
    res = {}

    def want(name: str) -> bool:
        return not only or name in only

    # relational aggregate (q1 shape): scan -> partial agg -> exchange -> agg
    if want("q1_style_agg"):
        res["q1_style_agg"] = timed(lambda: (
        line.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.avg("l_extendedprice"), F.count(F.lit(1)))
        .collect()
    ))

    # text analysis: pure JVM expressions, one scan
    if want("text_quality"):
        res["text_quality"] = timed(lambda: (
        docs.select(text.quality_rules(F.col("text")).alias("q"))
        .agg(F.sum(F.col("q.passes").cast("long"))).collect()
    ))

    # exact dedup: fingerprint + window
    if want("exact_dedup"):
        res["exact_dedup"] = timed(lambda: (
        dedup.exact_dedup(docs, "text", order_by=[F.col("doc_id").asc()])
        .agg(F.count(F.lit(1))).collect()
    ))

    # minhash LSH near-dup: shingle -> signature -> banded self-join -> verify
    def run_minhash():
        sh = docs.withColumn("_sh", text.shingles(F.col("text"), 3)).cache()
        sig = sh.withColumn("_mh", dedup.minhash_from_shingles(F.col("_sh"), 64))
        cand = dedup.lsh_candidate_pairs(sig, "doc_id", "_mh", num_hashes=64, bands=16)
        dedup.jaccard_verify(cand, sh, "doc_id", "text", threshold=0.8,
                             shingle_col="_sh").agg(F.count(F.lit(1))).collect()
        sh.unpersist()

    if want("minhash_lsh"):
        res["minhash_lsh"] = timed(run_minhash)

    # ANN via LSH buckets (brute-force is gated beyond 200k by design)
    if want("ann_lsh_topk"):
        q = emb.limit(8).select(F.col("vec_id").alias("query_id"), "embedding")
        dim = len(emb.select("embedding").first()[0])
        res["ann_lsh_topk"] = timed(lambda: (
            similarity.lsh_topk(emb, q, 10, dim=dim).agg(F.count(F.lit(1))).collect()
        ))

    # sequence packing: shard-partitioned window + explode, pure JVM
    if want("pack_sequences"):
        from docetl_spark.functions import training

        res["pack_sequences"] = timed(lambda: (
            training.pack_sequences(
                docs, budget=512, text_col="text", id_cols=["doc_id"],
                order_cols=["doc_id"], n_shards=64,
            ).agg(F.count(F.lit(1))).collect()
        ))

    # banded similarity blocking (round-4 resolve/equijoin path): sign
    # bits in one matmul, band-key explode + self-equi-join + cosine
    # verify. Candidate count depends on DATA similarity structure, so
    # the blow-up's per-copy token salting matters here too: embeddings
    # are random, pair count stays near-constant, and the probe measures
    # the explode+join+verify plan.
    if want("banded_blocking"):
        res["banded_blocking"] = timed(lambda: (
            similarity.banded_candidate_pairs(
                emb, "vec_id", "embedding", threshold=0.85,
            ).agg(F.count(F.lit(1))).collect()
        ))

    # SemDeDup (round-4): centroid assignment matmul + per-cluster gram
    # matrix. K scales WITH the corpus (K ~ N / target_cluster_size, the
    # paper's contract) so per-cluster work stays constant; a fixed K
    # would make within-cluster cost quadratic in N by construction.
    if want("semdedup"):
        n_emb = emb.count()
        res["semdedup"] = timed(lambda: (
            similarity.semdedup(
                emb, "vec_id", n_clusters=max(8, n_emb // 700), threshold=0.95,
            ).agg(F.count(F.lit(1))).collect()
        ))

    # explicit-weight mixture: one combinable group agg + broadcast-plan
    # filter — expected flat-per-row
    if want("mixture"):
        from docetl_spark.functions import training

        def run_mixture():
            d = docs.withColumn("_src", F.pmod(F.xxhash64("doc_id"), F.lit(5)).cast("string"))
            plan = training.mixture_plan(d, "_src", {str(i): w for i, w in enumerate([0.4, 0.3, 0.1, 0.1, 0.1])})
            training.apply_mixture(d, plan, "_src", id_cols=["doc_id"]).agg(F.count(F.lit(1))).collect()

        res["mixture"] = timed(run_mixture)

    # QURK membership (round-4 de-cross-joined): explode + window only
    if want("qurk_membership"):
        from docetl_spark.operators.rank import _qurk_membership

        def run_qurk():
            keyed = docs.select(
                "doc_id", F.col("doc_id").cast("string").alias("_row_key")
            )
            n = keyed.count()
            _qurk_membership(keyed, n, 10, 500, 42).agg(F.count(F.lit(1))).collect()

        res["qurk_membership"] = timed(run_qurk)

    # TPC-H Q2/Q16 core: distinct (part, supp) pairs from lineitem — one
    # shuffle whose width is the distinct-pair count
    if want("distinct_pairs"):
        res["distinct_pairs"] = timed(lambda: (
            line.select("l_partkey", "l_suppkey").distinct()
            .agg(F.count(F.lit(1))).collect()
        ))

    # TPC-H Q21 core: EXISTS/NOT-EXISTS self-join pair on lineitem
    # (semi + anti on orderkey with a suppkey inequality residual)
    if want("exists_selfjoin"):
        def run_q21():
            l1 = (line.filter(F.col("l_returnflag") == "R")
                  .select("l_orderkey", "l_suppkey").distinct())
            l2 = line.select(F.col("l_orderkey").alias("_ok2"),
                             F.col("l_suppkey").alias("_sk2"))
            l3 = line.filter(F.col("l_returnflag") == "R").select(
                F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3"))
            (l1.join(l2.hint("merge"), (l1["l_orderkey"] == F.col("_ok2"))
                     & (l1["l_suppkey"] != F.col("_sk2")), "left_semi")
             .join(l3.hint("merge"), (F.col("l_orderkey") == F.col("_ok3"))
                   & (F.col("l_suppkey") != F.col("_sk3")), "left_anti")
             .agg(F.count(F.lit(1))).collect())

        res["exists_selfjoin"] = timed(run_q21)

    # BM25: postings pruned by broadcast query-term semi-join before the
    # tf shuffle — shuffle volume tracks query selectivity, not corpus
    if want("bm25"):
        from docetl_spark.retrievers import bm25_topk

        def run_bm25():
            qs = spark.createDataFrame(
                [("q1", "spark join performance"), ("q2", "slow merge batch"),
                 ("q3", "window sort hash")], ["query_id", "query"])
            bm25_topk(docs, qs, k=10).agg(F.count(F.lit(1))).collect()

        res["bm25"] = timed(run_bm25)

    # exact-quota splits: per-stratum rank window (16 hash strata so the
    # blow-up grows rows-per-stratum 10x, probing the window's scaling)
    if want("split_exact"):
        from docetl_spark.functions import training

        def run_split():
            d = docs.withColumn("_s", F.pmod(F.xxhash64("doc_id"), F.lit(16)).cast("string"))
            training.assign_splits_exact(
                d, id_cols=["doc_id"], weights={"t": 8, "v": 1, "e": 1}, strata=["_s"],
            ).agg(F.count(F.lit(1))).collect()

        res["split_exact"] = timed(run_split)

    # hopping windows: 4x explode + one groupBy — shuffle multiplier is
    # the overlap factor, expected linear
    if want("hopping_rollup") and events_path:
        from docetl_spark.functions.timeseries import hopping_rollup as _hop
        from docetl_spark.sources.readers import normalize_epoch_nanos

        # nanosAsLong is already set session-wide by measure(); only the
        # micros->timestamp generations need the normalize here
        ev2 = normalize_epoch_nanos(spark.read.parquet(events_path))
        res["hopping_rollup"] = timed(lambda: (
            _hop(ev2.withColumn("_c", F.floor(F.col("value") * 100 + 0.5).cast("long")),
                 {"n": F.count(F.lit(1)), "c": F.sum("_c")},
                 ts_col="ts", every_ns=900 * 10**9, size_ns=3600 * 10**9,
                 group_cols=["event_type"])
            .agg(F.count(F.lit(1))).collect()
        ))

    # ordered-sequence funnel: k chained running-min windows, 1 exchange
    if want("funnel") and events_path:
        from docetl_spark.functions.timeseries import funnel as _funnel

        ev = spark.read.parquet(events_path)
        res["funnel"] = timed(lambda: (
            _funnel(ev, ["view", "click", "purchase"], tiebreak="event_id")
            .agg(F.count(F.lit(1))).collect()
        ))

    # grouped exact quantiles: per-stratum sorted window + neighbor agg
    if want("grouped_quantiles"):
        from docetl_spark.functions.stats import exact_quantiles

        def run_q():
            d = docs.withColumn(
                "_s", F.pmod(F.xxhash64("doc_id"), F.lit(16)).cast("string")
            ).withColumn("_len", F.length("text"))
            exact_quantiles(d, "_len", [0.5, 0.9], by=["_s"]) \
                .agg(F.count(F.lit(1))).collect()

        res["grouped_quantiles"] = timed(run_q)

    # contamination scan: corpus explode + broadcast benchmark key join.
    # The benchmark is FIXED-SIZE (real benchmarks don't grow with the
    # corpus) so the probe measures corpus-side scaling only.
    if want("ngram_overlap"):
        from docetl_spark.functions import training

        bench = docs.orderBy("doc_id").limit(50).select("text")
        res["ngram_overlap"] = timed(lambda: (
            training.ngram_overlap(docs, bench, n=13)
            .agg(F.sum("n_overlap"), F.count(F.lit(1))).collect()
        ))

    # DSIR selection: target corpus is FIXED-SIZE (quality reference sets
    # don't grow with the raw corpus); measures the raw-side bucket-count
    # aggregation + broadcast-weight join + top-k
    if want("dsir_select"):
        from docetl_spark.functions import training

        tgt = docs.orderBy("doc_id").limit(500)
        res["dsir_select"] = timed(lambda: (
            training.dsir_select(docs, tgt, "text", id_col="doc_id", k=100, buckets=1024)
            .agg(F.count(F.lit(1))).collect()
        ))

    # perplexity LM scoring under the corpus's own bigram model: one
    # cached tokenize pass, vocab-cardinality count tables, one join
    if want("lm_score"):
        from docetl_spark.functions import training

        def run_lm():
            out = training.lm_score(docs, text_col="text", id_col="doc_id")
            out.agg(F.sum("lm_nll"), F.count(F.lit(1))).collect()
            cached = getattr(out, "_docetl_cached_input", None)
            if cached is not None:
                cached.unpersist()

        res["lm_score"] = timed(run_lm)

    # vocabulary stats: two-level combinable aggregate + top-k
    if want("term_stats"):
        res["term_stats"] = timed(lambda: (
            text.term_stats(docs, "text", id_col="doc_id", top_n=100)
            .agg(F.count(F.lit(1))).collect()
        ))

    # as-of join: union + one window per user (more history per user as
    # the corpus grows — the realistic growth axis)
    if want("asof_join") and events_path:
        from docetl_spark.functions import timeseries

        from docetl_spark.sources.readers import normalize_epoch_nanos

        ev = normalize_epoch_nanos(spark.read.parquet(events_path))
        clicks = ev.filter(F.col("event_type") == "click")
        errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "value", "event_id")
        res["asof_join"] = timed(lambda: (
            timeseries.asof_join(
                clicks, errors, on=["user_id"], left_ts="ts", right_ts="ts",
                right_cols=["value"], right_tiebreak="event_id",
            ).agg(F.count(F.lit(1)), F.sum("value_r")).collect()
        ))

    # sessionize (round-6): default one-window plan; more history per
    # user as the corpus grows
    if want("sessionize") and events_path:
        from docetl_spark.functions import timeseries

        from docetl_spark.sources.readers import normalize_epoch_nanos

        ev = normalize_epoch_nanos(spark.read.parquet(events_path)).withColumn(
            "_e", F.expr("(ts - pmod(ts, 1000000000)) DIV 1000000000")
        )
        res["sessionize"] = timed(lambda: (
            timeseries.sessionize(
                ev, keys=["user_id"], ts_col="_e", gap=1800, tiebreak="event_id"
            ).agg(F.count(F.lit(1)), F.max("session_id")).collect()
        ))

    # per-entity rolling features (round-6): one bounded window
    if want("rolling") and events_path:
        from docetl_spark.functions import timeseries

        from docetl_spark.sources.readers import normalize_epoch_nanos

        ev = normalize_epoch_nanos(spark.read.parquet(events_path))
        res["rolling"] = timed(lambda: (
            timeseries.rolling_features(
                ev.select("event_id", "user_id", "ts", "value"), "ts",
                keys=["user_id"], value_aggs={"v_sum": F.sum("value")},
                tiebreak=["event_id"],
            ).agg(F.count(F.lit(1)), F.sum("rolling_n")).collect()
        ))

    # gather fast path (round-6): per-doc window rendering; frames must
    # stay O(n) (the quadratic unboundedFollowing regression lived here)
    if want("gather_window"):
        from docetl_spark.operators import gather as gather_op
        from docetl_spark.operators import shape

        def run_gather():
            sp = shape.split(docs, "text", method="token_count",
                             method_kwargs={"num_tokens": 20})
            gather_op.gather(
                sp, "text_chunk", "split_id", "split_chunk_num",
                peripheral_chunks={"previous": {"tail": {"count": 1}},
                                   "next": {"head": {"count": 1}}},
            ).agg(F.count(F.lit(1)), F.sum(F.length("text_chunk_rendered"))).collect()

        res["gather_window"] = timed(run_gather)

    # intra-doc repetition trim (round-6): pure expression chain
    if want("trim_lines"):
        res["trim_lines"] = timed(lambda: (
            docs.select(text.trim_repeated_lines(
                F.regexp_replace(F.col("text"), r"\. ", "\n")).alias("c"))
            .agg(F.sum(F.length("c"))).collect()
        ))

    # gap-fill (round-6): rollup shuffle on raw data, then grid/join/LOCF
    # on bucket-count-sized rows — blow-up multiplies rollup input but
    # not the grid (same users, same time range), so growth must be
    # driven by the one partial agg
    if want("gap_fill") and events_path:
        from docetl_spark.functions import timeseries

        from docetl_spark.sources.readers import normalize_epoch_nanos

        ev = normalize_epoch_nanos(spark.read.parquet(events_path))
        res["gap_fill"] = timed(lambda: (
            timeseries.gap_fill(
                ev.select("user_id", "ts", "value"), "ts",
                keys=["user_id"], bucket_width=21600 * 10**9,
                aggs={"n": F.count(F.lit(1)), "s": F.sum("value")},
                locf_cols=["s"],
            ).agg(F.count(F.lit(1)), F.sum("n")).collect()
        ))

    # time-weighted avg (round-6): ONE user_id shuffle (lead window +
    # agg share partitioning); decimal segment sums
    if want("time_weighted") and events_path:
        from docetl_spark.functions import timeseries

        from docetl_spark.sources.readers import normalize_epoch_nanos

        ev = normalize_epoch_nanos(spark.read.parquet(events_path))
        res["time_weighted"] = timed(lambda: (
            timeseries.time_weighted_avg(
                ev.select("user_id", "ts", "event_id")
                .withColumn("_c", F.col("event_id") % 1000),
                "ts", "_c", keys=["user_id"], order_cols=["event_id"],
            ).agg(F.count(F.lit(1)), F.sum("n_samples")).collect()
        ))

    # cohort retention (round-6): collapses to per-user rows before any
    # join; cells are period-count-sized
    if want("cohort") and events_path:
        from docetl_spark.functions import timeseries

        from docetl_spark.sources.readers import normalize_epoch_nanos

        ev = normalize_epoch_nanos(spark.read.parquet(events_path))
        res["cohort"] = timed(lambda: (
            timeseries.cohort_retention(
                ev.select("user_id", "ts"), "ts", "user_id",
                period=604800 * 10**9,
            ).agg(F.sum("n_active")).collect()
        ))

    # term co-occurrence (round-6): vocabulary-capped pair blow-up; the
    # doc-id self-join input is (docs x <=V) rows, never corpus tokens
    if want("cooccurrence"):
        res["cooccurrence"] = timed(lambda: (
            text.cooccurrence_stats(
                docs, "text", id_col="doc_id", vocab_size=50, top_pairs=100,
            ).agg(F.sum("df_ab")).collect()
        ))

    # exact-substring span dedup (round-6): overlapping window hashes ->
    # partial-agg keeper election -> coverage union
    if want("substring_dedup"):
        from docetl_spark.functions import passages

        res["substring_dedup"] = timed(lambda: (
            passages.substring_dedup(docs, "text", id_col="doc_id", min_tokens=8)
            .agg(F.sum("dup_tokens"), F.sum(F.length("clean_text"))).collect()
        ))

    # round-7 analytics quartet (judge r8 ask): interval_join canonical-bin
    # pair emission, ngram-Jaccard over SN blocking, GLOBAL heavy hitters
    # (TakeOrderedAndProject path), and the sequential ewma fold — the
    # per-key history is what the events blow-up multiplies, so ewma
    # probes exactly its documented bound
    if want("interval_join") and events_path:
        from docetl_spark.functions import timeseries as tsf
        from docetl_spark.sources.readers import normalize_epoch_nanos

        def run_ij():
            ev = normalize_epoch_nanos(spark.read.parquet(events_path))
            w6 = 21600 * 10**9
            li = ev.groupBy(
                "user_id", F.expr(f"(ts - pmod(ts, {w6})) DIV {w6}").alias("bkt")
            ).agg(F.min("ts").alias("a_start"), (F.max("ts") + 1).alias("a_end"))
            half = 1800 * 10**9
            ri = ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("event_id").alias("purchase_id"),
                (F.col("ts") - half).alias("p_start"), (F.col("ts") + half).alias("p_end"),
            )
            tsf.interval_join(
                li, ri, on=["user_id"], left_start="a_start", left_end="a_end",
                right_start="p_start", right_end="p_end", bin_width=3600 * 10**9,
            ).agg(F.count(F.lit(1))).collect()

        res["interval_join"] = timed(run_ij)

    if want("ngram_jaccard"):
        from docetl_spark.operators.resolve import sorted_neighborhood_pairs

        def run_nj():
            pairs = sorted_neighborhood_pairs(
                docs, "doc_id",
                key="lower(substring(coalesce(text, ''), 1, 12))", window=3,
            )
            shingled = docs.select("doc_id", text.shingles(F.col("text"), 3).alias("_sh"))
            a = shingled.select(F.col("doc_id").alias("id_a"), F.col("_sh").alias("_sa"))
            b = shingled.select(F.col("doc_id").alias("id_b"), F.col("_sh").alias("_sb"))
            uni = F.size(F.array_union("_sa", "_sb")).cast("long")
            (pairs.join(a, "id_a").join(b, "id_b")
             .select(F.when(uni > 0, F.expr(
                 "size(array_intersect(_sa, _sb)) * CAST(10000 AS BIGINT) "
                 "DIV size(array_union(_sa, _sb))")).otherwise(F.lit(0)).alias("j"))
             .agg(F.count(F.lit(1)), F.sum("j")).collect())

        res["ngram_jaccard"] = timed(run_nj)

    if want("heavy_hitters_global") and events_path:
        from docetl_spark.functions.stats import heavy_hitters

        def run_hh():
            ev = spark.read.parquet(events_path)
            # value-derived cents as the hit value: ~distinct-per-row, the
            # worst case for the counts shuffle AND the global top-k
            d = ev.select(F.floor(F.col("value") * 100).cast("long").alias("v"))
            heavy_hitters(d, "v", top=10).collect()

        res["heavy_hitters_global"] = timed(run_hh)

    if want("ewma") and events_path:
        from docetl_spark.functions import timeseries as tsf
        from docetl_spark.sources.readers import normalize_epoch_nanos

        def run_ewma():
            ev = normalize_epoch_nanos(spark.read.parquet(events_path))
            tsf.ewma(ev, "ts", "value", keys=["user_id"], alpha=0.3,
                     tiebreak="event_id").agg(F.count(F.lit(1))).collect()

        res["ewma"] = timed(run_ewma)

    if want("ewma_bucketed") and events_path:
        from docetl_spark.functions import timeseries as tsf
        from docetl_spark.sources.readers import normalize_epoch_nanos

        def run_ewmab():
            ev = normalize_epoch_nanos(spark.read.parquet(events_path))
            tsf.ewma_bucketed(ev, "ts", "value", keys=["user_id"], alpha=0.3,
                              bucket_width=21600 * 10**9,
                              tiebreak="event_id").agg(F.count(F.lit(1))).collect()

        res["ewma_bucketed"] = timed(run_ewmab)

    # round-8 report/dq ops — all expected flat-to-linear: combinable
    # aggs (histogram/time_profile/dq), one window shuffle
    # (running_totals), one full-outer join (data_diff), two
    # exact-quantile passes (mad_outliers)
    if want("histogram") and events_path:
        from docetl_spark.functions.stats import histogram as _hist

        ev_h = spark.read.parquet(events_path)
        res["histogram"] = timed(lambda: (
            _hist(ev_h, "value", bin_width=0.25, by=["event_type"])
            .agg(F.count(F.lit(1))).collect()
        ))

    if want("mad_outliers") and events_path:
        from docetl_spark.functions.stats import mad_outliers as _mad

        ev_m = spark.read.parquet(events_path)
        res["mad_outliers"] = timed(lambda: (
            _mad(ev_m, "value", by=["event_type"])
            .agg(F.sum(F.col("is_outlier").cast("long"))).collect()
        ))

    if want("running_totals") and events_path:
        from docetl_spark.functions.stats import running_totals as _rt
        from docetl_spark.sources.readers import normalize_epoch_nanos

        def run_rt():
            ev = normalize_epoch_nanos(spark.read.parquet(events_path))
            _rt(ev, "value", keys=["user_id"], order_by=["ts", "event_id"])                 .agg(F.max("cum_value")).collect()

        res["running_totals"] = timed(run_rt)

    if want("data_diff"):
        from docetl_spark.functions.joins import data_diff as _dd

        def run_dd():
            old = docs.filter(F.col("doc_id") % 7 != 0)
            new = docs.filter(F.col("doc_id") % 5 != 0)
            _dd(old, new, ["doc_id"]).groupBy("diff_status")                 .agg(F.count(F.lit(1))).collect()

        res["data_diff"] = timed(run_dd)

    if want("dq_suite"):
        from docetl_spark.functions.dq import check_constraints, profile_columns

        def run_dq():
            profile_columns(docs, ["doc_id", "text"]).collect()
            check_constraints(docs, {
                "has_text": "text IS NOT NULL",
                "id_positive": "doc_id >= 0",
            }).collect()

        res["dq_suite"] = timed(run_dq)

    if want("time_profile") and events_path:
        from docetl_spark.functions.timeseries import time_profile as _tp
        from docetl_spark.sources.readers import normalize_epoch_nanos

        def run_tp():
            ev = normalize_epoch_nanos(spark.read.parquet(events_path))
            _tp(ev, "ts", by=["event_type"]).agg(F.count(F.lit(1))).collect()

        res["time_profile"] = timed(run_tp)

    # ---- value-ranking family: every op here sorts/ranks/cumsums on a
    # VALUE column, so its scale hazard is DISTINCT-VALUE cardinality,
    # not row count — probe with AND without --jitter-values and read
    # both ratios (PLANS.md round-10 table). All global paths ride
    # prefix_scan / the distinct-collapse; flat-ish ratios expected.
    if events_path:
        from docetl_spark.sources.readers import normalize_epoch_nanos

        evv = normalize_epoch_nanos(spark.read.parquet(events_path))

        if want("global_quantiles"):
            from docetl_spark.functions.stats import weighted_quantiles

            res["global_quantiles"] = timed(lambda: (
                weighted_quantiles(
                    evv.withColumn("w", F.lit(1.0)), "value", "w",
                    qs_bp=[2500, 5000, 9000],
                ).collect()
            ))

        if want("auc_global"):
            from docetl_spark.functions.stats import auc_rank

            res["auc_global"] = timed(lambda: (
                auc_rank(
                    evv.withColumn(
                        "label", (F.col("event_type") == "purchase").cast("int")),
                    "value", "label",
                ).collect()
            ))

        if want("ks_global"):
            from docetl_spark.functions.stats import ks_statistic

            res["ks_global"] = timed(lambda: (
                ks_statistic(evv, "value", "event_type",
                             group_a="click", group_b="purchase").collect()
            ))

        if want("value_ecdf"):
            from docetl_spark.functions.stats import prefix_scan

            def run_ecdf():
                dv = evv.filter(F.col("value").isNotNull()).groupBy(
                    F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
                    .alias("vc")
                ).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_c"))
                prefix_scan(dv, F.col("vc").asc(), sums=["_c"])[0] \
                    .agg(F.count(F.lit(1))).collect()

            res["value_ecdf"] = timed(run_ecdf)

        if want("mode_global"):
            from docetl_spark.functions.stats import mode_by

            res["mode_global"] = timed(lambda: (
                mode_by(evv, "value").collect()
            ))

        if want("spearman_global"):
            from docetl_spark.functions.mlstats import spearman_by

            def run_sp():
                # day-grain keeps the centered moments in exact range at
                # any N; the midrank prefix_scan path is what's probed
                d = evv.withColumn(
                    "_e", F.expr("(ts - pmod(ts, 1000000000)) DIV 1000000000"))
                daily = d.groupBy(
                    F.expr("(_e - pmod(_e, 86400)) DIV 86400").alias("day")
                ).agg(F.count(F.lit(1)).alias("n_ev"),
                      F.sum("value").alias("v"))
                spearman_by(daily, "n_ev", "v").collect()

            res["spearman_global"] = timed(run_sp)

    return res


def measure(docs_path: str, emb_path: str, line_path: str, events_path: str | None = None) -> None:
    """Child-process entry: fresh JVM per scale point, warm pass then the
    measured pass — the in-session variant read blow-up write churn and
    accumulated shuffle files into later ops (exact_dedup showed 15s in
    session vs 4.5s isolated)."""
    spark = get_spark("scale-probe-measure", shuffle_partitions=64)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe(spark, docs_path, emb_path, line_path, events_path)  # warm scans + workers
    spark.catalog.clearCache()
    print("RESULT " + json.dumps(probe(spark, docs_path, emb_path, line_path, events_path)))


def _measure_subprocess(docs, emb, line, events=None) -> dict:
    import subprocess

    out = subprocess.run(
        [sys.executable, __file__, "--measure", docs, emb, line] + ([events] if events else []),
        capture_output=True, text=True, timeout=1800, check=True,
    ).stdout
    line_ = [ln for ln in out.splitlines() if ln.startswith("RESULT ")][-1]
    return json.loads(line_[len("RESULT "):])


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--measure":
        measure(*sys.argv[2:6])
        return
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    jitter = "--jitter-values" in sys.argv
    n = int(args[0]) if args else 10
    spark = get_spark("scale-probe-build", shuffle_partitions=64)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    shutil.rmtree(OUT, ignore_errors=True)
    docs_n = blow_up(spark, "documents", n, "doc_id", "text")
    emb_n = blow_up(spark, "embeddings", n, "vec_id")
    line_n = blow_up(spark, "lineitem", n, "l_orderkey")
    events_n = blow_up(spark, "events", n, "event_id")
    if jitter:
        # second events blow-up whose VALUE distinct-cardinality scales
        # with N (plain copies keep it flat — the round-9 probe blind
        # spot for value-ordered rank/cumsum plans)
        events_jit = blow_up(spark, "events", n, "event_id",
                             jitter_cols=["value"], suffix="_jit")
    spark.stop()

    report = {"base_sf": 0.1, "jitter_values": jitter}
    report["x1"] = _measure_subprocess(
        f"{BASE}/documents.parquet", f"{BASE}/embeddings.parquet",
        f"{BASE}/lineitem.parquet", f"{BASE}/events.parquet")
    report[f"x{n}"] = _measure_subprocess(docs_n, emb_n, line_n, events_n)
    report["scale_factors"] = {
        k: round(report[f"x{n}"][k] / max(report["x1"][k], 1e-9), 1)
        for k in report["x1"]
    }
    if jitter:
        report[f"x{n}_jitter"] = _measure_subprocess(
            docs_n, emb_n, line_n, events_jit)
        report["scale_factors_jitter"] = {
            k: round(report[f"x{n}_jitter"][k] / max(report["x1"][k], 1e-9), 1)
            for k in report["x1"] if k in report[f"x{n}_jitter"]
        }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
