"""Scale-slice bench: the most expensive bench queries at 10x the bench
scale (emulated sf1, scripts/make_sf1.py -> /tmp/sf1), with the same
bracketed host controls as bench.py so drift is measurable.

Purpose (VERDICT r8 ask #6): the per-op 100x probes are micro-probes;
this is ONE end-to-end artifact grounding the "plans survive scale-up"
claim for the streaming drains and the LSH/RAG paths. Compares each
query's sf1 time against its sf0.1 time from bench_out.json: a healthy
plan lands well under 10x (sublinear shuffle/scan scaling + fixed
overheads); anything >3x beyond the streaming drain floor is a finding.

Usage: python scripts/bench_sf1.py [out_json] (default BENCH_SF1_r09.json)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from docetl_spark import get_spark  # noqa: E402

SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")

# the 10 most expensive bench queries per the round-8 artifact, spanning
# the families the verdict called out: RAG/LSH retrieval, stream drains,
# banded-LSH joins, minhash dedup, n-gram jaccard, and a TPC-H join shape
QUERIES = [
    "rag_retrieve_context",
    "events_stream_interval_join",
    "events_stream_sessions",
    "events_stream_rolling",
    "equijoin_limited",
    "fuzzy_dedup_corpus",
    "minhash_near_dup",
    "stream_decontaminate",
    "docs_ngram_jaccard",
    "q7_nation_volume",
    # round-10 ritual additions (VERDICT r9 ask #6): the newest
    # scale-sensitive plans — the `prefix_scan` distributed-prefix-
    # sum consumers, the re-measured mad_outliers, and two r10 reps
    "events_mad_outliers",
    "events_weighted_quantiles",
    "events_auc",
    "events_value_ecdf",
    "lineitem_spearman",
    # round-11 ritual additions: the lifted-cap plans the verdict asked
    # to re-measure — the pre-capped equijoin (was the one >20x probe),
    # the O(n log n) Kendall/MK rewrite, the sampled Theil-Sen, hybrid
    # RRF retrieval, and the streaming drift twin
    "events_mann_kendall",
    "events_theil_sen_sampled",
    "rag_retrieve_hybrid",
    "events_stream_drift",
    # round-11 continuation additions: the wave-C restructured
    # pair-generation paths (window doc-freq cap + single fingerprint
    # derivation) — the quadratic-risk family the cap bounds
    "gram_fingerprint_dups",
    "winnow_dup_pairs",
]


def main(out_path: str = "BENCH_SF1_r09.json") -> None:
    # r12 (VERDICT r12 #8): SPARK_GRAFT_SF1_ALL=1 covers the FULL bench
    # registry (240 queries) instead of the curated 21 — at sf0.1 the
    # driver's core sweep measures startup floors (165/240 queries are
    # sub-second); only at sf1 does per-query core-ratio data separate
    # floor-bound from compute-bound plans. Core count and shuffle
    # partitions follow $SPARK_GRAFT_CPUS exactly like bench.py, so a
    # low-core pass is just SPARK_GRAFT_CPUS=8 with a different
    # out_path; SPARK_GRAFT_SF1_REPS>1 reports per-query mins.
    names = list(bench.BENCH_QUERIES) if os.environ.get(
        "SPARK_GRAFT_SF1_ALL") == "1" else QUERIES
    reps = max(1, int(os.environ.get("SPARK_GRAFT_SF1_REPS", "1")))
    spark = get_spark(
        "docetl-spark-bench-sf1",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    control = bench.run_control(spark)
    results: dict[str, float] = {}
    for name in names:
        try:
            results[name] = round(
                min(bench.run_one(spark, name, SF1_DIR) for _ in range(reps)), 3)
        except Exception as e:  # pragma: no cover
            results[name] = None
            print(f"sf1 bench error {name}: {type(e).__name__}: "
                  f"{str(e)[:200]}", file=sys.stderr)
            continue
        print(f"{results[name]:7.2f}  {name}", file=sys.stderr)
    control_end = bench.run_control(spark)
    drift = round((control + control_end) / (2 * bench.CONTROL_REF_SEC), 3)

    sf01 = {}
    try:
        sf01 = json.load(open(os.path.join(os.path.dirname(__file__), "..", "bench_out.json")))
        sf01 = sf01.get("queries", {})
    except Exception:
        pass
    ratios = {
        k: round(v / sf01[k], 2)
        for k, v in results.items() if v is not None and sf01.get(k)
    }

    payload = {
        "sf": 1.0,
        "sf_emulated": True,
        "source": "scripts/make_sf1.py (10x sf0.1, offset keys, perturbed docs)",
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "reps": reps,
        "total_sec": round(sum(v for v in results.values() if v is not None), 3),
        "control_sec": control,
        "control_end_sec": control_end,
        "host_drift": drift,
        "queries": results,
        "ratio_vs_sf0.1": ratios,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({k: payload[k] for k in
                      ("total_sec", "host_drift", "ratio_vs_sf0.1")}))
    spark.stop()


if __name__ == "__main__":
    # round ritual (VERDICT r9 ask #6): rebuild /tmp/sf1 via
    # scripts/make_sf1.py, run bench.py for a fresh bench_out.json at
    # sf0.1, then this script with the round's artifact name — a
    # committed BENCH_SF1_r{N}.json per round makes 10x-scale
    # regression detection continuous, not a one-off.
    main(sys.argv[1] if len(sys.argv) > 1 else "BENCH_SF1_r12.json")
