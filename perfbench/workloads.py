"""The two workloads. Each exposes ``requests`` (name -> callable that
builds the terminal DataFrame through the engine's public entry points),
``expected`` (name -> the DuckDB oracle's result hash over the same
parquet), ``hash_columns`` (the result columns that hash covers) and
per-pass model counters.

Hashes use ``canon``/``table_hash`` from scripts/check_oracle.py, the
repo's own oracle gate, so a match here is a match there.
"""

from __future__ import annotations

import os
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from bench_model import LatencyModel

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# queries that drain streams into state stores, iterate over a graph with
# persisted frames, and run prefix scans and ranks that fire many small jobs
STATEFUL = ["events_stream_dedup", "part_pagerank", "customer_rfm"]

SEMANTIC_DOCS = 100
SEMANTIC_REPEAT_SHARE = 0.2
CHANNELS = 20
# the per-pass model counters both workloads report
COUNTERS = ("calls", "batch_calls", "items", "cache_hits", "retries", "model_s")


class RegistryWorkload:
    """Registry queries from ``__spark_entry__.queries()`` at one scale."""

    def __init__(self, names: list[str], sf: float, data_root: str):
        import __spark_entry__ as entry

        self.sf_dir = gen.ensure_tables(data_root, sf)
        registry, oracles = entry.queries(), entry.oracle_sql()
        self.requests = {n: (lambda spark, fn=registry[n]: fn(spark, self.sf_dir)) for n in names}
        self._oracles = {n: oracles[n] for n in names}
        self.hash_columns = {n: None for n in names}  # None: every column

    def begin_pass(self, spark, warm: bool) -> None:
        pass

    def pass_counts(self) -> dict:
        return dict.fromkeys(COUNTERS, 0)  # registry queries make no model calls

    def corpus_docs(self) -> int:
        return 0

    def expected(self, table_hash) -> dict:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        out = {}
        for n, sql in self._oracles.items():
            res = con.execute(sql)
            out[n] = table_hash(res.fetchall(), [c[0] for c in res.description])
        return out


# DuckDB mirror of bench_model's rules over the corpus
_TOPIC_SQL = ("CASE WHEN list_contains(w, 'join') THEN 'join' WHEN list_contains(w, 'spark') THEN 'spark' "
              "WHEN list_contains(w, 'stream') THEN 'stream' WHEN list_contains(w, 'vector') THEN 'vector' "
              "ELSE 'general' END")
_SENTIMENT_SQL = ("CASE WHEN list_contains(w, 'fast') THEN 'positive' "
                  "WHEN list_contains(w, 'slow') THEN 'negative' ELSE 'neutral' END")
_WORDS = "(SELECT *, string_split(text, ' ') AS w FROM corpus)"
ORACLE_SQL = {
    # map(topics, sentiment) -> filter(sentiment != negative) -> unnest ->
    # resolve on the topic (blocks are topic-equal, canonical = the topic)
    # -> reduce by topic, summary = "<rows> docs"
    "extraction_pipeline": f"""
        SELECT topic AS topics, CAST(count(*) AS VARCHAR) || ' docs' AS summary
        FROM (SELECT {_TOPIC_SQL} AS topic, {_SENTIMENT_SQL} AS sentiment FROM {_WORDS})
        WHERE sentiment <> 'negative' GROUP BY topic""",
    # distinct rows -> batched map(sentiment) -> equijoin blocked on lang,
    # match when (doc_id + channel_id) % 3 = 0
    "frame_chain": f"""
        SELECT c.doc_id, {_SENTIMENT_SQL} AS sentiment, ch.channel_id
        FROM (SELECT *, string_split(text, ' ') AS w FROM (SELECT DISTINCT * FROM corpus)) c
        JOIN channels ch ON c.lang = ch.lang
        WHERE (c.doc_id + ch.channel_id) % 3 = 0""",
}


class SemanticWorkload:
    """The shipped extraction pipeline plus one SemanticFrame chain over a
    corpus drawn from sf0.1 ``documents`` with the run's seed."""

    def __init__(self, data_root: str, work_dir: str, seed: int, repo_root: str, n_docs: int = SEMANTIC_DOCS):
        import yaml

        docs = os.path.join(gen.ensure_tables(data_root, 0.1), "documents.parquet")
        self.corpus_path = os.path.join(work_dir, "corpus.parquet")
        self.channels_path = os.path.join(work_dir, "channels.parquet")
        self.n_docs = gen.draw_corpus(docs, self.corpus_path, seed, n_docs, SEMANTIC_REPEAT_SHARE).num_rows
        pq.write_table(pa.table({
            "channel_id": pa.array(range(CHANNELS), pa.int64()),
            "lang": [gen.LANGS[i % len(gen.LANGS)] for i in range(CHANNELS)],
            "channel": [f"channel-{i}" for i in range(CHANNELS)],
        }), self.channels_path)
        with open(os.path.join(repo_root, "examples", "semantic_extraction.yaml")) as f:
            self.config = yaml.safe_load(f)
        self.config["datasets"]["docs"]["path"] = self.corpus_path
        self.requests = {"extraction_pipeline": self._pipeline, "frame_chain": self._chain}
        self.hash_columns = {"extraction_pipeline": ["topics", "summary"],
                             "frame_chain": ["doc_id", "sentiment", "channel_id"]}
        self.model = self.metrics = self.backend = None

    def begin_pass(self, spark, warm: bool) -> None:
        """Fresh model counters and a fresh cache namespace: Python workers
        are reused, so without it a pass would be served from the last
        pass's response cache. Warm-up passes get a model without latency:
        they warm the JIT and the Python workers, and waiting on the model
        would only lengthen the run."""
        from docetl_spark.resilience import BackendMetrics, ResilientBackend

        sc = spark.sparkContext
        self.model = LatencyModel(sc, latency_s=0.0) if warm else LatencyModel(sc)
        self.metrics = BackendMetrics(sc)
        self.backend = ResilientBackend(self.model, namespace=f"perfbench-{uuid.uuid4().hex}", metrics=self.metrics)

    def pass_counts(self) -> dict:
        m = self.metrics.snapshot()
        return {"calls": self.model.calls.value + self.model.batch_calls.value,
                "batch_calls": self.model.batch_calls.value, "items": self.model.items.value,
                "cache_hits": m["cache_hits"], "retries": m["retries"],
                "model_s": self.model.model_us.value / 1e6}

    def corpus_docs(self) -> int:
        return self.n_docs

    def _pipeline(self, spark):
        from docetl_spark.plans.compiler import run_pipeline

        return run_pipeline(spark, self.config, backend=self.backend).df

    def _chain(self, spark):
        from docetl_spark import SemanticFrame

        # equijoin keys must identify rows, so the chain drops repeats first
        docs = SemanticFrame.read_parquet(spark, self.corpus_path, backend=self.backend).distinct()
        channels = SemanticFrame.read_parquet(spark, self.channels_path)
        return (
            docs.map("Classify the sentiment of: {{ input.text }}", {"sentiment": "str"},
                     batch_prompt="Classify each document:\n{% for d in inputs %}- {{ d.text }}\n{% endfor %}",
                     max_batch_size=16)
            .equijoin(channels, comparison_prompt="Does {{ left.doc_id }} fit {{ right.channel }}?",
                      left_keys=["doc_id"], right_keys=["channel_id"],
                      blocking_conditions=["left.lang = right.lang"])
            .select("doc_id", "sentiment", "channel_id")
            .df
        )

    def expected(self, table_hash) -> dict:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW corpus AS SELECT * FROM '{self.corpus_path}'")
        con.execute(f"CREATE VIEW channels AS SELECT * FROM '{self.channels_path}'")
        out = {}
        for n, sql in ORACLE_SQL.items():
            res = con.execute(sql)
            out[n] = table_hash(res.fetchall(), [c[0] for c in res.description])
        return out


WORKLOADS = ("semantic_docs", "stateful_sf0.01")


def make(name: str, *, data_root: str, work_dir: str, seed: int, repo_root: str, smoke: bool = False):
    """The named workload; ``smoke`` swaps in sf0.001 tables and a
    60-document corpus for a fast end-to-end check of the harness."""
    if name == "stateful_sf0.01":
        return RegistryWorkload(STATEFUL, 0.001 if smoke else 0.01, data_root)
    if name == "semantic_docs":
        return SemanticWorkload(data_root, work_dir, seed, repo_root, n_docs=60 if smoke else SEMANTIC_DOCS)
    raise SystemExit(f"unknown workload {name!r}; choose one of {', '.join(WORKLOADS)}")
