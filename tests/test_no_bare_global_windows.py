"""Source lint: no bare partitionless windows anywhere in the package.

WindowExec's "No Partition Defined" warning is this repo's tripwire for
real single-partition scale bugs — it exposed the r9 auc/ks/
weighted_quantiles global-cumsum one. For the warning to stay a HARD
signal, the benign global windows (post-limit rank stamps, source-
cardinality plan tables) must not emit it either, so every global
window in the package routes through one of the two explicit postures:

- stats.bounded_global_window — frames bounded BY CONTRACT (top-N,
  plan tables); physically the same one-partition window, silent.
- stats.prefix_scan — row-cardinality frames; distributed
  range-partitioned, never one partition.

A bare ``W.partitionBy()`` / ``W.orderBy(...)`` window spec in package
code means someone has re-introduced the warning (or worse, an actual
scale hazard) — this test names the file and line. (r9 VERDICT ask #4.)
"""

import io
import pathlib
import re
import tokenize

PKG = pathlib.Path(__file__).resolve().parent.parent / "docetl_spark"

# A window spec built straight off the Window class with no partition
# key: `W.orderBy(` (ordered global), `W.partitionBy()` with EMPTY
# parens, or `W.partitionBy(F.lit(...))` — a LITERAL key constant-folds
# to an empty spec and warns identically (the chi_square_bp regression).
# `somevar.orderBy(` (chaining onto a partitioned spec) and
# `W.partitionBy(cols...)` stay legal.
BARE = re.compile(
    r"\b(?:W|Window)\s*\.\s*(?:orderBy\s*\(|partitionBy\s*\(\s*\)"
    r"|partitionBy\s*\(\s*F\s*\.\s*lit\s*\()"
)


def _code_only(source: str) -> list[tuple[int, str]]:
    """(line_no, code) with comments and string literals (docstrings)
    blanked out, so prose mentioning the forbidden idiom doesn't trip."""
    out: dict[int, list[str]] = {}
    toks = tokenize.generate_tokens(io.StringIO(source).readline)
    for tok in toks:
        if tok.type in (tokenize.COMMENT, tokenize.NL):
            continue
        if tok.type == tokenize.STRING:
            # a string ARGUMENT must stay an argument (partitionBy("k")
            # is partitioned, not bare) — only its prose is dropped
            out.setdefault(tok.start[0], []).append("'s'")
            continue
        if tok.start[0] == tok.end[0]:
            out.setdefault(tok.start[0], []).append(tok.string)
    return [(ln, " ".join(parts)) for ln, parts in out.items()]


def test_no_bare_global_window_specs_in_package():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        for ln, code in _code_only(path.read_text()):
            if BARE.search(code):
                offenders.append(f"{path.relative_to(PKG.parent)}:{ln}: {code.strip()}")
    assert not offenders, (
        "bare global window spec(s) — route bounded-by-contract frames "
        "through stats.bounded_global_window and row-cardinality frames "
        "through stats.prefix_scan:\n" + "\n".join(offenders)
    )


def test_runtime_global_paths_have_no_empty_window_spec():
    """The lint above is syntactic — `W.partitionBy(*part)` with a
    runtime-empty `part` slips through (the events_lift/events_benford
    bench-log finding: 34 warnings from exactly this shape). Pin the
    two repaired global paths: no Window node with an empty partition
    spec in their physical plans."""
    from pyspark.sql import SparkSession

    from docetl_spark.functions.stats import benford_profile, lift_table

    spark = SparkSession.builder.getOrCreate()
    df = spark.createDataFrame(
        [(float(i * 7 % 97 + 1), i % 2, i) for i in range(1, 60)],
        "v double, l int, id int")
    for out in (
        benford_profile(df, "v"),
        lift_table(df, "v", "l", buckets=3, tiebreak=["id"]),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        bare = re.findall(r"Window \[[^\]]*\], \[\]", plan)
        assert not bare, f"empty window partition spec:\n{plan}"


def test_bounded_global_window_is_one_partition_and_silent():
    """The helper's contract: same result as a bare global window, and
    the physical plan's Window node carries a NON-empty partition spec
    (that emptiness is exactly what triggers the executor warning)."""
    from pyspark.sql import SparkSession, functions as F

    from docetl_spark.functions.stats import bounded_global_window

    spark = SparkSession.builder.getOrCreate()
    df = spark.range(50).withColumn("v", F.col("id") % 7)
    w = bounded_global_window("id", F.col("v").asc(), F.col("id").asc())
    out = df.withColumn("rn", F.row_number().over(w))
    rows = {r["id"]: r["rn"] for r in out.collect()}
    assert sorted(rows.values()) == list(range(1, 51))  # one global sequence
    # id 0 has v=0 and smallest id -> global rank 1
    assert rows[0] == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"Window \[.*?\], \[(.*?)\], \[", plan)
    assert m and m.group(1).strip(), f"empty window partition spec in:\n{plan}"
