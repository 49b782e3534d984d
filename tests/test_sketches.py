"""Misra–Gries candidate guarantee: the merged summary must contain every
item with global count > N/s, across skew patterns and partition layouts,
and ``heavy_hitters`` built on it must stay one JVM plan."""

from __future__ import annotations

import pytest
from _sparkjobs import jobs_run_by
from pyspark.sql import Row

from bytewax_iceberg_connector_spark.functions.sketches import (
    misra_gries_candidates,
)

#: executed-plan nodes that run rows through Python workers
_PYTHON_NODES = ("MapInPandas", "PythonUDF", "ArrowEvalPython",
                 "BatchEvalPython")


def _zipf_df(spark, n_items, n_rows, parts):
    # zipf-ish skew: item i drawn proportionally to 1/(i+1)
    rows = []
    i = 0
    while len(rows) < n_rows:
        for item in range(n_items):
            reps = max(1, n_items // (item + 1))
            rows.extend([Row(v=f"item_{item}")] * reps)
            if len(rows) >= n_rows:
                break
        i += 1
    return spark.createDataFrame(rows[:n_rows]).repartition(parts)


def _assert_superset(df, s):
    exact = {r.v: r["count"] for r in df.groupBy("v").count().collect()}
    n = sum(exact.values())
    cands = {r.v for r in misra_gries_candidates(df, "v", s=s).collect()}
    heavy = {k for k, c in exact.items() if c > n / s}
    assert heavy <= cands, (sorted(heavy - cands), s)
    return heavy


# 3 and 7: 1/s is inexact in floating point, and Spark sizes its counter
# map as int(1/support)
@pytest.mark.parametrize("s,parts", [(3, 2), (4, 2), (7, 4), (8, 4), (16, 8)])
def test_candidates_superset_of_heavy_items(spark, s, parts):
    _assert_superset(_zipf_df(spark, n_items=50, n_rows=5000, parts=parts), s)


@pytest.mark.parametrize("s", [8, 16, 32])
@pytest.mark.parametrize("per_key", [400, None])
def test_candidates_keep_heavy_items_spread_round_robin(spark, s, per_key):
    """Five heavy keys spread round-robin over 8 partitions, each holding
    far more distinct noise keys than counters, so every partial summary
    fills with noise and the heavy keys survive only through the merge.
    ``per_key=400`` is 2000 heavy rows; ``None`` puts each key one row
    above N/s, where the bound is tight."""
    noise = 8000
    per_key = per_key or noise // (s - 5) + 1
    rows = [Row(v=f"noise_{i}") for i in range(noise)]
    rows += [Row(v=f"heavy_{k}") for _ in range(per_key) for k in range(5)]
    heavy = _assert_superset(spark.createDataFrame(rows).repartition(8), s)
    if per_key * s > noise + 5 * per_key:
        assert heavy == {f"heavy_{k}" for k in range(5)}


def test_heavy_hitters_matches_plain_topk(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bytewax_iceberg_connector_spark.functions import text as X
    from bytewax_iceberg_connector_spark.plans.llm import heavy_hitters
    from bytewax_iceberg_connector_spark.sources.tables import load_table

    got = [(r.rnk, r.term, r.n) for r in heavy_hitters(spark, sf_dir).collect()]
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X.tokens("text")).alias("term"))
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    want = [
        (r.rnk, r.term, r.n)
        for r in toks.groupBy("term")
        .agg(F.count("*").alias("n"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where("rnk <= 10")
        .collect()
    ]
    assert got == sorted(want)


def test_heavy_hitters_builds_one_jvm_plan(spark, sf_dir):
    """The candidates are an aggregate inside the query's plan, not a
    driver-side scan, so building the frame runs no Spark job; and its
    executed plan holds no Python node, so running it starts no Python
    worker."""
    from bytewax_iceberg_connector_spark.plans.llm import heavy_hitters
    from bytewax_iceberg_connector_spark.sources.tables import load_table

    load_table(spark, sf_dir, "documents")  # infers and memoizes the schema
    built = []
    assert jobs_run_by(
        spark, lambda: built.append(heavy_hitters(spark, sf_dir))) == 0
    df = built[0]
    assert len(df.collect()) == 10
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not [n for n in _PYTHON_NODES if n in plan], plan
