"""Pins for the scale-safe global-rank path (operators/order.py).

``distributed_total_rank`` + ``ntile_from_rank`` must be ROW-IDENTICAL
to the unpartitioned-window forms they replace (``ntile(n) OVER (ORDER
BY x, key)``, ``SUM(x) OVER (ORDER BY x DESC, key)``) — including ties
that straddle tile boundaries, negative values, and tiny frames where
N < n. The window forms are the semantic ground truth; the ranked form
is the one that survives 100 TB (no single-partition sort)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from simple_pos_kafka_pyspark_airflow_spark.operators.order import (
    distributed_total_rank,
    ntile_from_rank,
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "key int, x long")


# Heavy ties (x in a 3-value lattice), negatives, singleton, N < n.
CASES = [
    [(i, (i * 7919) % 23 - 11) for i in range(500)],  # spread w/ negatives
    [(i, (i % 3) * 10) for i in range(101)],  # heavy ties straddling bounds
    [(i, 42) for i in range(50)],  # all-tied single value
    [(1, 5)],  # singleton
    [(i, i) for i in range(3)],  # N < n for ntile(5/10)
]


@pytest.mark.parametrize("rows", CASES, ids=["spread", "ties", "alltied", "one", "tiny"])
@pytest.mark.parametrize("desc", [False, True], ids=["asc", "desc"])
def test_rank_and_cum_match_window(spark, rows, desc):
    df = _frame(spark, rows)
    order = [F.col("x").desc() if desc else F.col("x").asc(), F.col("key").asc()]
    w = Window.orderBy(*order)
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expect = {
        r["key"]: (r["rn"], r["cs"])
        for r in df.select(
            "key",
            F.row_number().over(w).cast("long").alias("rn"),
            F.sum("x").over(wr).cast("long").alias("cs"),
        ).collect()
    }
    got = distributed_total_rank(
        df, F.col("x"), F.col("key"), descending=desc, n_buckets=7
    )
    for r in got.collect():
        assert (r["rank"], r["cum"]) == expect[r["key"]], r
    one = got.select("n_total", "x_total").distinct().collect()
    assert len(one) == 1
    assert one[0]["n_total"] == len(rows)
    assert one[0]["x_total"] == sum(x for _, x in rows)


@pytest.mark.parametrize("rows", CASES, ids=["spread", "ties", "alltied", "one", "tiny"])
@pytest.mark.parametrize("n", [5, 10])
def test_ntile_matches_builtin(spark, rows, n):
    df = _frame(spark, rows)
    w = Window.orderBy(F.col("x").desc(), F.col("key").asc())
    expect = {
        r["key"]: r["t"]
        for r in df.select("key", F.ntile(n).over(w).alias("t")).collect()
    }
    got = distributed_total_rank(
        df, F.col("x"), F.col("key"), descending=True, n_buckets=7
    ).select("key", ntile_from_rank(F.col("rank"), F.col("n_total"), n).alias("t"))
    for r in got.collect():
        assert r["t"] == expect[r["key"]], r


def test_no_unpartitioned_fact_sort(spark):
    """The plan's only global-ordered window runs over the bucket-totals
    frame, whose input partitioning is the tiny groupBy('__b') exchange —
    never over the fact. Pin: every Sort in the optimized plan that is
    non-partial (global) sits above a single-partition exchange of an
    aggregate, and the fact-side window sorts are all partitioned
    (sort keys include __b or __o partition columns)."""
    df = _frame(spark, [(i, (i * 13) % 97) for i in range(1000)])
    got = distributed_total_rank(df, F.col("x"), F.col("key"), n_buckets=16)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # An ntile-style layout would show 'Exchange SinglePartition' feeding
    # a Sort/Window over the raw fact. Here every SinglePartition exchange
    # must sit directly above a HashAggregate (1-row bounds/totals, or the
    # ≤ n_buckets bucket-totals keyed by __b) — bounded rows, never the fact.
    lines = plan.splitlines()
    single_sites = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    assert single_sites, "expected the bounded bucket-totals exchange"
    for i in single_sites:
        assert "HashAggregate" in lines[i + 1], "\n".join(lines[i : i + 3])


def test_grouped_mode_matches_per_group_window(spark):
    """group_cols: ranks restart per group and equal the partitioned
    window forms exactly (this is the melt path q_seg_rfm rides)."""
    rows = [(g, i, (i * 31 + g * 7) % 13 - 6) for g in range(3) for i in range(120)]
    df = spark.createDataFrame(rows, "g int, key int, x long")
    w = Window.partitionBy("g").orderBy(F.col("x").asc(), F.col("key").asc())
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expect = {
        (r["g"], r["key"]): (r["rn"], r["cs"])
        for r in df.select(
            "g",
            "key",
            F.row_number().over(w).cast("long").alias("rn"),
            F.sum("x").over(wr).cast("long").alias("cs"),
        ).collect()
    }
    got = distributed_total_rank(
        df, F.col("x"), F.col("key"), n_buckets=5, group_cols=["g"]
    )
    for r in got.collect():
        assert (r["rank"], r["cum"]) == expect[(r["g"], r["key"])], r
        assert r["n_total"] == 120

    # grouped mode: NO single-partition exchange anywhere in the plan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


@pytest.mark.parametrize("desc", [False, True], ids=["asc", "desc"])
def test_null_x_ranked_like_window(spark, desc):
    """NULL x rows rank exactly where the window forms put them (r12,
    ADVICE — they used to DROP through the null-unsafe join-back):
    Spark default null ordering, NULLS FIRST asc / NULLS LAST desc;
    NULLs contribute 0 to cum/x_total, count in rank/n_total. One
    pinned divergence: cum is 0 (not SQL's empty-frame NULL) for rows
    before the first non-null x."""
    rows = [(i, None if i % 5 == 0 else (i * 7919) % 23 - 11) for i in range(200)]
    df = _frame(spark, rows)
    order = [F.col("x").desc() if desc else F.col("x").asc(), F.col("key").asc()]
    w = Window.orderBy(*order)
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expect = {
        r["key"]: (r["rn"], r["cs"])
        for r in df.select(
            "key",
            F.row_number().over(w).cast("long").alias("rn"),
            F.coalesce(F.sum("x").over(wr), F.lit(0)).cast("long").alias("cs"),
        ).collect()
    }
    got = distributed_total_rank(
        df, F.col("x"), F.col("key"), descending=desc, n_buckets=7
    )
    out = got.collect()
    assert len(out) == len(rows)  # nothing dropped
    for r in out:
        assert (r["rank"], r["cum"]) == expect[r["key"]], r
    one = got.select("n_total", "x_total").distinct().collect()
    assert len(one) == 1
    assert one[0]["n_total"] == len(rows)
    assert one[0]["x_total"] == sum(x for _, x in rows if x is not None)
