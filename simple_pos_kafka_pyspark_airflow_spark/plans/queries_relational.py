"""Contract queries: projection / filter / scalar functions / aggregates /
sorts / set ops / windows (SURVEY.md §2.2, §2.3, §2.5, §2.6, §2.7, §2.8).

Every query names the reference operator it re-expresses and ships a DuckDB
oracle. See ``contract.py`` for the determinism rules (rounding, casts,
tiebreaks) that make the cross-engine value hashes match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators import aggregates as agg_ops
from ..operators import relational as rel
from ..operators import setops
from ..operators import windows as win_ops
from ..operators.order import topk
from .contract import register

# ---------------------------------------------------------------------------
# §2.1 scans
# ---------------------------------------------------------------------------


@register(
    "q_scan_parquet",
    "scan",
    oracle="SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem",
    notes="S3: warehouse table scan (reference JDBC scan POS_spark_dag.py:43-52)",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# §2.2 projection / filter / scalar expressions
# ---------------------------------------------------------------------------


@register(
    "q_project",
    "project",
    oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer",
    notes="P1: column projection (POS_spark_dag.py:387) — pruned at the parquet scan",
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


@register(
    "q_cast",
    "project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_linenumber AS VARCHAR) AS INTEGER) * 10 + 1 AS casted
    FROM lineitem
    """,
    notes="P2/F5: string<->int cast roundtrip + arithmetic (POS_spark_dag.py:98-104)",
)
def q_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_linenumber").cast("string").cast("int") * 10 + 1).alias("casted"),
    )


@register(
    "q_ts_parse",
    "function",
    oracle="""
    SELECT o_orderkey,
           strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS reparsed
    FROM orders
    """,
    notes="P3: timestamp format + re-parse (POS_spark_dag.py:99, 'yyyy-MM-dd HH:mm:ss')",
)
def q_ts_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return o.select(
        "o_orderkey",
        F.to_timestamp(F.date_format("o_orderdate", fmt), fmt).alias("reparsed"),
    )


@register(
    "q_derive_arith",
    "project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS revenue_cents
    FROM lineitem
    """,
    notes="P4: derived arithmetic column (kafka_producer.py:126 total_price = q*p). "
    "Canonicalized to floor-cents: ROUND(x, 2) is a cross-engine hazard (Spark "
    "rounds doubles HALF_UP, DuckDB half-even, diverging exactly at .xx5 ties) "
    "while FLOOR over the bit-identical IEEE product is deterministic on both.",
)
def q_derive_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("revenue_cents"),
    )


@register(
    "q_case_tiers",
    "project",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           ROUND(COALESCE(s.spend, 0), 2) AS lifetime_spend,
           CASE WHEN COALESCE(s.spend, 0) >= 100000 THEN 'Platinum'
                WHEN COALESCE(s.spend, 0) >= 50000  THEN 'Gold'
                WHEN COALESCE(s.spend, 0) >= 10000  THEN 'Silver'
                ELSE 'Bronze' END AS membership_level
    FROM customer c
    LEFT JOIN (SELECT o_custkey, SUM(o_totalprice) AS spend
               FROM orders GROUP BY o_custkey) s
      ON c.c_custkey = s.o_custkey
    """,
    notes=(
        "P6+P7+A1+J2: the reference's flagship membership-tier computation "
        "(POS_spark_dag.py:365-392) — agg, CASE tiers, left join, coalesce default"
    ),
)
def q_case_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    tiers = rel.membership_tiers(
        customers=table(spark, sf_dir, "customer"),
        orders=table(spark, sf_dir, "orders"),
        cust_key="c_custkey",
        order_cust_key="o_custkey",
        amount_col="o_totalprice",
    )
    return tiers.select(
        "c_custkey",
        "c_name",
        F.round("lifetime_spend", 2).alias("lifetime_spend"),
        "membership_level",
    )


@register(
    "q_coalesce",
    "project",
    oracle="""
    SELECT c.c_custkey, COALESCE(f.cnt, 0) AS n_orders
    FROM customer c
    LEFT JOIN (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM orders GROUP BY o_custkey) f
      ON c.c_custkey = f.o_custkey
    """,
    notes="P7/P8: null default after left join (POS_spark_dag.py:390,412)",
)
def q_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    freq = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("*").alias("cnt"))
    )
    return c.join(freq, "c_custkey", "left").select(
        "c_custkey", F.coalesce("cnt", F.lit(0)).alias("n_orders")
    )


@register(
    "q_filter_eq",
    "filter",
    oracle="SELECT * FROM lineitem WHERE l_linenumber = 1",
    notes="P9: equality filter / point lookup (kafka_consumer.py:114) — pushed to parquet",
)
def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)


@register(
    "q_filter_neq",
    "filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag
    FROM lineitem WHERE l_returnflag <> 'A'
    """,
    notes="P10: negation filter = reference delete-by-key (kafka_consumer.py:186)",
)
def q_filter_neq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") != "A")
        .select("l_orderkey", "l_linenumber", "l_returnflag")
    )


@register(
    "q_filter_date",
    "filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    """,
    notes=(
        "P11/S11: date-window filter — the reference's filename date games "
        "(kafka_producer.py:276-280, POS_spark_dag.py:55-63) as a WHERE clause "
        "that prunes partitions on date-partitioned storage"
    ),
)
def q_filter_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_shipdate")


@register(
    "q_filter_isin",
    "filter",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
    """,
    notes="P12: membership test (producer dedup guard kafka_producer.py:41-49)",
)
def q_filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select("c_custkey", "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# §2.3 scalar function surface
# ---------------------------------------------------------------------------


@register(
    "q_date_format",
    "function",
    oracle="SELECT o_orderkey, strftime(o_orderdate, '%Y%m%d') AS ymd FROM orders",
    notes="F1: date→'YYYYMMDD' (kafka_producer.py:34, daily file names)",
)
def q_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").select(
        "o_orderkey", F.date_format("o_orderdate", "yyyyMMdd").alias("ymd")
    )


@register(
    "q_substring_decode",
    "function",
    oracle="""
    SELECT c_custkey,
           CASE substr(c_mktsegment, 1, 1)
                WHEN 'A' THEN 'Vehicles'
                WHEN 'B' THEN 'Construction'
                WHEN 'F' THEN 'Home'
                WHEN 'H' THEN 'Home'
                WHEN 'M' THEN 'Industrial'
                ELSE 'Unknown' END AS segment_group
    FROM customer
    """,
    notes="F3: first-char decode dict (kafka_producer.py:70-79 product_id prefix → category)",
)
def q_substring_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    mapping = {
        "A": "Vehicles",
        "B": "Construction",
        "F": "Home",
        "H": "Home",
        "M": "Industrial",
    }
    return c.select(
        "c_custkey", rel.decode_prefix(F.col("c_mktsegment"), mapping).alias("segment_group")
    )


@register(
    "q_concat",
    "function",
    oracle="SELECT c_custkey, c_name || '#' || c_mktsegment AS tag FROM customer",
    notes="F4: string concat (filename/SQL-text building kafka_producer.py:35,38)",
)
def q_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "customer").select(
        "c_custkey", F.concat("c_name", F.lit("#"), "c_mktsegment").alias("tag")
    )


@register(
    "q_json_roundtrip",
    "function",
    oracle="SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k_val FROM events",
    notes="F6: JSON payload decode (kafka_consumer.py:17) via from_json with declared schema",
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.from_json("props", "k INT").getField("k").alias("k_val")
    )


@register(
    "q_clamp",
    "function",
    oracle="""
    SELECT event_id,
           CASE WHEN value IS NULL THEN NULL
                ELSE GREATEST(LEAST(value, 400.0), 10.0) END AS clamped
    FROM events
    """,
    notes="F7: bounded numeric input (streamlit min/max widgets "
    "kafka_producer.py:114-115). NULL propagates explicitly on both "
    "engines: bare least/greatest SKIP nulls and would fabricate the "
    "upper bound from a missing value",
)
def q_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events").select(
        "event_id", rel.clamp(F.col("value"), 10.0, 400.0).alias("clamped")
    )


# ---------------------------------------------------------------------------
# §2.5 aggregations
# ---------------------------------------------------------------------------


@register(
    "q_agg_sum",
    "agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    notes="A1: groupBy-sum (POS_spark_dag.py:375-376) — partial agg map-side, one shuffle",
)
def q_agg_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc"),
        F.count("*").alias("n"),
    )


@register(
    "q_agg_count",
    "agg",
    oracle="""
    SELECT o_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS purchase_frequency
    FROM orders GROUP BY o_custkey
    """,
    notes="A2: groupBy-count purchase frequency (POS_spark_dag.py:405-406)",
)
def q_agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("o_orderkey").alias("purchase_frequency"))
    )


@register(
    "q_agg_global",
    "agg",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
    FROM orders
    """,
    notes="A3/A4: global count + exact distinct (emptiness gates POS_spark_dag.py:369,399; "
    "df.isEmpty() replaces the reference's rdd.isEmpty() anti-pattern)",
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n"), F.countDistinct("o_custkey").alias("n_cust")
    )


@register(
    "q_distinct",
    "agg",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    notes="A5: SELECT DISTINCT (dropDuplicates, POS_spark_dag.py:96,310)",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "q_dropna",
    "agg",
    oracle="""
    SELECT c.c_custkey, ROUND(s.spend, 2) AS spend
    FROM customer c
    JOIN (SELECT o_custkey, SUM(o_totalprice) AS spend FROM orders GROUP BY o_custkey) s
      ON c.c_custkey = s.o_custkey
    """,
    notes="A6: dropna (POS_spark_dag.py:96) — left join then na.drop ≡ inner join",
)
def q_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    spend = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.sum("o_totalprice").alias("spend"))
    )
    joined = c.join(spend, "c_custkey", "left").na.drop(subset=["spend"])
    return joined.select("c_custkey", F.round("spend", 2).alias("spend"))


@register(
    "q_agg_max_seq",
    "agg",
    oracle="""
    SELECT c_custkey,
           CAST((SELECT MAX(o_orderkey) FROM orders)
                + ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT) AS new_id
    FROM customer
    """,
    notes="A7: monotonic id sequence (kafka_consumer.py:56-79 tracker file) as "
    "max() + row_number over deterministic order",
)
def q_agg_max_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return agg_ops.assign_sequence(
        c, o, existing_id="o_orderkey", order_by=["c_custkey"], out="new_id"
    ).select("c_custkey", "new_id")


@register(
    "q_rollup",
    "agg",
    oracle="""
    SELECT r_name, n_name, ROUND(SUM(c_acctbal), 2) AS acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
    notes="extension (SURVEY §2.5 note): hierarchical rollup region ⊃ nation",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(F.round(F.sum("c_acctbal"), 2).alias("acctbal"))


@register(
    "q_approx_distinct",
    "agg",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
           CAST(1 AS INTEGER) AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    notes="extension: approx_count_distinct (HyperLogLog++) — the 100 TB substitute "
    "for exact COUNT(DISTINCT): mergeable O(registers) sketch per group vs an "
    "exact distinct's full shuffle of the key column. Self-certifying form "
    "(same pattern as q_approx_percentile): the HLL estimate is "
    "engine-specific, so the query emits the EXACT per-group distinct count "
    "(hash-comparable) plus an in-plan bound bit |approx−exact| ≤ 2%·exact "
    "at rsd=0.01; the oracle asserts the bit is 1, certifying the sketch's "
    "accuracy claim rather than its internals. HLL is hash-deterministic, so "
    "the bit is stable run-to-run",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    exact = F.count_distinct("l_partkey")
    approx = F.approx_count_distinct("l_partkey", rsd=0.01)
    return li.groupBy("l_returnflag").agg(
        exact.alias("n_parts_exact"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= F.lit(0.02) * exact.cast("double")
        )
        .cast("int")
        .alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / top-k
# ---------------------------------------------------------------------------


@register(
    "q_sort",
    "sort",
    oracle="SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey",
    notes="O1: ORDER BY key (POS_spark_dag.py:155; kafka_consumer.py:103)",
)
def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice").orderBy(
        "o_orderkey"
    )


@register(
    "q_topk",
    "sort",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 5
    """,
    notes="O2: top-k latest-sales display (kafka_producer.py:151) — "
    "TakeOrderedAndProject, unique-key tiebreak for determinism",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return topk(o, 5, F.col("o_totalprice").desc(), F.col("o_orderkey"))


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------


@register(
    "q_union_all",
    "setop",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
    """,
    notes="U1/U2: loop-fold union (POS_spark_dag.py:149-152) as one unionByName",
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return setops.union_all(
        o.where(F.col("o_orderstatus") == "F"), o.where(F.col("o_orderstatus") == "O")
    )


@register(
    "q_except",
    "setop",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    notes="extension (SURVEY §2.7 note): EXCEPT — J1's delete-detection as a "
    "set op. Right side filtered to urgent orders so the difference is "
    "non-empty on the testdata (an unfiltered EXCEPT is vacuously 0 rows)",
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.subtract(o)


@register(
    "q_intersect",
    "setop",
    oracle="""
    SELECT c_custkey FROM customer
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    """,
    notes="extension (SURVEY §2.7 note): INTERSECT",
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.intersect(o)


# ---------------------------------------------------------------------------
# §2.8 window functions (extensions; SURVEY.md)
# ---------------------------------------------------------------------------


@register(
    "q_window_rank",
    "window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
    FROM orders QUALIFY rn <= 3
    """,
    notes="§2.8: per-customer top-3 orders by value (window rank)",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    ranked = win_ops.ranked(
        o, "o_custkey", [F.col("o_totalprice").desc(), F.col("o_orderkey")], out="rn"
    )
    return ranked.where(F.col("rn") <= 3).select("o_custkey", "o_orderkey", "rn")


@register(
    "q_window_running",
    "window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
    FROM orders
    """,
    notes="§2.8: running revenue per customer in order-date order",
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    run = win_ops.running(
        o,
        "o_custkey",
        [F.col("o_orderdate"), F.col("o_orderkey")],
        value="o_totalprice",
        out="running",
    )
    return run.select("o_custkey", "o_orderkey", F.round("running", 2).alias("running"))


@register(
    "q_window_lag",
    "window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                          LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                                 ORDER BY o_orderdate, o_orderkey),
                          o_orderdate) AS INTEGER) AS gap_days
    FROM orders
    """,
    notes="§2.8: inter-purchase gap via lag()",
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    lagged = win_ops.lagged(
        o,
        "o_custkey",
        [F.col("o_orderdate"), F.col("o_orderkey")],
        value="o_orderdate",
        out="prev_date",
    )
    return lagged.select(
        "o_custkey",
        "o_orderkey",
        F.datediff("o_orderdate", "prev_date").cast("int").alias("gap_days"),
    )


@register(
    "q_sql_surface",
    "scan",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
    notes="extension: the PURE-SQL surface — catalog.register_views "
    "publishes every table as a temp view and the whole query is one "
    "spark.sql() string (the entry point a reference user writing SQL "
    "against Postgres reaches for first). Views are named plans over "
    "table(), so schemas/timestamp normalization/pushdown are identical "
    "to the DataFrame path; Catalyst plans the SQL text and the "
    "DataFrame API into the same physical shapes",
)
def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        SELECT c.c_mktsegment,
               CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        GROUP BY 1
        """
    )
