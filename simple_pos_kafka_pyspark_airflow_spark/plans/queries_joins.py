"""Contract queries: joins, upsert/CDC semantics, and file sources/sinks
(SURVEY.md §2.1, §2.2 P5/P13, §2.4, and M3's upsert kernel).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..catalog import table
from ..operators import joins as join_ops
from ..operators import upsert as upsert_ops
from .contract import register

# ---------------------------------------------------------------------------
# §2.4 joins
# ---------------------------------------------------------------------------


@register(
    "q_join_left_anti",
    "join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    notes="J1: left-anti = CDC delete detection (POS_spark_dag.py:155,235,319). "
    "The probe side is filtered to urgent orders so the result is non-empty "
    "on the testdata (every customer has SOME order — an unfiltered anti "
    "returns 0 rows, which any wrong plan could also produce)",
)
def q_join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return join_ops.anti_by_key(c, o, "c_custkey").select("c_custkey", "c_name")


@register(
    "q_join_left",
    "join",
    oracle="""
    SELECT c.c_custkey, ROUND(s.spend, 2) AS spend
    FROM customer c
    LEFT JOIN (SELECT o_custkey, SUM(o_totalprice) AS spend
               FROM orders GROUP BY o_custkey) s
      ON c.c_custkey = s.o_custkey
    """,
    notes="J2: left join attaching computed attribute (POS_spark_dag.py:387,409); "
    "unmatched rows keep NULL (q_coalesce covers the defaulted variant)",
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    spend = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.sum("o_totalprice").alias("spend"))
    )
    return c.join(spend, "c_custkey", "left").select(
        "c_custkey", F.round("spend", 2).alias("spend")
    )


@register(
    "q_join_semi",
    "join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    notes="J3: semi join = producer existence check (kafka_producer.py:41-58)",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return join_ops.semi_by_key(c, o, "c_custkey").select("c_custkey", "c_name")


@register(
    "q_join_inner",
    "join",
    oracle="""
    SELECT l_orderkey, l_linenumber, c.c_custkey, c.c_name, l_extendedprice
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer c ON o_custkey = c_custkey
    """,
    notes="J4: 3-way inner join fact⋈fact⋈dim (key lookups kafka_consumer.py:114-116); "
    "shuffle on l_orderkey then o_custkey — at 100 TB co-partition lineitem/orders "
    "by orderkey buckets to remove the first exchange",
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("l_orderkey", "l_linenumber", "c_custkey", "c_name", "l_extendedprice")
    )


@register(
    "q_join_broadcast",
    "join",
    oracle="""
    SELECT r_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    notes="J5: fact ⋈ broadcast(dims) — the 7-entry category dict pattern "
    "(kafka_consumer.py:41-49); explicit F.broadcast on supplier/nation/region "
    "keeps the 100 TB fact shuffle-free until the final 5-group agg",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    dim = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "r_name")
    )
    joined = join_ops.broadcast_dim(li, dim, on=[li.l_suppkey == dim.s_suppkey])
    return joined.groupBy("r_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@register(
    "q_filter_theta",
    "join",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, p_size
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_quantity > p_size
    """,
    notes="P13: equi-join + theta predicate on joined columns — the stock-sufficiency "
    "check quantity > stock_level (kafka_producer.py:69-85)",
)
def q_filter_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    out = join_ops.theta_filter_join(
        li, p, on=[li.l_partkey == p.p_partkey], predicate=F.col("l_quantity") > F.col("p_size")
    )
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "p_size")


@register(
    "q_stock_decrement",
    "join",
    oracle="""
    SELECT p.p_partkey,
           ROUND(CAST(p.p_size AS DOUBLE) - COALESCE(s.qty, 0), 2) AS stock_after
    FROM part p
    LEFT JOIN (SELECT l_partkey, SUM(l_quantity) AS qty
               FROM lineitem GROUP BY l_partkey) s
      ON p.p_partkey = s.l_partkey
    """,
    notes="P5: running stock decrement (kafka_consumer.py:111-117) as "
    "pre-aggregated join + subtraction (p_size stands in for stock_level)",
)
def q_stock_decrement(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    sold = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum("l_quantity").alias("qty"))
    )
    return p.join(sold, "p_partkey", "left").select(
        "p_partkey",
        F.round(
            F.col("p_size").cast("double") - F.coalesce("qty", F.lit(0.0)), 2
        ).alias("stock_after"),
    )


@register(
    "q_join_theta",
    "join",
    oracle="""
    SELECT e.event_id AS err_id, CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks
    FROM events e
    LEFT JOIN events c
      ON c.user_id = e.user_id AND c.event_type = 'click'
     AND c.ts >= e.ts AND c.ts < e.ts + INTERVAL 6 HOUR
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    """,
    notes="extension, not reference-derived (SURVEY §2.4 note): time-range join — "
    "clicks within 6h after each error, same user. Implemented as bucketed "
    "equi-join (operators/joins.range_join_bucketed), not BroadcastNestedLoop: "
    "O(n) shuffle on (bucket,user) instead of O(n·m) comparisons",
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("user_id").alias("err_user"), F.col("ts").alias("err_ts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("click_user"), F.col("ts").alias("click_ts")
    )
    paired = join_ops.range_join_bucketed(
        errors,
        clicks,
        left_ts="err_ts",
        right_ts="click_ts",
        window="6 hours",
        bucket="6 hours",
        how="left",
        equi=[("err_user", "click_user")],
    )
    return paired.groupBy("err_id").agg(F.count("click_id").alias("n_clicks"))


# ---------------------------------------------------------------------------
# M3: upsert / delete-by-absence semantics (S7/S8)
# ---------------------------------------------------------------------------


@register(
    "q_upsert_semantics",
    "upsert",
    oracle="""
    SELECT c_custkey,
           ROUND(CASE WHEN c_custkey % 10 < 3 THEN c_acctbal + 100 ELSE c_acctbal END, 2)
               AS c_acctbal,
           CASE WHEN c_custkey % 10 < 3 THEN 'updated' ELSE 'unchanged' END AS row_state
    FROM customer
    """,
    notes="S8: keyed upsert (POS_spark_dag.py:170-193 ON CONFLICT DO UPDATE) in pure "
    "Spark: new ∪ (old ⟕anti_pk new) — no driver collect, one pk shuffle",
)
def q_upsert_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    old = table(spark, sf_dir, "customer").withColumn("row_state", F.lit("unchanged"))
    new = (
        old.where(F.col("c_custkey") % 10 < 3)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100)
        .withColumn("row_state", F.lit("updated"))
    )
    merged = upsert_ops.merge_delta(old, new, pk="c_custkey")
    return merged.select(
        "c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"), "row_state"
    )


# ---------------------------------------------------------------------------
# §2.1 file sources / sinks (S1/S2/S6/S9)
# ---------------------------------------------------------------------------


def _workdir(*parts: str) -> str:
    """Scratch dir for sink round-trips (driver may run with any cwd)."""
    root = os.path.join(tempfile.gettempdir(), "spark_graft_scratch", *parts)
    os.makedirs(root, exist_ok=True)
    return root


@register(
    "q_scan_csv",
    "scan",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l_linenumber) AS BIGINT) AS sum_line
    FROM lineitem GROUP BY l_returnflag
    """,
    notes="S1/S2/S9: CSV sink + scan with explicit schema (no inferSchema — "
    "SURVEY §4 anti-pattern 3). Derives a CSV from lineitem (testdata is parquet), "
    "reads it back typed, aggregates; int/string columns only so the roundtrip "
    "is lossless (reference: POS_spark_dag.py:90,143-146)",
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _workdir("scan_csv", os.path.basename(sf_dir.rstrip("/")))
    src = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag")
    src.write.mode("overwrite").option("header", True).csv(path)
    schema = "l_orderkey LONG, l_linenumber INT, l_returnflag STRING"
    df = spark.read.schema(schema).option("header", True).csv(path)
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.sum("l_linenumber").alias("sum_line")
    )


@register(
    "q_sink_append",
    "scan",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders WHERE o_orderstatus IN ('F', 'O')
    GROUP BY o_orderstatus
    """,
    notes="S6: append sink then re-scan (POS_spark_dag.py:109-117 JDBC append → "
    "parquet append): overwrite with 'F' rows, append 'O' rows, read back",
)
def q_sink_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _workdir("sink_append", os.path.basename(sf_dir.rstrip("/")))
    o = table(spark, sf_dir, "orders")
    o.where(F.col("o_orderstatus") == "F").write.mode("overwrite").parquet(path)
    o.where(F.col("o_orderstatus") == "O").write.mode("append").parquet(path)
    df = spark.read.schema(schemas.ORDERS).parquet(path)
    return df.groupBy("o_orderstatus").agg(F.count("*").alias("n"))


@register(
    "q_scan_statefiles",
    "scan",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS file_year,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01'
    GROUP BY 1
    """,
    notes="S10/S11 under the driver surface: the Spark 4 Python "
    "DataSource over the reference's CSV state-file layout "
    "(sources/pydatasource.py; kafka_consumer.py:82-83's "
    "sales_YYYYMMDD.csv files). Derives one state file per order-YEAR "
    "from the orders table (idempotent per sf_dir — written once, "
    "EXECUTOR-side via write_state_files_distributed: rows never "
    "funnel through the driver), scans it via "
    "format('pos_statefiles'), and filters file_date >= 1997 so the "
    "pushFilters file prune engages (plan-shape pinned in "
    "tests/test_sources.py — only matching files open). Runs on ANY "
    "session: register_pos_sources flips the runtime conf "
    "spark.sql.python.filterPushdown.enabled on, and if that cannot "
    "stick the scan degrades to the pushdown-free reader instead of "
    "hard-erroring (VERDICT r7 item 1). Values are a full oracle: "
    "repr() floats round-trip the exact double, and ROUND(sum,2) sits "
    "on the cent lattice per contract.py's rules",
)
def q_scan_statefiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import pydatasource

    path = _workdir("statefiles", os.path.basename(sf_dir.rstrip("/")))
    marker = os.path.join(path, "_complete")
    if not os.path.exists(marker):
        src = table(spark, sf_dir, "orders").select(
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_totalprice"),
            F.date_trunc("year", F.col("o_orderdate")).cast("date").alias("fd"),
        )
        pydatasource.write_state_files_distributed(src, path)
        with open(marker, "w") as f:
            f.write("ok")
    pushdown_ok = pydatasource.register_pos_sources(spark)
    reader = spark.read.format("pos_statefiles").option("path", path)
    if not pushdown_ok:
        reader = reader.option("pushdown", "false")
    df = reader.load().where(F.col("file_date") >= F.lit("1997-01-01").cast("date"))
    # group key is year(file_date) AS INT, not the DATE itself: Spark
    # hands DATE back as datetime.date while DuckDB->pandas yields
    # Timestamp — a hash-compare footgun with zero information gain here
    return df.groupBy(F.year("file_date").cast("int").alias("file_year")).agg(
        F.count("*").alias("n"),
        F.sum("customer_id").alias("sum_cust"),
        F.round(F.sum("total_price"), 2).alias("sum_price"),
    )


@register(
    "q_scan_binaryfile",
    "scan",
    oracle="""
    SELECT n_name,
           CAST(length(n_name || ':' || CAST(n_nationkey AS VARCHAR)) AS BIGINT)
             AS n_bytes,
           CAST(1 AS INTEGER) AS content_ok
    FROM nation
    """,
    notes="the multimodal INGEST EDGE: Spark's native binaryFile source "
    "over a directory of opaque asset blobs — the path every "
    "image/audio/video corpus takes into the engine before the "
    "llm/multimodal decode stages (which start from an already-landed "
    "binary column). One fixture file per nation (name:key bytes, "
    "written once per sf_dir), scanned as (path, modificationTime, "
    "length, content); the query verifies BOTH the metadata length and "
    "the content bytes against the oracle's arithmetic (content_ok: "
    "decoded payload == name:key string), proving the scan delivered "
    "exact bytes, not just file stats. At 100 TB this source partitions "
    "per-file like any file scan and binds maxPartitionBytes; decode "
    "stays in mapInPandas downstream",
)
def q_scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _workdir("binassets", os.path.basename(sf_dir.rstrip("/")))
    marker = os.path.join(path, "_complete")
    if not os.path.exists(marker):
        for r in table(spark, sf_dir, "nation").select("n_name", "n_nationkey").collect():
            fname = f"{r['n_name']}__{r['n_nationkey']}.bin"
            with open(os.path.join(path, fname), "wb") as f:
                f.write(f"{r['n_name']}:{r['n_nationkey']}".encode())
        with open(marker, "w") as f:
            f.write("ok")
    df = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(path)
    name = F.regexp_extract(F.col("path"), r"([^/]+)__\d+\.bin$", 1)
    key = F.regexp_extract(F.col("path"), r"__(\d+)\.bin$", 1)
    expected = F.concat(name, F.lit(":"), key)
    return df.select(
        name.alias("n_name"),
        F.length(F.col("content")).cast("long").alias("n_bytes"),
        # non-circular: expected bytes rebuilt from the PATH alone must
        # equal the content the scan delivered, and the source's metadata
        # length must equal the content's true byte count
        (
            (F.col("content").cast("string") == expected)
            & (F.col("length") == F.length(F.col("content")))
        )
        .cast("int")
        .alias("content_ok"),
    )


@register(
    "q_sink_daily_overwrite",
    "scan",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
    FROM orders GROUP BY 1
    """,
    notes="the reference's daily 22:00 sales re-export "
    "(POS_spark_dag.py:438-465) as an IDEMPOTENT partitioned sink: full "
    "export partitioned by order year, then the latest year re-exported "
    "through dynamic partition-overwrite "
    "(sources/io.write_partition_overwrite — only partitions present in "
    "the frame are replaced; static overwrite would truncate the table, "
    "the classic rerun-erases-history incident). Read-back aggregate "
    "equals the plain orders aggregate — a rerun neither loses other "
    "years nor duplicates the rewritten one. Partition-level no-touch "
    "behavior is pinned file-by-file in tests/test_sources.py",
)
def q_sink_daily_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import write_partition_overwrite

    path = _workdir("daily_overwrite", os.path.basename(sf_dir.rstrip("/")))
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.year("o_orderdate").cast("int").alias("o_year"),
    )
    # full export (first run of the pipeline)
    write_partition_overwrite(o, path, ["o_year"])
    # the daily rerun: re-derive and re-write ONLY the latest year —
    # dynamic mode must leave every other year's partition alone
    last_year = o.agg(F.max("o_year")).first()[0]
    write_partition_overwrite(o.where(F.col("o_year") == last_year), path, ["o_year"])
    df = spark.read.parquet(path)
    return df.groupBy("o_year").agg(
        F.count("*").alias("n"), F.sum("o_custkey").alias("sum_cust")
    )


def bucketed_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zero-exchange bucketed equi-join (plan-pinned in
    tests/test_plans.py): lineitem and orders written ONCE as managed
    tables bucketed 8-ways on the order key (sources/io.
    write_bucketed_table — hash-partitioned + sorted at write), then
    merge-joined. Neither side shuffles: the write paid the exchange
    once, every later join/agg on the key amortizes it — the 100 TB
    fact-to-fact join strategy (a 100 TB lineitem re-shuffled per query
    is the single largest avoidable cost in the TPC-H suite). The merge
    hint keeps tiny test tables off the broadcast path so the contract
    exercises the bucketed plan itself."""
    sf = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    li_tbl, o_tbl = f"bkt_lineitem_{sf}", f"bkt_orders_{sf}"
    if not (spark.catalog.tableExists(li_tbl) and spark.catalog.tableExists(o_tbl)):
        from ..sources.io import write_bucketed_table

        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
        # external tables at an explicit scratch location: the catalog is
        # session-scoped but the filesystem isn't — a managed table left
        # behind by a dead session would refuse recreation
        root = _workdir("bucketed", sf)
        write_bucketed_table(
            li, li_tbl, "l_orderkey", n_buckets=8, path=os.path.join(root, "lineitem")
        )
        write_bucketed_table(
            o.withColumnRenamed("o_orderkey", "l_orderkey"),
            o_tbl,
            "l_orderkey",
            n_buckets=8,
            path=os.path.join(root, "orders"),
        )
    return spark.table(li_tbl).hint("merge").join(spark.table(o_tbl), "l_orderkey")


@register(
    "q_join_bucketed",
    "join",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
    notes="§2.4 ext: bucketed co-located join — both fact tables bucketed "
    "8-ways on the order key at write (sources/io.write_bucketed_table), "
    "then merge-joined with ZERO exchange below the join (plan pinned in "
    "tests/test_plans.py::test_join_bucketed_zero_exchange). The bucket "
    "write happens once per sf_dir (tableExists guard); values are a "
    "full oracle (counts, integer quantity sum, cent-lattice price sum). "
    "The reference's per-category CSV files (kafka_consumer.py:204) are "
    "a hand-rolled version of this layout",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = bucketed_join_frame(spark, sf_dir)
    return j.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@register(
    "q_interval_join",
    "join",
    oracle="""
    SELECT a.user_id,
           CAST(a.event_id AS BIGINT) AS click_id,
           CAST(b.event_id AS BIGINT) AS purchase_id
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 10 MINUTE
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    ORDER BY a.user_id, click_id, purchase_id
    """,
    notes="extension: the stream-stream interval-join kernel "
    "(streaming/joins.interval_join) verified in batch mode — click → "
    "purchase attribution within 10 minutes per user. On a live stream the "
    "same plan runs with watermarks bounding both sides' state; here the "
    "time bound is a theta predicate beside the user_id equi-key, so the "
    "join stays a hash join with a residual range filter, never a "
    "cartesian",
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import joins as stream_joins

    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("r_event_id"), "ts"
    )
    out = stream_joins.interval_join(
        clicks, buys, ["user_id"], "ts", "ts", lower="0 seconds", upper="10 minutes"
    )
    return (
        out.select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("r_event_id").alias("purchase_id"),
        )
        .orderBy("user_id", "click_id", "purchase_id")
    )


@register(
    "q_scan_orc",
    "scan",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY o_orderpriority
    """,
    notes="source breadth beyond the reference: ORC sink + typed scan "
    "(Spark's second first-class columnar format — same vectorized reader "
    "+ predicate pushdown machinery as parquet). Derives an ORC copy of "
    "orders, reads it back, aggregates; lossless int/string columns only",
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _workdir("scan_orc", os.path.basename(sf_dir.rstrip("/")))
    src = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    src.write.mode("overwrite").orc(path)
    df = spark.read.schema("o_orderkey LONG, o_orderpriority STRING").orc(path)
    return df.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.sum("o_orderkey").alias("key_sum")
    )


@register(
    "q_scan_jsonl",
    "scan",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum
    FROM events GROUP BY event_type
    """,
    notes="S4's file form: JSON-lines sink + declared-schema scan (the "
    "Kafka payload format as a batch source; schema declared, never "
    "inferred). Derives a JSONL copy of events' int/string columns, reads "
    "it back typed, aggregates",
)
def q_scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _workdir("scan_jsonl", os.path.basename(sf_dir.rstrip("/")))
    src = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    src.write.mode("overwrite").json(path)
    df = spark.read.schema("event_id LONG, user_id LONG, event_type STRING").json(path)
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("user_id").alias("uid_sum")
    )


@register(
    "q_snapshot_diff",
    "upsert",
    oracle="""
    SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name,
           CAST(NULL AS DOUBLE) AS c_acctbal, 'delete' AS _op
    FROM customer WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal + 10, 'upsert'
    FROM customer WHERE c_custkey % 7 <> 0 AND c_custkey % 5 = 0
    """,
    notes="changelog generation — the INVERSE of CDC apply "
    "(operators/upsert.diff_snapshots): one null-safe full-outer join on "
    "the pk emits exactly the upsert/delete events transforming snapshot "
    "A into snapshot B; unchanged rows emit nothing. The reference "
    "computes this diff via collect()+psycopg2 (POS_spark_dag.py:133-193) "
    "— here it is one co-located shuffle when both snapshots are bucketed "
    "by pk. Update/delete sets are synthesized deterministically (key mod "
    "rules) so the oracle enumerates them directly",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    new = c.where(F.col("c_custkey") % 7 != 0).withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 10).otherwise(
            F.col("c_acctbal")
        ),
    )
    return upsert_ops.diff_snapshots(c, new, "c_custkey")


@register(
    "q_scd2",
    "upsert",
    oracle="""
    WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer)
    SELECT c_custkey, c_name, c_acctbal,
           TIMESTAMP '1995-01-01' AS valid_from,
           CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '2000-06-01' END AS valid_to
    FROM c
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal + 50,
           TIMESTAMP '2000-06-01', CAST(NULL AS TIMESTAMP)
    FROM c WHERE c_custkey % 3 = 0
    """,
    notes="slowly-changing-dimension type 2 (operators/upsert.scd2_apply): "
    "an update batch closes the affected open versions (valid_to = "
    "effective ts) and appends new open versions; closed history and "
    "untouched keys pass through. scd2_close of the updated keys plus "
    "scd2_open of the update rows: one pass over the history; time travel "
    "is then a pushable predicate, no joins. Updates synthesized "
    "deterministically (every third key re-priced at 2000-06-01)",
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    hist = c.withColumn(
        "valid_from", F.lit("1995-01-01").cast("timestamp")
    ).withColumn("valid_to", F.lit(None).cast("timestamp"))
    upd = (
        c.where(F.col("c_custkey") % 3 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 50)
        .withColumn("eff", F.lit("2000-06-01").cast("timestamp"))
    )
    return upsert_ops.scd2_apply(hist, upd, "c_custkey", "eff")


@register(
    "q_scd2_close",
    "upsert",
    oracle="""
    WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer)
    SELECT c_custkey, c_name, c_acctbal,
           TIMESTAMP '1995-01-01' AS valid_from,
           CASE WHEN c_custkey % 4 = 0 THEN TIMESTAMP '2001-03-01' END AS valid_to
    FROM c
    """,
    notes="SCD2 delete path (operators/upsert.scd2_close): a delete batch "
    "closes the affected open versions at the delete timestamp WITHOUT "
    "opening replacements — the dimension's lifespan simply ends, history "
    "is preserved. The complement of q_scd2 for CDC streams carrying "
    "deletes (streaming ScdParquetCdcSink closes its changed and deleted "
    "keys through it); one pass over the history, left-joined to the "
    "close times. Deletes synthesized deterministically (every fourth key "
    "removed at 2001-03-01)",
)
def q_scd2_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    hist = c.withColumn(
        "valid_from", F.lit("1995-01-01").cast("timestamp")
    ).withColumn("valid_to", F.lit(None).cast("timestamp"))
    deleted = (
        c.where(F.col("c_custkey") % 4 == 0)
        .select("c_custkey")
        .withColumn("eff", F.lit("2001-03-01").cast("timestamp"))
    )
    return upsert_ops.scd2_close(hist, deleted, "c_custkey", "eff")


@register(
    "q_validate_events",
    "filter",
    oracle="""
    WITH ev AS (
      SELECT l_orderkey * 10 + l_linenumber AS sale_id,
             l_suppkey AS customer_id,
             l_partkey AS product_id,
             CAST(l_quantity AS INTEGER) AS quantity,
             CASE WHEN l_linenumber = 3 THEN NULL ELSE l_extendedprice END AS price,
             l_returnflag AS payment_method
      FROM lineitem
    ), pr AS (
      SELECT p_partkey AS product_id, CAST(p_size AS INTEGER) AS stock,
             TRUE AS known
      FROM part
    ), j AS (
      SELECT ev.*, pr.stock, COALESCE(pr.known, FALSE) AS known,
             (ev.sale_id % 11 = 0) AS taken
      FROM ev LEFT JOIN pr USING (product_id)
    )
    SELECT sale_id,
           price IS NOT NULL AS has_price,
           known AS known_product,
           COALESCE(quantity <= stock, FALSE) AS in_stock,
           NOT taken AS fresh_sale_id,
           (price IS NOT NULL AND known
            AND COALESCE(quantity <= stock, FALSE) AND NOT taken) AS valid,
           CASE WHEN price IS NULL THEN 'has_price'
                WHEN NOT known THEN 'known_product'
                WHEN NOT COALESCE(quantity <= stock, FALSE) THEN 'in_stock'
                WHEN taken THEN 'fresh_sale_id' END AS reject_reason
    FROM j
    """,
    notes="the reference producer's composed validation gate "
    "(operators/validation.validate_sale_events; kafka_producer.py:41-137: "
    "required fields, product-exists, stock sufficiency, duplicate-id "
    "guard) over deterministically synthesized events: lineitem rows as "
    "sales, price nulled on every third line, part sizes as stock, every "
    "11th id pre-taken. One broadcast dim join + one keyed guard join; "
    "per-rule bits + first-failure reason come out of a single projection. "
    "Always-true has_* field bits are projected out of the compare (the "
    "synthesized events never null those fields)",
)
def q_validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.validation import validate_sale_events

    li = table(spark, sf_dir, "lineitem")
    events = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("sale_id"),
        F.col("l_suppkey").alias("customer_id"),
        F.col("l_partkey").alias("product_id"),
        F.col("l_quantity").cast("int").alias("quantity"),
        F.when(F.col("l_linenumber") == 3, F.lit(None))
        .otherwise(F.col("l_extendedprice"))
        .alias("price"),
        F.col("l_returnflag").alias("payment_method"),
    )
    products = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("product_id"), F.col("p_size").cast("int").alias("stock_level")
    )
    existing = events.where(F.col("sale_id") % 11 == 0).select("sale_id")
    out = validate_sale_events(events, products, existing)
    return out.select(
        "sale_id", "has_price", "known_product", "in_stock", "fresh_sale_id",
        "valid", "reject_reason",
    )


@register(
    "q_zorder_scan",
    "scan",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_id
    FROM events
    WHERE CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) % 65536
          BETWEEN 19730 AND 19745
      AND user_id % 4096 BETWEEN 30 AND 100
    GROUP BY event_type
    """,
    notes="Z-order layout round-trip (operators/order.zorder_key): events "
    "rewritten sortWithinPartitions(morton(day, user-bucket)) — the "
    "Delta/Iceberg OPTIMIZE ZORDER layout as a plain codegen sort key — "
    "then a 2-D range query over the ORIGINAL columns on the read-back. "
    "The oracle certifies the rewrite loses/duplicates nothing; the "
    "pruning value (both dimensions' row-group min/max stats tighten, "
    "measured 11/11 -> 3/11 groups overlapping a user-range filter) is "
    "pinned by tests/test_sources.py::"
    "test_zorder_layout_prunes_row_groups_on_both_dimensions. Predicates "
    "stay on the original columns — the key only orders the layout, so "
    "adopting it costs nothing downstream",
)
def q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.order import zorder_key

    e = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.pmod(F.floor(F.unix_timestamp("ts") / F.lit(86400)), F.lit(1 << 16)).alias(
            "day"
        ),
        F.pmod(F.col("user_id"), F.lit(1 << 12)).alias("ub"),
    )
    path = _workdir("zorder_scan", os.path.basename(sf_dir.rstrip("/")))
    e.repartition(4).sortWithinPartitions(
        zorder_key(F.col("day"), F.col("ub"))
    ).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.where(F.col("day").between(19730, 19745) & F.col("ub").between(30, 100))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("event_id").alias("sum_id"))
    )


@register(
    "q_join_bloom",
    "join",
    oracle="""
    SELECT l.l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l
    WHERE l.l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_totalprice > 450000
    )
    GROUP BY 1
    """,
    notes="extension: semi join with an explicit Bloom RUNTIME FILTER on "
    "the fact side (operators/joins.bloom_semi_reduce) — the row-level "
    "runtime filtering Spark's optimizer injects for its own shuffle "
    "joins, exposed for the regime it can't reach (build side too large "
    "or too late-materialized to broadcast exactly, rare matches). The "
    "RESULT is exactly the semi join — Bloom has no false negatives and "
    "the sliver of false positives is re-verified by the real join — so "
    "the oracle is the plain IN-subquery; what the operator changes is "
    "COST: the fact scans once against a broadcast few-MB bitmap "
    "(Arrow-batched numpy gather, the llm.bloom discipline) and only "
    "survivors enter the exchange. Plan-pinned: the bloom prefilter "
    "sits below the join (tests/test_plans.py)",
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import bloom_semi_reduce

    li = table(spark, sf_dir, "lineitem")
    keys = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    reduced = bloom_semi_reduce(li, keys, "l_orderkey", "o_orderkey")
    return reduced.groupBy("l_orderkey").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
    )


@register(
    "q_scan_jdbc_live",
    "scan",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders WHERE o_orderkey % 100 = 0
    GROUP BY 1
    """,
    notes="S3/S6 EXECUTED (r9): a real JDBC round-trip inside the driver "
    "gate — an orders slice is WRITTEN through write_jdbc and READ back "
    "through read_jdbc against embedded Derby (the RDBMS Spark ships for "
    "its Hive metastore), then aggregated; the oracle aggregates the "
    "same slice from parquet, so the database round-trip must preserve "
    "every row and value. Supersedes r6-r8's plan-construction-only "
    "JDBC status (the container has no Postgres, but Derby's embedded "
    "driver is on every Spark classpath); a real cluster points the "
    "same builders at a networked RDBMS URL — Derby embedded is "
    "same-JVM, documented as the harness form "
    "(tests/test_sources.py live JDBC suite: partitioned read, "
    "per-partition predicates, filter pushdown into the source)",
)
def q_scan_jdbc_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..sources.io import read_jdbc, write_jdbc

    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    url = f"jdbc:derby:{tempfile.mkdtemp()}/jdbc_live;create=true"
    write_jdbc(o, url, "orders_slice", mode="overwrite")
    back = read_jdbc(
        spark,
        url,
        "orders_slice",
        extra_options={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    return back.groupBy(F.col("o_orderstatus")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
    )


@register(
    "q_join_salted",
    "join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    notes="extension: the explicit hot-key SALTED equi-join "
    "(operators/joins.salted_equi_join) — dim replicated across 8 salts, "
    "fact rows salted by xxhash64, join on (key, salt), salt dropped. "
    "EXACT by construction (each fact row meets exactly its own salt's "
    "dim replica), so the oracle is the plain join; what changes is the "
    "shuffle key — a hot key's rows spread across 8 reducer tasks. "
    "Covers the regimes AQE skew-join cannot reach: stream-static joins, "
    "pre-bucketed zero-exchange SMJ plans, and ahead-of-time-known skew. "
    "Plan-pinned (exchange on key+salt, no broadcast of the replicated "
    "dim) and hot-key-equality-tested in tests",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import salted_equi_join

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    j = salted_equi_join(li, o, "okey", n_salts=8)
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
    )


@register(
    "q_join_nullsafe",
    "join",
    oracle="""
    WITH l AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE CAST(o_custkey % 50 AS BIGINT) END AS k
      FROM orders
    ),
    r AS (
      SELECT CASE WHEN g % 5 = 0 THEN NULL ELSE g END AS k,
             CAST(g * 10 AS BIGINT) AS payload
      FROM (SELECT CAST(UNNEST(generate_series(0, 49)) AS BIGINT) AS g)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_matches,
           CAST(SUM(COALESCE(payload, -1)) AS BIGINT) AS sum_payload
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
    notes="§2.6 extension: NULL-SAFE equi-join (Spark `<=>` / SQL IS NOT "
    "DISTINCT FROM) — the join form where NULL keys MATCH each other "
    "instead of vanishing, the semantics CDC/dimension pipelines need "
    "when 'unknown' is itself a key value. Planted NULLs on both sides "
    "(orderkey%7 rows and every 5th dim key) make the NULL-bucket rows "
    "real: the summary counts them explicitly. Catalyst plans `<=>` as "
    "a HASH join (Coalesce-wrapped keys), not a nested loop — at scale "
    "beware the NULL bucket becoming THE hot key: pair with "
    "q_join_salted's rewrite when unknowns dominate. Summary-shaped "
    "output (counts + payload checksum) keeps the contract row stable",
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    left = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("long"))
        .otherwise((F.col("o_custkey") % 50).cast("long"))
        .alias("k"),
    )
    right = spark.range(0, 50).select(
        F.when(F.col("id") % 5 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("id"))
        .alias("k"),
        (F.col("id") * 10).cast("long").alias("payload"),
    )
    j = left.join(right, left["k"].eqNullSafe(right["k"]), "inner")
    return j.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(left["k"].isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_matches"),
        F.sum(F.coalesce(F.col("payload"), F.lit(-1))).cast("long").alias("sum_payload"),
    )
