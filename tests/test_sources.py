"""Batch source/sink tests (SURVEY.md §2.1) — real files in tmp dirs,
including the crash-window recovery of the atomic overwrite."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from simple_pos_kafka_pyspark_airflow_spark import sources
from simple_pos_kafka_pyspark_airflow_spark.streaming import ingest

SCHEMA = "id long, name string, bal double"
ROWS = [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)]


def test_csv_roundtrip_multi_path(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    p1, p2 = str(tmp_path / "a.csv"), str(tmp_path / "b.csv")
    df.where("id <= 2").write.csv(p1, header=True)
    df.where("id = 3").write.csv(p2, header=True)
    got = sources.read_csv(spark, [p1, p2], SCHEMA)
    assert sorted(r["id"] for r in got.collect()) == [1, 2, 3]
    assert dict(got.dtypes)["bal"] == "double"  # declared, not inferred


def test_jsonl_reader(spark, tmp_path):
    p = tmp_path / "rows.json"
    p.write_text('{"id": 1, "name": "a", "bal": 1.5}\n{"id": 2, "name": "b", "bal": 2.5}\n')
    got = sources.read_jsonl(spark, str(p), SCHEMA)
    assert got.count() == 2


def test_append_parquet_accumulates(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "t")
    sources.append_parquet(df, path)
    sources.append_parquet(df, path)
    assert sources.read_parquet(spark, path, SCHEMA).count() == 6


def test_write_partitioned_layout_and_sort(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"d{i % 2}", float(10 - i)) for i in range(10)], "id long, day string, v double"
    )
    path = str(tmp_path / "part")
    sources.write_partitioned(df, path, ["day"], sort_cols=["v"])
    assert sorted(d for d in os.listdir(path) if d.startswith("day=")) == ["day=d0", "day=d1"]
    # partition pruning works on the layout
    got = sources.read_parquet(spark, path).where(F.col("day") == "d1")
    assert got.count() == 5


def test_overwrite_atomic_replaces_and_recovers(spark, tmp_path):
    path = str(tmp_path / "snap")
    tombstone = path + ".__tombstone__"
    v1 = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    v2 = spark.createDataFrame([(2, "b", 2.0)], SCHEMA)
    sources.overwrite_atomic(v1, path)
    assert [r["id"] for r in sources.read_parquet(spark, path).collect()] == [1]
    # simulate a crash that stopped between the two renames: live dir is
    # gone, only the tombstone exists
    os.rename(path, tombstone)
    sources.overwrite_atomic(v2, path)
    assert [r["id"] for r in sources.read_parquet(spark, path).collect()] == [2]
    assert not os.path.isdir(tombstone)


def test_overwrite_atomic_crash_during_staging_leaves_old_snapshot(spark, tmp_path):
    """A failure while WRITING the staging copy (executor dies, bad data,
    quota) must leave the live snapshot untouched and readable — the
    staging path is the only casualty."""
    path = str(tmp_path / "snap")
    v1 = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    sources.overwrite_atomic(v1, path)
    poison = spark.createDataFrame([(2, "b", 2.0)], SCHEMA).select(
        F.assert_true(F.col("id") == 1).alias("boom"), "id", "name", "bal"
    )
    try:
        sources.overwrite_atomic(poison, path)
        raise AssertionError("poison write should have failed")
    except Exception:
        pass
    assert [r["id"] for r in sources.read_parquet(spark, path).collect()] == [1]
    assert not os.path.isdir(path + ".__tombstone__")


def test_overwrite_atomic_crash_between_stage_and_swap_is_recoverable(
    spark, tmp_path, monkeypatch
):
    """A crash AT the swap (after the live dir was tombstoned, before
    staging moved in) is the worst window: the old snapshot survives as
    the tombstone and the NEXT writer must reclaim it — v1 is never lost,
    and the subsequent overwrite completes normally."""
    import simple_pos_kafka_pyspark_airflow_spark.sources.io as io_mod

    path = str(tmp_path / "snap")
    tombstone = path + ".__tombstone__"
    v1 = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    v2 = spark.createDataFrame([(2, "b", 2.0)], SCHEMA)
    sources.overwrite_atomic(v1, path)

    real_rename = io_mod._fs_rename

    def crash(fs, src, dst):
        if "__staging__" in src.toString():
            raise RuntimeError("injected crash before swap completed")
        return real_rename(fs, src, dst)

    monkeypatch.setattr(io_mod, "_fs_rename", crash)
    try:
        sources.overwrite_atomic(v2, path)
        raise AssertionError("injected crash did not propagate")
    except RuntimeError:
        pass
    # post-crash: no live dir, but the old snapshot is intact in the tombstone
    assert not os.path.isdir(path)
    assert [r["id"] for r in sources.read_parquet(spark, tombstone).collect()] == [1]

    monkeypatch.undo()
    sources.overwrite_atomic(v2, path)
    assert [r["id"] for r in sources.read_parquet(spark, path).collect()] == [2]
    assert not os.path.isdir(tombstone)
    # the crashed swap's complete staging snapshot is reclaimed too
    assert not [n for n in os.listdir(tmp_path) if ".__staging__" in n]


def test_read_committed_reads_a_crashed_release_in_place(spark, tmp_path):
    """A release of several tables commits as one directory. After a crash
    between its swap's two renames, ``read_committed`` reads each table of
    the previous release from the tombstone and moves nothing: a reader
    must never rename directories under the writer's swap."""
    from simple_pos_kafka_pyspark_airflow_spark.sources.io import read_committed

    path = str(tmp_path / "release")
    tombstone = path + ".__tombstone__"
    v1 = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    sources.overwrite_atomic({"a": v1, "b": v1.withColumn("id", F.lit(7).cast("long"))}, path)
    assert read_committed(spark, str(tmp_path / "never")) is None
    os.rename(path, tombstone)  # the crash window
    assert [r["id"] for r in read_committed(spark, path, part="a").collect()] == [1]
    assert [r["id"] for r in read_committed(spark, path, SCHEMA, part="b").collect()] == [7]
    assert read_committed(spark, path, part="c") is None
    assert not os.path.exists(path) and os.path.isdir(tombstone)


def test_kafka_payload_roundtrips_through_parse(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    payload = sources.to_kafka_payload(df, key_col="id")
    assert payload.columns == ["key", "value"]
    back = ingest.parse_json_events(payload, SCHEMA)
    got = sorted((r["id"], r["name"], r["bal"]) for r in back.collect())
    assert got == sorted(ROWS)
    assert all(r["_corrupt"] is None for r in back.collect())


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Two tables bucketed on the join key must equi-join with no shuffle
    on either side — the write-once-shuffle-never-again contract."""
    import contextlib
    import io as _io

    from pyspark.sql import functions as F

    a = spark.range(0, 1000).select(F.col("id"), (F.col("id") * 2).alias("x"))
    b = spark.range(0, 1000).select(F.col("id"), (F.col("id") * 3).alias("y"))
    sources.write_bucketed_table(a, "bkt_a", "id", n_buckets=4)
    sources.write_bucketed_table(b, "bkt_b", "id", n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would broadcast, bypassing the bucketed path —
        # force the shuffle-family join the assert is about
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "id")
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain()
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_compact_parquet_reduces_files_keeps_rows(spark, tmp_path):
    from simple_pos_kafka_pyspark_airflow_spark.sources import io as sio

    path = str(tmp_path / "frag")
    # 40 tiny appends -> >= 40 data files
    base = spark.range(1000).withColumnRenamed("id", "k")
    for i in range(8):
        base.where((F.col("k") % 8) == i).repartition(5).write.mode("append").parquet(path)
    files_before = [
        f for _r, _d, fs in __import__("os").walk(path) for f in fs if f.endswith(".parquet")
    ]
    assert len(files_before) >= 40
    n = sio.compact_parquet(spark, path, target_file_bytes=10**9)
    got = spark.read.parquet(path)
    assert n == 1
    files_after = [
        f for _r, _d, fs in __import__("os").walk(path) for f in fs if f.endswith(".parquet")
    ]
    assert len(files_after) == 1
    assert got.count() == 1000
    assert got.agg(F.sum("k")).collect()[0][0] == 999 * 1000 // 2


def test_read_jdbc_builder_threads_options(spark):
    """No database in the container: the builder must still construct a
    valid JDBC read and fail at the CONNECTION layer (driver lookup /
    connect), not with an option/validation error — proving url, table,
    and partitioning options reached the source."""
    import pytest

    from simple_pos_kafka_pyspark_airflow_spark.sources import io as sio

    with pytest.raises(Exception) as exc:
        sio.read_jdbc(
            spark,
            url="jdbc:postgresql://nowhere.invalid:5432/pos",
            table="public.sales",
            user="u",
            password="p",
            partition_column="sale_id",
            lower_bound=0,
            upper_bound=1_000_000,
            num_partitions=8,
        )
    msg = str(exc.value)
    # Postgres driver jar absent => driver resolution error; with a jar it
    # would be UnknownHost — either proves the JDBC source was engaged
    assert "jdbc" in msg.lower() or "driver" in msg.lower() or "connect" in msg.lower()


def test_read_jdbc_partitioning_requires_bounds(spark):
    import pytest

    from simple_pos_kafka_pyspark_airflow_spark.sources import io as sio

    with pytest.raises(ValueError, match="partition_column requires"):
        sio.read_jdbc(
            spark, url="jdbc:postgresql://h/db", table="t", partition_column="id"
        )


def test_write_jdbc_fails_at_connection_not_validation(spark):
    import pytest

    from simple_pos_kafka_pyspark_airflow_spark.sources import io as sio

    df = spark.range(10).withColumnRenamed("id", "sale_id")
    with pytest.raises(Exception) as exc:
        sio.write_jdbc(
            df, url="jdbc:postgresql://nowhere.invalid:5432/pos", table="public.sales",
            user="u", password="p", num_partitions=2,
        )
    msg = str(exc.value)
    assert "jdbc" in msg.lower() or "driver" in msg.lower() or "connect" in msg.lower()


def test_catalog_genuine_int64_not_nanos_divided(spark, tmp_path):
    """A vintage shipping events.ts as a GENUINE int64 (not parquet
    TIMESTAMP(NANOS)) must pass through untouched — the div-1000 is gated
    on the footer's logical type, not the post-read Spark dtype."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_pos_kafka_pyspark_airflow_spark import catalog, schemas

    cols = [f.name for f in schemas.TESTDATA["events"].fields]
    micros = 1_755_000_000_000_000  # a plausible µs epoch, NOT ns
    data = {c: [1] for c in cols}
    data["ts"] = [micros]
    for c in cols:
        if c not in ("ts",):
            data[c] = ["x"] if schemas.TESTDATA["events"][c].dataType.typeName() == "string" else [1]
    tbl = pa.table({c: pa.array(data[c]) for c in cols})
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    df = catalog.table(spark, str(tmp_path), "events")
    row = df.first()
    assert row["ts"] == micros  # unshifted: no silent div-1000


def test_catalog_ntz_requires_utc_session(spark, tmp_path):
    """TIMESTAMP_NTZ→TIMESTAMP is instant-preserving only under UTC; a
    non-UTC session must fail loudly instead of shifting wall values."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from simple_pos_kafka_pyspark_airflow_spark import catalog, schemas

    cols = [f.name for f in schemas.TESTDATA["events"].fields]
    data = {}
    for c in cols:
        if c == "ts":
            data[c] = pa.array(
                [datetime.datetime(2026, 1, 1, 12, 0, 0)], type=pa.timestamp("us")
            )  # no tz => Spark reads TIMESTAMP_NTZ
        elif schemas.TESTDATA["events"][c].dataType.typeName() == "string":
            data[c] = pa.array(["x"])
        else:
            data[c] = pa.array([1])
    pq.write_table(pa.table(data), str(tmp_path / "events.parquet"))
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    assert tz0 == "UTC"
    utc_row = catalog.table(spark, str(tmp_path), "events").first()
    assert utc_row["ts"] == datetime.datetime(2026, 1, 1, 12, 0, 0)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="UTC session"):
            catalog.table(spark, str(tmp_path), "events").first()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_catalog_accepts_utc_equivalent_zones():
    from simple_pos_kafka_pyspark_airflow_spark.catalog import _is_utc_equivalent

    for tz in ("UTC", "Etc/UTC", "GMT", "Etc/GMT", "Universal"):
        assert _is_utc_equivalent(tz), tz
    for tz in ("America/New_York", "Europe/Berlin", "Asia/Tokyo", "nonsense/zone", ""):
        assert not _is_utc_equivalent(tz), tz


def test_catalog_ntz_ok_under_etc_utc(spark, tmp_path):
    """A default-built session reports Etc/UTC — the guard must accept it
    (the driver may hand us exactly such a session)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_pos_kafka_pyspark_airflow_spark import catalog, schemas

    cols = [f.name for f in schemas.TESTDATA["events"].fields]
    data = {}
    for c in cols:
        if c == "ts":
            data[c] = pa.array([datetime.datetime(2026, 1, 1, 12, 0, 0)], type=pa.timestamp("us"))
        elif schemas.TESTDATA["events"][c].dataType.typeName() == "string":
            data[c] = pa.array(["x"])
        else:
            data[c] = pa.array([1])
    pq.write_table(pa.table(data), str(tmp_path / "events.parquet"))
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Etc/UTC")
    try:
        row = catalog.table(spark, str(tmp_path), "events").first()
        assert row["ts"] == datetime.datetime(2026, 1, 1, 12, 0, 0)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_write_staged_cleans_up_failed_staging(spark, tmp_path):
    """A staging write that fails mid-flight must delete its half-written
    directory — otherwise every retry leaks a uuid-named .__staging__*
    sibling that no recovery path reclaims."""
    import simple_pos_kafka_pyspark_airflow_spark.sources.io as io_mod

    path = str(tmp_path / "snap")
    poison = spark.createDataFrame([(1, "a", 1.0)], SCHEMA).select(
        F.assert_true(F.col("id") == 2).alias("boom"), "id", "name", "bal"
    )
    try:
        sources.overwrite_atomic(poison, path)
        raise AssertionError("poison write should have failed")
    except Exception:
        pass
    leftovers = [p for p in os.listdir(tmp_path) if "__staging__" in p]
    assert leftovers == []


def test_dir_bytes_and_compact_work_on_file_uri(spark, tmp_path):
    """Sizing and compaction must run on Hadoop-FS path forms: a file:-URI
    table (invisible to os.walk, which would size it at 0 and coalesce
    everything to ONE file) sizes correctly and compacts in place."""
    uri = "file://" + str(tmp_path / "table")
    df = spark.range(10000).selectExpr("id", "id * 2 AS v")
    df.repartition(8).write.parquet(uri)
    from simple_pos_kafka_pyspark_airflow_spark.sources import io as sio
    assert sio.dir_bytes(spark, uri) > 0
    n = sio.compact_parquet(spark, uri, target_file_bytes=1 << 30)
    assert n == 1
    assert spark.read.parquet(uri).count() == 10000


def test_catalog_nanos_read_scoped_conf(spark, tmp_path):
    """A genuine TIMESTAMP(NANOS) events file reads correctly (footer-
    gated div-1000 to µs) AND the nanosAsLong conf is restored after —
    leaving it set session-wide would silently turn every LATER nanos
    parquet read anywhere into raw bigints without the fixup."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from simple_pos_kafka_pyspark_airflow_spark import catalog, schemas

    cols = [f.name for f in schemas.TESTDATA["events"].fields]
    ns = 1_755_000_000_000_000_000  # epoch ns
    data = {}
    for c in cols:
        if c == "ts":
            data[c] = pa.array([ns], type=pa.timestamp("ns"))
        elif schemas.TESTDATA["events"][c].dataType.typeName() == "string":
            data[c] = pa.array(["x"])
        else:
            data[c] = pa.array([1])
    pq.write_table(pa.table(data), str(tmp_path / "events.parquet"))

    df = catalog.table(spark, str(tmp_path), "events")
    row = df.first()  # execution AFTER the conf restore must still work
    assert row["ts"] == datetime.datetime.utcfromtimestamp(ns / 1e9)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"


# ---------------------------------------------------------------------------
# Z-order layout (operators/order.zorder_key)
# ---------------------------------------------------------------------------


def test_zorder_key_matches_python_bit_interleave(spark):
    import random

    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.operators.order import zorder_key

    rng = random.Random(1)
    rows = [(rng.randrange(0, 1 << 16), rng.randrange(0, 1 << 16)) for _ in range(200)]
    got = [
        r["z"]
        for r in spark.createDataFrame(rows, ["a", "b"])
        .select(zorder_key(F.col("a"), F.col("b")).alias("z"))
        .collect()
    ]

    def py_z(a: int, b: int, bits: int = 16) -> int:
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    assert got == [py_z(a, b) for a, b in rows]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bits"):
        zorder_key(F.col("a"), F.col("b"), bits=40)


def test_zorder_layout_prunes_row_groups_on_both_dimensions(spark, tmp_path):
    """The layout claim, measured on real parquet footer stats: sorted by
    day alone, a user-range filter overlaps EVERY row group (11/11 here);
    Z-ordered, the same filter overlaps a strict subset — and the day
    filter still prunes. Z-order trades the single-dimension best case
    for usable min/max pruning on both dimensions, which is the 2-D
    range-scan story at 100 TB (no table format needed — it is just a
    sort key)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.operators.order import zorder_key

    e = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
        "event_id",
        F.pmod((F.unix_timestamp("ts") / F.lit(86400)).cast("long"), F.lit(1 << 16)).alias("day"),
        F.pmod(F.col("user_id"), F.lit(1 << 12)).alias("ub"),
    )
    layouts = {
        "linear": e.repartition(1).sortWithinPartitions("day"),
        "zorder": e.repartition(1).sortWithinPartitions(
            zorder_key(F.col("day"), F.col("ub"))
        ),
    }
    for name, df in layouts.items():
        df.write.mode("overwrite").option("parquet.block.size", 32 * 1024).parquet(
            str(tmp_path / name)
        )

    def overlaps(path: str, lo: dict, hi: dict) -> tuple[int, int]:
        hit = tot = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                tot += 1
                ok = True
                for col in lo:
                    s = g.column(idx[col]).statistics
                    if s.max < lo[col] or s.min > hi[col]:
                        ok = False
                hit += ok
        return hit, tot

    st = e.agg(
        F.min("day"), F.max("day"), F.min("ub"), F.max("ub")
    ).first()
    mid_user = {
        "lo": {"ub": st[2] + (st[3] - st[2]) * 45 // 100},
        "hi": {"ub": st[2] + (st[3] - st[2]) * 55 // 100},
    }
    mid_day = {
        "lo": {"day": st[0] + (st[1] - st[0]) * 45 // 100},
        "hi": {"day": st[0] + (st[1] - st[0]) * 55 // 100},
    }
    lin_u = overlaps(str(tmp_path / "linear"), mid_user["lo"], mid_user["hi"])
    zo_u = overlaps(str(tmp_path / "zorder"), mid_user["lo"], mid_user["hi"])
    zo_d = overlaps(str(tmp_path / "zorder"), mid_day["lo"], mid_day["hi"])
    assert lin_u[1] > 4, "need multiple row groups for the claim to mean anything"
    assert lin_u[0] == lin_u[1], "day-sorted layout cannot prune a user filter"
    assert zo_u[0] < zo_u[1], "z-order must prune the user filter"
    assert zo_u[0] <= lin_u[0] // 2, (zo_u, lin_u)
    assert zo_d[0] < zo_d[1], "z-order must still prune the day filter"


# ---------------------------------------------------------------------------
# Python DataSource: POS state-file layout (sources/pydatasource.py)
# ---------------------------------------------------------------------------


def test_statefile_batch_source_reads_and_prunes(spark, tmp_path):
    """The pos_statefiles batch source: typed rows with the filename date
    surfaced as file_date, and pushFilters pruning the FILE LIST at
    planning time (the custom-source twin of parquet partition pruning).
    The prune is asserted at the planner level — partitions() after
    pushFilters must open only matching files — and end-to-end values
    come back identical with and without the prune (partial pushdown:
    Spark re-applies every filter row-level)."""
    from datetime import date

    from simple_pos_kafka_pyspark_airflow_spark.sources import pydatasource as pds

    rows = [
        (1, 10, 5.5, date(2024, 1, 1)),
        (2, 11, 7.25, date(2024, 1, 1)),
        (3, 12, 1.0, date(2024, 1, 2)),
        (4, 13, 2.0, date(2024, 2, 1)),
    ]
    out = str(tmp_path / "statefiles")
    paths = pds.write_state_files(iter(rows), out)
    assert [p.split("/")[-1] for p in paths] == [
        "sales_20240101.csv", "sales_20240102.csv", "sales_20240201.csv",
    ]

    # planner-level prune: a >= filter must drop non-matching FILES
    from pyspark.sql.datasource import GreaterThanOrEqual

    rd = pds._StateFileReader(out)
    residual = rd.pushFilters([GreaterThanOrEqual(("file_date",), date(2024, 1, 2))])
    assert list(residual), "all filters must be returned for row-level re-apply"
    parts = rd.partitions()
    assert sorted(p.path.split("/")[-1] for p in parts) == [
        "sales_20240102.csv", "sales_20240201.csv",
    ]

    # end-to-end through Spark: schema, values, filter correctness
    pds.register_pos_sources(spark)
    df = spark.read.format("pos_statefiles").option("path", out).load()
    assert [f.name for f in df.schema.fields] == [
        "sale_id", "customer_id", "total_price", "file_date",
    ]
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(rows)
    pruned = df.where("file_date >= DATE '2024-01-02'")
    assert sorted(r["sale_id"] for r in pruned.collect()) == [3, 4]
    # repr() floats round-trip exactly
    assert {r["sale_id"]: r["total_price"] for r in df.collect()}[2] == 7.25


def test_statefile_runs_when_session_lacks_pushdown_conf(spark, sf_dir, tmp_path):
    """VERDICT r7 item 1: the driver hands us a session WITHOUT
    spark.sql.python.filterPushdown.enabled, and Spark 4 hard-errors when a
    reader implements pushFilters() under that conf. The contract query must
    run anyway: register_pos_sources flips the runtime conf on, and when the
    conf cannot stick the source degrades to the pushdown-free reader via
    .option('pushdown','false') with identical values."""
    from datetime import date

    from simple_pos_kafka_pyspark_airflow_spark.plans.queries_joins import (
        q_scan_statefiles,
    )
    from simple_pos_kafka_pyspark_airflow_spark.sources import pydatasource as pds

    key = "spark.sql.python.filterPushdown.enabled"
    spark.conf.set(key, "false")  # simulate the driver's bare session
    try:
        df = q_scan_statefiles(spark, sf_dir)
        assert df.count() > 0
        # the query healed the session conf rather than degrading silently
        assert spark.conf.get(key) == "true"

        # degraded reader: with the conf forced off, pushdown='false' must
        # scan without DATA_SOURCE_PUSHDOWN_DISABLED and match values
        rows = [(1, 10, 5.5, date(2024, 1, 1)), (2, 11, 7.25, date(2024, 1, 2))]
        out = str(tmp_path / "deg")
        pds.write_state_files(iter(rows), out)
        spark.conf.set(key, "false")
        got = sorted(
            tuple(r)
            for r in spark.read.format("pos_statefiles")
            .option("path", out)
            .option("pushdown", "false")
            .load()
            .collect()
        )
        assert got == sorted(rows)
    finally:
        spark.conf.set(key, "true")


def test_statefile_fixture_written_executor_side(spark, tmp_path):
    """write_state_files_distributed lays down the same per-date layout as
    the driver-side helper, but via repartition(file_date) +
    foreachPartition — byte-identical files, no driver collect()."""
    from datetime import date

    from simple_pos_kafka_pyspark_airflow_spark.sources import pydatasource as pds

    rows = [
        (3, 12, 1.0, date(2024, 1, 2)),
        (1, 10, 5.5, date(2024, 1, 1)),
        (2, 11, 7.25, date(2024, 1, 1)),
        (4, 13, 0.1 + 0.2, date(2024, 2, 1)),  # repr round-trip check
    ]
    a, b = str(tmp_path / "driver"), str(tmp_path / "dist")
    pds.write_state_files(iter(rows), a)
    df = spark.createDataFrame(
        rows, "sale_id BIGINT, customer_id BIGINT, total_price DOUBLE, file_date DATE"
    )
    pds.write_state_files_distributed(df, b)
    import os as _os

    names = sorted(_os.listdir(a))
    assert sorted(_os.listdir(b)) == names
    for n in names:
        with open(_os.path.join(a, n)) as fa, open(_os.path.join(b, n)) as fb:
            assert fa.read() == fb.read(), n


def test_statefile_stream_watermark_offsets(tmp_path):
    """The stream reader's offset is the max consumed FILENAME, not a
    positional index (ADVICE r6): newer files never shift a committed
    range, a replayed (start, end] reads the identical files, and a
    BACKFILLED earlier-dated file raises instead of silently re-reading
    one old file and skipping the new one forever."""
    from datetime import date

    import pytest

    from simple_pos_kafka_pyspark_airflow_spark.sources import pydatasource as pds

    out = str(tmp_path / "stream")
    pds.write_state_files(
        iter([(1, 10, 1.0, date(2024, 1, 1)), (2, 11, 2.0, date(2024, 1, 2))]), out
    )
    rd = pds._StateFileStreamReader(out)
    o0 = rd.initialOffset()
    o1 = rd.latestOffset()
    assert o1 == {"last": "sales_20240102.csv", "n": 2}
    batch1 = rd.partitions(o0, o1)
    assert sorted(p.path.split("/")[-1] for p in batch1) == [
        "sales_20240101.csv", "sales_20240102.csv",
    ]
    assert sorted(r[0] for p in batch1 for r in rd.read(p)) == [1, 2]

    # append a NEWER file: only it lands in the next batch; the committed
    # range replays identically
    pds.write_state_files(iter([(3, 12, 3.0, date(2024, 1, 3))]), out)
    o2 = rd.latestOffset()
    batch2 = rd.partitions(o1, o2)
    assert [p.path.split("/")[-1] for p in batch2] == ["sales_20240103.csv"]
    replay = rd.partitions(o0, o1)
    assert sorted(p.path for p in replay) == sorted(p.path for p in batch1)

    # a legacy positional offset must be rejected loudly, not treated as
    # "nothing consumed" (which would re-read every file)
    with pytest.raises(ValueError, match="legacy|unrecognized"):
        rd.partitions({"index": 2}, o2)

    # retention-deleting an already-CONSUMED file is harmless for every
    # future read: warn, don't wedge the stream
    import os as _os
    import warnings as _warnings

    _os.remove(_os.path.join(out, "sales_20240101.csv"))
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        batch3 = rd.partitions(o2, rd.latestOffset())
    assert batch3 == []
    assert any("deleted" in str(w.message) for w in caught)

    # a BACKFILLED earlier-dated file breaks the append-only contract:
    # the count-below-watermark check must raise, loudly
    pds.write_state_files(
        iter([(1, 10, 1.0, date(2024, 1, 1)), (9, 99, 9.0, date(2023, 12, 31))]), out
    )
    with pytest.raises(ValueError, match="append-only"):
        rd.partitions(o1, rd.latestOffset())


def test_statefile_stream_drains_through_spark(spark, tmp_path):
    """End-to-end micro-batch drain of pos_statefiles_stream under
    Trigger.AvailableNow with a checkpoint: all rows land exactly once,
    and a second drain over the same checkpoint reads only files that
    arrived in between (incremental discovery, reference
    POS_spark_dag.py:63-76 without the rescans)."""
    from datetime import date

    from simple_pos_kafka_pyspark_airflow_spark.sources import pydatasource as pds

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    pds.write_state_files(
        iter([(1, 10, 1.0, date(2024, 1, 1)), (2, 11, 2.0, date(2024, 1, 2))]), src
    )
    pds.register_pos_sources(spark)

    def drain():
        q = (
            spark.readStream.format("pos_statefiles_stream")
            .option("path", src)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert sorted(r["sale_id"] for r in spark.read.parquet(sink).collect()) == [1, 2]
    pds.write_state_files(iter([(3, 12, 3.0, date(2024, 1, 3))]), src)
    drain()
    assert sorted(r["sale_id"] for r in spark.read.parquet(sink).collect()) == [1, 2, 3]


def test_dynamic_partition_overwrite_touches_only_written_partitions(spark, tmp_path):
    """write_partition_overwrite must replace exactly the partitions
    present in the frame: untouched partitions keep their FILES
    (byte-identical listing), the rewritten partition is replaced (not
    appended), and a rerun with modified rows lands only in its own
    partition — while a static overwrite of the same slice would have
    truncated every other partition away."""
    import os

    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.sources.io import write_partition_overwrite

    path = str(tmp_path / "daily")
    base = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("day")
    )
    write_partition_overwrite(base, path, ["day"])

    def listing(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before = {d: listing(d) for d in range(4)}
    # rerun day=2 with HALVED rows (a corrected daily export)
    fixed = base.where("day = 2 AND id < 50")
    write_partition_overwrite(fixed, path, ["day"])
    after = {d: listing(d) for d in range(4)}
    for d in (0, 1, 3):
        assert after[d] == before[d], f"partition day={d} was touched"
    assert after[2] != before[2], "rewritten partition must change"
    got = spark.read.parquet(path)
    assert got.where("day = 2").count() == fixed.count()  # replaced, not appended
    assert got.where("day != 2").count() == base.where("day != 2").count()


# ---------------------------------------------------------------------------
# LIVE JDBC round-trips — embedded Derby (ships with Spark for the Hive
# metastore), so the S3/S6 JDBC paths EXECUTE in this container instead of
# stopping at plan construction. Derby embedded is same-JVM (fine under
# local[*]; a real cluster points the same builders at a networked RDBMS).
# ---------------------------------------------------------------------------

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_url(tmp_path, name="db"):
    return f"jdbc:derby:{tmp_path}/{name};create=true"


def test_jdbc_write_read_roundtrip_live(spark, tmp_path):
    """write_jdbc → read_jdbc against a real (embedded Derby) database:
    rows, types, and values must survive; append mode appends."""
    from simple_pos_kafka_pyspark_airflow_spark.sources import io as sio

    url = _derby_url(tmp_path)
    df = spark.createDataFrame(
        [(1, 10.5, "a"), (2, 20.25, "b"), (3, -1.0, None)],
        "id long, v double, s string",
    )
    sio.write_jdbc(df, url, "t_round", mode="overwrite")
    back = sio.read_jdbc(
        spark, url, "t_round", extra_options={"driver": DERBY_DRIVER}
    )
    got = sorted((r["ID"] if "ID" in r else r["id"], r[1], r[2]) for r in back.collect())
    assert [g[0] for g in got] == [1, 2, 3]
    assert got[0][1] == 10.5 and got[2][2] is None

    # append doubles the rows
    sio.write_jdbc(df, url, "t_round", mode="append")
    assert sio.read_jdbc(
        spark, url, "t_round", extra_options={"driver": DERBY_DRIVER}
    ).count() == 6


def test_jdbc_partitioned_read_live(spark, tmp_path):
    """The partition_column/bounds quartet must produce a multi-partition
    executor-parallel scan with the SAME rows as the single-connection
    read."""
    from simple_pos_kafka_pyspark_airflow_spark.sources import io as sio

    url = _derby_url(tmp_path)
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    sio.write_jdbc(df, url, "t_part", mode="overwrite")
    part = sio.read_jdbc(
        spark, url, "t_part",
        partition_column="id", lower_bound=0, upper_bound=100, num_partitions=4,
        extra_options={"driver": DERBY_DRIVER},
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 100
    assert part.agg(F.sum("v")).first()[0] == 2 * sum(range(100))


def test_jdbc_predicates_read_live(spark, tmp_path):
    """predicates= routes through Spark's real per-partition WHERE path:
    the union of predicate slices must equal the table."""
    from simple_pos_kafka_pyspark_airflow_spark.sources import io as sio

    url = _derby_url(tmp_path)
    df = spark.range(0, 40).select(F.col("id"), (F.col("id") % 4).alias("b"))
    sio.write_jdbc(df, url, "t_pred", mode="overwrite")
    # Spark writes case-sensitive quoted identifiers; Derby folds
    # unquoted ones to uppercase — predicates must quote the column
    preds = [f'"b" = {i}' for i in range(4)]
    got = sio.read_jdbc(
        spark, url, "t_pred", predicates=preds,
        extra_options={"driver": DERBY_DRIVER},
    )
    assert got.rdd.getNumPartitions() == 4
    assert got.count() == 40


def test_jdbc_filter_pushdown_live(spark, tmp_path):
    """Catalyst must render the filter into the JDBC source (PushedFilters
    on the JDBC scan) — at scale the database prunes, not Spark."""
    import contextlib
    import io as _io

    from simple_pos_kafka_pyspark_airflow_spark.sources import io as sio

    url = _derby_url(tmp_path)
    df = spark.range(0, 50).select(F.col("id"), (F.col("id") * 3).alias("v"))
    sio.write_jdbc(df, url, "t_push", mode="overwrite")
    scan = sio.read_jdbc(
        spark, url, "t_push", extra_options={"driver": DERBY_DRIVER}
    ).where(F.col("id") >= 40)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        scan.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "ID" in plan.upper(), plan
    assert scan.count() == 10


def test_zorder_layout_measurably_tightens_file_ranges(spark, tmp_path):
    """The Z-order story, MEASURED: after sortWithinPartitions on the
    Morton key, per-file min/max ranges for BOTH dimensions must tighten
    — range_overlap_score drops toward 1.0 on both columns, while the
    unsorted layout's files each span ~the whole domain."""
    from simple_pos_kafka_pyspark_airflow_spark.analyze import (
        file_range_stats,
        range_overlap_score,
    )
    from simple_pos_kafka_pyspark_airflow_spark.operators.order import zorder_key

    n = 40_000
    df = spark.range(n).select(
        (F.col("id") % 200).alias("x"),
        ((F.col("id") * 7919) % 200).alias("y"),
    )
    shuffled = df.repartition(8)
    base = str(tmp_path / "plain")
    shuffled.write.parquet(base)
    zpath = str(tmp_path / "zorder")
    (
        shuffled.withColumn("_z", zorder_key(F.col("x"), F.col("y"), bits=8))
        .repartitionByRange(8, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.parquet(zpath)
    )
    plain = file_range_stats(spark, base, ["x", "y"])
    zed = file_range_stats(spark, zpath, ["x", "y"])
    for c in ("x", "y"):
        before = range_overlap_score(plain, c)
        after = range_overlap_score(zed, c)
        assert after < before * 0.6, (c, before, after)
    # rows survive the relayout
    assert spark.read.parquet(zpath).count() == n


def test_range_overlap_score_skips_all_null_files(spark, tmp_path):
    """A file whose column is entirely NULL has NULL min/max footer stats
    — it carries no range and must be EXCLUDED from the overlap score
    (such files always prune for non-null predicates), not crash the
    driver-side fold with a TypeError."""
    from simple_pos_kafka_pyspark_airflow_spark.analyze import (
        file_range_stats,
        range_overlap_score,
    )

    path = str(tmp_path / "mixed")
    # two files: one with real x values, one all-NULL
    spark.createDataFrame([(i, i) for i in range(100)], "id long, x long").coalesce(
        1
    ).write.parquet(path)
    spark.createDataFrame(
        [(i, None) for i in range(100, 120)], "id long, x long"
    ).coalesce(1).write.mode("append").parquet(path)
    stats = file_range_stats(spark, path, ["x"])
    # only the non-null file contributes: one file spanning the global
    # range → perfectly clustered score 1.0
    assert range_overlap_score(stats, "x") == 1.0
    # all files all-NULL → no measurable ranges at all
    nulls = str(tmp_path / "allnull")
    spark.createDataFrame(
        [(i, None) for i in range(50)], "id long, x long"
    ).write.parquet(nulls)
    assert range_overlap_score(file_range_stats(spark, nulls, ["x"]), "x") == 0.0


def test_codec_audit_measures_real_tradeoffs(spark, tmp_path):
    """The codec audit must produce readable-back copies and a measured
    ordering where every real codec beats 'none' on compressible text
    and the relative ratios are sane (no codec inflates data)."""
    from simple_pos_kafka_pyspark_airflow_spark.analyze import codec_audit

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sizes = codec_audit(docs, str(tmp_path / "codecs"), codecs=("snappy", "zstd", "none"))
    by = dict(sizes)
    assert set(by) == {"snappy", "zstd", "none"}
    assert by["zstd"] < by["none"] and by["snappy"] < by["none"]
    # copies read back identical row counts
    n = docs.count()
    for codec in by:
        assert spark.read.parquet(str(tmp_path / "codecs" / codec)).count() == n


def test_warc_roundtrip_and_errors(spark, tmp_path):
    """WARC writer/parser twins: byte-exact body recovery (binary bodies
    included), HTTP status/content-type extraction, non-HTTP records
    delivered opaque, and ValueError on truncation/bad version."""
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.sources import warcsource as w

    body_bin = bytes(range(256)) + b"\r\n\r\nnot a delimiter inside body"
    recs = (
        w.build_warc_record("warcinfo", None, "2026-01-01T00:00:00Z", b"software: x\r\n")
        + w.build_warc_record(
            "response", "https://a/1", "2026-01-01T00:00:00Z", b"<html>hi</html>",
            http_status=200, content_type="text/html",
        )
        + w.build_warc_record(
            "response", "https://a/2", "2026-01-01T00:00:00Z", body_bin,
            http_status=404, content_type="application/octet-stream",
        )
    )
    parsed = list(w.parse_warc(recs))
    assert [f["warc-type"] for f, _ in parsed] == ["warcinfo", "response", "response"]
    status, ctype, body = w._parse_http_response(parsed[2][1])
    assert (status, ctype, body) == (404, "application/octet-stream", body_bin)

    with _pytest.raises(ValueError):
        list(w.parse_warc(recs[: len(recs) - 40]))  # truncated block
    with _pytest.raises(ValueError):
        list(w.parse_warc(b"NOTWARC/1.0\r\nContent-Length: 0\r\n\r\n"))
    with _pytest.raises(ValueError):
        list(w.parse_warc(b"WARC/1.0\r\nWARC-Type: x\r\n\r\n"))  # no length

    # through the DataSource: per-file partitions, response typing
    p = tmp_path / "warcs"
    p.mkdir()
    (p / "one.warc").write_bytes(recs)
    w.register_warc_source(spark)
    rows = (
        spark.read.format("warc").option("path", str(p)).load().collect()
    )
    by_uri = {r["target_uri"]: r for r in rows}
    assert len(rows) == 3
    assert by_uri[None]["warc_type"] == "warcinfo" and by_uri[None]["http_status"] is None
    assert by_uri["https://a/1"]["http_status"] == 200
    assert bytes(by_uri["https://a/2"]["payload"]) == body_bin
    assert all(r["warc_file"] == "one.warc" for r in rows)


def test_warc_gz_member_per_record(spark, tmp_path):
    """CommonCrawl layout: a .warc.gz is a CONCATENATION of per-record
    gzip members — the reader must inflate all members and recover the
    identical record stream; a .gz name without gzip magic errors."""
    import gzip

    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.sources import warcsource as w

    date = "2026-01-01T00:00:00Z"
    r1 = w.build_warc_record("warcinfo", None, date, b"software: t\r\n")
    r2 = w.build_warc_record("response", "https://a/1", date, b"<html>x</html>",
                             http_status=200, content_type="text/html")
    gz = gzip.compress(r1) + gzip.compress(r2)  # two members
    assert w.maybe_gunzip_warc(gz, "f.warc.gz") == r1 + r2
    with _pytest.raises(ValueError):
        w.maybe_gunzip_warc(b"plain", "f.warc.gz")

    p = tmp_path / "gzwarc"
    p.mkdir()
    (p / "one.warc.gz").write_bytes(gz)
    w.register_warc_source(spark)
    rows = spark.read.format("warc").option("path", str(p)).load().collect()
    assert len(rows) == 2
    by_type = {r["warc_type"]: r for r in rows}
    assert by_type["response"]["http_status"] == 200
    assert bytes(by_type["response"]["payload"]) == b"<html>x</html>"
    assert by_type["response"]["warc_file"] == "one.warc.gz"


class _LazyRecordStream:
    """A read-only binary stream that SYNTHESIZES its WARC bytes one
    record at a time — lets the peak-memory tests drive a multi-hundred-
    megabyte file through the parser without that file ever existing
    anywhere (disk or memory). Only the current record is resident."""

    def __init__(self, make_record, n_records: int):
        self._make, self._n = make_record, n_records
        self._i, self._cur, self._off = 0, b"", 0

    def read(self, n: int = -1) -> bytes:
        if self._off >= len(self._cur):
            if self._i >= self._n:
                return b""
            self._cur = self._make(self._i)
            self._off = 0
            self._i += 1
        if n is None or n < 0:
            n = len(self._cur) - self._off
        out = self._cur[self._off : self._off + n]
        self._off += len(out)
        return out


def test_warc_stream_peak_memory_is_o_record_not_o_file():
    """The r13 memory contract (VERDICT item 1): parsing a ~200 MB plain
    WARC stream of 1 MB records must peak at O(max record) Python memory
    — NOT O(file), which is what the r12 whole-file read did (~10 GB/task
    at CommonCrawl sizes). The bound here is 32 MB: one record (1 MB) +
    one I/O chunk + bytearray growth slack, two orders of magnitude under
    the stream size."""
    import tracemalloc

    from simple_pos_kafka_pyspark_airflow_spark.sources import warcsource as w

    body_size, n_records = 1 << 20, 200  # ~200 MB total

    def make(i: int) -> bytes:
        prefix = b"rec%06d|" % i
        body = prefix + b"\xab" * (body_size - len(prefix))
        return w.build_warc_record(
            "response", f"https://ex.com/{i}", "2026-01-01T00:00:00Z", body,
            http_status=200, content_type="text/plain",
        )

    stream = _LazyRecordStream(make, n_records)
    tracemalloc.start()
    tracemalloc.reset_peak()
    seen = 0
    for fields, block in w.open_warc_record_stream(stream, "big.warc"):
        status, _, body = w._parse_http_response(block)
        assert status == 200 and len(body) == body_size
        assert body.startswith(b"rec%06d|" % seen)
        seen += 1
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert seen == n_records
    assert peak < 32 << 20, f"peak {peak >> 20} MB is not O(record)"


def test_warc_gz_stream_peak_memory_bounded():
    """Same contract through the gzip leg: concatenated per-record gzip
    members (the CommonCrawl layout) are inflated INCREMENTALLY — the
    decompressed stream (~100 MB here) is never resident, only the
    current record. Members are synthesized lazily so neither form of
    the file exists in full."""
    import gzip
    import tracemalloc

    from simple_pos_kafka_pyspark_airflow_spark.sources import warcsource as w

    body_size, n_records = 1 << 20, 100

    def make(i: int) -> bytes:
        prefix = b"gz%06d|" % i
        body = prefix + b"z" * (body_size - len(prefix))
        return gzip.compress(
            w.build_warc_record(
                "response", f"https://ex.com/{i}", "2026-01-01T00:00:00Z", body,
                http_status=200, content_type="text/plain",
            )
        )

    stream = _LazyRecordStream(make, n_records)
    tracemalloc.start()
    tracemalloc.reset_peak()
    seen = 0
    for fields, block in w.open_warc_record_stream(stream, "big.warc.gz"):
        status, _, body = w._parse_http_response(block)
        assert status == 200 and len(body) == body_size
        seen += 1
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert seen == n_records
    assert peak < 32 << 20, f"peak {peak >> 20} MB is not O(record)"


def test_warc_source_scheme_prefixed_path(spark, tmp_path):
    """Remote-FS discovery (VERDICT item 5): a scheme-prefixed URI
    resolves through pyarrow.fs in BOTH planning (partition listing) and
    executor reads, and yields exactly the rows the bare-path form does.
    file:// stands in for s3://-class URIs (same resolver code path)."""
    from simple_pos_kafka_pyspark_airflow_spark.sources import warcsource as w

    date = "2026-01-01T00:00:00Z"
    p = tmp_path / "schemed"
    p.mkdir()
    (p / "a.warc").write_bytes(
        w.build_warc_record("warcinfo", None, date, b"software: t\r\n")
        + w.build_warc_record("response", "https://s/1", date, b"<p>one</p>",
                              http_status=200, content_type="text/html")
    )
    (p / "b.warc").write_bytes(
        w.build_warc_record("response", "https://s/2", date, b"<p>two</p>",
                            http_status=404, content_type="text/html")
    )
    (p / "ignored.txt").write_bytes(b"not a warc")
    w.register_warc_source(spark)
    plain = spark.read.format("warc").option("path", str(p)).load()
    schemed = spark.read.format("warc").option("path", f"file://{p}").load()
    rows_plain = sorted(
        (r["warc_file"], r["target_uri"] or "", r["http_status"] or 0)
        for r in plain.collect()
    )
    rows_schemed = sorted(
        (r["warc_file"], r["target_uri"] or "", r["http_status"] or 0)
        for r in schemed.collect()
    )
    assert rows_plain == rows_schemed
    assert len(rows_plain) == 3
    assert {f for f, _, _ in rows_plain} == {"a.warc", "b.warc"}
