"""Batch sources and sinks (SURVEY.md §2.1).

Reference behaviors re-expressed:

- S1/S2 — CSV scans (header-only and inferSchema variants,
  ``POS_spark_dag.py:90,143-146``) → one typed CSV reader with a declared
  schema; inferSchema is deliberately not offered (double scan, unstable
  types — SURVEY §4 anti-pattern 3).
- S3/S6 — JDBC warehouse scans/appends (``POS_spark_dag.py:43-52,109-117``)
  → parquet warehouse tables; append stays a plain executor-parallel write.
- S9 — the consumer's sort-and-rewrite-whole-CSV-per-event
  (``kafka_consumer.py:100-106``) → partitioned parquet with
  ``sortWithinPartitions``: sorted *files* without any global shuffle.
- S5 (Kafka sink) / S4 batch form — builders for ``format("kafka")``
  round-trips; not exercised in tests (no broker in container), but the
  payload encoding (``to_json(struct(...))``) is — it is plain columnar
  Spark either way.

Scale notes: every writer here is executor-parallel (no driver funnel); the
daily-partition layout turns the reference's filename games into partition
pruning; ``maxRecordsPerFile`` bounds file sizes so a hot date still
produces splittable output.

Committed state: this module is the only owner of directory surgery on
the engine's parquet state (CDC snapshots, incremental index logs,
quantizer tables, frozen monitor references). ``overwrite_atomic`` swaps
a snapshot, or a release of several tables, in through a tombstone.
``read_committed`` reads the committed state with no side effects: when
a swap crashed between its two renames, the previous snapshot is read
where it lies, under the tombstone. Writers heal that swap before they
write (``append_parquet``, ``overwrite_atomic``), so nothing is ever
appended beside a tombstone. ``fs_delete`` is the one recursive delete.
Every call goes through the Hadoop FileSystem of the path's own scheme.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_parquet(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    """Warehouse scan (S3). An explicit schema skips footer merging on
    wide directory trees and pins types across files."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession, path: str | list[str], schema: StructType | str, header: bool = True
) -> DataFrame:
    """Typed CSV scan (S1/S2): declared schema, single pass, stable types.
    Accepts a list of paths — the multi-file form replaces the reference's
    loop-fold union (``POS_spark_dag.py:149-152``, SURVEY §4 anti-pattern 4)
    with ONE scan node."""
    paths = path if isinstance(path, list) else [path]
    return spark.read.schema(schema).csv(paths, header=header)


def read_jsonl(spark: SparkSession, path: str | list[str], schema: StructType | str) -> DataFrame:
    """JSON-lines scan with declared schema (the batch twin of
    ``streaming.ingest.file_json_stream``)."""
    paths = path if isinstance(path, list) else [path]
    return spark.read.schema(schema).json(paths)


def read_committed(
    spark: SparkSession, path: str, schema: StructType | str | None = None, part: str | None = None
) -> DataFrame | None:
    """The committed rows of a parquet state directory (typed by
    ``schema`` when given), read with no side effects, so any reader may
    call it. A swap that crashed between its two renames left the live
    directory missing and the previous snapshot under the tombstone; that
    snapshot is read in place (writers heal the swap before they write).
    ``part`` names one table of a release committed as one directory
    (``overwrite_atomic`` given a dict). None ONLY for a never-committed
    path: missing, empty, or hidden-only debris (``fs_dir_has_data``). An
    existing path that fails to read as parquet raises."""
    path = path.rstrip("/")
    fs, p = _fs_for(spark, path)
    if not fs.exists(p):
        path += ".__tombstone__"
    if part is not None:
        path = f"{path}/{part}"
    if not fs_dir_has_data(spark, path):
        return None
    return read_parquet(spark, path, schema)


def append_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Append sink (S6): the daily-append pipeline's terminal write —
    executors write directly, nothing returns to the driver — laid out
    ``partitionBy(*partition_by)`` when given. A crashed swap is healed
    first: an append beside a tombstone would create a live directory
    that the next swap's recovery keeps, dropping the tombstoned rows.
    The heal moves the tombstone's files, so a frame read from them
    (``read_committed``) must be computed before the append; the index
    logs compute what they read (checkpoint or cache) before they append."""
    fs_recover_tombstone(df.sparkSession, path)
    df.write.mode("append").partitionBy(*(partition_by or [])).parquet(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    max_records_per_file: int | None = 5_000_000,
) -> None:
    """Partitioned warehouse write (S9/T4): the reference's
    ``sales_YYYYMMDD.csv`` daily files and per-category product files become
    ``partition_cols`` directories; its sort-before-save becomes
    ``sortWithinPartitions`` — sorted files with zero global shuffle.
    ``maxRecordsPerFile`` keeps any hot partition splittable."""
    out = df
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode("overwrite").partitionBy(*partition_cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def _fs_rename(fs, src, dst) -> bool:
    """The swap primitive, isolated so crash tests can inject a failure
    exactly at the rename window."""
    return fs.rename(src, dst)


def _fs_for(spark: SparkSession, path: str):
    """(FileSystem, Path) for the path's OWN scheme — the only way any
    snapshot/index directory surgery is allowed to touch storage. Driver-
    local ``os``/``shutil`` calls crash or silently no-op on non-local
    URIs (file:, HDFS, ABFS) — exactly the deployments the compaction and
    CDC paths exist for."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def fs_dir_has_data(spark: SparkSession, path: str) -> bool:
    """True when ``path`` exists and holds at least one non-hidden entry.
    Hidden-only debris (parquet's ``_temporary`` from a crashed, never-
    committed write; ``_SUCCESS`` markers) counts as NO data — treating
    it as a committed table would wedge every reader on an unreadable-
    parquet error."""
    fs, p = _fs_for(spark, path)
    if not fs.exists(p):
        return False
    return any(
        not s.getPath().getName().startswith(("_", ".")) for s in fs.listStatus(p)
    )


def fs_recover_tombstone(spark: SparkSession, live: str) -> None:
    """Heal the crash window of a tombstone swap: a tombstone WITHOUT a
    live dir is the old snapshot mid-swap — restore it; a tombstone next
    to a live dir is garbage from a completed swap — drop it."""
    base = live.rstrip("/")
    fs, p = _fs_for(spark, base)
    t = spark._jvm.org.apache.hadoop.fs.Path(base + ".__tombstone__")
    if fs.exists(t):
        if fs.exists(p):
            fs.delete(t, True)
        else:
            _fs_rename(fs, t, p)


def fs_swap_in(spark: SparkSession, staging: str, live: str) -> None:
    """Atomically promote ``staging`` to ``live``: live → tombstone,
    staging → live, drop tombstone. A crash at any point leaves either
    the old or the new snapshot (plus at worst a tombstone that
    ``fs_recover_tombstone`` reclaims, or a staging sibling that the
    path's next swap deletes). ``staging`` must be a sibling on
    the SAME filesystem — a cross-filesystem rename is a copy, not a
    swap. Atomicity inherits the filesystem's rename: real on
    POSIX/HDFS/ABFS; on S3A rename is copy+delete, so use a
    transactional table format there instead (docs/SCALE.md)."""
    base = live.rstrip("/")
    fs, p = _fs_for(spark, base)
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    s = hpath(staging)
    t = hpath(base + ".__tombstone__")
    parent = p.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    if fs.exists(p):
        if fs.exists(t):
            fs.delete(t, True)
        if not _fs_rename(fs, p, t):
            raise OSError(f"atomic swap: tombstone rename failed for {live}")
    if not _fs_rename(fs, s, p):
        raise OSError(f"atomic swap: staging rename failed for {live}")
    if fs.exists(t):
        fs.delete(t, True)
    # a swap that crashed at its staging rename left a complete staging
    # snapshot; each path has one writer, so every staging sibling left
    # now is such debris
    stale = p.getName() + ".__staging__"
    for st in fs.listStatus(parent):
        if st.getPath().getName().startswith(stale):
            fs.delete(st.getPath(), True)


def staging_sibling(path: str) -> str:
    """A unique staging directory NEXT TO the target (same parent, same
    filesystem) so the promotion is a rename, never a copy."""
    return f"{path.rstrip('/')}.__staging__{uuid.uuid4().hex[:8]}"


def overwrite_atomic(
    df: DataFrame | dict[str, DataFrame], path: str, partition_by: list[str] | None = None
) -> None:
    """Full-snapshot overwrite with the same crash discipline as
    ``streaming.cdc.ParquetCdcSink``: write to staging (partitioned by
    ``partition_by`` when given), tombstone-rename the live dir, move
    staging in, drop the tombstone. Readers never observe a
    half-written table; a crash leaves either the old or the new snapshot
    (plus at worst a tombstone that ``read_committed`` reads through and
    the next write heals). A dict ``{part: DataFrame}`` commits several
    tables as ONE release: each is staged as the subdirectory ``part``
    (read back with ``read_committed(..., part=)``) and the whole
    directory swaps in with one rename, so a crash never leaves one
    table of the new release beside another of the old. All directory
    surgery goes through the Hadoop FileSystem of the path's own scheme
    (``fs_swap_in``) — local paths, ``file:`` URIs, HDFS and ABFS alike."""
    parts = df if isinstance(df, dict) else {None: df}
    spark = next(iter(parts.values())).sparkSession
    staging = staging_sibling(path)
    try:
        for part, table in parts.items():
            write_staged(table, staging if part is None else f"{staging}/{part}", partition_by)
    except Exception:
        fs_delete(spark, staging)
        raise
    fs_recover_tombstone(spark, path)
    fs_swap_in(spark, staging, path)


def write_staged(
    df: DataFrame, staging: str, partition_by: list[str] | None = None
) -> None:
    """Write a staging snapshot (partitioned by ``partition_by`` when
    given), deleting the half-written directory if the write itself
    fails — otherwise every failed attempt leaks a uuid-named
    ``.__staging__*`` sibling next to the live table until the next swap
    (a flaky nightly job that never swaps accretes them without bound)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    try:
        writer.parquet(staging)
    except Exception:
        fs_delete(df.sparkSession, staging)
        raise


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FileSystem of its
    own scheme; a missing path is a no-op."""
    fs, p = _fs_for(spark, path)
    fs.delete(p, True)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Bucketed managed table: rows hash-partitioned into ``n_buckets``
    files by ``bucket_col`` at write time (and sorted within buckets).

    This is the 100 TB join strategy the plain path can't give: two tables
    bucketed the same way equi-join with NO exchange on either side — the
    shuffle was paid once at write, then amortized over every subsequent
    join/aggregation on that key (verified by plan audit in
    tests/test_sources.py). The reference's per-category product files
    (``kafka_consumer.py:204``) are a hand-rolled version of exactly this.

    ``path`` makes the table EXTERNAL at that location — use it when the
    catalog is session-scoped but the filesystem outlives it (a managed
    table whose warehouse dir survives a dead session refuses to be
    recreated with LOCATION_ALREADY_EXISTS; an external overwrite is
    idempotent).
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(name)


def write_partition_overwrite(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Idempotent partitioned re-export: overwrite ONLY the partitions
    present in ``df``, leaving every other partition untouched — Spark's
    dynamic partition-overwrite mode, set per-write (no session mutation).

    This is the 100 TB form of the reference's daily 22:00 sales export
    (``POS_spark_dag.py:438-465``): re-running a day replaces exactly that
    day's partition. The default (static) overwrite would TRUNCATE the
    whole table first — on a production lake that is the classic
    rerun-erases-history incident; behavior pinned in
    tests/test_sources.py.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def to_kafka_payload(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Encode rows as Kafka records: value = JSON of all columns (the
    reference's producer serializer, ``kafka_producer.py:25``), key = the
    partitioning column so one entity's events stay ordered within a
    partition."""
    return df.select(
        *([F.col(key_col).cast("string").alias("key")] if key_col else []),
        # the key column stays IN the payload too: the value must decode to
        # the full event on its own (consumers don't reassemble from keys)
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )


def write_kafka(df: DataFrame, brokers: str, topic: str, key_col: str | None = None) -> None:
    """Batch Kafka sink (S5). Requires a reachable broker — not exercised
    in the test container; the payload encoding above is."""
    to_kafka_payload(df, key_col).write.format("kafka").option(
        "kafka.bootstrap.servers", brokers
    ).option("topic", topic).save()


def read_kafka_batch(
    spark: SparkSession, brokers: str, topic: str, starting_offsets: str = "earliest"
) -> DataFrame:
    """Batch Kafka scan (S4 batch form) — bounded read of a topic's current
    contents; pair with ``streaming.ingest.parse_json_events``."""
    return (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
    predicates: list[str] | None = None,
    extra_options: dict[str, str] | None = None,
) -> DataFrame:
    """JDBC table scan (S3 literal form — ``POS_spark_dag.py:43-52`` reads
    ``public.{sales,products,customers}`` from Postgres with exactly this
    builder shape).

    Scale: a bare JDBC read is ONE task holding one connection — the
    ``partition_column``/bounds/``num_partitions`` quartet is what makes it
    executor-parallel (each task reads a key range); ``predicates`` is the
    non-numeric alternative — one WHERE clause per partition, passed to
    Spark's real ``jdbc(predicates=...)`` path (NOT as reader options,
    which the source would silently ignore). Filters still push down
    (Spark renders them into each partition's WHERE clause). Requires
    the vendor driver jar on the classpath at runtime. Executed live in
    this repo against embedded Derby (on every Spark classpath —
    tests/test_sources.py and q_scan_jdbc_live cover round-trip,
    partitioned read, predicates, and filter pushdown); production
    deployments point the same builder at a networked RDBMS URL. Derby
    gotcha mirrored in the tests: unquoted identifiers fold to
    UPPERCASE, so hand-written ``predicates`` must quote columns Spark
    wrote case-sensitively."""
    if predicates:
        props = {"fetchsize": str(fetchsize), **(extra_options or {})}
        if user is not None:
            props["user"] = user
        if password is not None:
            props["password"] = password
        return spark.read.jdbc(url, table, predicates=list(predicates), properties=props)
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetchsize))
    )
    if user is not None:
        reader = reader.option("user", user)
    if password is not None:
        reader = reader.option("password", password)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or num_partitions is None:
            raise ValueError("partition_column requires lower_bound, upper_bound, num_partitions")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in (extra_options or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    user: str | None = None,
    password: str | None = None,
    batchsize: int = 10_000,
    num_partitions: int | None = None,
) -> None:
    """JDBC append sink (S6 literal form — ``POS_spark_dag.py:109-117``
    appends cleaned daily sales to Postgres). Executors write directly
    (one connection per partition, ``batchsize`` rows per round-trip) — the
    reference's OTHER write path, collect()+psycopg2 upserts
    (``POS_spark_dag.py:170-193``), is deliberately not offered: it funnels
    the data through the driver; keyed merges belong to
    ``operators.upsert``/``streaming.cdc`` with this append as the load
    step. ``num_partitions`` caps concurrent connections via
    ``repartition`` — one extra shuffle, but ``coalesce`` would propagate
    the cap UP through every narrow upstream stage (the aggregation
    feeding the write would itself run in ``num_partitions`` tasks —
    with 1, the whole job on one core)."""
    out = df.repartition(num_partitions) if num_partitions else df
    writer = (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    if user is not None:
        writer = writer.option("user", user)
    if password is not None:
        writer = writer.option("password", password)
    writer.save()


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` through the Hadoop FileSystem of the
    path's own scheme (``getContentSummary``) — a driver-local walk would
    return 0 on any non-local URI and silently missize everything
    downstream (compaction would coalesce a multi-TB table to ONE file).
    At lake scale prefer the catalog's stats over a live listing."""
    fs, p = _fs_for(spark, path)
    return int(fs.getContentSummary(p).getLength())


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(bytes / target)`` files via the atomic tombstone swap.

    Streaming sinks and frequent small batch appends accrete files far
    below the scan-efficient size; at 100 TB the file count — not the
    byte count — becomes the scan bottleneck (one task + one open per
    file, footer reads, driver listing). Compaction trades one bounded
    rewrite for every future scan's task count. ``coalesce`` (not
    ``repartition``) avoids a shuffle: parquet row groups concatenate
    fine, and output skew only matters if the input was already skewed —
    callers with skewed inputs should repartition upstream. Returns the
    number of output files requested: 0, and no write, when nothing was
    ever committed at ``path``."""
    df = read_committed(spark, path)
    if df is None:
        return 0
    n_files = max(1, -(-dir_bytes(spark, path) // target_file_bytes))  # ceil
    overwrite_atomic(df.coalesce(n_files), path)
    return n_files
