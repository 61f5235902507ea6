"""Streaming ingestion: JSON event streams with declared schemas.

The reference consumes 9 Kafka topics with one Python thread each, JSON
``loads`` per message, no schema (``kafka_consumer.py:13-21,379-399``).
Here every stream is a Structured Streaming source + ``from_json`` with an
explicit ``StructType`` — malformed events land in a ``_corrupt`` column
instead of crashing a consumer thread.

Two interchangeable sources behind one parse stage:

- **Kafka** (production): ``readStream.format("kafka")`` — offsets are
  checkpointed by the engine, replacing the reference's at-least-once
  auto-commit. Not exercised in tests (no broker in the container); the
  builder is covered by plan-construction tests only.
- **File/directory** (tests + the reference's S10 semantics): Spark's file
  source lists new files per micro-batch exactly like the reference's
  "mtime within the last hour" scan (``POS_spark_dag.py:66-79``) but with
  checkpointed exactly-once file tracking instead of a racy mtime window.
  ``Trigger.AvailableNow`` gives the reference's hourly batch-drain cadence.

Scale: parse is pure codegen (``from_json``); one Kafka partition maps to
one Spark task, so topic partitioning is the parallelism knob — 100 TB/day
needs partitions sized to ~MB/s each, not the reference's single consumer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType


def parse_json_events(
    raw: DataFrame,
    schema: StructType | str,
    value_col: str = "value",
    keep_corrupt: bool = True,
    keep: list[str] | None = None,
) -> DataFrame:
    """Decode a JSON-bytes column into typed columns (works on both batch
    and streaming DataFrames — same plan either way).

    Replaces the reference's per-message ``json.loads`` deserializer
    (``kafka_consumer.py:17``). Malformed rows are preserved with the raw
    payload in ``_corrupt`` for a dead-letter sink rather than dropped
    silently. Detection uses PERMISSIVE mode's corrupt-record column —
    ``from_json`` returns an all-null struct (not a NULL struct) for bad
    input, so an ``isNull`` probe on the struct would never fire.
    """
    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    value = F.col(value_col).cast("string")
    if keep_corrupt:
        # copy the FIELD LIST, not just the StructType wrapper —
        # StructType(st.fields) aliases the caller's list, and .add()
        # would append _corrupt to their (often module-constant) schema,
        # corrupting every later use of it
        st = StructType(list(st.fields)).add("_corrupt", StringType())
        parsed = raw.withColumn(
            "_parsed", F.from_json(value, st, {"columnNameOfCorruptRecord": "_corrupt"})
        )
    else:
        parsed = raw.withColumn("_parsed", F.from_json(value, st))
    cols = [F.col("_parsed").getField(f.name).alias(f.name) for f in st.fields]
    keep_cols = [F.col(c) for c in (keep or [])]
    return parsed.select(*keep_cols, *cols)


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    schema: StructType | str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Typed stream over one Kafka topic (reference topics declared at
    ``kafka_producer.py:11-19``). Returns the parsed columns plus Kafka
    metadata (topic/partition/offset/timestamp) for lineage and dedup."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_frame(raw, schema)


def parse_kafka_frame(raw: DataFrame, schema: StructType | str) -> DataFrame:
    """Parse a Kafka-SHAPED frame (key/value binary + topic/partition/
    offset/timestamp) into typed columns plus the metadata as
    ``_topic``/``_partition``/``_offset``/``_kafka_ts``. Split out of
    ``kafka_stream`` so the composition is testable broker-free on a
    batch frame with the source's schema.

    The metadata is renamed BEFORE parsing and threaded through the
    parse's ``keep`` list: referencing the raw frame's columns after the
    parse projection is unresolvable (they no longer exist in the parsed
    plan), and the underscore names can't collide with payload fields.
    """
    meta = raw.select(
        F.col("topic").alias("_topic"),
        F.col("partition").alias("_partition"),
        F.col("offset").alias("_offset"),
        F.col("timestamp").alias("_kafka_ts"),
        "value",
    )
    return parse_json_events(
        meta, schema, keep=["_topic", "_partition", "_offset", "_kafka_ts"]
    )


def file_json_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Directory-as-stream: each micro-batch reads files not yet seen in
    the checkpoint — the correct version of the reference's mtime scan
    (``POS_spark_dag.py:66-79``, S10/T5). JSON-lines files, declared schema
    (never inferSchema — SURVEY.md §4 anti-pattern 3)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)
