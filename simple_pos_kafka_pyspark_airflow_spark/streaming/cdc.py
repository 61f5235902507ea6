"""Streaming CDC: add/edit/remove event streams applied to a warehouse.

The reference's consumer applies 9 topics of add/edit/remove events to CSV
state files one message at a time (full-file rewrite per event,
``kafka_consumer.py:96-106,186,280``), then an hourly Airflow DAG diffs
those files against Postgres and replays the diff as driver-side DELETE +
UPSERT (``POS_spark_dag.py:155-193``). Two lossy hops.

Here CDC is one hop: the typed event stream is applied directly to the
warehouse via ``foreachBatch`` (versions through the SCD2 kernels of
``operators/upsert.py``) — the canonical Structured Streaming CDC shape.

Semantics (stronger than the reference, documented per SURVEY.md §7):

- **ordering**: within a micro-batch, the *last* event per key wins
  (event-time order, unique tiebreak) — the reference relies on Kafka
  per-partition order plus single-threaded apply.
- **idempotence**: replaying a batch yields the same table, so
  checkpoint-recovery gives effective exactly-once into the parquet sink.
- **deletes**: an explicit ``op`` column (``upsert``/``delete``), not the
  reference's delete-by-absence heuristic; ``apply_snapshot`` still covers
  the snapshot-diff mode.

Scale: each micro-batch collapses its events to the final event per key
ONCE (``latest_per_key``, persisted and counted — the count is the
idle-trigger check). Every later step is a join against that batch-sized
frame: the new snapshot is one anti join of the table on the batch's keys
plus the batch's upserts, and the SCD2 changelog is the batch joined to
the matching current rows — never a full-snapshot diff. The
read-modify-write of the whole table is the plain-parquet cost (no Delta
in this container); the swap is atomic via staged directory rename.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cacheutil import computed
from ..operators import upsert as upsert_ops
from ..sources.io import (
    fs_delete,
    fs_swap_in,
    read_committed,
    staging_sibling,
    write_staged,
)

OP_COL = "_op"
OP_UPSERT = "upsert"
OP_DELETE = "delete"


def latest_per_key(
    events: DataFrame, pk: list[str], order_col: str, tiebreak: list[str] | None = None
) -> DataFrame:
    """Collapse a CDC batch to its final event per key: row_number over
    (pk) ordered by ``order_col`` desc — the distributed version of the
    reference's sequential last-write-wins apply loop.

    ``tiebreak`` names extra columns (e.g. Kafka offset, monotonic event
    id) appended desc to the ordering so equal-``order_col`` events within
    a batch resolve deterministically. When absent, ``_tiebreak_all``
    orders by every remaining column as a last resort — deterministic for
    any input, if semantically arbitrary."""
    order = [F.col(order_col).desc()]
    if tiebreak:
        order += [F.col(c).desc() for c in tiebreak]
    else:
        order += [F.col(c).desc() for c in events.columns if c != order_col and c not in pk]
    w = Window.partitionBy(*pk).orderBy(*order)
    return events.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def apply_cdc_batch(
    table: DataFrame,
    events: DataFrame,
    pk: str | list[str],
    order_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Apply one micro-batch of ``upsert``/``delete`` events to a table
    snapshot, returning the new snapshot. Pure DataFrame logic — unit-
    testable without any stream running."""
    keys = [pk] if isinstance(pk, str) else list(pk)
    return _apply_final(table, latest_per_key(events, keys, order_col, tiebreak), keys, order_col)


def _apply_final(table: DataFrame, final: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """The new snapshot from a batch already collapsed to one final event
    per key: ``table ⟕anti final-keys ∪ final-upserts``. With one event
    per key a key is either upserted or deleted, so one anti join on the
    touched keys both replaces and deletes. An event whose op is neither
    leaves its key's row untouched."""
    touched = final.where(F.col(OP_COL).isin(OP_UPSERT, OP_DELETE)).select(*keys)
    upserts = final.where(F.col(OP_COL) == OP_UPSERT).drop(OP_COL, order_col)
    return upserts.unionByName(table.join(touched, on=keys, how="left_anti"))


def _same(cols: list[str], a: str, b: str) -> Column:
    """Null-safe equality of ``cols`` between the frames aliased ``a`` and
    ``b`` (true for no columns)."""
    return reduce(
        lambda x, y: x & y,
        [F.col(f"{a}.{c}").eqNullSafe(F.col(f"{b}.{c}")) for c in cols],
        F.lit(True),
    )


def _changelog(current: DataFrame, final: DataFrame, keys: list[str]) -> DataFrame:
    """The batch's NET changes as rows of ``final``: an upsert whose key is
    new or whose values differ from the current row (null-safe per
    column), and a delete of a present key. A restated value and a delete
    of an absent key emit nothing. Only keys with an event can change, so
    this is ``final ⟕left (current ⋉ final-keys)`` on the pk: the semi
    join's build side is the batch's key set, so the snapshot is scanned
    but not shuffled, and only its matching rows reach the outer join."""
    hit = current.join(final.select(*keys), on=keys, how="left_semi")
    j = final.alias("n").join(
        hit.withColumn("__present", F.lit(True)).alias("o"), on=keys, how="left"
    )
    present = F.col("__present").isNotNull()
    same = _same([c for c in current.columns if c not in keys], "n", "o")
    op = F.col(OP_COL)
    changed = ((op == OP_UPSERT) & ~(present & same)) | ((op == OP_DELETE) & present)
    return j.where(changed).select(*keys, *[f"n.{c}" for c in final.columns if c not in keys])


class ParquetCdcSink:
    """Checkpointable CDC target over plain parquet.

    ``foreach_batch`` is handed to ``writeStream.foreachBatch``; each call
    reads the current snapshot, applies the batch, and atomically swaps in
    the new snapshot (write to staging dir, then rename). Idempotent:
    re-running a batch after a crash converges to the same table.

    With Delta/Iceberg available this class collapses to a single
    ``MERGE`` statement; the interface is the stable part.
    """

    def __init__(
        self, spark: SparkSession, path: str, pk: str | list[str], order_col: str, schema: str
    ) -> None:
        self.spark = spark
        self.path = path
        self.pk = [pk] if isinstance(pk, str) else list(pk)
        self.order_col = order_col
        self.schema = schema  # DDL string: snapshot columns (no _op / order col)

    def read(self) -> DataFrame:
        """The committed snapshot (``sources.io.read_committed``: after a
        swap that crashed between its renames, the previous snapshot
        under the tombstone); an empty frame of ``schema`` before the
        first commit."""
        committed = read_committed(self.spark, self.path, self.schema)
        return committed or self.spark.createDataFrame([], self.schema)

    def foreach_batch(self, events: DataFrame, batch_id: int) -> None:
        # the final event per key, computed once: its row count is the
        # idle-trigger check and every plan below reads it from memory
        with computed(latest_per_key(events, self.pk, self.order_col)) as (final, n):
            if n:
                self._apply(final)

    def _apply(self, final: DataFrame) -> None:
        new_snapshot = _apply_final(self.read(), final, self.pk, self.order_col)
        # Stage as a SIBLING of the live dir (same filesystem, so the
        # promotion is a rename, never a copy), written BEFORE the live
        # dir is touched (the plan reads the live dir). The swap itself
        # (live → tombstone, staging → live, drop tombstone) lives in
        # sources.io.fs_swap_in; after a crash between its renames,
        # read_committed reads the tombstone and the next swap replaces
        # it — Hadoop-FS surgery, valid on any scheme.
        staging = staging_sibling(self.path)
        write_staged(new_snapshot, staging)
        fs_swap_in(self.spark, staging, self.path)


class ScdParquetCdcSink(ParquetCdcSink):
    """CDC sink that keeps the current snapshot AND an SCD2 version
    history: every net change lands as a closed/open version chain, so the
    warehouse answers as-of queries under the live streaming pipeline.

    Composition per batch (all plain DataFrame ops):

    1. ``latest_per_key`` → the batch's final event per key, computed once
       and held in memory (the base sink's step);
    2. the new snapshot: the current table minus the batch's keys, plus
       its upserts (inherited semantics);
    3. the batch's NET changelog: the final events joined to the current
       rows of their keys — an upsert that changes nothing (a restated
       value) and a delete of an absent key emit nothing. Versioning net
       changes rather than raw events is what makes history maintenance
       idempotent and noise-free: a replayed batch (crash between the two
       directory swaps, or checkpoint commit failure) yields an empty
       changelog or one whose versions are already present;
    4. the replay guard drops every upsert whose full version content is
       already in history; the guarded changelog is computed once;
    5. ``scd2_close`` closes the open versions of its keys (changed
       upserts and deletes) at the event's CDC timestamp in one pass over
       the history, and its upserts append as open versions
       (``scd2_open``). One row per key makes this equal to
       ``scd2_close(scd2_apply(history, upserts), deletes)``;
    6. write both staging dirs, then swap HISTORY first, snapshot second.
       Order matters: if the crash lands between the swaps, the replayed
       batch still sees the OLD snapshot, recomputes the same non-empty
       changelog, and the replay guard makes the history update a no-op
       — whereas snapshot-first would replay an empty changelog and lose
       the batch's versions forever.

    Scale: beyond the base sink's snapshot rewrite, the changelog is one
    more snapshot scan semi-joined to the batch's keys, then the batch
    left-joined to those matching rows; the guard is one anti join on the
    history, and the close one more pass over the history joined to the
    batch-sized close times. With Delta/Iceberg the two swaps become one transaction; the
    composition is the stable part.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        history_path: str,
        pk: str | list[str],
        order_col: str,
        schema: str,
        order_type: str = "timestamp",
    ) -> None:
        super().__init__(spark, path, pk, order_col, schema)
        self.history_path = history_path
        # valid_from/valid_to take the version clock's own type: event-time
        # timestamps and monotonic sequence numbers both work
        self.history_schema = f"{schema}, valid_from {order_type}, valid_to {order_type}"

    def read_history(self) -> DataFrame:
        """The committed SCD2 history, read as ``read`` reads the snapshot."""
        committed = read_committed(self.spark, self.history_path, self.history_schema)
        return committed or self.spark.createDataFrame([], self.history_schema)

    def _apply(self, final: DataFrame) -> None:
        current = self.read()
        new_snapshot = _apply_final(current, final, self.pk, self.order_col)
        changes = _changelog(current, final, self.pk)
        history = self.read_history()
        # replay guard: a version is identified by its FULL content (all
        # schema columns, incl. the event timestamp), not just
        # (pk, valid_from) — a legitimate second change that lands with
        # the same coarse-granularity timestamp as the version it
        # supersedes differs in at least one value column and must NOT be
        # classified as a replay (it would silently vanish from history).
        # eqNullSafe per column so a NULL-bearing version still matches
        # its replayed twin. A true same-ts update closes the prior
        # version at its own valid_from (zero-length lifespan recording
        # the superseded value) and opens the new one — deterministic
        # last-writer-wins, consistent with the snapshot's tiebreak.
        # Deletes pass the guard: closing a closed version is a no-op.
        version_cols = [c for c in changes.columns if c != OP_COL]
        hist_versions = history.select(
            *[c for c in version_cols if c != self.order_col],
            F.col("valid_from").alias(self.order_col),
        ).alias("h")
        replayed = (F.col(f"u.{OP_COL}") == OP_UPSERT) & _same(version_cols, "u", "h")
        guarded = changes.alias("u").join(hist_versions, replayed, "left_anti")
        with computed(guarded) as (guarded, _):
            # one row per key, so the closed keys (fresh upserts and
            # deletes) and the opened versions never collide:
            # scd2_close(scd2_apply(history, fresh), deletes) in one pass
            dim_cols = [c for c in history.columns if c not in ("valid_from", "valid_to")]
            new_history = upsert_ops.scd2_close(
                history, guarded, self.pk, self.order_col
            ).unionByName(
                upsert_ops.scd2_open(
                    guarded.where(F.col(OP_COL) == OP_UPSERT), dim_cols, self.order_col
                )
            )
            snap_staging = staging_sibling(self.path)
            hist_staging = staging_sibling(self.history_path)
            # materialize BOTH before touching either live dir (plans read them)
            write_staged(new_snapshot, snap_staging)
            try:
                write_staged(new_history, hist_staging)
            except Exception:
                # the snapshot staging already landed — reclaim it too, or the
                # pair of failed stagings leaks per retry
                fs_delete(self.spark, snap_staging)
                raise
            # swap HISTORY first, snapshot second (see class docstring)
            fs_swap_in(self.spark, hist_staging, self.history_path)
            fs_swap_in(self.spark, snap_staging, self.path)
