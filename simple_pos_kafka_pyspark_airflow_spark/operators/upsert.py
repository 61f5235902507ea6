"""Snapshot upsert / delete-by-absence — the heart of the reference's CDC.

The reference syncs CSV state-files into Postgres by collecting every row
to the driver and running psycopg2 ``DELETE`` + ``INSERT … ON CONFLICT DO
UPDATE`` (``POS_spark_dag.py:155-193``, products ``:235-271``, customers
``:319-354``). That funnels O(data) through one process — the single worst
scalability decision in the reference (SURVEY.md §4 anti-pattern 2).

Pure-Spark re-expression, executed entirely on executors:

    upserted  = new ∪ (old ⟕anti_pk new)     -- new wins on conflicting pk
    deleted   = old ⟕anti_pk new              -- snapshot semantics: absent = delete
    merged    = new                           -- when new is a FULL snapshot

Two modes because the reference conflates them:

- ``merge_delta``: ``new`` is a *partial* batch of upserts → keep old rows
  whose pk is untouched.
- ``apply_snapshot``: ``new`` is a *full* snapshot → result is exactly
  ``new``; ``deletes(old, new)`` reports what disappeared (the reference
  computes exactly this diff to emit DELETE statements).

Scale: both are single equi-shuffles on the pk. With the warehouse stored
bucketed by pk, the anti join is co-located and shuffle-free; with Delta or
Iceberg the same logic is ``MERGE WHEN NOT MATCHED BY SOURCE``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def merge_delta(old: DataFrame, new: DataFrame, pk: str | list[str]) -> DataFrame:
    """Upsert a partial batch: rows of ``new`` plus rows of ``old`` whose
    primary key does not appear in ``new``. Equivalent to the reference's
    ``INSERT … ON CONFLICT (pk) DO UPDATE`` (``POS_spark_dag.py:178-193``)
    without the driver round-trip."""
    # "old rows whose pk is absent from new" IS delete-by-absence — one
    # definition (deletes), not an inlined twin that could drift
    return new.unionByName(deletes(old, new, pk))


def deletes(old: DataFrame, new: DataFrame, pk: str | list[str]) -> DataFrame:
    """Delete-by-absence: old rows whose pk is missing from the new
    snapshot (``POS_spark_dag.py:155-168``)."""
    keys = [pk] if isinstance(pk, str) else list(pk)
    return old.join(new.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")


def diff_snapshots(
    old: DataFrame, new: DataFrame, pk: str | list[str], op_col: str = "_op"
) -> DataFrame:
    """Changelog between two snapshots — the INVERSE of CDC apply: emit the
    upsert/delete event stream that transforms ``old`` into ``new``.

    - pk in new but not old, or present in both with any non-key column
      changed → ``upsert`` (the new row);
    - pk in old but not new → ``delete`` (key columns + nulls).

    Unchanged rows emit nothing, so downstream consumers replay only the
    delta. This is what the reference's hourly job effectively computes
    before its driver-side DELETE/UPSERT (``POS_spark_dag.py:133-193``) —
    here it stays distributed: one full-outer join on the pk, executed as
    a single co-located shuffle when both snapshots are bucketed by pk.
    Comparison is null-safe (``eqNullSafe``) per column.
    """
    from pyspark.sql import functions as F

    keys = [pk] if isinstance(pk, str) else list(pk)
    value_cols = [c for c in new.columns if c not in keys]
    o = old.select(*keys, *[F.col(c).alias(f"__old_{c}") for c in value_cols]).withColumn(
        "__in_old", F.lit(True)
    )
    n = new.withColumn("__in_new", F.lit(True))
    j = n.join(o, on=keys, how="full_outer")
    same = F.lit(True)
    for c in value_cols:
        same = same & F.col(c).eqNullSafe(F.col(f"__old_{c}"))
    is_delete = F.col("__in_new").isNull()
    is_insert = F.col("__in_old").isNull()
    changed = ~is_delete & ~is_insert & ~same
    out = j.where(is_delete | is_insert | changed).select(
        *keys,
        *[
            F.when(is_delete, F.lit(None)).otherwise(F.col(c)).alias(c)
            for c in value_cols
        ],
        F.when(is_delete, F.lit("delete")).otherwise(F.lit("upsert")).alias(op_col),
    )
    return out


def scd2_close(
    history: DataFrame,
    deleted: DataFrame,
    pk: str | list[str],
    effective_col: str,
    start_col: str = "valid_from",
    end_col: str = "valid_to",
) -> DataFrame:
    """SCD2 delete: close the open versions of ``deleted`` keys at their
    ``effective_col`` timestamp WITHOUT opening a replacement version —
    the history keeps the full lifespan, the dimension simply ends. The
    complement of ``scd2_apply`` for CDC streams that carry deletes.
    One pass over ``history``: a left join on the pk against the
    (batch-sized, broadcastable) close times, so a history is read once
    however large it grows. Idempotent (an already-closed version is not
    current, so a replayed delete is a no-op). Multiple delete rows per
    key (raw CDC events rather than a collapsed diff) close at the
    LATEST effective time — a deterministic aggregate, where a keep-any
    collapse would record an arbitrary lifespan end across runs."""
    from pyspark.sql import functions as F

    keys = [pk] if isinstance(pk, str) else list(pk)
    eff = (
        deleted.select(*keys, F.col(effective_col).alias("__eff"))
        .groupBy(*keys)
        .agg(F.max("__eff").alias("__eff"))
    )
    return history.join(eff, on=keys, how="left").select(
        *[
            F.coalesce(F.col(c), F.col("__eff")).alias(c) if c == end_col else F.col(c)
            for c in history.columns
        ]
    )


def scd2_open(
    updates: DataFrame,
    dim_cols: list[str],
    effective_col: str,
    start_col: str = "valid_from",
    end_col: str = "valid_to",
) -> DataFrame:
    """``updates`` as new open SCD2 versions: the ``dim_cols`` plus
    ``start_col = effective_col`` and a NULL ``end_col``."""
    from pyspark.sql import functions as F

    return updates.select(
        *dim_cols,
        F.col(effective_col).alias(start_col),
        # open version: end is null OF THE EFFECTIVE COLUMN'S TYPE, so a
        # long sequence number works as the version clock, not just
        # timestamps (unionByName would reject a type mismatch)
        F.lit(None).cast(updates.schema[effective_col].dataType).alias(end_col),
    )


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    pk: str | list[str],
    effective_col: str,
    start_col: str = "valid_from",
    end_col: str = "valid_to",
) -> DataFrame:
    """Slowly-changing-dimension type 2: apply a batch of updated rows to a
    versioned history table, closing the affected current versions and
    appending the new ones.

    ``history`` carries ``start_col``/``end_col`` (open version ⇔
    ``end_col IS NULL``); ``updates`` carries the dimension columns plus
    ``effective_col`` (the change timestamp). Per batch:

    - current versions whose pk appears in ``updates`` get
      ``end_col = effective_col`` (closed);
    - every update row becomes a new open version
      (``start_col = effective_col``, ``end_col = NULL``);
    - closed history and untouched keys pass through unchanged.

    ``scd2_close`` of the updated keys plus ``scd2_open`` of the update
    rows: one pass over ``history``, left-joined to the batch-sized
    close times; time-travel queries are then plain ``WHERE valid_from
    <= t AND (valid_to IS NULL OR t < valid_to)`` predicates — pushable,
    no joins. Assumes one update per key per batch (collapse with
    ``cdc.latest_per_key`` first otherwise).
    """
    dim_cols = [c for c in history.columns if c not in (start_col, end_col)]
    return scd2_close(history, updates, pk, effective_col, start_col, end_col).unionByName(
        scd2_open(updates, dim_cols, effective_col, start_col, end_col)
    )
