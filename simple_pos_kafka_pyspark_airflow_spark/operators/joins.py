"""Join operators.

Reference parity (SURVEY.md §2.4): the reference uses single-key equi
joins — ``left_anti`` for CDC deletes (``POS_spark_dag.py:155,235,319``),
``left`` to attach computed attributes (``:387,409``) — plus python-side
existence checks and dict lookups that are semi/inner joins in spirit
(``kafka_producer.py:41-58``, ``kafka_consumer.py:41-49,114-116``).

Scale notes baked into each helper:

- equi joins let Catalyst/AQE choose broadcast vs sort-merge; we hint
  ``F.broadcast`` only for dimensions known tiny (category dict, region).
- the time-range join (not in the reference; needed by the north star) is
  implemented as *bucketed equi-join + residual predicate* instead of a
  broadcast-nested-loop: at 100 TB a BNL join is quadratic death, while
  day-bucketing shuffles both sides once on a dense integer key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..llm.bloom import bloom_key_bitmap, bloom_member


def anti_by_key(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """Rows of ``old`` whose key is absent from ``new`` — the reference's
    delete-detection (``POS_spark_dag.py:155``): DB snapshot rows missing
    from the fresh extract become DELETEs."""
    return old.join(new.select(key).dropDuplicates([key]), on=key, how="left_anti")


def semi_by_key(df: DataFrame, keys: DataFrame, key: str) -> DataFrame:
    """Existence filter (reference producer dedup guard,
    ``kafka_producer.py:41-58``) as a left-semi join: no row multiplication,
    map-side semi under AQE when ``keys`` is small."""
    return df.join(keys.select(key).dropDuplicates([key]), on=key, how="left_semi")


def broadcast_dim(fact: DataFrame, dim: DataFrame, on: str | list[str]) -> DataFrame:
    """Fact ⋈ broadcast(dimension) — the reference's 7-entry category dict
    applied to every product event (``kafka_consumer.py:41-49``). The hint
    guarantees a broadcast-hash join regardless of statistics, which is the
    only sane plan when the dim is KBs and the fact is TBs."""
    return fact.join(F.broadcast(dim), on=on, how="inner")


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    window: str = "1 day",
    bucket: str = "1 day",
    how: str = "inner",
    equi: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Time-range join: pair ``left`` rows with ``right`` rows whose
    timestamp falls in ``[left_ts, left_ts + window)``.

    Extension (not reference-derived; SURVEY.md §2.4 note). A naive
    ``l.join(r, (r.ts >= l.ts) & (r.ts < l.ts + w))`` plans as a
    broadcast-nested-loop join — O(|L|·|R|) comparisons. Instead we
    discretize time into buckets of the window size, explode each left row
    into the (at most 2) buckets its window overlaps, and equi-join on the
    bucket id with the range predicate as a residual filter. The shuffle is
    on a dense long key, so AQE can split skewed hot buckets.

    ``equi`` adds extra equality pairs ``(left_col, right_col)`` to the join
    key (e.g. per-user sessionization) — column names must be disjoint
    between the two inputs for unambiguous output.

    ``how`` supports ``inner`` and ``left``. The left form canNOT be the
    bucketed join's own ``how='left'``: each left row explodes into up to
    2 bucket copies, and a copy that matches in one bucket would still
    null-extend from the other (spurious duplicates), while a NULL-ts
    left row explodes into zero copies and would vanish entirely. The
    left path instead runs the inner join, then null-extends exactly the
    left rows with no match anywhere (tracked by a per-row id that never
    leaves the plan).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"range_join_bucketed supports inner/left, got {how!r}")
    win = F.expr(f"INTERVAL {window}")
    # bucket id = floor(epoch / bucket_seconds), a dense long key.
    bucket_secs = F.lit(_interval_seconds(bucket))
    base = (
        left.withColumn("__lid", F.monotonically_increasing_id()) if how == "left" else left
    )
    l_start = F.unix_timestamp(F.col(left_ts))
    l_end = F.unix_timestamp(F.col(left_ts) + win)
    # Upper bound is floor(l_end / bucket), NOT floor((l_end - 1) / bucket):
    # unix_timestamp truncates sub-second precision, so a window whose true
    # end falls inside the first second of a bucket would otherwise leave
    # that bucket uncovered and silently drop matches in the final
    # sub-second slice. The occasional extra bucket is harmless — the
    # residual range predicate filters it.
    left_b = base.withColumn(
        "__bucket",
        F.explode(F.sequence(F.floor(l_start / bucket_secs), F.floor(l_end / bucket_secs))),
    )
    right_b = right.withColumn("__bucket", F.floor(F.unix_timestamp(F.col(right_ts)) / bucket_secs))
    cond = (
        (left_b["__bucket"] == right_b["__bucket"])
        & (right_b[right_ts] >= left_b[left_ts])
        & (right_b[right_ts] < left_b[left_ts] + win)
    )
    for lc, rc in equi or []:
        cond = cond & (left_b[lc] == right_b[rc])
    inner = left_b.join(right_b, cond, "inner").drop(left_b["__bucket"]).drop(right_b["__bucket"])
    if how == "inner":
        return inner
    matched = inner.select("__lid").dropDuplicates(["__lid"])
    unmatched = base.join(matched, "__lid", "left_anti").join(
        right.limit(0), F.lit(False), "left"
    )
    return inner.unionByName(unmatched).drop("__lid")


def _interval_seconds(interval: str) -> int:
    """Seconds in a simple ``'N unit'`` interval literal (day/hour/minute)."""
    n, unit = interval.split()
    mult = {"day": 86400, "days": 86400, "hour": 3600, "hours": 3600, "minute": 60, "minutes": 60}[
        unit.lower()
    ]
    return int(n) * mult


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    pick: list[str],
) -> DataFrame:
    """As-of (backward) join: attach to each left row the ``pick`` columns
    of the *latest* right row with the same key and ``right_ts <= left_ts``.

    Extension (not reference-derived). The classic scalable implementation:
    tag both sides, union them, and run ``last(_, ignorenulls=True)`` over a
    per-key window ordered by (ts, side) — right rows sort before left rows
    at equal timestamps, making the match inclusive. ONE shuffle on the key,
    no range join, no per-row probe: at 100 TB this is a single
    sort-within-partitions pass, the same shape Flink/kdb use for as-of.

    ``pick`` column names must not collide with left's columns. Rows with no
    preceding right row get nulls.

    The pick columns travel as ONE struct through the window fill, so the
    match is atomic: every picked value comes from the SAME latest right
    row, and a NULL inside that row stays NULL. Filling each column
    independently with ``last(ignorenulls)`` would tear the row — a NULL
    in the latest right row silently replaced by a stale value from an
    older one, and different columns sourced from different rows.
    """
    lt = (
        left.withColumn("__k", F.col(left_key))
        .withColumn("__t", F.col(left_ts))
        .withColumn("__side", F.lit(1))
    )
    rt = right.select(
        F.col(right_key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.struct(*[F.col(c) for c in pick]).alias("__pick"),
        F.lit(0).alias("__side"),
    )
    u = lt.unionByName(rt, allowMissingColumns=True)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn("__pick", F.last("__pick", ignorenulls=True).over(w))
    return filled.where(F.col("__side") == 1).select(
        *left.columns, *[F.col("__pick").getField(c).alias(c) for c in pick]
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    pick: list[str],
) -> DataFrame:
    """As-of (forward) join: attach to each left row the ``pick`` columns
    of the *earliest* right row with the same key and
    ``right_ts >= left_ts`` — the mirror of ``asof_join_backward`` for
    "what happened NEXT" questions (next fill after an order, next
    deploy after an alert).

    Same single-shuffle tagged-union shape, mirrored: left rows sort
    BEFORE right rows at equal timestamps (side 0 vs 1), and
    ``first(ignorenulls)`` fills over [current row, unbounded following]
    — so an equal-timestamp right row matches (inclusive), and the fill
    picks the earliest following right row atomically through one
    struct (the anti-tearing discipline the backward docstring
    explains). Rows with no following right row get nulls."""
    lt = (
        left.withColumn("__k", F.col(left_key))
        .withColumn("__t", F.col(left_ts))
        .withColumn("__side", F.lit(0))
    )
    rt = right.select(
        F.col(right_key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.struct(*[F.col(c) for c in pick]).alias("__pick"),
        F.lit(1).alias("__side"),
    )
    u = lt.unionByName(rt, allowMissingColumns=True)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = u.withColumn("__pick", F.first("__pick", ignorenulls=True).over(w))
    return filled.where(F.col("__side") == 0).select(
        *left.columns, *[F.col("__pick").getField(c).alias(c) for c in pick]
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    pick: list[str],
) -> DataFrame:
    """As-of NEAREST join (pandas ``merge_asof(direction='nearest')``):
    attach to each left row the ``pick`` columns of the right row with
    the same key whose timestamp is CLOSEST in either direction; equal
    distance breaks BACKWARD (the earlier right row — pandas'
    convention and the deterministic choice).

    Same scale shape as ``asof_join_backward``: tagged union, then two
    window fills over the SAME key partitioning — a forward-inclusive
    fill is just the backward fill under the reversed (ts DESC, side)
    order, so the plan is one exchange with two sorts, never a range
    join or per-row probe. The matched right timestamp rides inside the
    pick struct, so the backward/forward choice is one integer
    comparison of microsecond distances and the picked columns stay
    atomic (all from the single chosen row).

    Determinism: among right rows sharing (key, ts) the fill takes the
    last in sort order — give the right side unique (key, ts) (dedup
    first) when pick values could differ at identical timestamps, same
    contract as the backward form."""
    from pyspark.sql import Window

    lt = (
        left.withColumn("__k", F.col(left_key))
        .withColumn("__t", F.col(left_ts))
        .withColumn("__side", F.lit(1))
    )
    rt = right.select(
        F.col(right_key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.struct(
            F.col(right_ts).alias("__rt"), *[F.col(c) for c in pick]
        ).alias("__p"),
        F.lit(0).alias("__side"),
    )
    u = lt.unionByName(rt, allowMissingColumns=True)
    # at equal __t the right row (side 0) sorts before the left row in
    # BOTH orders, so matches are inclusive in both directions
    wb = (
        Window.partitionBy("__k")
        .orderBy(F.asc("__t"), F.asc("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("__k")
        .orderBy(F.desc("__t"), F.asc("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn("__b", F.last("__p", ignorenulls=True).over(wb)).withColumn(
        "__f", F.last("__p", ignorenulls=True).over(wf)
    )
    t_us = F.unix_micros(F.col("__t"))
    dist_b = t_us - F.unix_micros(F.col("__b.__rt"))
    dist_f = F.unix_micros(F.col("__f.__rt")) - t_us
    chosen = (
        F.when(F.col("__b").isNull(), F.col("__f"))
        .when(F.col("__f").isNull(), F.col("__b"))
        .when(dist_b <= dist_f, F.col("__b"))
        .otherwise(F.col("__f"))
    )
    return (
        filled.where(F.col("__side") == 1)
        .withColumn("__c", chosen)
        .select(
            *left.columns, *[F.col("__c").getField(c).alias(c) for c in pick]
        )
    )


def theta_filter_join(left: DataFrame, right: DataFrame, on: str, predicate: Column) -> DataFrame:
    """Equi-join + theta predicate on joined columns — the reference's
    stock-sufficiency check ``quantity > stock_level`` after a product
    lookup (``kafka_producer.py:69-85``). The equi part keeps the join
    hash-based; the theta part is a post-join filter Catalyst pushes into
    the join condition."""
    return left.join(right, on=on, how="inner").where(predicate)


def bloom_semi_reduce(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str | None = None,
    m_bits: int = 1 << 22,
    n_hashes: int = 4,
) -> DataFrame:
    """Semi join with a Bloom RUNTIME FILTER on the fact side — the
    row-level runtime filtering Spark injects for its own shuffle joins
    (`spark.sql.optimizer.runtime.bloomFilter.*`), exposed as an explicit
    operator for the regime the optimizer can't reach: a build side too
    large (or too late-materialized) to broadcast exactly, probing a fact
    where matches are RARE.

    Result is EXACTLY ``fact SEMI JOIN keys`` — the Bloom stage only
    prunes definite non-matches (no false negatives, Bloom guarantee);
    survivors (true matches + a ~fill^k false-positive sliver) still go
    through the exact semi join. What changes is the COST: the fact is
    scanned once against a broadcast few-MB bitmap (Arrow-batched numpy
    gather, ``llm.bloom.bloom_member``) and only survivors
    enter the join's exchange — at a 1e-4 match rate, the shuffle
    carries 1/10⁴ of the fact.

    Driver materialization: building the bitmap runs one job over
    ``keys`` and collects ≤ m_bits/2²⁰ packed 128 KiB chunk rows —
    bounded by the BITMAP size, never by the key count."""
    kk = keys_key or fact_key
    # xxhash64 is TYPE-sensitive (an int and a bigint holding the same
    # value hash differently), so mismatched key types would set bitmap
    # bits the probe side never looks at — Bloom FALSE NEGATIVES that
    # silently drop true matches. Fail fast instead.
    ft, kt = fact.schema[fact_key].dataType, keys.schema[kk].dataType
    if ft != kt:
        raise ValueError(
            f"bloom_semi_reduce: key types differ ({ft.simpleString()} vs "
            f"{kt.simpleString()}) — xxhash64 is type-sensitive, so the "
            "Bloom stage would produce false negatives; cast both key "
            "columns to a common type first"
        )
    bitmap = bloom_key_bitmap(keys, kk, m_bits=m_bits, n_hashes=n_hashes)
    survivors = fact.where(
        bloom_member(fact.sparkSession, bitmap, F.col(fact_key), n_hashes)
    )
    right = keys.select(F.col(kk).alias(fact_key)).distinct()
    return survivors.join(right, fact_key, "left_semi")


def salted_equi_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
    salt_on=None,
) -> DataFrame:
    """Hot-key equi-join rewrite — EXACT by construction: replicate the
    dim side across ``n_salts`` salt values, salt each fact row, join on
    ``(on, salt)``, drop the salt. Every fact row meets exactly the one
    dim replica carrying its salt, so the result is row-identical to the
    plain join (inner/left supported); what changes is the SHUFFLE KEY —
    a hot join key's rows spread across ``n_salts`` reducer tasks
    instead of funneling through one.

    When to reach for it (and not AQE): AQE's skew-join splits oversized
    shuffle partitions at runtime, but it cannot reach (a) stream-static
    joins (no runtime re-plan inside a microbatch), (b) pre-bucketed SMJ
    plans whose zero-exchange co-location an AQE split would forfeit
    (q_join_bucketed), or (c) plans where the skew is known AHEAD of
    time and paying dim replication ×n_salts beats a mid-query replan.
    If the dim side fits a broadcast, broadcast instead — salting is for
    the medium dim × skewed giant fact regime.

    ``salt_on``: expression the fact salt hashes (default: the join key
    XOR'd row content via xxhash64 over all fact columns — deterministic,
    retry-safe; pass a finer column, e.g. a line number, when fact rows
    can be fully identical and must still spread). Cost model: dim
    shuffles ×n_salts (size dim·n_salts against the hot key's row count);
    the fact shuffle is unchanged in volume, only better distributed."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_equi_join supports inner/left, got {how!r}")
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    salt_src = salt_on if salt_on is not None else F.xxhash64(*fact.columns)
    f = fact.withColumn("_salt", F.pmod(salt_src, F.lit(n_salts)).cast("int"))
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i).cast("int") for i in range(n_salts)]))
    )
    out = f.join(d, [on, "_salt"], how)
    return out.drop("_salt")
