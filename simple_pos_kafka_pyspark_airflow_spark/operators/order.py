"""Sort / limit / top-k operators.

Reference parity (SURVEY.md §2.6): key-ordered rewrites of state files
(``kafka_consumer.py:103,221,313``; ``POS_spark_dag.py:155``) and the
producer's "last 5 sales" display (``kafka_producer.py:151``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def topk(df: DataFrame, k: int, *order: Column) -> DataFrame:
    """Top-k by explicit ordering. ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject: each task keeps a k-row heap and only k·P rows
    ever move — no global sort, which is the difference between O(n log k)
    and a full shuffle at 100 TB. Callers must pass a total order (include
    a unique key as tiebreak) for deterministic results."""
    return df.orderBy(*order).limit(k)


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative int columns into
    one long sort key: bit i of ``a`` lands at position 2i, bit i of
    ``b`` at 2i+1 — so rows close in BOTH dimensions are close in the
    key.

    Why this exists at 100 TB: parquet prunes row groups by per-column
    min/max statistics, but sorting by one column leaves the other's
    ranges spanning everything — a 2-D range query (time window × key
    range) then prunes on one dimension only. ``sortWithinPartitions``
    on the Z key clusters BOTH dimensions into each row group, so both
    columns' footer stats tighten and a 2-D predicate skips most of the
    file (this is the layout trick behind Delta/Iceberg OPTIMIZE
    ZORDER, expressed as a plain column + sort — no table format
    needed). Everything is shiftright/bitwise-and/shiftleft — codegen
    intrinsics, no UDF.

    Inputs must already be non-negative and fit ``bits`` bits (quantize
    first: e.g. ``unix_timestamp/3600`` hour buckets, ``pmod(key, 2^16)``
    ranges); 2·bits ≤ 62 keeps the result in a positive long. The key
    ORDERS the layout, it never answers queries — predicates stay on the
    original columns, which is what makes the technique free to adopt.
    """
    from pyspark.sql import functions as F

    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    ai = a.cast("long")
    bi = b.cast("long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = (
            key
            + F.shiftleft(F.shiftright(ai, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(bi, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def distributed_total_rank(
    df: DataFrame,
    x: Column,
    key: Column,
    descending: bool = False,
    n_buckets: int = 2048,
    prefix: str = "",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact global rank + running sum under the total order
    ``(x ASC|DESC, key ASC)`` with NO single-partition sort of the data.

    This is the scale-safe form of ``row_number()/ntile()/SUM() OVER
    (ORDER BY ...)`` — the unpartitioned-window analytics (RFM quintiles,
    decile lift, ABC/Pareto cumsum) that are fine to ~1e8 rows as one
    global sort and a wall at 100 TB. The classic range-partitioned
    prefix-sum (the TeraSort layout, applied to ranking):

      1. collapse to per-value counts and value sums — ONE partial-
         aggregable fact shuffle whose output is the value lattice, not
         the fact (bounds, buckets, and totals all derive from the
         lattice, so the fact is scanned exactly twice: here and the
         final join-back);
      2. bucket each lattice value by fixed-width range (monotone in
         ``x`` — double math, so no overflow; equal values always share
         a bucket);
      3. exclusive prefix over the ≤ ``n_buckets+1`` bucket totals (the
         only ordered-window stage left, bounded by the bucket count
         regardless of data size) and, within each bucket, an exclusive
         prefix over the lattice partitioned BY bucket — fully parallel;
      4. join the per-value base back to the fact on the value (shuffle
         on ``x``) and break ties with ``row_number`` partitioned by the
         value over ``key`` — the same exchange the join just made.

    rank = rows strictly before this row's value + tie rank; running
    sum = value-sum strictly before + tie rank × own value (exact:
    ties share the value). Pinned row-identical to the window forms in
    tests/test_rank_scale.py, including boundary-straddling ties.

    ``x`` must be integer-valued (exact comparisons; |x| < 2^62 so the
    DESC negation cannot overflow) and ``key`` a unique tiebreak (unique
    per group when ``group_cols`` is set). NULL ``x`` is ranked exactly
    where the window forms put it (r12, ADVICE — the null-unsafe
    join-back used to silently DROP such rows): Spark's default null
    ordering is NULLS FIRST for ASC and NULLS LAST for DESC, so NULLs
    map to the ∓2^62 sentinel the |x| < 2^62 contract leaves free (ties
    among NULLs break on ``key`` like any tie); they contribute 0 to
    the running sum and ``x_total`` (SQL SUM ignores NULLs) and count
    toward ``rank``/``n_total`` (row_number/COUNT(*) don't). One
    deliberate divergence: ``cum`` is 0 (not NULL) for rows before the
    first non-null ``x`` — a total column beats replicating SQL's
    empty-frame NULL (pinned in tests/test_rank_scale.py).

    Output: input columns + ``{prefix}rank`` (1-based long),
    ``{prefix}cum`` (running sum of x, long), ``{prefix}n_total``,
    ``{prefix}x_total``. With ``group_cols`` every stage partitions by
    the group — ranks restart per group (the melt trick: stack several
    independent global-rank problems as groups and rank them all in ONE
    pass, q_seg_rfm style) and even the bucket-totals prefix window is
    group-partitioned, so NO single-partition stage remains at all. No
    counterpart in the reference repo (its state-file rewrites sort
    kilobytes; SURVEY §2.6 / §2.11)."""
    from pyspark.sql import Window

    g = list(group_cols or [])
    reserved = {
        "__o", "__x", "__b", "__n", "__sx", "__lo", "__hi", "__tn", "__tsx",
        "__bn0", "__bsx0", "__base_n", "__base_sx", "__rt",
        f"{prefix}rank", f"{prefix}cum", f"{prefix}n_total", f"{prefix}x_total",
    }
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"distributed_total_rank: input columns collide with internal/"
            f"output names {sorted(clash)}; rename them or set prefix="
        )
    o = (-x).cast("long") if descending else x.cast("long")
    # NULLS FIRST (asc) / NULLS LAST (desc) — after the DESC negation
    # both cases want the sentinel at the matching end of the __o axis
    o = F.coalesce(o, F.lit((1 << 62) if descending else -(1 << 62)))
    d = df.withColumn("__o", o).withColumn(
        "__x", F.coalesce(x.cast("long"), F.lit(0))
    )
    # collapse to the value lattice FIRST (one partial-aggregable fact
    # shuffle); bounds/buckets/totals then derive from the lattice, so
    # the fact is scanned exactly twice (here + the final join-back),
    # not three times. The lattice is NOT persisted: its three consumers
    # read byte-identical exchange subtrees, which Spark's ReuseExchange
    # already dedupes at runtime — an explicit persist was measured
    # consistently SLOWER (r14 A/B: q_seg_rfm 3.2→5.0s, q_eval_auc
    # 2.1→2.9s) because the InMemoryRelation blocks that reuse and the
    # three broadcast jobs race to fill the cache.
    lat0 = d.groupBy(*g, "__o").agg(
        F.count("*").cast("long").alias("__n"), F.sum("__x").alias("__sx")
    )
    bounds = lat0.groupBy(*g).agg(
        F.min("__o").cast("double").alias("__lo"),
        F.max("__o").cast("double").alias("__hi"),
    )
    width = F.greatest(
        (F.col("__hi") - F.col("__lo") + F.lit(1.0)) / F.lit(float(n_buckets)),
        F.lit(1.0),
    )
    joined = (
        lat0.join(F.broadcast(bounds), on=g)
        if g
        else lat0.crossJoin(F.broadcast(bounds))
    )
    lat = joined.withColumn(
        "__b",
        F.floor((F.col("__o").cast("double") - F.col("__lo")) / width).cast("long"),
    )
    wb = (
        Window.partitionBy(*g).orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
        if g
        else Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    )
    bt = (
        lat.groupBy(*g, "__b")
        .agg(F.sum("__n").alias("__tn"), F.sum("__sx").alias("__tsx"))
        .select(
            *g,
            "__b",
            F.coalesce(F.sum("__tn").over(wb), F.lit(0)).alias("__bn0"),
            F.coalesce(F.sum("__tsx").over(wb), F.lit(0)).alias("__bsx0"),
        )
    )
    wl = (
        Window.partitionBy(*g, "__b")
        .orderBy("__o")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = (
        lat.join(F.broadcast(bt), [*g, "__b"])
        .select(
            *g,
            "__o",
            (F.col("__bn0") + F.coalesce(F.sum("__n").over(wl), F.lit(0))).alias(
                "__base_n"
            ),
            (F.col("__bsx0") + F.coalesce(F.sum("__sx").over(wl), F.lit(0))).alias(
                "__base_sx"
            ),
        )
    )
    tot = lat0.groupBy(*g).agg(
        F.sum("__n").cast("long").alias(f"{prefix}n_total"),
        F.sum("__sx").cast("long").alias(f"{prefix}x_total"),
    )
    wt = Window.partitionBy(*g, "__o").orderBy(key.asc())
    out = (
        d.join(base, [*g, "__o"])
        .withColumn("__rt", F.row_number().over(wt).cast("long"))
        .withColumn(f"{prefix}rank", (F.col("__base_n") + F.col("__rt")).cast("long"))
        .withColumn(
            f"{prefix}cum",
            (F.col("__base_sx") + F.col("__rt") * F.col("__x")).cast("long"),
        )
    )
    out = out.join(F.broadcast(tot), on=g) if g else out.crossJoin(F.broadcast(tot))
    return out.drop("__o", "__x", "__base_n", "__base_sx", "__rt")


def ntile_from_rank(rank: Column, n_total: Column, n: int) -> Column:
    """SQL ``ntile(n)`` from a 1-based rank and the row count — the pure
    expression half of the scale-safe ntile (``distributed_total_rank``
    supplies the rank without a global sort). Standard semantics: the
    first ``N % n`` tiles get ``N/n + 1`` rows, the rest ``N/n``;
    all-integer, engine-identical. The ``greatest(q, 1)`` guard keeps the
    unreachable small-N branch from dividing by zero."""
    q = F.floor(n_total / n).cast("long")
    r = (n_total % n).cast("long")
    big = r * (q + 1)
    return (
        F.when(rank <= big, F.floor((rank - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rank - big - 1) / F.greatest(q, F.lit(1))) + 1)
        .cast("int")
    )


def skyline_2d(df: DataFrame, x: Column, y: Column, partition: str | None = None) -> DataFrame:
    """2-D skyline (Pareto front): the rows not DOMINATED by any other —
    no other row with both metrics ≥ and at least one strictly > — the
    curation question "which documents are best for SOME tradeoff of
    these two qualities" answered without picking weights.

    The textbook sort-scan beats the naive all-pairs O(n²) self-join:
    rank the distinct x values descending, then a point survives iff its
    y equals its x-group's max AND strictly exceeds the running max of
    y over all STRICTLY greater x (dense_rank + one range-window max —
    group boundaries, not row offsets, so duplicate x is handled
    exactly). Dominance never materializes a pair.

    The front depends only on the DISTINCT (x, y) point set, so the
    sort-scan runs over ``distinct(keys, x, y)`` — a partial-aggregable
    collapse that typically shrinks the window input by orders of
    magnitude — and the surviving points semi-join back to the fact
    (shuffle on (x, y), fully distributed; AQE broadcasts the front
    when it is small). Duplicated (x, y) rows are mutually
    non-dominated and all survive the semi-join, matching the NOT
    EXISTS definition the contract oracle runs.

    With ``partition=None`` the window still orders the distinct-point
    set in ONE task — bounded by |distinct (x, y)|, not by the fact
    size, but callers with a huge exact point domain should quantize
    the metrics or pass ``partition``; the per-group form partitions
    the window and has no single-task stage at all.

    ``x``/``y`` should be integer metrics (exact comparisons); pass
    ``partition`` to compute one front per group (the window partitions
    by it — same single exchange)."""
    from pyspark.sql import Window

    keys = [partition] if partition else []
    d = df.withColumn("__x", x).withColumn("__y", y)
    pts = d.select(*keys, "__x", "__y").distinct()
    w_rank = Window.partitionBy(*keys).orderBy(F.col("__x").desc())
    pts = pts.withColumn("__g", F.dense_rank().over(w_rank))
    w_grp = Window.partitionBy(*keys, "__g")
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy("__g")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    pts = pts.withColumn("__gmax", F.max("__y").over(w_grp)).withColumn(
        "__pmax", F.max("__y").over(w_prev)
    )
    front = pts.where(
        (F.col("__y") == F.col("__gmax"))
        & (F.col("__pmax").isNull() | (F.col("__y") > F.col("__pmax")))
    ).select(*keys, "__x", "__y")
    return d.join(front, [*keys, "__x", "__y"], "left_semi").drop("__x", "__y")
