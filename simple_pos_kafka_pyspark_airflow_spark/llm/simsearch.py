"""Similarity search over an embedding column (``array<float>``).

Two paths, per the 100 TB design ladder:

- **brute force** (`cosine_topk`): broadcast the query vector, compute the
  dot product with built-in ``F.zip_with`` + ``F.aggregate`` (JVM,
  codegen — no Python), TakeOrderedAndProject for top-k. One full scan,
  zero shuffle beyond the k-row heap merge. This is the exact baseline and
  is actually the right plan up to ~10^9 vectors when the scan is fast.
- **LSH-bucketed** (`cosine_topk_lsh`): random-hyperplane signatures
  (seeded, deterministic) prune the scan to buckets matching the query's
  signature within a Hamming radius. The index is just a column — it
  partitions/sorts like any other, so at 100 TB the bucket id becomes the
  storage partition key and the probe is partition pruning, not a scan.

All math in DOUBLE regardless of storage type: float32 storage halves I/O,
but accumulating in float32 makes results order-dependent across engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import cacheutil
from ..cacheutil import release

# np/pd are module-level on purpose: pandas_udf resolves the (stringified,
# via __future__ annotations) type hints against this module's globals —
# function-local imports would make `pd.Series` hints unresolvable.


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, sequential fold — deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.greatest(norm(a) * norm(b), F.lit(1e-12))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. Returns
    (id, score) with score rounded to 6 dp and id as tiebreak, so results
    are deterministic and oracle-comparable."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def cosine_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
) -> DataFrame:
    """Batched exact top-k retrieval: every query vector gets its ``k``
    nearest corpus vectors by cosine — the realistic shape for
    decontamination and retrieval passes, where thousands of probes run
    against the corpus at once (per-query ``cosine_topk`` would scan the
    corpus once PER query).

    Plan: one corpus scan ⋈ broadcast(queries) (BroadcastNestedLoopJoin —
    the query side is tiny by construction), JVM-side double dot product,
    then a ``row_number() <= k`` window per query. The window does NOT
    shuffle the full O(corpus × n_queries) scored set: Spark's rank-limit
    pushdown (``WindowGroupLimit``, 3.5+) inserts a partial per-partition
    top-k BEFORE the exchange — visible in the plan as
    ``WindowGroupLimit … Partial`` under the Exchange — so only
    n_partitions × n_queries × k rows shuffle to the final window. That
    is exactly the hand-built mapInPandas local-top-k shape, but
    JVM-side and for free; the declarative window IS the scale-correct
    formulation (verified by ``test_simsearch_batch_bounded_shuffle``).

    Determinism: scores are rounded to 6 dp BEFORE selection on both
    engines and ties break on the corpus id, so the result is unique and
    oracle-comparable (same discipline as ``cosine_topk``).
    """
    scored = (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(queries.select(q_id_col, q_vec_col)))
        .select(
            q_id_col,
            id_col,
            F.round(cosine(F.col(vec_col), F.col(q_vec_col)), 6).alias("score"),
        )
    )
    return top_per_query(scored, k, q_id_col, id_col)


def _empty_topk(df: DataFrame, queries: DataFrame, q_id_col: str, id_col: str) -> DataFrame:
    """The empty (query, id, score, rn) result of a batched top-k."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    return df.sparkSession.createDataFrame(
        [],
        StructType(
            [
                queries.schema[q_id_col],
                df.schema[id_col],
                StructField("score", DoubleType()),
                StructField("rn", IntegerType()),
            ]
        ),
    )


def top_per_query(
    scored: DataFrame, k: int, q_id_col: str = "query_id", id_col: str = "vec_id"
) -> DataFrame:
    """The ``k`` best ``score`` rows per query as (query, id, score, rn):
    a ``row_number() <= k`` window with the id tiebreak, which Spark
    plans as ``WindowGroupLimit`` Partial below the exchange and Final
    above it, so only n_partitions × n_queries × k rows shuffle."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(q_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= k)
        .select(q_id_col, id_col, "score", "rn")
    )


def single_query(batch: DataFrame, k: int, id_col: str = "vec_id") -> DataFrame:
    """The (id, score) rows of a one-query batched top-k, in rank order.
    ``limit(k)`` (a no-op on rn ≤ k) plans the sort as
    TakeOrderedAndProject instead of a sampled range exchange."""
    return batch.orderBy("rn").select(id_col, "score").limit(k)


def probe_cells(
    centroids: list[list[float]], query_vecs: list[list[float]], nprobe: int
) -> list[list[int]]:
    """Each query's ``nprobe`` probe cells, best first: the centroids with
    the highest cosine to the query (O(n_cells × dim) per query, on the
    driver)."""
    c = np.array(centroids, dtype="float64")
    c_hat = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    cells = []
    for qv in query_vecs:
        q = np.asarray(qv, dtype="float64")
        q_hat = q / max(float(np.linalg.norm(q)), 1e-12)
        cells.append([int(x) for x in np.argsort(-(c_hat @ q_hat))[:nprobe]])
    return cells


# ---------------------------------------------------------------------------
# LSH (random hyperplanes, seeded)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes via a tiny LCG — no numpy
    RNG state, reproducible everywhere. At most 63 planes: signatures
    pack into a signed 64-bit long (bit i = plane i), and 1 << 63
    overflows int64 — validated here so the constraint surfaces as a
    clear error at the API boundary, not an OverflowError inside a UDF
    build."""
    if not 1 <= n_planes <= 63:
        raise ValueError(f"n_planes must be in [1, 63] (signature is a signed long), got {n_planes}")
    state = seed & 0x7FFFFFFF
    planes: list[list[float]] = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit i = (vec · plane_i) >= 0. Packed into a
    long (n_planes ≤ 63).

    Column-expression form (tests, single-row probes). Each plane's dot is
    an interpreted ``F.aggregate`` fold — n_planes × dim lambda calls per
    row — so DataFrame pipelines use ``with_hyperplane_signature``, which
    does the whole batch in one BLAS matmul."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        sig = sig + F.when(dot(vec, plane) >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def with_hyperplane_signature(
    df: DataFrame, planes: list[list[float]], vec_col: str = "embedding", out_col: str = "_sig"
) -> DataFrame:
    """Arrow-batched signature: one (batch, dim) @ (dim, planes) matmul per
    batch, sign bits packed into a long via a vectorized dot with the bit
    weights. Identical output to ``hyperplane_signature`` (>= 0 ⇒ bit set).

    At 100 TB the signature is computed once at ingest and stored; probes
    then filter on the stored column (partition pruning), so this UDF is an
    ingest-time cost, not a query-time one."""
    from pyspark.sql.functions import pandas_udf

    if len(planes) > 63:
        raise ValueError(f"at most 63 planes fit a signed-long signature, got {len(planes)}")
    p = np.array(planes, dtype="float64")  # (n_planes, dim)
    weights = np.array([1 << i for i in range(len(planes))], dtype="int64")

    @pandas_udf("long")
    def signature(col: pd.Series) -> pd.Series:
        m = np.stack(col.to_numpy()).astype("float64")  # (batch, dim)
        bits = (m @ p.T) >= 0  # (batch, n_planes)
        return pd.Series(bits @ weights)

    return df.withColumn(out_col, signature(F.col(vec_col)))


def cosine_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 16,
    max_hamming: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: score only vectors whose hyperplane
    signature is within ``max_hamming`` bits of the query's.

    At scale the signature is precomputed+stored and the Hamming filter is
    a partition-pruning predicate; here it is computed on the fly. Recall
    is tunable via (n_planes, max_hamming)."""
    planes = _hyperplanes(len(query_vec), n_planes, seed)
    q_sig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, p)) >= 0:
            q_sig |= 1 << i
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    pruned = (
        with_hyperplane_signature(df, planes, vec_col)
        .withColumn("_ham", F.bit_count(F.col("_sig").bitwiseXOR(F.lit(q_sig))).cast("int"))
        .where(F.col("_ham") <= max_hamming)
    )
    scored = pruned.select(
        F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def ivf_centroids(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine_iters: int = 1,
) -> list[list[float]]:
    """Deterministic coarse quantizer.

    Seeds: the ``n_cells`` vectors with the smallest ``xxhash64(id)`` — a
    deterministic pseudo-random sample, so the seeds spread across the
    corpus no matter how ids are distributed (dense, sparse after dedup
    filtering, or arbitrary; a naive ``id % stride`` pick degenerates to
    fewer than ``n_cells`` cells on sparse ids). The seed pick executes as
    TakeOrderedAndProject (per-partition k-heaps — no global sort, no
    count pre-pass).

    Refinement: ``refine_iters`` Lloyd iterations — assign every vector to
    its nearest seed (one Arrow-batched matmul pass), recompute cell means
    via posexplode + groupBy (shuffle carries (cell, pos, value) triples;
    the aggregated result is ``n_cells × dim`` rows — kilobytes). One
    iteration is enough to make cells follow the data's actual directional
    mass, which raw sampled seeds don't; determinism holds because seeds,
    assignment, and mean are all deterministic. Index build is a one-time
    ingest cost at 100 TB; every collect here is O(n_cells × dim), never
    the corpus."""
    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id")), F.col("_id"))
        .limit(n_cells)
        .collect()
    )
    centroids = [[float(x) for x in r["_v"]] for r in rows]
    if not centroids:
        # empty corpus: no quantizer. Refining would crash (0-cell argmax);
        # callers decide whether empty is an error (streaming.ann.fit raises)
        return []
    for _ in range(refine_iters):
        assigned = ivf_assign(df, centroids, vec_col, out_col="_cell")
        means = (
            assigned.select("_cell", F.posexplode(F.col(vec_col)).alias("_pos", "_x"))
            .groupBy("_cell", "_pos")
            .agg(F.avg(F.col("_x").cast("double")).alias("_m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["_cell"], {})[r["_pos"]] = float(r["_m"])
        # cells that captured no vectors keep their seed centroid
        centroids = [
            [by_cell[c][p] for p in sorted(by_cell[c])] if c in by_cell else centroids[c]
            for c in range(len(centroids))
        ]
    return centroids


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cell",
    n_assign: int = 1,
) -> DataFrame:
    """Nearest-centroid assignment as ONE Arrow-batched Pandas UDF: each
    batch is a (batch, dim) float64 matrix, assignment is a single
    ``X̂ @ Ĉᵀ`` BLAS call + argmax (rows and centroids L2-normalized, so
    max dot = max cosine). This is the documented slow-path escape hatch —
    per-row×per-centroid×per-dim work is exactly what interpreted Column
    expressions (higher-order ``aggregate``) cannot do fast.

    ``n_assign > 1`` replicates each vector into its ``n_assign`` nearest
    cells (one output ROW per assignment). This is the recall lever for
    corpora with weak cluster structure — e.g. near-isotropic embeddings,
    where a query's true neighbors scatter across cells and
    single-assignment recall degrades toward the probed fraction
    ``nprobe/n_cells`` (measured on the near-random test embeddings:
    nprobe=8/16 recalls 0.7 single-assigned, ≥0.9 with n_assign=2 — a
    miss now needs ALL of a neighbor's cells unprobed, ~(1-p)^r). The
    trade is explicit: index size and probe I/O scale by ``n_assign``,
    query semantics are unchanged (probes dedup on the id).

    At 100 TB the assignment runs once at ingest and ``out_col`` becomes
    the storage partition key, making every probe a partition-pruned scan.
    """
    from pyspark.sql.functions import pandas_udf

    c = np.array(centroids, dtype="float64")
    c_hat = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)

    if n_assign <= 1:

        @pandas_udf("int")
        def nearest(col: pd.Series) -> pd.Series:
            m = np.stack(col.to_numpy()).astype("float64")
            m_hat = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            return pd.Series((m_hat @ c_hat.T).argmax(axis=1).astype("int32"))

        return df.withColumn(out_col, nearest(F.col(vec_col)))

    r = min(n_assign, len(centroids))

    @pandas_udf("array<int>")
    def nearest_r(col: pd.Series) -> pd.Series:
        m = np.stack(col.to_numpy()).astype("float64")
        m_hat = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m_hat @ c_hat.T
        # argpartition: O(cells) per row vs full-sort O(cells log cells)
        top = np.argpartition(-sims, r - 1, axis=1)[:, :r]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return df.withColumn(out_col, F.explode(nearest_r(F.col(vec_col))))


def cosine_topk_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    n_assign: int = 1,
) -> DataFrame:
    """IVF top-k: build the deterministic cell index, probe the ``nprobe``
    cells whose centroids are nearest the query, exact-score only those
    cells' vectors. Recall is tunable via nprobe (nprobe = n_cells ≡ brute
    force) and, for weakly-clustered corpora, via ``n_assign`` replication
    (see ``ivf_assign``; a replicated vector can land in several probed
    cells, so ids dedup before scoring). Here the index is built on the
    fly; at scale it is precomputed and ``cell`` is the partition key, so
    the probe reads ``nprobe·n_assign/n_cells`` of the data — the IVF
    complement to the hyperplane-LSH path above. Runs as a one-query
    ``cosine_topk_ivf_batch``, so both forms share every rule."""
    queries = df.sparkSession.createDataFrame(
        [(0, [float(x) for x in query_vec])], "query_id long, query_vec array<double>"
    )
    batch = cosine_topk_ivf_batch(
        df, queries, k, vec_col, id_col, n_cells=n_cells, nprobe=nprobe, n_assign=n_assign
    )
    return single_query(batch, k, id_col)


def cosine_topk_ivf_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
    n_cells: int = 16,
    nprobe: int = 4,
    n_assign: int = 1,
) -> DataFrame:
    """Batched IVF retrieval: every query gets its ``k`` nearest corpus
    vectors, scanning only the union of the queries' probed cells — the
    realistic retrieval shape (``cosine_topk_ivf`` is the single-query
    form; scanning the corpus once per query is exactly what an index
    exists to avoid).

    Plan: the quantizer is built once (every collect O(n_cells × dim));
    the corpus is cell-assigned (at 100 TB this runs at ingest and
    ``cell`` is the storage partition key); per-query probe cells come
    from one tiny driver-side matmul over the collected query batch
    (broadcast-small by contract, same as ``cosine_topk_batch``); the
    (query, cell) probe pairs broadcast into an equi-join on ``cell`` —
    against a cell-partitioned store that join IS partition pruning, so
    the batch reads ≤ nprobe·n_assign/n_cells of the data — and the
    per-query top-k window gets Spark's rank-limit pushdown
    (``WindowGroupLimit Partial`` before the exchange).

    Determinism: same discipline as every top-k here — scores rounded to
    6 dp before selection, corpus id as tiebreak; replicated assignments
    (``n_assign`` > 1) dedup per (query, id) before scoring."""
    from pyspark import StorageLevel
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    # the on-the-fly build reads the input three times (seed pick, refine
    # assignment, probe assignment) — persist the projected frame so the
    # upstream lineage executes once, same discipline as the near-dup
    # signature table (MEMORY_AND_DISK is eviction-safe under pressure)
    base = df.select(id_col, vec_col).persist(StorageLevel.MEMORY_AND_DISK)
    centroids = ivf_centroids(base, n_cells, vec_col, id_col)
    qrows = queries.select(q_id_col, q_vec_col).collect()
    if not centroids or not qrows:
        # empty corpus (no quantizer) or empty query batch: both
        # degenerate to the empty result frame, matching cosine_topk_batch
        return _empty_topk(df, queries, q_id_col, id_col)
    cells = probe_cells(centroids, [r[q_vec_col] for r in qrows], nprobe)
    probe_rows = [
        (r[q_id_col], [float(x) for x in r[q_vec_col]], cell)
        for r, cs in zip(qrows, cells)
        for cell in cs
    ]
    probes = df.sparkSession.createDataFrame(
        probe_rows,
        StructType(
            [
                queries.schema[q_id_col],
                StructField(q_vec_col, ArrayType(DoubleType())),
                StructField("cell", IntegerType()),
            ]
        ),
    )
    assigned = ivf_assign(base, centroids, vec_col, n_assign=n_assign)
    joined = assigned.join(F.broadcast(probes), "cell")
    if n_assign > 1:
        joined = joined.dropDuplicates([q_id_col, id_col])
    scored = joined.select(
        q_id_col,
        id_col,
        F.round(cosine(F.col(vec_col), F.col(q_vec_col)), 6).alias("score"),
    )
    return top_per_query(scored, k, q_id_col, id_col)


def quantize_embedding(vec: Column) -> tuple[Column, Column]:
    """Symmetric per-vector int8 quantization: returns (scale, int8 array)
    with ``scale = max|v| / 127`` and ``q_i = floor(v_i/scale + 0.5)``
    (explicit half-up floor — engine-independent, unlike round()'s
    tie-mode differences). JVM-side Column expressions, no Python hop —
    but note ``aggregate``/``transform`` are CodegenFallback (interpreted
    per element); at ingest volume use ``quantize_embeddings_arrow`` —
    the same math as one numpy pass per Arrow batch, bit-identical
    (pinned by test) and measured 3.3× faster. At 100 TB the int8
    form cuts embedding storage and scan I/O 4× versus float32, and
    candidate scoring can run directly on the int8 form (integer dot
    products) with exact re-scoring only for finalists."""
    absmax = F.aggregate(
        vec, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    scale = F.greatest(absmax / F.lit(127.0), F.lit(1e-30))
    # tinyint, not int: codes are provably in [-127, 127], and a 4-byte
    # element type would silently forfeit the whole 4× storage/scan-I/O
    # claim the quantized form exists for
    q = F.transform(vec, lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("tinyint"))
    return scale, q


def quantize_embeddings_arrow(
    df: DataFrame,
    vec_col: str = "embedding",
    scale_col: str = "q_scale",
    codes_col: str = "q_codes",
) -> DataFrame:
    """``quantize_embedding`` as one Arrow pass — the ingest-volume form
    the Column expression's docstring promises: ``transform``/``aggregate``
    are CodegenFallback (interpreted per element), so quantizing a corpus
    through them pays n_rows × dim lambda dispatches; here each Arrow
    batch is two numpy passes (row-max, then divide/floor) — measured
    3.3× faster at 5000 × dim-64 vectors (0.27 s vs 0.90 s, sf0.1).

    Bit-identical to the Column form (pinned by test): max is
    order-independent, and scale/divide/floor are elementwise IEEE ops
    evaluated identically in both engines — so the two forms are
    interchangeable mid-corpus.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(f"struct<{scale_col}: double, {codes_col}: array<tinyint>>")
    def quant(col: pd.Series) -> pd.DataFrame:
        m = np.stack(col.to_numpy()).astype("float64")
        scale = np.maximum(np.abs(m).max(axis=1) / 127.0, 1e-30)
        codes = np.floor(m / scale[:, None] + 0.5).astype("int8")
        return pd.DataFrame({scale_col: scale, codes_col: list(codes)})

    return (
        df.withColumn("_q", quant(F.col(vec_col)))
        .withColumn(scale_col, F.col("_q")[scale_col])
        .withColumn(codes_col, F.col("_q")[codes_col])
        .drop("_q")
    )


def dequantize_embedding(q: Column, scale: Column) -> Column:
    """Inverse of ``quantize_embedding``: float32 array ``q_i * scale``.
    Reconstruction error is bounded by ``scale/2`` per element (≤ 0.4% of
    the vector's max magnitude)."""
    return F.transform(q, lambda x: (x.cast("double") * scale).cast("float"))


def normalize_embeddings_by_group(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-group whitening: subtract the group's per-dimension mean and
    divide by its per-dimension std (population).

    A **grouped-map ``applyInPandas``** — the canonical shape for 'the
    computation needs the whole group as one matrix' (group statistics +
    elementwise transform in two BLAS passes per group). One shuffle on
    ``group_col``; each group must fit a worker's memory — fine for
    label-sharded corpora (groups are ~corpus/n_labels).

    Zero-variance dimensions pass through unscaled (std clamped to 1) so
    constant dims don't produce NaN/Inf."""
    out_schema = df.select(id_col, group_col, vec_col).schema

    def whiten(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
        mu = m.mean(axis=0)
        sd = m.std(axis=0)  # population std, matches STDDEV_POP
        sd[sd == 0.0] = 1.0
        w = (m - mu) / sd
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                group_col: pdf[group_col].to_numpy(),
                vec_col: list(w.astype("float32")),
            }
        )

    return (
        df.select(id_col, group_col, vec_col)
        .groupBy(group_col)
        .applyInPandas(whiten, schema=out_schema)
    )


def near_dup_pairs_embedding(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: block on the exact hyperplane
    signature (near-identical vectors almost surely share all sign bits),
    verify cosine within blocks. Shuffle O(docs) on a 16-bit key. The
    signature table is persisted so both self-join sides read one
    materialization — without it the Arrow-batched signature UDF runs
    over the corpus twice."""
    from pyspark import StorageLevel

    dim_probe = df.select(F.size(vec_col).alias("d")).limit(1).collect()
    dim = dim_probe[0]["d"] if dim_probe else 0
    planes = _hyperplanes(dim, n_planes, seed)
    sig = (
        with_hyperplane_signature(df, planes, vec_col)
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "_sig")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = sig.select(F.col("_id").alias("id_a"), F.col("_v").alias("v_a"), F.col("_sig").alias("sig_a"))
    b = sig.select(F.col("_id").alias("id_b"), F.col("_v").alias("v_b"), F.col("_sig").alias("sig_b"))
    cand = a.join(b, (a.sig_a == b.sig_b) & (a.id_a < b.id_b))
    return (
        cand.withColumn("cos_sim", F.round(cosine(F.col("v_a"), F.col("v_b")), 6))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embed_diversity_onepass(
    df: DataFrame,
    group_col: str,
    emb_col: str = "embedding",
    dim: int = 64,
    grid: int = 1_000_000,
) -> DataFrame:
    """Per-group embedding diversity — the mean pairwise cosine among a
    group's vectors — in ONE pass, via the moment identity
    ``Σ_{i≠j} v̂_i·v̂_j = ‖Σ v̂‖² − Σ‖v̂‖²``: the O(n²) pairwise join a
    naive audit would run collapses to d running sums per group. At
    100 TB this is the difference between "unmeasurable" and one
    partial-aggregable groupBy whose shuffle carries d+2 numbers per
    group. Low diversity (mean cosine → 1) flags a source of
    near-identical embeddings — collapsed scrapes, templated spam, or a
    broken encoder — BEFORE it dominates a training mixture.

    Determinism discipline (the reason this function is cross-engine
    hash-stable): each vector is L2-normalized with an EXPLICIT
    left-associated d-term sum-of-squares chain (both engines evaluate
    the same IEEE operation sequence — never a list-fold whose
    accumulation order is an engine detail), the normalized coordinate
    is snapped to an integer grid with ``floor(x/‖x‖ · grid)`` (floor,
    never round: round-of-quotient is the documented Spark/DuckDB
    divergence), and the GROUP moments are bigint sums — order-free,
    partitioning-free. The final squares/combination run in double with
    a fixed operation order: every step is a correctly-rounded IEEE op
    on identical operands, so both engines produce bit-identical
    results even where the value itself is rounded. Grid error on the
    statistic is O(d/grid) ≈ 6e-5 at d=64 — far below any screening
    threshold; double rounding adds ≲1e-14 relative on top.

    Overflow bounds (r8, ADVICE fix — the previous all-bigint form
    wrapped ‖S‖² at n ≈ 3e3/grid·1e6 per group for low-diversity
    groups, exactly the case the audit exists to flag):

    - per-dim bigint sums: |Σ w_i| ≤ n·grid < 2^63 → n ≤ 9.2e12 at
      grid=1e6; their SQUARES happen in double (no wraparound ever).
    - ``_sdelta`` (Σ per-row ‖ŵ‖²−grid², the floor-loss residual,
      |per-row| ≤ 2·√d·grid+d): bigint-exact to n ≤ ~5.7e11 at the
      defaults — the self term is reconstructed as n·grid² + _sdelta
      in double, so no bigint ever holds n·grid².

    Returns (``group_col``, ``n``, ``diversity_scaled`` [grid⁻² units,
    double], ``mean_pair_cos``); groups with n < 2 report NULL mean."""
    from functools import reduce as _reduce

    xs = [F.element_at(F.col(emb_col), i + 1).cast("double") for i in range(dim)]
    ss = _reduce(lambda a, b: a + b, (c * c for c in xs))
    nrm = F.greatest(F.sqrt(ss), F.lit(1e-12))
    # materialize coordinates + norm FIRST: referencing the norm chain
    # from every coordinate expression would inline the d-term chain d
    # times (a d²-term plan — measured as a 22 MiB task binary at d=64
    # before this split; ~0.5 MiB after)
    mat = df.select(
        F.col(group_col),
        nrm.alias("_nv"),
        *[c.alias(f"_x{i}") for i, c in enumerate(xs)],
    )
    ws = [
        F.floor(F.col(f"_x{i}") / F.col("_nv") * F.lit(float(grid))).cast("long")
        for i in range(dim)
    ]
    self_ss = _reduce(lambda a, b: a + b, (w * w for w in ws))
    g2 = float(grid) * float(grid)  # exact in double: grid² ≤ 1e12 < 2^53
    rows = mat.select(
        F.col(group_col),
        # store the per-row self term as its RESIDUAL from grid² (the
        # floor-snap loss, |residual| ≤ 2√d·grid+d): the bigint group sum
        # then grows with n·grid instead of n·grid², pushing the exact
        # bound from ~1.4e5 rows/group to ~5.7e11
        (self_ss - F.lit(int(grid) * int(grid))).alias("_sdelta"),
        *[wc.alias(f"_w{i}") for i, wc in enumerate(ws)],
    )
    agged = rows.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.sum("_sdelta").alias("_sdelta"),
        *[F.sum(f"_w{i}").alias(f"_s{i}") for i in range(dim)],
    )
    # squares in DOUBLE (correctly-rounded, fixed left-associated order —
    # deterministic cross-engine) — the bigint form wrapped at tiny group
    # sizes precisely for the near-identical groups the audit flags
    sum_sq = _reduce(
        lambda a, b: a + b,
        (F.col(f"_s{i}").cast("double") * F.col(f"_s{i}").cast("double") for i in range(dim)),
    )
    sself = F.col("n").cast("double") * F.lit(g2) + F.col("_sdelta").cast("double")
    div_scaled = sum_sq - sself
    denom = (F.col("n") * (F.col("n") - 1)).cast("double") * F.lit(g2)
    return agged.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        div_scaled.alias("diversity_scaled"),
        F.when(F.col("n") >= 2, div_scaled / denom).alias("mean_pair_cos"),
    )


def pair_cosine_udf():
    """Arrow-batched rowwise cosine for (vec_a, vec_b) PAIR rows —
    normalize + einsum per Arrow batch. The JVM ``zip_with``/``aggregate``
    fold is an interpreted HOF, and pairwise workloads are quadratic in
    group size — measured 9.5s vs 2s on 10k vectors/16 cells at d=64
    (r8 bench). Same discipline as ``ivf_assign``: per-pair×per-dim work
    belongs in one BLAS call, not a per-element lambda. Shared by
    ``semdedup_prune`` (batch) and ``IncrementalIvfIndex.dedup_batch``
    (the ingest twin, r13)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if va.empty:
            return pd.Series([], dtype="float64")
        ma = np.stack(va.to_numpy()).astype("float64")
        mb = np.stack(vb.to_numpy()).astype("float64")
        ma /= np.maximum(np.linalg.norm(ma, axis=1, keepdims=True), 1e-12)
        mb /= np.maximum(np.linalg.norm(mb, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.einsum("ij,ij->i", ma, mb))

    return _pair_cos


def cell_capped(df: DataFrame, cell: str, max_cell: int | None) -> DataFrame:
    """``df``'s rows whose ``cell`` holds at most ``max_cell`` rows (all
    rows when None) — the hot-cell cap of the within-cell pair searches:
    an over-cap cell's vectors skip the pair search and are all kept, so
    a degenerate quantizer cannot own one O(n²) task."""
    if max_cell is None:
        return df
    ok = df.groupBy(cell).count().where(F.col("count") <= max_cell).drop("count")
    return df.join(ok, cell)


def within_cell_dups(
    pool: DataFrame, cell: str, threshold: float, out_col: str
) -> DataFrame:
    """The higher id of every same-``cell`` pair of ``pool`` (columns
    ``_id``, ``_v``, ``cell``) whose cosine reaches ``threshold``, as
    ``out_col`` — the within-cell self-join of ``semdedup_prune`` and
    ``IncrementalIvfIndex.dedup_batch`` (lower id kept)."""
    pair_cos = pair_cosine_udf()
    a = pool.select(F.col(cell), F.col("_id").alias("_id_a"), F.col("_v").alias("_v_a"))
    b = pool.select(
        F.col(cell).alias("_cell_b"),
        F.col("_id").alias("_id_b"),
        F.col("_v").alias("_v_b"),
    )
    return (
        a.join(b, (a[cell] == b["_cell_b"]) & (a["_id_a"] < b["_id_b"]))
        .where(pair_cos(F.col("_v_a"), F.col("_v_b")) >= threshold)
        .select(F.col("_id_b").alias(out_col))
    )


def semdedup_prune(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    threshold: float = 0.95,
    max_cell: int | None = 50_000,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication
    by clustering embeddings and dropping, within each cluster, every
    point whose cosine to a LOWER-id point of the same cluster is ≥
    ``threshold`` — the keep-one-representative rule that removes
    paraphrase/template duplicates exact and lexical near-dup (minhash)
    passes cannot see.

    Spark shape — why this survives 100 TB where pairwise-cosine dedup
    cannot: the O(n²) comparison is confined to CLUSTERS. The quantizer
    (``ivf_centroids``: deterministic seeds + Lloyd refinement) and the
    one-pass Arrow matmul assignment (``ivf_assign``) are the exact same
    kernels the ANN index uses, so the cluster key is also the storage
    partition key at ingest; the within-cell self-join ships (id, cell,
    vec) once and AQE splits any skewed cell. ``max_cell`` drops cells
    hotter than the cap from the PAIR SEARCH (their points are all kept
    — conservative, never wrongly dropped; the minhash ``max_bucket``
    discipline) so a degenerate quantizer cannot own one O(n²) task.

    Drop rule uses id order, not cluster-centroid distance (the paper
    keeps the point farthest from the centroid; any deterministic
    representative choice is valid and id order makes the contract
    hash-stable). Returns every input id with ``kept`` ∈ {1, 0}.

    Cache lifetime: the persisted assignment table feeds two consumers
    inside the RETURNED lazy plan (the cell-size cap and both self-join
    sides), so this function cannot unpersist it. A single-tenant caller
    frees it by wrapping the consuming action in
    ``cacheutil.scoped_caches(spark)`` (tested in tests/test_llm_ops.py);
    that frees whatever ANY query persisted during the block, so in a
    session shared with concurrent queries the table is left to session
    LRU instead.
    """
    from pyspark import StorageLevel

    cents = ivf_centroids(df, n_cells, vec_col, id_col)
    if not cents:
        return df.select(F.col(id_col), F.lit(1).cast("int").alias("kept"))
    assigned = (
        ivf_assign(df, cents, vec_col, out_col="_cell")
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "_cell")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pool = cell_capped(assigned, "_cell", max_cell)
    dropped = within_cell_dups(pool, "_cell", threshold, "_dropped").distinct()
    return (
        df.select(F.col(id_col))
        .join(dropped, F.col(id_col) == F.col("_dropped"), "left")
        .select(
            id_col,
            F.when(F.col("_dropped").isNull(), 1).otherwise(0).cast("int").alias("kept"),
        )
    )


def gram_matrix_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    grid: int = 1_000_000,
) -> DataFrame:
    """Exact Gram matrix Σ x·xᵀ over an embedding column — the one-pass
    sufficient statistic for PCA / whitening / covariance (cov = (G −
    n·μμᵀ)/n with μ from the dim sums, eigendecomposition driver-side on
    the d×d result): the distributed-linear-algebra shape where each
    partition reduces to a d×d partial matrix and partials SUM.

    Components snap to the 1/``grid`` integer lattice first
    (``floor(v·grid)`` — the library's floor-grid discipline), so every
    partial product and the final sums are EXACT int64: order-free,
    bit-identical across engines and cluster sizes — a float Gram can
    never hash-compare (summation order). Per Arrow batch, one
    ``einsum('ni,nj->ij')`` over the int64 component matrix emits the
    upper triangle (d·(d+1)/2 rows); partials collapse by a
    partial-aggregable (i, j) groupBy whose shuffle carries
    O(partitions · d²) rows — NEVER per-vector data. The naive
    explode-pairs formulation ships rows·d²/2 rows into the exchange;
    this ships d²/2 per PARTITION (the map-side matrix reduce is the
    whole point).

    int64 bound: n·(max|v|·grid)² < 2^63 — unit-scale embeddings at
    grid=1e6 hold to ~9e6 rows; larger corpora drop grid to 1e3 (≈
    covariance to 6 significant digits) or widen the final sums to
    DECIMAL(38,0) in both engines. Output: (i, j, gram) for i ≤ j,
    int64 on the lattice (divide by grid² downstream for float scale).
    """
    g = int(grid)

    def partials(it):
        for pdf in it:
            if pdf.empty:
                continue
            mat = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype("float64") * g
            ).astype("int64")
            gram = np.einsum("ni,nj->ij", mat, mat)
            iu, ju = np.triu_indices(gram.shape[1])
            yield pd.DataFrame(
                {"i": iu.astype("int32"), "j": ju.astype("int32"), "g": gram[iu, ju]}
            )

    part = df.select(vec_col).mapInPandas(partials, "i int, j int, g long")
    return part.groupBy("i", "j").agg(F.sum("g").cast("long").alias("gram"))


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid 2011, "Product Quantization
# for Nearest Neighbor Search")
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 2,
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks: split each L2-NORMALIZED vector
    into ``m`` contiguous subvectors and k-means each subspace to ``ks``
    codewords — returns ``codebooks[m][ks][dim/m]``.

    The compression tier BELOW int8 for a 100 TB vector store: a code is
    ``m`` small ints (m·log2(ks) bits — 8 bytes at m=8/ks=256 vs 256 B
    fp32 / 64 B int8 for d=64), and probes score codes against a
    per-query ADC table without touching a single vector byte.

    Deterministic by the library discipline: seeds are the ``ks``
    vectors with the smallest ``xxhash64(id)`` (the ivf_centroids
    sampler), sliced per subspace; Lloyd updates are exact means via
    posexplode + groupBy (shuffle carries (subspace, code, pos, value)
    — vocabulary-of-codewords sized after aggregation); empty codewords
    keep their seed. Every collect is O(m·ks·dim/m) = O(ks·dim) floats,
    never the corpus. Assignment minimizes subspace L2 distance (the
    paper's quantizer); scoring is inner-product ADC on the unit sphere,
    consistent with the module's cosine surface."""
    first = df.select(vec_col).first()
    if first is None:
        return []
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def normalize(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype=object)
        x = np.stack(col.to_numpy()).astype("float64")
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series(x.tolist())

    nv = df.select(F.col(id_col).alias("_id"), normalize(F.col(vec_col)).alias("_v"))
    nv = cacheutil.materialize(nv)  # train loop re-reads it per iter

    seeds = (
        nv.orderBy(F.xxhash64(F.col("_id")), F.col("_id")).limit(ks).collect()
    )
    codebooks = [
        [list(r["_v"][s * dsub : (s + 1) * dsub]) for r in seeds] for s in range(m)
    ]
    for _ in range(iters):
        enc = pq_encode(nv, codebooks, vec_col="_v", out_col="_code")
        means = (
            enc.select(F.posexplode("_v").alias("_pos", "_x"), "_code")
            .select(
                F.floor(F.col("_pos") / dsub).cast("int").alias("_s"),
                F.element_at(
                    "_code", (F.floor(F.col("_pos") / dsub) + 1).cast("int")
                ).alias("_c"),
                (F.col("_pos") % dsub).cast("int").alias("_sp"),
                F.col("_x").cast("double").alias("_x"),
            )
            .groupBy("_s", "_c", "_sp")
            .agg(F.avg("_x").alias("_mean"))
            .collect()
        )
        by: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            by.setdefault((r["_s"], r["_c"]), {})[r["_sp"]] = float(r["_mean"])
        codebooks = [
            [
                [by[(s, c)][p] for p in range(dsub)] if (s, c) in by else codebooks[s][c]
                for c in range(ks)
            ]
            for s in range(m)
        ]
    release(nv)
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """+ ``out_col array<int>`` (length m): per-subspace nearest-codeword
    ids of the L2-normalized vector — one Arrow pass, a (batch × dsub) @
    (dsub × ks) BLAS call per subspace. At scale this runs once at ingest
    and the codes column (m·log2 ks bits/vector) IS the probe-time
    storage; the fp32 column stays behind only for the exact re-rank
    fetch."""
    from pyspark.sql.functions import pandas_udf

    if not codebooks:
        raise ValueError(
            "pq_encode needs trained codebooks (pq_train returned [] — "
            "empty training corpus?)"
        )
    cb = np.array(codebooks, dtype="float64")  # (m, ks, dsub)
    m, ks, dsub = cb.shape
    cb_sq = (cb**2).sum(axis=2)  # (m, ks)

    @pandas_udf("array<int>")
    def codes(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype=object)
        x = np.stack(col.to_numpy()).astype("float64")
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        out = np.empty((x.shape[0], m), dtype="int32")
        for s in range(m):
            sub = x[:, s * dsub : (s + 1) * dsub]
            # argmin ||sub - c||^2 = argmin (||c||^2 - 2 sub·c)
            out[:, s] = (cb_sq[s] - 2.0 * (sub @ cb[s].T)).argmin(axis=1)
        return pd.Series(out.tolist())

    return df.withColumn(out_col, codes(F.col(vec_col)))


def adc_tables(
    codebooks: list[list[list[float]]], query_vecs: list[list[float]]
) -> np.ndarray:
    """Per-query ADC lookup tables, (n_queries, m, ks): ``T[q, s, c]`` is
    the L2-normalized query's subvector ``s`` dotted with codeword ``c``
    of subspace ``s``, so a code's ADC score is Σₛ T[q, s, code[s]]."""
    cb = np.array(codebooks, dtype="float64")  # (m, ks, dsub)
    m, _, dsub = cb.shape
    qmat = np.stack([np.asarray(v, dtype="float64") for v in query_vecs])
    q_hat = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    return np.stack(
        [q_hat[:, s * dsub : (s + 1) * dsub] @ cb[s].T for s in range(m)], axis=1
    )


def pq_topk_batch(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 5,
    rerank: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
) -> DataFrame:
    """Batched PQ retrieval with exact re-rank: ADC-score every corpus
    CODE against per-query lookup tables, keep the ``rerank`` best
    candidates per query (WindowGroupLimit partial top-k below the
    exchange — the cosine_topk_batch shape), then re-rank exactly those
    candidates by true cosine and return the top ``k``.

    The ADC stage reads ONLY the code column (m small ints/row) — at
    100 TB that is the entire point: the scan is ~32× lighter than fp32
    and the per-row score is m table lookups, no vector math. The ADC
    tables (n_queries × m × ks doubles) are closure-broadcast. Exact
    re-rank touches full vectors for rerank·n_queries rows only — the
    IVF-PQ re-rank shape (same discipline as IncrementalIvfIndex's int8
    ``rescore_from``). Returns (query_id, id, score, rn) with the
    library's determinism: 6-dp rounded exact scores, id tiebreaks."""
    from pyspark.sql.functions import pandas_udf

    if not codebooks:
        raise ValueError(
            "pq_topk_batch needs trained codebooks (pq_train returned [])"
        )
    m = len(codebooks)
    qrows = queries.select(q_id_col, q_vec_col).collect()
    if not qrows:
        return (
            df.select(F.lit(None).alias(q_id_col), F.col(id_col))
            .withColumn("score", F.lit(0.0))
            .withColumn("rn", F.lit(0).cast("int"))
            .limit(0)
        )
    qids = [r[q_id_col] for r in qrows]
    tables = adc_tables(codebooks, [r[q_vec_col] for r in qrows])

    @pandas_udf("array<double>")
    def adc_scores(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype=object)
        codes = np.stack(col.to_numpy()).astype("int64")  # (b, m)
        out = np.zeros((codes.shape[0], tables.shape[0]), dtype="float64")
        for s in range(m):
            out += tables[:, s, codes[:, s]].T
        return pd.Series(out.tolist())

    qid_arr = F.array(*[F.lit(q) for q in qids])
    scored = (
        df.select(id_col, adc_scores(F.col(code_col)).alias("_s"))
        .select(id_col, F.posexplode("_s").alias("_qi", "score"))
        .select(F.element_at(qid_arr, F.col("_qi") + 1).alias(q_id_col), id_col, "score")
    )
    cand = top_per_query(scored, int(rerank), q_id_col, id_col)
    exact = (
        cand.select(q_id_col, id_col)
        .join(df.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.select(q_id_col, q_vec_col)), q_id_col)
        .select(
            q_id_col,
            id_col,
            F.round(cosine(F.col(vec_col), F.col(q_vec_col)), 6).alias("score"),
        )
    )
    return top_per_query(exact, k, q_id_col, id_col)


# ---------------------------------------------------------------------------
# PCA projection (driver-side eigh on the d x d Gram sufficient statistic)
# ---------------------------------------------------------------------------


def pca_fit(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    grid: int = 1_000_000,
) -> dict:
    """Fit a k-component PCA from the EXACT integer-lattice sufficient
    statistics — the dimensionality-reduction step every 100 TB
    embedding store eventually wants (cheaper ANN, whitening before
    clustering, storage 64→k floats).

    Distributed part: ONE pass building (a) ``gram_matrix_exact``'s d×d
    Σx·xᵀ and (b) the per-dimension component sums, both exact int64 on
    the floor(v·grid) lattice — each partition reduces to O(d²) partial
    rows, partials SUM (order-free), and the driver receives d·(d+3)/2
    integers total, NEVER vector data. Driver part: covariance
    C = (G/g² − n·μμᵀ)/n, then ``numpy.linalg.eigh`` on the d×d
    symmetric matrix — O(d³) on ≤ a few thousand dims is microseconds,
    and eigendecomposition is not distributable at useful d anyway
    (the published big-data PCA recipe — e.g. Spark MLlib's own
    RowMatrix.computePrincipalComponents — is exactly this shape:
    distribute the Gram, decompose on the driver).

    Determinism: the lattice makes the sufficient statistics
    bit-identical across cluster sizes; eigh on identical input is
    identical on one driver. Eigenvector SIGN is fixed by convention
    (largest-|entry| coordinate made positive) so refits don't flip
    components.

    Returns ``{"components": (k, d) ndarray, "mean": (d,) ndarray,
    "explained_var": (k,) ndarray, "explained_ratio": (k,) ndarray,
    "n": int}``."""
    g = int(grid)

    def partials(it):
        for pdf in it:
            pdf = pdf[pdf[vec_col].notna()]
            if pdf.empty:
                continue
            mat = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype("float64") * g
            ).astype("int64")
            gram = np.einsum("ni,nj->ij", mat, mat)
            iu, ju = np.triu_indices(gram.shape[1])
            sums = mat.sum(axis=0)
            d = gram.shape[1]
            yield pd.DataFrame(
                {
                    # j = -1 rows carry the per-dim sums; j = -2 the count
                    "i": np.concatenate([iu, np.arange(d), [0]]).astype("int32"),
                    "j": np.concatenate(
                        [ju, np.full(d, -1), [-2]]
                    ).astype("int32"),
                    "g": np.concatenate([gram[iu, ju], sums, [len(mat)]]),
                }
            )

    agg = (
        df.select(vec_col)
        .mapInPandas(partials, "i int, j int, g long")
        .groupBy("i", "j")
        .agg(F.sum("g").cast("long").alias("s"))
        .collect()
    )
    n = 0
    sums: dict[int, int] = {}
    tri: dict[tuple[int, int], int] = {}
    for r in agg:
        if r["j"] == -2:
            n = r["s"]
        elif r["j"] == -1:
            sums[r["i"]] = r["s"]
        else:
            tri[(r["i"], r["j"])] = r["s"]
    d = max(sums) + 1
    G = np.zeros((d, d), dtype="float64")
    for (i, j), v in tri.items():
        G[i, j] = G[j, i] = v
    mu_l = np.array([sums[i] for i in range(d)], dtype="float64")  # lattice units
    mean = mu_l / (n * g)
    cov = (G - np.outer(mu_l, mu_l) / n) / (n * g * g)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comp = evecs[:, order].T  # (k, d)
    # deterministic sign: the largest-|entry| coordinate is positive
    for row in comp:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1.0
    ev = evals[order]
    total = float(evals.sum())
    return {
        "components": comp,
        "mean": mean,
        "explained_var": ev,
        "explained_ratio": ev / total if total > 0 else ev * 0.0,
        "n": int(n),
    }


def pca_project(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "projected",
) -> DataFrame:
    """Project vectors onto a fitted PCA basis: ``(x − μ) Wᵀ`` per Arrow
    batch — the model (k×d floats, kilobytes) closes over the UDF and
    broadcasts with the task binary; the projection is one numpy matmul
    per batch, map-only, no shuffle. Output: (id_col, out_col
    array<float>)."""
    comp = np.ascontiguousarray(model["components"], dtype="float64")
    mean = np.ascontiguousarray(model["mean"], dtype="float64")

    def proj(it):
        for pdf in it:
            pdf = pdf[pdf[vec_col].notna()]
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            out = (mat - mean) @ comp.T
            yield pd.DataFrame(
                {id_col: pdf[id_col], out_col: list(out.astype("float32"))}
            )

    return df.select(id_col, vec_col).mapInPandas(
        proj, f"{id_col} long, {out_col} array<float>"
    )
