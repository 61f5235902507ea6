"""Cache-lifetime discipline for long-lived sessions.

Several operators ``persist()`` frames that feed multiple consumers
inside one returned (lazy) plan — doc tables, signature tables, IVF
assignments — and every eager checkpoint (iterative rounds that truncate
lineage, ingest-tier outputs) goes through ``materialize``. Both leave
blocks in the executor block manager that only session LRU would
otherwise reclaim. That is fine for
one-shot jobs (bench.py clears per query; a driver exits) but a
long-lived service accumulates dead blocks and leans on eviction
(docs/SCALE.md "Cache ownership").

Library code frees what it created by the frame's own handle:
``release(df)`` unpersists a ``persist()`` cache or the RDD behind a
``localCheckpoint``, or deletes the files of a reliable ``checkpoint``,
and ``computed`` persists and counts a frame for a ``with`` block.
Iterative operators (``llm.dedup.dedup_clusters``,
``operators.graph.pagerank``) release each superseded round as soon as
the next one is materialized; per-batch sinks and ingest tiers release
their intermediates in ``finally``. Freeing by handle touches nothing
else, so concurrent queries sharing one session keep their blocks.

Operators that return lazy plans over persisted inputs cannot know when
the caller's action runs, so the CALLER frees those. ``scoped_caches``
(built on ``persistent_rdd_ids`` / ``release_caches``) frees every RDD
persisted while its block runs — by ANY query in the session — so it is
for single-tenant code (a script, a test, a one-shot job) only; library
code never diffs the session's caches. ``scoped_caches`` must enclose
the MATERIALIZATION (the action), not just the plan construction:
unpersisting before the action simply makes the action recompute.

One asymmetry to respect: a ``persist()``-backed frame re-computes
transparently after release (blocks are an optimization), but a
checkpoint-backed frame (local or reliable) CANNOT — its lineage was
truncated at checkpoint time (Spark logs a WARN at release), so
re-collecting such a frame after its blocks or files are freed raises
instead of recomputing. Consume iterative operators' results before
releasing them, never re-materialize them after release.
"""

from __future__ import annotations

import contextlib

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from .sources.io import fs_delete

#: Session conf key selecting how ``materialize`` cuts lineage.
MATERIALIZE_MODE_KEY = "spark.graft.materialize"
#: Optional conf key naming the reliable-checkpoint directory (applied to
#: the SparkContext on first reliable materialize if none is set yet).
CHECKPOINT_DIR_KEY = "spark.graft.checkpoint.dir"


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize an intermediate frame and truncate its lineage — the
    single switch point for every eager checkpoint in the library
    (pagerank's edge list and per-iteration ranks, ``dedup_clusters``'s
    pair list, label rounds and result, the curation ladder's hubs, the
    graph queries' undirected edge sets, the returned frame of each
    ``streaming.corpus`` ingest tier, the IVF dedup tier and
    ``ingest_corpus_batch``'s excised batch, ``bpe_train_from_counts``'s
    vocabulary rounds and ``pq_train``'s normalized vectors). No other
    module calls ``localCheckpoint`` or ``checkpoint``
    (tests/test_cache_ownership.py guards it).

    Default (``spark.graft.materialize`` unset or ``"local"``):
    ``localCheckpoint`` — blocks live on executors with NO lineage, so
    they are fast but not fault-tolerant: on a real cluster, losing one
    executor mid-iteration kills the job instead of recomputing. That is
    the right local/bench trade and the measured-fastest form at test
    scale.

    Cluster profile (``spark.conf.set("spark.graft.materialize",
    "reliable")``): routes to reliable ``checkpoint()`` — blocks are
    written to the checkpoint directory (set it via
    ``sc.setCheckpointDir`` or the ``spark.graft.checkpoint.dir`` conf),
    so an executor loss recomputes from storage instead of failing the
    job. At 100 TB the pagerank edge list is (nodes+edges)-sized — not
    small — and a multi-hour iterative job must survive executor churn;
    see docs/SCALE.md "Materialization fault tolerance". Reliable
    checkpoints are files, not persisted RDDs: ``release`` on the
    returned frame deletes its ``rdd-N`` directory under the checkpoint
    directory, so a long-lived stream does not grow it per batch.
    The eager reliable checkpoint computes the frame in ONE job that
    writes the checkpoint files (Spark 4.1: no separate count job), so
    observe nodes below it fire once and no persist is needed in front
    of it — pinned in tests/test_llm_ops.py.
    """
    spark = df.sparkSession
    mode = spark.conf.get(MATERIALIZE_MODE_KEY, "local")
    if mode == "reliable":
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            ckdir = spark.conf.get(CHECKPOINT_DIR_KEY, None)
            if not ckdir:
                raise ValueError(
                    "spark.graft.materialize=reliable needs a checkpoint "
                    "directory: call sc.setCheckpointDir(...) or set "
                    f"{CHECKPOINT_DIR_KEY}"
                )
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=eager)
    if mode != "local":
        raise ValueError(
            f"unknown {MATERIALIZE_MODE_KEY}={mode!r} (use 'local' or 'reliable')"
        )
    return df.localCheckpoint(eager=eager)


def release(*frames: DataFrame | None) -> None:
    """Free what each frame itself holds: its ``persist()`` cache, the
    RDD behind its ``localCheckpoint``, or the files of its reliable
    ``checkpoint`` (deleted through the Hadoop FileSystem of the file's
    own scheme). ``None`` entries are skipped. Only these frames' blocks
    and files go, never another query's. Block removal is non-blocking;
    no job runs."""
    for df in frames:
        if df is None:
            continue
        if df.storageLevel != StorageLevel.NONE:
            df.unpersist()
            continue
        plan = df._jdf.queryExecution().logical()
        if plan.nodeName() != "LogicalRDD":
            continue
        rdd = plan.rdd()
        if rdd.getStorageLevel().isValid():
            rdd.unpersist(False)
            continue
        ckpt = rdd.getCheckpointFile()
        if ckpt.isDefined():
            fs_delete(df.sparkSession, ckpt.get())


@contextlib.contextmanager
def computed(df: DataFrame):
    """Persist ``df``, compute it now (its row count, yielded with it) and
    ``release`` it on exit, failure included."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield df, df.count()
    finally:
        release(df)


@contextlib.contextmanager
def released_on_error(df: DataFrame):
    """For a frame about to be returned: if the block raises, the caller
    never receives ``df``, so ``release`` it before re-raising."""
    try:
        yield df
    except BaseException:
        release(df)
        raise


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently persisted in this session's block
    manager — includes DataFrame ``persist()`` plans AND the RDDs backing
    ``localCheckpoint``. Driver-side metadata only; no job runs."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def release_caches(spark: SparkSession, ids: set[int], blocking: bool = False) -> int:
    """Unpersist the given RDD ids (ids already gone are skipped).
    Returns how many were released. ``blocking=False``: removal is
    async, the correctness-safe default (blocks are re-computable)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    released = 0
    for k in jmap.keySet().toArray():
        if int(k) in ids:
            jmap.get(k).unpersist(blocking)
            released += 1
    return released


@contextlib.contextmanager
def scoped_caches(spark: SparkSession, blocking: bool = False):
    """Free every RDD persisted inside the block on exit — persist() and
    localCheckpoint alike — leaving caches that existed before the block
    untouched. It frees whatever ANY query persisted while the block ran,
    so it is for single-tenant code (a script, a test, a one-shot job)
    only; a service sharing its session frees its own frames with
    ``release``:

        with scoped_caches(spark):
            out = near_dup_pairs_minhash(docs, ...)
            result = out.collect()          # action INSIDE the block
        # signature/doc tables are unpersisted here

    Exit never raises past the user's exception (release is
    best-effort metadata cleanup)."""
    before = persistent_rdd_ids(spark)
    try:
        yield
    finally:
        with contextlib.suppress(Exception):
            release_caches(spark, persistent_rdd_ids(spark) - before, blocking)
