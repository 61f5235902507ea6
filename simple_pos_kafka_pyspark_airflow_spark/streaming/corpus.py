"""Streaming corpus ingestion: the LLM-pipeline front door.

Composes the batch text operators (``llm.textops``) with Structured
Streaming so a document firehose (Kafka topic or landing directory) is
quality-gated and exact-deduplicated BEFORE it ever lands in the corpus —
the ingest-time half of the dedup ladder (near-dup passes run as batch
compaction over the landed corpus; see ``llm.dedup``).

Stages (all codegen; the stream never leaves the JVM):

1. quality gate — ``textops.quality_score`` plus a minimum length, as one
   projection; rejects are counted, not silently dropped (route the
   complement to a quarantine sink in production);
2. exact dedup — ``dropDuplicatesWithinWatermark`` on ``sha2(text)``:
   state holds one 32-byte digest per document until the watermark passes
   its event time + delay, so memory is O(docs/horizon), not O(corpus).
   (Plain ``dropDuplicates`` would NOT evict state on a subset of columns
   that excludes the event-time column — it grows O(all distinct docs)
   on an unbounded stream, which is exactly the bound this stage must
   avoid.);
3. typed landing — append sink partitioned however the caller's writer
   chooses (date partitioning composes downstream).

Scale: the dedup state shuffles on the digest — uniformly distributed by
construction, so no skew; the watermark bounds state for an infinite
stream. The reference has no analogue (its dedup guard is a driver-side
``key in df.values`` scan, ``kafka_producer.py:41-58``); this is that
guard made distributed, bounded, and exactly-once.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cacheutil
from ..cacheutil import release, released_on_error
from ..llm import dedup as dedup_ops
from ..llm import textops
from ..llm.textops import _cut_repeated
from ..sources.io import append_parquet, overwrite_atomic, read_committed


def _tagged(rows: DataFrame, batch_id: int) -> DataFrame:
    """``rows`` tagged with the ``foreachBatch`` batch id they came from."""
    return rows.withColumn("_batch", F.lit(int(batch_id)).cast("long"))


def _committed(spark: SparkSession, path: str, first: str, part: str | None = None) -> DataFrame:
    """State a gate or monitor cannot run without: its committed rows
    (``sources.io.read_committed``: after a re-fit or re-freeze that
    crashed inside its swap, the previous release), or a ValueError
    naming the call to run ``first`` when it was never committed."""
    committed = read_committed(spark, path, part=part)
    if committed is None:
        raise ValueError(f"nothing committed at {path}: {first} first")
    return committed


class _IndexLog:
    """The state of one incremental index: a parquet directory of
    append-only rows. Every index in this module shares this lifecycle,
    so its replay policy is written once, here.

    - ``_landed``: the committed rows (``sources.io.read_committed``, a
      read with no side effects, so probes may call it too), or None ONLY
      for a never-committed index — a missing path, an empty directory,
      or hidden-only debris (parquet's ``_temporary`` from a crashed
      first append, ``_SUCCESS`` markers). After a ``compact`` that
      crashed between the two renames of its swap, it reads the rows
      under the tombstone, never mistaking them for an empty index.
      Probes go through the Hadoop FileSystem of the path's own scheme
      (file:/S3A/HDFS/ABFS alike), never a driver-local ``os`` probe,
      which would report "no index" on an object store and silently skip
      landed-corpus dedup. An existing path that fails to read as parquet
      raises.
    - ``_append``: a plain parquet append (``sources.io.append_parquet``,
      which heals a crashed swap first, so an append never creates a
      live directory beside a tombstone), tagged with the batch id when
      one is given and laid out ``partitionBy(*partition_by)`` when the
      log is partitioned. It is not transactional: a batch that
      ``foreachBatch`` replays after a crash between the append and the
      checkpoint commit lands its rows twice.
    - Row logs (``value=None``: the minhash and digest indexes, and
      ``streaming.ann.IncrementalIvfIndex``, a row log partitioned by
      ``cell`` so probes prune to the cells they read) tolerate that
      because duplicated rows cannot change their decisions — their
      probes ignore same-id matches. ``compact`` drops duplicate rows on
      ``keys``.
    - Count logs (``value`` names the count column) are threshold-
      sensitive, so every read goes through ``_replayed``: one copy per
      (keys, batch), so a replayed append counts once. ``_with_history``
      also leaves the CURRENT batch's own rows out of the history it is
      judged against; together a replayed batch sees exactly the history
      its first run saw. ``compact`` folds the history into one row per
      key under the sentinel batch -1.

    ``compact`` is an atomic snapshot swap (``sources.io.overwrite_atomic``)
    that keeps the log's partition layout.
    Run a count log's ``compact`` only at a quiesced point (stream
    stopped, or the last batch's checkpoint committed): afterwards a replay
    of a pre-compaction batch can no longer exclude its own rows.
    """

    def __init__(
        self, spark: SparkSession, path: str, keys: list[str], value: str | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self._keys = list(keys)
        self._value = value
        self._partition_by = partition_by or []

    def _landed(self) -> DataFrame | None:
        return read_committed(self.spark, self.path)

    def _append(self, rows: DataFrame, batch_id: int | None = None) -> None:
        if batch_id is not None:
            rows = _tagged(rows, batch_id)
        append_parquet(rows, self.path, self._partition_by)

    def _replayed(self, where: Column | None = None) -> DataFrame | None:
        """Landed rows (optionally filtered) with replayed appends
        collapsed to one copy per (keys, batch); None when none landed."""
        landed = self._landed()
        if landed is None:
            return None
        if where is not None:
            landed = landed.where(where)
        return landed.dropDuplicates([*self._keys, "_batch"])

    def _history(self, where: Column | None = None) -> DataFrame | None:
        """Replay-collapsed counts summed per key; None when none landed."""
        rows = self._replayed(where)
        if rows is None:
            return None
        v = self._value
        return rows.groupBy(*self._keys).agg(F.sum(v).cast("long").alias(v))

    def _with_history(self, batch_counts: DataFrame, batch_id: int) -> DataFrame:
        """This batch's counts plus every OTHER batch's landed counts, per
        key. On a replay the landed log already holds this batch's own
        rows; counting them too would flip decisions the first run made."""
        history = self._history(F.col("_batch") != F.lit(batch_id))
        if history is None:
            return batch_counts
        v = self._value
        combined = batch_counts.unionByName(history)
        return combined.groupBy(*self._keys).agg(F.sum(v).alias(v))

    def compact(self) -> None:
        """Rewrite the log collapsed (see the class docstring) under the
        atomic snapshot swap; a no-op when nothing has landed."""
        if self._value is None:
            snapshot = self._landed()
            if snapshot is not None:
                snapshot = snapshot.dropDuplicates(self._keys)
        else:
            snapshot = self._history()
            if snapshot is not None:
                snapshot = snapshot.withColumn("_batch", F.lit(-1).cast("long"))
        if snapshot is not None:
            overwrite_atomic(snapshot, self.path, self._partition_by)


def corpus_ingest(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    min_quality: float = 0.3,
    min_tokens: int = 3,
    watermark: str = "1 hour",
) -> DataFrame:
    """Quality-gate + watermark-bounded exact dedup over a document stream
    (a batch frame takes the same gate + ``dropDuplicates`` plan).

    Returns the surviving documents with ``quality`` and ``text_sha``
    columns attached; duplicates arriving within the watermark horizon of
    the first arrival keep only that first arrival. On the streaming path
    this is ``dropDuplicatesWithinWatermark`` (Spark >= 3.5): unlike
    ``dropDuplicates(subset)``, it evicts a key's state once the watermark
    passes its event time + delay, so state is bounded by the horizon —
    the documented O(docs/horizon) memory bound. The trade is the dedup
    guarantee's scope: a duplicate arriving AFTER the horizon is kept
    (re-ingested); the near-dup compaction pass over the landed corpus
    (``llm.dedup`` / ``IncrementalMinhashIndex``) is the corpus-lifetime
    backstop.
    """
    scored = docs.withColumn("quality", textops.quality_score(F.col(text_col))).withColumn(
        "n_tokens", textops.token_count(F.col(text_col))
    )
    kept = scored.where(
        (F.col("quality") >= F.lit(min_quality)) & (F.col("n_tokens") >= F.lit(min_tokens))
    )
    hashed = kept.withColumn("text_sha", F.sha2(F.col(text_col), 256))
    if hashed.isStreaming:
        return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["text_sha"]
        )
    return hashed.dropDuplicates(["text_sha"])


def banded_index_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """The storable LSH index form of a document set: one row per
    (doc, band) carrying the band's bucket hash and the doc's shingle-hash
    set — everything a later batch needs to near-dup against this corpus
    WITHOUT re-reading its text. Schema: (doc_id, band, bucket, sh)."""
    doc_tbl = dedup_ops.minhash_doc_table(docs, text_col, id_col, n_shingle, num_hashes)
    return banded_index_rows_from_table(doc_tbl, num_hashes, bands)


def banded_index_rows_from_table(
    doc_tbl: DataFrame, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """``banded_index_rows`` over a prebuilt ``minhash_doc_table`` frame
    (r15 ingest fusion — see ``dedup.near_dup_pairs_from_doc_table``):
    the band explode + bucket hash are a cheap projection of the cached
    signature table, so deriving index rows here instead of from text
    skips a second explode→64-agg signature stage per micro-batch."""
    rows = num_hashes // bands
    return doc_tbl.select(
        F.col("_id").alias("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        F.col("_sig"),
        F.col("_sh").alias("sh"),
    ).select(
        "doc_id",
        "band",
        F.xxhash64(F.array_join(F.slice("_sig", F.col("band") * rows + 1, rows), ",")).alias(
            "bucket"
        ),
        "sh",
    )


class IncrementalMinhashIndex(_IndexLog):
    """Near-dup dedup at ingest, incrementally: an LSH band-bucket index of
    everything already landed, appended per micro-batch.

    Per batch (``dedup_batch`` — plain DataFrames, so it slots into
    ``foreachBatch`` or a batch backfill identically):

    1. index the batch (``banded_index_rows``);
    2. candidates = batch ⋈ landed index on (band, bucket) — at 100 TB
       the landed index is stored partitioned/bucketed by (band, bucket),
       so this probe is a co-located join against a table that is orders
       of magnitude smaller than the corpus text (64 longs + shingle
       hashes per doc);
    3. exact-Jaccard verify candidates; batch docs matching a landed doc
       at ≥ threshold are rejected;
    4. within-batch near-dups: the pair list goes through
       ``llm.dedup.dedup_clusters`` (connected components, min-label) and
       each component keeps exactly its minimum id — the
       cluster-representative policy, exact over chains (A~B~C keeps A
       even when A~C never paired, and (1,5)+(2,5) keeps only 1, where a
       greedy drop-every-``id_b`` pass would inconsistently keep 2);
    5. survivors' index rows append to the landed index.

    The index directory is the only state — no driver memory, no
    streaming state store — so the dedup horizon is the whole corpus
    lifetime, unlike watermark-bounded ``dropDuplicatesWithinWatermark``.

    Discovery, append, replay and compaction are ``_IndexLog``'s row-log
    lifecycle: a replayed batch's index rows land twice but cannot change
    decisions (the probe join excludes ``doc_id`` self-pairs, and
    duplicate (new, old) witnesses collapse before the Jaccard verify);
    ``compact()`` collapses them per (doc_id, band). Back the index with a
    transactional table format (Delta/Iceberg) in production.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        jaccard_threshold: float = 0.8,
        n_shingle: int = 3,
        num_hashes: int = 64,
        bands: int = 16,
    ) -> None:
        super().__init__(spark, path, ["doc_id", "band"])
        self.text_col = text_col
        self.id_col = id_col
        self.threshold = jaccard_threshold
        self.n_shingle = n_shingle
        self.num_hashes = num_hashes
        self.bands = bands

    @staticmethod
    def _landed_matches(idx: DataFrame, landed: DataFrame) -> DataFrame:
        """(doc_id, old_id, jaccard) for every (batch doc, landed doc)
        candidate pair sharing a band bucket, with the exact shingle
        Jaccard computed. Multi-band hits of the SAME pair collapse
        first; every DISTINCT landed witness still gets verified —
        keeping one arbitrary witness per new doc would miss dups whose
        kept witness happens to fall below threshold."""
        cand = (
            idx.alias("new")
            .join(landed.alias("old"), ["band", "bucket"])
            .where(F.col("new.doc_id") != F.col("old.doc_id"))
            .select(
                F.col("new.doc_id").alias("doc_id"),
                F.col("old.doc_id").alias("old_id"),
                F.col("new.sh").alias("sh_new"),
                F.col("old.sh").alias("sh_old"),
            )
            .dropDuplicates(["doc_id", "old_id"])
        )
        return dedup_ops._with_overlap(cand, "sh_new", "sh_old").select(
            "doc_id", "old_id", F.col("_j").alias("jaccard")
        )

    def probe(self, docs: DataFrame) -> DataFrame:
        """READ-ONLY near-dup lookup: (doc_id, old_id, jaccard) for every
        batch document matching a LANDED document at ≥ threshold — the
        decontamination question ("is this already in the corpus?")
        without mutating the index and without the within-batch pass.
        Returns an empty frame when no index has been written. ``jaccard``
        is rounded to 4 dp, matching ``near_dup_pairs_minhash``."""
        landed = self._landed()
        if landed is None:
            id_type = docs.schema[self.id_col].dataType.simpleString()
            return self.spark.createDataFrame(
                [], f"doc_id {id_type}, old_id {id_type}, jaccard double"
            )
        idx = banded_index_rows(
            docs, self.text_col, self.id_col, self.n_shingle, self.num_hashes, self.bands
        )
        return (
            self._landed_matches(idx, landed)
            .where(F.col("jaccard") >= self.threshold)
            .select("doc_id", "old_id", F.round("jaccard", 4).alias("jaccard"))
        )

    def dedup_batch(self, docs: DataFrame) -> DataFrame:
        """Return the batch rows that are NOT near-duplicates of landed or
        earlier-in-batch documents, and append their index rows.

        Cache lifetime: this runs once per micro-batch for the lifetime of
        a stream, so every intermediate is either eagerly checkpointed
        (truncating lineage AND bounding what later plans re-derive) or
        explicitly unpersisted before return — per-batch state must not
        accrete in the executor block manager.
        """
        jac_ok = F.col("jaccard") >= self.threshold

        # ONE signature pass per batch (r15 fusion): the explode→64-agg
        # minhash table is computed once over the batch text and persisted;
        # the within-batch pair search AND the landed-index rows both
        # derive from it (signatures are a deterministic function of the
        # text, so filtering the cached table by surviving ids is
        # byte-identical to re-signing the survivors — which is what this
        # used to do, paying the signature stage twice per micro-batch).
        doc_tbl = dedup_ops.minhash_doc_table(
            docs, self.text_col, self.id_col, self.n_shingle, self.num_hashes
        ).persist(StorageLevel.MEMORY_AND_DISK)
        idx = dup_ids = components = None
        try:
            # within-batch: connected components over the pair list; each
            # component keeps its min id (exact cluster-representative policy)
            pairs = dedup_ops.near_dup_pairs_from_doc_table(
                doc_tbl, num_hashes=self.num_hashes, bands=self.bands,
                jaccard_threshold=self.threshold,
            )
            components = dedup_ops.dedup_clusters(pairs, id_col=self.id_col)
            batch_drops = components.where(~F.col("keep")).select(self.id_col)
            kept = docs.join(batch_drops, self.id_col, "left_anti")

            idx = (
                banded_index_rows_from_table(
                    doc_tbl.join(
                        batch_drops.withColumnRenamed(self.id_col, "_id"),
                        "_id",
                        "left_anti",
                    ),
                    self.num_hashes,
                    self.bands,
                )
                .persist(StorageLevel.MEMORY_AND_DISK)
            )

            # the landed-match Jaccard join runs once: kept's checkpoint
            # computes dup_ids into memory and the index append reads it back
            landed = self._landed()
            idx_out = idx
            if landed is not None:
                dup_ids = (
                    self._landed_matches(idx, landed)
                    .where(jac_ok)
                    .select("doc_id")
                    .distinct()
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                kept = kept.join(dup_ids, self.id_col, "left_anti")
                idx_out = idx.join(
                    dup_ids.withColumnRenamed(self.id_col, "doc_id"), "doc_id", "left_anti"
                )
            kept = cacheutil.materialize(kept)
            with released_on_error(kept):
                self._append(idx_out)
            return kept
        finally:
            # released on a failed append too: a retried batch must not
            # leave its intermediates cached; the append was the last
            # reader of the components (dedup_clusters' label checkpoint
            # on its distributed path)
            release(dup_ids, idx, components, doc_tbl)


class IncrementalDigestIndex(_IndexLog):
    """Corpus-lifetime EXACT dedup at ingest — the tier-1 counterpart of
    ``IncrementalMinhashIndex``: a persistent (digest → doc id) index of
    everything already landed, probed per micro-batch with a plain
    digest equi-join. ``dropDuplicatesWithinWatermark`` (``corpus_ingest``)
    bounds its guarantee to the watermark horizon; the minhash index
    catches landed exact dups too (jaccard 1.0) but at banding+verify
    cost — this index answers the byte-identical question with one
    32-byte-key join, the cheap pre-filter the dedup ladder starts with.

    ``canonical=True`` keys the index on the normalized form
    (``llm.dedup.canonical_text``: lower / punct→space / collapse
    whitespace), catching case/punctuation variants — the incremental
    twin of ``canonical_dup_groups``.

    Per batch (``dedup_batch`` — plain DataFrames, slots into
    ``foreachBatch`` or a batch backfill identically): drop within-batch
    copies keeping each digest's min id, anti-join the landed index on
    the digest, append the survivors' (digest, id) rows.

    Scale: the index holds ~40 bytes per landed document — orders of
    magnitude smaller than the corpus — and every shuffle is keyed by the
    uniformly-distributed digest (no skew by construction). At 100 TB
    store it bucketed by digest so the probe is a co-located join.

    Discovery, append, replay and compaction are ``_IndexLog``'s row-log
    lifecycle: the probe ignores matches with the SAME doc id (a replayed
    doc must not be rejected against its own landed row), and duplicate
    (digest, id) rows collapse in ``compact()``.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        canonical: bool = False,
    ) -> None:
        super().__init__(spark, path, ["_dig", id_col])
        self.text_col = text_col
        self.id_col = id_col
        self.canonical = canonical

    def _digest(self) -> F.Column:
        text = F.col(self.text_col)
        if self.canonical:
            text = dedup_ops.canonical_text(text)
        return F.sha2(text, 256)

    def probe(self, docs: DataFrame) -> DataFrame:
        """READ-ONLY exact-dup lookup: (doc_id, old_id) for every batch
        document whose digest already exists in the landed index under a
        DIFFERENT id. Empty frame when no index has been written."""
        landed = self._landed()
        id_type = docs.schema[self.id_col].dataType.simpleString()
        if landed is None:
            return self.spark.createDataFrame([], f"doc_id {id_type}, old_id {id_type}")
        hashed = docs.select(
            F.col(self.id_col).alias("doc_id"), self._digest().alias("_dig")
        )
        return (
            hashed.join(
                landed.select(F.col(self.id_col).alias("old_id"), "_dig"), "_dig"
            )
            .where(F.col("doc_id") != F.col("old_id"))
            .select("doc_id", "old_id")
            .dropDuplicates(["doc_id", "old_id"])
        )

    def dedup_batch(self, docs: DataFrame) -> DataFrame:
        """Return the batch rows that are NOT byte-identical (or
        canonical-identical) to landed or earlier-in-batch documents, and
        append the survivors' (digest, id) rows to the index."""
        return self._dedup(docs, record=True)

    def filter_batch(self, docs: DataFrame) -> DataFrame:
        """READ-ONLY form of ``dedup_batch``: identical keep decisions
        (within-batch min-id keep + landed anti-join) but NO index
        append.  Pair with ``record_batch`` to defer landing until the
        batch has cleared downstream gates (r14, ADVICE): landing a
        URL's digest for a document a later tier rejects would block
        that URL's recrawls forever even though nothing ever reached
        the corpus."""
        return self._dedup(docs, record=False)

    def record_batch(self, docs: DataFrame) -> None:
        """Append (digest, id) index rows for documents that survived
        the FULL ladder — the deferred-landing half of ``filter_batch``.
        NULL-keyed rows are skipped (they were never dedup candidates).
        Replay-safe like ``dedup_batch``'s append: duplicated rows
        collapse in ``compact()`` and cannot change decisions (the
        landed probe ignores same-id matches).  An all-rejected batch
        writes nothing at all — not even empty part files — so "no doc
        ever claimed this URL" stays observable as an absent index."""
        rows = self._index_rows(docs)
        if rows.isEmpty():
            return
        self._append(rows)

    def _index_rows(self, docs: DataFrame) -> DataFrame:
        """(id, digest) index rows of ``docs``; NULL-keyed rows never land."""
        return docs.select(F.col(self.id_col), self._digest().alias("_dig")).where(
            F.col("_dig").isNotNull()
        )

    def _dedup(self, docs: DataFrame, record: bool) -> DataFrame:
        # NULL digest = no dedup key (NULL text, or at the URL tier a
        # record with no target URI — a NORMAL input for WARC front
        # doors).  Such rows must pass through untouched rather than
        # silently vanish (r14, ADVICE): an equi-join never matches a
        # NULL key, so routing them through the keep/anti joins dropped
        # every one of them.  They are excluded from the index append —
        # a NULL key can never reject anything.
        hashed = docs.withColumn("_dig", self._digest())
        keyless = hashed.where(F.col("_dig").isNull())
        keyed = hashed.where(F.col("_dig").isNotNull())
        keep_ids = keyed.groupBy("_dig").agg(F.min(self.id_col).alias(self.id_col))
        kept = keyed.join(keep_ids, [self.id_col, "_dig"], "semi")
        landed = self._landed()
        if landed is not None:
            dup_ids = (
                kept.select(self.id_col, "_dig")
                .join(landed.select(F.col(self.id_col).alias("_old"), "_dig"), "_dig")
                .where(F.col(self.id_col) != F.col("_old"))
                .select(self.id_col)
                .distinct()
            )
            kept = kept.join(dup_ids, self.id_col, "left_anti")
        # the returned frame is the checkpoint itself, so a caller frees
        # it by handle; the append re-derives the digest from it
        kept = cacheutil.materialize(kept.unionByName(keyless).drop("_dig"))
        if record:
            with released_on_error(kept):
                self._append(self._index_rows(kept))
        return kept


class IncrementalUrlIndex(IncrementalDigestIndex):
    """Corpus-lifetime CANONICAL-URL dedup at ingest (r13) — the recrawl
    gate the web-crawl front door was missing: CommonCrawl-class
    pipelines dedup by canonical URL BEFORE any content hashing (it is
    ~free and removes the bulk of re-crawl duplicates without touching
    text), and the batch ladder has exactly that step
    (``llm.dedup.canonical_url`` → q_dedup_url / q_web_curation_e2e) —
    but ``IncrementalDigestIndex`` keys on TEXT, so a page re-crawled
    with a rotated ad block or a new timestamp sailed past the exact
    gate and had to be caught by the (much costlier) minhash tier.

    This is the digest index with the key swapped to
    ``sha2(canonical_url(url_col))`` — everything else (within-batch
    min-id keep, landed anti-join, the ``_IndexLog`` row-log lifecycle)
    inherits unchanged. ~40 bytes per landed URL; uniformly-distributed
    join key by construction. Slots in FRONT of the text gates in
    ``ingest_corpus_batch`` (``url_index=``): a rejected re-crawl never
    pays extraction, quality scoring, or signature costs.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        url_col: str = "url",
        id_col: str = "doc_id",
    ) -> None:
        super().__init__(spark, path, text_col=url_col, id_col=id_col)

    def _digest(self) -> F.Column:
        return F.sha2(dedup_ops.canonical_url(F.col(self.text_col)), 256)


class IncrementalSpanIndex(_IndexLog):
    """Boilerplate-span removal at ingest, incrementally: a persistent
    (span-digest → distinct-doc count) index accumulated per micro-batch,
    so a span that repeats ACROSS batches is excised as soon as its
    corpus-lifetime count reaches ``min_docs`` — the streaming half of
    ``llm.dedup.boilerplate_span_dedup`` (which needs the whole corpus in
    one frame and can't see history).

    Per batch (``clean_batch(docs, batch_id)``; plain DataFrames, so it
    slots into ``foreachBatch`` or a batch backfill identically):

    1. segment the batch (``llm.dedup.span_segment_rows`` — identical
       segmentation to the batch operator);
    2. combined count per digest = this batch's distinct-doc count + the
       landed index's count; spans at ``>= min_docs`` are boilerplate;
    3. boilerplate digests broadcast back against the batch's segment
       rows; surviving spans reassemble each document in order — the
       excision core (``llm.textops._cut_repeated``) the batch operator
       runs, so the first batch on a fresh path equals
       ``boilerplate_span_dedup`` of that batch;
    4. the batch's per-digest counts append to the index keyed by
       ``batch_id``.

    Exactly-once under replay WITHOUT a transactional store: this is an
    ``_IndexLog`` count log, so a replayed batch sees exactly the history
    its first run saw.

    Semantics note: excision is forward-looking — a span that crosses the
    threshold in batch N is removed from batch N onward; copies already
    landed in batches < N stay until the periodic batch compaction pass
    re-runs ``boilerplate_span_dedup`` over the corpus (same digests, so
    the two passes agree on what is boilerplate).

    Scale: the index shuffles fixed-width digests (32 B) with map-side
    partial aggregation; at 100 TB it lives partitioned by digest prefix
    on the object store and the probe is a broadcast of the batch's
    distinct digests against it (or a co-located join once the index
    outgrows broadcast range).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        span_tokens: int = 3,
        min_docs: int = 2,
        delimiter: str | None = None,
    ) -> None:
        super().__init__(spark, path, ["_dig"], "_n")
        self.text_col = text_col
        self.id_col = id_col
        self.span_tokens = span_tokens
        self.min_docs = min_docs
        self.delimiter = delimiter

    def clean_batch(self, docs: DataFrame, batch_id: int) -> DataFrame:
        """Return the batch with corpus-lifetime boilerplate spans excised
        (``text_clean`` + ``n_dropped`` per doc), and record the batch's
        span counts in the index."""
        seg = dedup_ops.span_segment_rows(
            docs, self.text_col, self.id_col, self.span_tokens, self.delimiter
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            batch_counts = seg.groupBy("_dig").agg(
                F.count_distinct(F.col(self.id_col)).alias("_n")
            )
            combined = self._with_history(batch_counts, batch_id)
            boiler = combined.where(F.col("_n") >= self.min_docs).select("_dig")
            out = cacheutil.materialize(
                _cut_repeated(
                    docs.select(self.id_col), seg, F.broadcast(boiler), self.id_col,
                    ["_dig"], "_i", "_seg", dedup_ops.span_joiner(self.delimiter),
                    "text_clean", "int",
                )
            )
            with released_on_error(out):
                self._append(batch_counts, batch_id)
            return out
        finally:
            release(seg)


class IncrementalLineIndex(_IndexLog):
    """Cross-page COMMON-LINE boilerplate removal at ingest,
    incrementally: a persistent (group, line-digest → distinct-doc
    count) index accumulated per micro-batch, so a line that repeats
    across ≥ ``min_docs`` documents of the same group (domain/dump) —
    cookie banners, copyright footers, subscribe prompts — is excised
    as soon as its CORPUS-LIFETIME count crosses the threshold. The
    streaming twin of ``llm.textops.strip_common_lines`` (which counts
    within the frame it is given and cannot see a footer planted across
    micro-batches). An ``_IndexLog`` count log keyed by (group, digest),
    so replays are exactly-once.

    Per batch (``clean_batch(docs, batch_id)``):

    1. line posexplode (identical segmentation to the batch operator),
       digested to a fixed-width ``xxhash64`` keyed WITH the group —
       group-local counting, same rationale as the batch form (a global
       count would strip legitimate cross-domain idioms, and the group
       key keeps the count shuffle partition-pruned per domain);
    2. combined count per (group, digest) = this batch's distinct-doc
       count + the landed history; lines at ``>= min_docs`` are chrome;
    3. chrome digests join back against the batch's line rows (no
       forced broadcast — the chrome set is corpus-lifetime and
       unbounded; AQE broadcasts while it is small); surviving lines
       rebuild each document in ORIGINAL order — the excision core
       (``llm.textops._cut_repeated``) the batch operator runs;
    4. the batch's per-(group, digest) counts append keyed by batch id.

    Forward-looking semantics (the span index's documented contract): a
    line crossing the threshold at batch N is removed from batch N
    onward; copies already landed stay until a compaction-era batch
    rewrite re-runs the batch operator over the corpus. As in the batch
    operator, NULL-text docs come back as ``('', 0)`` and NULL-group docs
    pass through untouched.

    Scale: the index shuffles (group, 8-byte digest) rows with map-side
    partial aggregation; the hot keys ARE the boilerplate, bounded by
    the two-phase distinct agg exactly as in the batch plan.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        group_col: str = "source",
        min_docs: int = 3,
    ) -> None:
        super().__init__(spark, path, ["_grp", "_dig"], "_n")
        self.text_col = text_col
        self.id_col = id_col
        self.group_col = group_col
        self.min_docs = min_docs

    def clean_batch(self, docs: DataFrame, batch_id: int) -> DataFrame:
        """Return ``(id_col, group_col, text_clean, n_dropped)`` with
        corpus-lifetime common lines excised, and record the batch's
        line counts in the index."""
        lines = (
            docs.select(
                F.col(self.id_col),
                F.col(self.group_col).alias("_grp"),
                F.posexplode(F.split(F.col(self.text_col), "\n")).alias(
                    "_pos", "_line"
                ),
            )
            .withColumn("_dig", F.xxhash64("_line"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            batch_counts = lines.groupBy("_grp", "_dig").agg(
                F.count_distinct(F.col(self.id_col)).alias("_n")
            )
            combined = self._with_history(batch_counts, batch_id)
            # no broadcast hint: the chrome set is CORPUS-LIFETIME and
            # unbounded (every ≥min_docs line per group — huge for real web
            # corpora), so forcing it driver-side would blow the broadcast
            # limit exactly when the index matters most. AQE picks broadcast
            # on its own while the set is small — the batch twin
            # strip_common_lines leaves the same join unhinted.
            chrome = combined.where(F.col("_n") >= self.min_docs).select("_grp", "_dig")
            out = cacheutil.materialize(
                _cut_repeated(
                    docs.select(self.id_col, self.group_col), lines, chrome,
                    self.id_col, ["_grp", "_dig"], "_pos", "_line", "\n",
                    "text_clean", "long",
                )
            )
            with released_on_error(out):
                self._append(batch_counts, batch_id)
            return out
        finally:
            release(lines)


class IncrementalSubstringIndex(_IndexLog):
    """Exact-substring (ExactSubstr, Lee et al. 2021) dedup at ingest,
    incrementally: a persistent (anchor-gram digest → occurrence count)
    index accumulated per micro-batch, so a ≥L-token span shared with
    ANYTHING already landed — at any offset — is excised from the batch
    before it lands. The streaming half of
    ``llm.dedup.exact_substring_spans`` (which needs the whole corpus in
    one frame), and the any-offset upgrade of ``IncrementalSpanIndex``
    (whose fixed segmentation grid misses spans that straddle segment
    boundaries).

    Per batch (``clean_batch(docs, batch_id)``):

    1. anchor-gram digests at every token position
       (``llm.dedup.anchor_gram_rows`` — identical gram definition to
       the batch operator, so the two passes can never disagree);
    2. combined occurrence count per digest = this batch's count + the
       landed history's; digests at ``>= min_count`` are duplicated;
    3. covered positions merge to maximal spans per doc
       (``covered_spans``) and the spans are excised
       (``excise_spans``) — the same removal the batch form applies;
    4. the batch's per-digest counts append to the index keyed by
       ``batch_id``.

    Replay discipline is the ``_IndexLog`` count log's, because counting
    is threshold-sensitive: a replayed batch sees exactly the history its
    first run saw.

    Scale: the index shuffles 16-byte digests with map-side partial
    aggregation, one row per token position per batch — the anchor-gram
    bound (docs/SCALE.md dedup tier 12): independent of L, occurrence-
    linear, no hot-key cap needed. Index rows accumulate one row per
    DISTINCT batch gram; ``compact()`` folds them to one row per
    distinct digest under the sentinel batch −1.

    Composable from the front door (r14): ``ingest_corpus_batch(...,
    substring_index=)`` runs this tier LAST of the excisions — see the
    order note there (its excision token-normalizes the text, and its
    per-position index rows should only price text the cheaper tiers
    passed).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        min_len: int = 50,
        min_count: int = 2,
    ) -> None:
        super().__init__(spark, path, ["_g"], "_n")
        self.text_col = text_col
        self.id_col = id_col
        self.min_len = int(min_len)
        self.min_count = int(min_count)

    def clean_batch(self, docs: DataFrame, batch_id: int) -> DataFrame:
        """Return the batch with corpus-lifetime duplicated ≥L-token
        spans excised (``text_clean`` + ``n_removed`` per doc), and
        record the batch's gram counts in the index."""
        grams = dedup_ops.anchor_gram_rows(
            docs, self.text_col, self.id_col, self.min_len
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            batch_counts = grams.groupBy("_g").agg(F.count("*").alias("_n"))
            combined = self._with_history(batch_counts, batch_id)
            dup = combined.where(F.col("_n") >= self.min_count).select("_g")
            marks = grams.join(F.broadcast(dup), "_g", "left_semi")
            spans = dedup_ops.covered_spans(marks, self.id_col, self.min_len)
            out = cacheutil.materialize(
                dedup_ops.excise_spans(docs, spans, self.text_col, self.id_col)
            )
            with released_on_error(out):
                self._append(batch_counts, batch_id)
            return out
        finally:
            release(grams)


class IncrementalCmsIndex(_IndexLog):
    """Corpus-lifetime FREQUENCY tracking at ingest: a persistent
    count-min table (``operators/aggregates.count_min_table``) of a key
    column — token, domain, source — appended per micro-batch. Because a
    counter-matrix sketch merges by ADDITION, append IS merge: each batch
    writes only its own ≤ depth·width sketch rows (kilobytes) and the
    landed index never needs a read-modify-write; estimates groupBy-sum
    the landed rows (bounded by depth·width·batches, and ``compact()``
    folds them back to ≤ depth·width) and probe with ``cms_estimate``'s
    broadcast join.

    The ingest-side answer to "which sources/tokens are flooding the
    corpus" at 100 TB: the exact groupBy alternative shuffles the key
    domain every time someone asks; this index pays ≤ depth·width rows
    per batch, forever, with the sketch's hard never-underestimate
    guarantee (a flood can never hide).

    Crash/replay: an ``_IndexLog`` count log keyed by (d, bucket) — a
    replayed append collapses before summing, so replays change nothing;
    ``compact()`` folds history into one ≤ depth·width snapshot.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str = "key",
        width: int = 1024,
    ) -> None:
        super().__init__(spark, path, ["d", "bucket"], "c")
        self.key_col = key_col
        self.width = width

    def update_batch(self, df: DataFrame, batch_id: int) -> None:
        """Append this batch's sketch rows (≤ depth·width, keyed by
        ``batch_id`` for replay collapse)."""
        from ..operators.aggregates import count_min_table

        self._append(count_min_table(df, self.key_col, width=self.width), batch_id)

    def estimate(self, keys: DataFrame) -> DataFrame:
        """(key, est_n) frequency estimates against the whole landed
        history — est_n ≥ the key's true landed count, always; keys never
        seen estimate ≥ 0 from collision noise. Empty-index → est_n 0."""
        from ..operators.aggregates import cms_estimate

        merged = self._history()
        if merged is None:
            return keys.select(
                F.col(self.key_col), F.lit(0).cast("long").alias("est_n")
            )
        return cms_estimate(merged, keys, self.key_col, width=self.width)


class IncrementalWordCountIndex(_IndexLog):
    """Corpus-lifetime WORD-FREQUENCY table at ingest — the tokenizer's
    feedstock maintained incrementally: BPE retraining
    (``llm.tokenize.bpe_train_from_counts``) runs off this index's
    merged counts WITHOUT rescanning the corpus (training is
    vocabulary-sized after the word count; the word count is the one
    corpus-sized pass, and this index pays it per batch at ingest
    instead of per retrain over history). Also the exact companion to
    ``IncrementalCmsIndex``'s estimates when the vocabulary fits —
    Zipf makes it a few GB even at web scale.

    Counts merge by ADDITION, so append IS merge: an ``_IndexLog`` count
    log keyed by word."""

    def __init__(self, spark: SparkSession, path: str, text_col: str = "text") -> None:
        super().__init__(spark, path, ["word"], "count")
        self.text_col = text_col

    def update_batch(self, df: DataFrame, batch_id: int) -> None:
        """Append this batch's (word, count) rows (vocabulary-of-batch
        sized, keyed by ``batch_id`` for replay collapse)."""
        from ..llm.tokenize import word_count_table

        self._append(word_count_table(df, self.text_col), batch_id)

    def counts(self) -> DataFrame | None:
        """Replay-collapsed, batch-summed (word, count) over the whole
        landed history; None when nothing has landed."""
        return self._history()

    def train(self, n_merges: int = 50, min_count: int = 2) -> list[tuple[str, str]]:
        """Retrain the BPE merge table from the landed counts — identical
        to training on the full landed corpus (word counts are sufficient
        statistics for BPE), no corpus rescan. Raises on an empty index
        (an empty vocabulary must not define a tokenizer release)."""
        from ..llm.tokenize import bpe_train_from_counts

        wc = self.counts()
        if wc is None:
            raise ValueError(f"no landed word counts at {self.path}: ingest first")
        return bpe_train_from_counts(wc, n_merges=n_merges, min_count=min_count)


class PersistentBloomGate:
    """Corpus-lifetime decontamination gate: the eval set's gram Bloom
    bitmap (``llm.bloom``) persisted beside the corpus indexes and applied
    to every ingest micro-batch, so contaminated documents are rejected at
    the front door instead of by a full-corpus sweep later.

    Lifecycle: ``fit(probe)`` once per eval-set release (rebuilds and
    atomically overwrites the stored bitmap); ``flag_batch``/``clean_batch``
    per micro-batch. Unlike the dedup indexes, the gate is READ-ONLY at
    ingest — flagging writes nothing — so micro-batch retries are
    trivially idempotent and no staging/replay protocol is needed.

    Storage: (chunk, bits, m_bits) parquet rows — one 128 KiB-chunk row
    per populated bitmap chunk, so the store is a few MB regardless of
    corpus size and loads with one bounded collect. The loaded bitmap is
    cached on the driver and broadcast per batch by ``bloom_flag``.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n: int = 5,
        n_hashes: int = 4,
    ) -> None:
        self.spark = spark
        self.path = path
        self.n = n
        self.n_hashes = n_hashes
        self._cache = None

    def fit(
        self,
        probe: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        m_bits: int = 1 << 24,
    ) -> None:
        """Build the probe set's bitmap and persist it (atomic overwrite —
        an eval-set release replaces the gate wholesale). A failed refit
        leaves the previous release readable: a crash inside the swap
        leaves it under the tombstone, where the next ``_bitmap`` load
        (``sources.io.read_committed``) reads it."""
        from ..llm.bloom import _CHUNK_BITS, bloom_bitmap

        bitmap = bloom_bitmap(
            probe, text_col, id_col, n=self.n, m_bits=m_bits, n_hashes=self.n_hashes
        )
        nbytes = min(_CHUNK_BITS, m_bits) >> 3
        rows = [
            (c // nbytes, bytes(bitmap[c : c + nbytes].tobytes()), m_bits)
            for c in range(0, len(bitmap), nbytes)
            if bitmap[c : c + nbytes].any()  # zero chunks reconstruct from m_bits
        ]
        # an empty-probe gate still commits: (chunk=-1, no bits) carries
        # m_bits so load() distinguishes "fit on empty eval set" (valid,
        # flags nothing) from "never fit" (error)
        if not rows:
            rows = [(-1, b"", m_bits)]
        overwrite_atomic(
            self.spark.createDataFrame(rows, schema="chunk int, bits binary, m_bits long"),
            self.path,
        )
        self._cache = bitmap

    def _bitmap(self):
        import numpy as np

        from ..llm.bloom import _CHUNK_BITS

        if self._cache is not None:
            return self._cache
        rows = _committed(self.spark, self.path, "fit() the gate with the eval set").collect()
        if not rows:
            raise ValueError(
                f"Bloom gate at {self.path} is committed but empty — refit"
            )
        m_bits = int(rows[0]["m_bits"])
        nbytes = min(_CHUNK_BITS, m_bits) >> 3
        bitmap = np.zeros(m_bits >> 3, dtype=np.uint8)
        for r in rows:
            c = int(r["chunk"])
            if c < 0:  # empty-probe sentinel: no bits to place
                continue
            bitmap[c * nbytes : (c + 1) * nbytes] = np.frombuffer(r["bits"], np.uint8)
        self._cache = bitmap
        return bitmap

    def flag_batch(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> DataFrame:
        """The batch with ``bloom_hit``/``n_bloom_grams`` attached (0 for
        documents too short to carry an n-gram — they cannot leak one)."""
        from ..llm.bloom import bloom_flag

        verdicts = bloom_flag(
            docs, self._bitmap(), text_col, id_col, n=self.n, n_hashes=self.n_hashes
        ).select(id_col, "n_bloom_grams", "bloom_hit")
        return (
            docs.join(verdicts, id_col, "left")
            .withColumn("bloom_hit", F.coalesce("bloom_hit", F.lit(0)))
            .withColumn("n_bloom_grams", F.coalesce("n_bloom_grams", F.lit(0)))
        )

    def clean_batch(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> DataFrame:
        """The batch minus contaminated documents (columns unchanged)."""
        flagged = self.flag_batch(docs, text_col, id_col)
        return flagged.where(F.col("bloom_hit") == 0).drop(
            "bloom_hit", "n_bloom_grams"
        )


class CorpusDriftMonitor:
    """Per-micro-batch DRIFT GATE against a frozen reference — the
    ingest-time composition of the batch drift operators (r8 verdict
    task: drift monitoring is naturally an ingest concern; the
    reference's closest analog is the consumer's running per-file state,
    ``kafka_consumer.py:111-117``). Three signals per batch, one row per
    group:

    - **KS** (``operators/validation.ks_drift_counts``): exact two-sample
      Kolmogorov–Smirnov on an integer metric (default ``n_tokens``) vs
      the frozen reference — binless, catches shape changes;
    - **PSI** (``operators/validation.psi_drift``): fixed-bin population
      stability on the same metric, binned on the REFERENCE's edges
      (lo/hi frozen with the reference — per-batch edges would make
      batches incomparable);
    - **trailing distinct** (the ``rolling_distinct_sketch`` discipline
      keyed by batch instead of day): per-batch HLL sketches of
      ``text_sha`` appended to the store; the report merges the last
      ``window_batches`` sketches per group — a collapse in unique
      documents (templated spam flood) shows up here before any mean
      moves.

    Scale: the frozen state is per-(group, value) counts (bounded by
    DISTINCT metric values, not reference rows), group×n_bins histogram
    rows, and one kB-sized sketch row per (batch, group) — every
    per-batch job is live-batch-sized plus those bounded tables; the
    reference corpus is read once at ``freeze()`` and never again.

    Crash/replay: the sketches are an ``_IndexLog`` keyed by group, so
    a replayed append (identical sketch bytes) is read once. Reports are
    derived, not state: replaying a batch reproduces its report rather
    than corrupting anything. ``freeze`` commits its three tables
    (counts, histogram, edges) as one release with one atomic swap, so a
    failed re-freeze leaves the whole previous release readable, never a
    histogram binned on one release's edges beside another's.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_col: str = "source",
        value_col: str = "n_tokens",
        distinct_col: str = "text_sha",
        n_bins: int = 10,
        window_batches: int = 7,
        lg_k: int = 12,
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.group_col = group_col
        self.value_col = value_col
        self.distinct_col = distinct_col
        self.n_bins = int(n_bins)
        self.window_batches = int(window_batches)
        self.lg_k = int(lg_k)
        self._sketches = _IndexLog(spark, f"{self.path}/sketches", [group_col])
        # the frozen release: parts counts, hist and meta
        self._ref_path = f"{self.path}/ref"

    def freeze(self, reference: DataFrame) -> None:
        """Compute and persist the reference stats (atomic overwrite —
        one freeze per reference release, like ``PersistentBloomGate.fit``).
        ``reference`` must carry ``group_col`` and an integer-lattice
        ``value_col`` (the ``corpus_ingest`` gated form qualifies). The
        edges are computed before any write, so a reference that fails to
        read leaves the previous release whole; the three tables then
        swap in together."""
        from ..operators.validation import value_histogram

        g, v = self.group_col, self.value_col
        row = reference.agg(
            F.min(F.col(v).cast("double")).alias("_lo"),
            F.max(F.col(v).cast("double")).alias("_hi"),
        ).first()
        if row["_lo"] is None:
            raise ValueError(
                f"CorpusDriftMonitor.freeze: reference has no non-null "
                f"{v!r} values — an empty reference cannot define edges"
            )
        lo, hi = float(row["_lo"]), float(row["_hi"])
        counts = reference.groupBy(g, F.col(v).cast("long").alias("value")).agg(
            F.count("*").cast("long").alias("n")
        )
        hist = value_histogram(reference, v, g, self.n_bins, lo=lo, hi=hi)
        meta = self.spark.createDataFrame(
            [(lo, hi, self.n_bins)], "lo double, hi double, n_bins int"
        )
        overwrite_atomic({"counts": counts, "hist": hist, "meta": meta}, self._ref_path)

    def _frozen_meta(self) -> tuple[float, float]:
        row = _committed(self.spark, self._ref_path, "freeze()", "meta").first()
        return float(row["lo"]), float(row["hi"])

    def check_batch(self, batch: DataFrame, batch_id: int) -> DataFrame:
        """One micro-batch against the frozen reference: append the
        batch's distinct-sketch rows, return the per-group drift report
        ``(group, n_ref, n_live, ks, psi, uniq_trailing_est)``. Groups
        present in only one side still report (full-outer composition):
        a NEW group drifting in, or a frozen group going silent, is
        drift too."""
        from ..operators.validation import ks_drift_counts, psi_drift, value_histogram

        g, v = self.group_col, self.value_col
        live_counts = batch.groupBy(g, F.col(v).cast("long").alias("value")).agg(
            F.count("*").cast("long").alias("n")
        )
        ref_counts = _committed(self.spark, self._ref_path, "freeze()", "counts")
        ks = ks_drift_counts(ref_counts, live_counts, g).select(
            g, "n_ref", "n_live", "ks"
        )
        lo, hi = self._frozen_meta()
        live_hist = value_histogram(batch, v, g, self.n_bins, lo=lo, hi=hi)
        ref_hist = _committed(self.spark, self._ref_path, "freeze()", "hist")
        psi = psi_drift(ref_hist, live_hist, g).select(g, "psi")

        sk = batch.groupBy(g).agg(
            F.hll_sketch_agg(self.distinct_col, F.lit(self.lg_k)).alias("_sk")
        )
        self._sketches._append(sk, batch_id)
        uniq = (
            self._sketches._replayed(
                (F.col("_batch") > int(batch_id) - self.window_batches)
                & (F.col("_batch") <= int(batch_id))
            )
            .groupBy(g)
            .agg(
                F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias(
                    "uniq_trailing_est"
                )
            )
        )
        return (
            ks.join(psi, g, "full_outer")
            .join(uniq, g, "full_outer")
            .select(g, "n_ref", "n_live", "ks", "psi", "uniq_trailing_est")
        )


def ingest_corpus_batch(
    docs: DataFrame,
    batch_id: int,
    minhash_index: IncrementalMinhashIndex,
    span_index: IncrementalSpanIndex | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    min_tokens: int = 3,
    digest_index: IncrementalDigestIndex | None = None,
    bloom_gate: PersistentBloomGate | None = None,
    drift_monitor: CorpusDriftMonitor | None = None,
    html_input: bool = False,
    line_index: "IncrementalLineIndex | None" = None,
    url_index: "IncrementalUrlIndex | None" = None,
    ann_index=None,
    ann_threshold: float = 0.95,
    fertility_monitor: "TokenizerFertilityMonitor | None" = None,
    substring_index: "IncrementalSubstringIndex | None" = None,
) -> DataFrame:
    """The whole corpus front door for one micro-batch, composed in the
    order the batch curation ladder uses (``llm.curation.curate_corpus``)
    but against PERSISTENT cross-batch state:

    -1. optional corpus-lifetime canonical-URL dedup (``url_index=``,
       r13): the recrawl gate, FIRST because it needs only the URL
       column — a rejected re-crawl never pays extraction, quality
       scoring, or signature costs (the order CommonCrawl-class
       pipelines use).  The probe is READ-ONLY (r14): URL index rows
       land in step 5, only for full-ladder survivors, so a document
       rejected downstream never blocks its URL's future recrawls;
       NULL/missing URLs pass through ungated (no key, no claim);
    0. optional HTML extraction (``html_input=True``): ``text_col``
       is raw markup — ``llm.textops.extract_html_text_rows`` replaces it
       with boilerplate-filtered visible text ahead of EVERY gate, so
       quality scores and dedup signatures never see script bodies or
       nav chrome (``id_col`` must key the batch's rows);
    1. quality gate + within-batch exact dedup (``corpus_ingest`` batch
       path — attaches ``quality``/``n_tokens``/``text_sha``);
    1a. optional drift monitoring (``CorpusDriftMonitor.check_batch``
       when ``drift_monitor`` is given): KS + PSI vs the frozen
       reference and the trailing-batches distinct sketch, computed on
       the gated batch and appended to ``<monitor.path>/reports`` —
       an audit trail, never a mutation of the landed rows;
    1a'. optional tokenizer-fertility monitoring (``fertility_monitor=``
       with a frozen ``TokenizerFertilityMonitor``, r13): tokens-per-word
       of the gated batch under the frozen merge table vs the frozen
       reference, per group, appended to ``<monitor.path>/reports`` —
       the tokenizer-side twin of 1a at the same tap point;
    1b. optional corpus-lifetime exact dedup
       (``IncrementalDigestIndex.dedup_batch`` when ``digest_index`` is
       given) — the cheap digest equi-join rejects byte-identical landed
       copies BEFORE the minhash machinery prices them;
    2. near-dup rejection vs everything already landed plus within-batch
       clusters (``IncrementalMinhashIndex.dedup_batch`` — also appends
       the survivors' index rows);
    2b. optional corpus-lifetime SEMANTIC dedup (``ann_index=`` with a
       ``streaming.ann.IncrementalIvfIndex``, r13): embedding-cosine
       rejection vs the landed ANN store, last of the dedup tiers so
       the costliest comparison only prices documents every lexical
       tier already passed — requires the batch to carry the index's
       vector column;
    3. optional corpus-lifetime boilerplate-span excision
       (``IncrementalSpanIndex.clean_batch`` — the surviving documents'
       ``text`` is REPLACED by the cleaned form, and the batch's span
       counts land in the index);
    4. optional corpus-lifetime common-LINE excision (r13,
       ``IncrementalLineIndex.clean_batch`` via ``line_index=`` — runs
       after the span gate on whatever text the ladder produced; its
       drop count lands as ``n_lines_dropped``);
    4b. optional corpus-lifetime EXACT-SUBSTRING excision (r14,
       ``IncrementalSubstringIndex.clean_batch`` via
       ``substring_index=``): the Lee-2021 any-offset tier — ≥L-token
       spans shared with anything already landed are excised; its drop
       count lands as ``n_substr_removed``.  LAST of the excision
       tiers, for two reasons: (a) its excision rebuilds text from the
       token stream (single-space joined), so any tier that reads raw
       line/whitespace structure — the line gate above — must run
       before it; (b) it is the costliest excision (one index row per
       token position), so it should price only text the cheaper
       excisions already passed;
    5. deferred URL landing (r14): the survivors' (canonical-URL
       digest, id) rows append to ``url_index`` — the write half of
       step -1's read-only probe.

    Returns the landed form of the batch: the rows to append to the
    corpus store. Slots directly into ``foreachBatch``:

        stream.writeStream.foreachBatch(
            lambda b, i: sink(ingest_corpus_batch(b, i, mh_idx, span_idx))
        )

    Ordering note: near-dup runs BEFORE span excision (same as the batch
    ladder) so a document is judged on its full text; the span indexes of
    dropped documents never pollute the boilerplate counts because
    ``clean_batch`` only sees survivors.
    """
    # Cache lifetime: each tier returns its own checkpoint. ``held`` is
    # the one the batch frame currently reads; it is freed as soon as the
    # next tier's checkpoint has consumed it, so the caller frees exactly
    # the returned frame. A failed tier frees what the front door holds.
    held, excised = None, []
    try:
        if url_index is not None:
            # corpus-lifetime canonical-URL dedup FIRST (r13): the recrawl
            # gate runs before extraction and every text gate — it needs only
            # the URL column, so a rejected re-crawl pays nothing downstream
            # (the order every CommonCrawl-class pipeline uses).  READ-ONLY
            # here (r14, ADVICE): the URL rows land at the END, only for
            # documents that survived the whole ladder — landing them now
            # would permanently block recrawls of URLs whose document a
            # downstream tier rejected, even though nothing ever reached the
            # corpus (the digest/minhash tiers don't have this hazard: their
            # survivors are content-equivalent to something landed).
            docs = held = url_index.filter_batch(docs)
        if html_input:
            # The web-crawl front door: ``text_col`` carries raw
            # HTML/markup — extract the boilerplate-filtered visible text
            # BEFORE any gate sees it (quality scoring a <script> body or
            # deduping on nav chrome certifies garbage). The row form
            # (lines exploded, scored in codegen, rebuilt by one doc-keyed
            # exchange) joins back on ``id_col``; it measured faster than
            # the interpreted higher-order-function projection at sf0.1
            # (docs/SCALE.md "Markup extraction front door"). Everything
            # downstream — gates, digests, minhash, span indexes —
            # operates on the extracted text, exactly as if the corpus had
            # arrived pre-extracted (pinned equal in tests/test_streaming.py).
            extracted = textops.extract_html_text_rows(
                docs, F.col(text_col), [id_col]
            ).select(id_col, F.col("text").alias(text_col))
            docs = docs.drop(text_col).join(extracted, id_col).select(*docs.columns)
        gated = corpus_ingest(
            docs, text_col=text_col, min_quality=min_quality, min_tokens=min_tokens
        )
        if drift_monitor is not None:
            # monitoring taps the GATED batch (post quality gate, pre dedup):
            # the accepted distribution is what drifts; floods are still
            # visible because dedup hasn't collapsed them yet. The report
            # lands beside the monitor's state — a small per-batch append —
            # so the gate leaves an audit trail without touching the landed
            # corpus rows.
            report = _tagged(drift_monitor.check_batch(gated, batch_id), batch_id)
            report.write.mode("append").parquet(f"{drift_monitor.path}/reports")
        if fertility_monitor is not None:
            # the tokenizer-side drift gate (same tap point and audit-trail
            # discipline as drift_monitor): fertility of the gated batch
            # under the FROZEN merge table vs the frozen reference, one
            # report row per group, appended beside the monitor's state —
            # never a mutation of the landed rows
            frep = _tagged(fertility_monitor.check_batch(gated), batch_id)
            frep.write.mode("append").parquet(f"{fertility_monitor.path}/reports")
        if bloom_gate is not None:
            # decontamination ahead of every index: a contaminated document
            # must never land index rows (the batch ladder decontaminates
            # last because its indexes are transient; these persist), and the
            # gate is the cheapest stage after the projection — a read-only
            # broadcast-bitmap gather
            gated = bloom_gate.clean_batch(gated, text_col=text_col, id_col=id_col)
        if digest_index is not None:
            gated = digest_index.dedup_batch(gated)
            release(held)
            held = gated
        kept = minhash_index.dedup_batch(gated)
        release(held)
        held = kept
        if ann_index is not None:
            # semantic tier LAST of the dedup ladder (r13, the batch
            # curation order): the costliest comparison only prices documents
            # every lexical tier already passed. Requires the batch to carry
            # the ann_index's vec_col (the post-encoder pipeline shape);
            # dedup_batch also ingests the survivors' vectors, so the ANN
            # store and the corpus store stay row-aligned.
            kept = ann_index.dedup_batch(kept, threshold=ann_threshold)
            if kept is not held:  # an empty batch comes back as it went in
                release(held)
                held = kept
        # excision tiers, in the docstring's order (span, line, substring):
        # each replaces the text and lands its drop count under its own name,
        # so every tier's count survives when several run
        for index, count_col, alias in (
            (span_index, "n_dropped", "n_dropped"),
            (line_index, "n_dropped", "n_lines_dropped"),
            (substring_index, "n_removed", "n_substr_removed"),
        ):
            if index is None:
                continue
            excised.append(index.clean_batch(kept, batch_id))
            cleaned = excised[-1].select(
                id_col, "text_clean", F.col(count_col).alias(alias)
            )
            kept = (
                kept.drop(text_col)
                .join(cleaned, id_col)
                .withColumnRenamed("text_clean", text_col)
            )
        if excised:
            # the excised batch is a lazy join over the tiers' checkpoints:
            # materialize it once, then free them
            kept = cacheutil.materialize(kept)
            release(held, *excised)
            held, excised = kept, []
        if url_index is not None:
            # deferred URL landing (r14): only full-ladder survivors claim
            # their canonical URL — see the read-only probe at the top
            url_index.record_batch(kept)
        return kept
    except BaseException:
        release(held, *excised)
        raise


class TokenizerFertilityMonitor:
    """Per-micro-batch TOKENIZER drift gate: fertility (BPE tokens per
    word under a FROZEN merge table) of each batch vs a frozen
    reference — the tokenizer-side complement of ``CorpusDriftMonitor``.
    Fertility is the canonical 'the corpus moved out from under the
    tokenizer' signal: a domain/language/encoding shift makes the frozen
    merges stop applying, so tokens-per-word jumps long before
    downstream training metrics notice (and a fertility DROP flags
    templated floods of already-fused words).

    Frozen state: the merge table itself (rank, l, r — persisted at
    ``freeze`` so every batch and restart tokenizes identically; the
    IncrementalIvfIndex centroid discipline) plus one
    (group, n_words, n_tokens) row per group — kilobytes. Per batch:
    one ``bpe_token_stats`` pass (distinct-word Arrow encode, the Zipf
    cache) and a broadcast join against the frozen rows.

    The alarm bit is EXACT integer arithmetic — drift iff
    |f_batch − f_ref| > tol·f_ref, cross-multiplied to
    ``|nt_b·nw_r − nt_r·nw_b|·den > num·nt_r·nw_b`` so no float ratio
    ever decides it (the dyadic-decay discipline). ``tol`` is a
    rational (num, den), default 1/10 = ±10%."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_col: str = "source",
        text_col: str = "text",
        id_col: str = "doc_id",
        tol: tuple[int, int] = (1, 10),
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.group_col = group_col
        self.text_col = text_col
        self.id_col = id_col
        self.tol = (int(tol[0]), int(tol[1]))
        # the frozen release: parts fertility and merges
        self._ref_path = f"{self.path}/ref"

    def freeze(self, reference: DataFrame, merges: list[tuple[str, str]]) -> None:
        """Persist the reference's per-group token stats under ``merges``
        and the merge table itself as ONE release (one atomic swap — one
        freeze per tokenizer/reference release), so a failed re-freeze
        leaves the whole previous release, never a reference built with
        one merge table beside another."""
        if not merges:
            raise ValueError("freeze needs a non-empty merge table")
        mdf = self.spark.createDataFrame(
            [(i, l, r) for i, (l, r) in enumerate(merges)], "rank INT, l STRING, r STRING"
        )
        stats = self._group_stats(reference, merges)
        overwrite_atomic({"fertility": stats, "merges": mdf.coalesce(1)}, self._ref_path)

    def _merges(self) -> list[tuple[str, str]]:
        rows = _committed(self.spark, self._ref_path, "freeze()", "merges").collect()
        return [(r["l"], r["r"]) for r in sorted(rows, key=lambda r: r["rank"])]

    def _group_stats(self, df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
        from ..llm.tokenize import bpe_token_stats

        stats = bpe_token_stats(df, merges, self.text_col, self.id_col)
        docs = df.select(self.id_col, self.group_col)
        return (
            stats.join(docs, self.id_col)
            .groupBy(self.group_col)
            .agg(
                F.sum("n_words").cast("long").alias("n_words"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
            )
        )

    def check_batch(self, batch: DataFrame) -> DataFrame:
        """(group, n_words, n_tokens, fertility, ref_fertility, drifted)
        — one row per group present in the batch; groups absent from the
        reference report drifted=1 (an unseen source IS the alarm)."""
        ref = _committed(self.spark, self._ref_path, "freeze()", "fertility").select(
            self.group_col,
            F.col("n_words").alias("_rw"),
            F.col("n_tokens").alias("_rt"),
        )
        b = self._group_stats(batch, self._merges())
        num, den = self.tol
        joined = b.join(F.broadcast(ref), self.group_col, "left")
        # |nt_b·nw_r − nt_r·nw_b|·den > num·nt_r·nw_b  (exact int64)
        diff = F.abs(
            F.col("n_tokens") * F.col("_rw") - F.col("_rt") * F.col("n_words")
        )
        drifted = F.when(F.col("_rw").isNull(), F.lit(True)).otherwise(
            diff * den > num * F.col("_rt") * F.col("n_words")
        )
        return joined.select(
            self.group_col,
            "n_words",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("n_words").cast("double")).alias(
                "fertility"
            ),
            (F.col("_rt").cast("double") / F.col("_rw").cast("double")).alias(
                "ref_fertility"
            ),
            drifted.cast("int").alias("drifted"),
        )

    def remediate(
        self,
        word_index: "IncrementalWordCountIndex",
        reference: DataFrame,
        n_merges: int = 50,
        min_count: int = 2,
    ) -> list[tuple[str, str]]:
        """The alarm→fix runbook (r14, VERDICT task 3) — what to DO when
        ``check_batch`` reports ``drifted=1``: retrain the BPE merge
        table from the LANDED word counts
        (``IncrementalWordCountIndex.train`` — no corpus rescan; word
        counts are sufficient statistics for BPE, pinned equal to
        direct corpus training by test) and REFREEZE this monitor with
        the new merges against ``reference`` — the corpus slice the
        retrained tokenizer should now fit, typically the recent landed
        batches whose arrival fired the alarm (the word index already
        holds their counts if it taps the same ingest).  After this,
        the batches that flagged read back in band: the merges apply to
        the shifted vocabulary again, and the reference fertility
        describes the shifted distribution.

        Run at a quiesced point (stream stopped, or between triggers):
        ``freeze`` commits the merge table and the reference stats as one
        release, but a check racing the refreeze reads them in two scans
        and could still pair old merges with new stats.  An un-actionable
        alarm is a pager, not a pipeline — this is the action.

        Returns the new merge table, which is also the production
        tokenizer release to ship alongside the refrozen monitor."""
        merges = word_index.train(n_merges=n_merges, min_count=min_count)
        self.freeze(reference, merges)
        return merges


class IncrementalQidIndex(_IndexLog):
    """Corpus-lifetime k-ANONYMITY class counts at ingest — the
    structural-privacy gate (``operators.validation.k_anonymity_audit``)
    maintained incrementally, so the release audit never rescans landed
    history: each micro-batch pays one batch-sized class count, and
    ``audit(k)`` answers from the merged class table.

    Why ingest-time matters for THIS gate: k-anonymity is
    anti-monotone under union — a batch that is k-anonymous on its own
    can still push a LANDED class over the risk threshold or leave a
    new class under it, so the only correct audit is over the merged
    counts, which is exactly what this index keeps. (A per-batch-only
    audit is the classic leak: 4 uniques in 4 batches look fine four
    times and ship a size-4 class at k=5.)

    Counts merge by ADDITION, so append IS merge: an ``_IndexLog``
    count log keyed by the QID columns. State is bounded by
    QID-combination cardinality, never corpus rows.

    ``audit(k)`` returns the identical one-row summary as the batch
    operator (both call ``validation.k_anonymity_summary``), which the
    tests pin equal to running the batch audit over the union of all
    ingested batches."""

    def __init__(self, spark: SparkSession, path: str, qid_cols: list[str]) -> None:
        super().__init__(spark, path, qid_cols, "n")
        self.qid_cols = list(qid_cols)

    def update_batch(self, df: DataFrame, batch_id: int) -> None:
        """Append this batch's (qid..., n) class counts (batch-class
        sized, keyed by ``batch_id`` for replay collapse)."""
        counts = df.groupBy(*self.qid_cols).agg(F.count("*").cast("long").alias("n"))
        self._append(counts, batch_id)

    def classes(self) -> DataFrame | None:
        """Replay-collapsed, batch-summed class table over the landed
        history; None when nothing has landed."""
        history = self._history()
        return None if history is None else history.withColumnRenamed("n", "class_size")

    def audit(self, k: int = 5) -> DataFrame:
        """The one-row release-gate summary over everything landed —
        bit-identical to ``k_anonymity_audit`` over the union of the
        ingested batches. Raises on an empty index (an empty table must
        not certify a release)."""
        from ..operators.validation import k_anonymity_summary

        cls = self.classes()
        if cls is None:
            raise ValueError(f"no landed class counts at {self.path}: ingest first")
        return k_anonymity_summary(cls, "class_size", k)
