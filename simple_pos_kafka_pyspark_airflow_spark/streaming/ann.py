"""Ingest-time ANN index: the streaming complement of ``llm.simsearch``.

``cosine_topk_ivf`` builds its IVF index on the fly — right for ad-hoc
queries, wrong for a corpus that arrives as a stream and is probed many
times. ``IncrementalIvfIndex`` moves the index build to ingest, exactly
as ``IncrementalMinhashIndex`` does for text near-dup state:

- **fit once**: centroids come from a bootstrap corpus (``fit``) or,
  unattended, from the first micro-batch; they land as a tiny parquet
  table (cell, pos, value) next to the index via the atomic snapshot
  swap, so every later batch/probe — including after a restart — reads
  the SAME quantizer. Re-fitting per batch would silently shear the
  index (same vector, different cell across batches).
- **per batch** (``ingest_batch`` — plain DataFrames, slots into
  ``foreachBatch`` or a batch backfill identically): assign each vector
  to its ``n_assign`` nearest cells (one Arrow matmul pass,
  ``llm.simsearch.ivf_assign``) and append to the index
  ``partitionBy("cell")`` — the cell id becomes the DIRECTORY layout.
- **probe**: rank cells against the query on the driver
  (O(n_cells × dim)), then read ONLY the probed cells — the cell filter
  is a PartitionFilter on the scan (pinned by
  ``test_incremental_ivf_probe_partition_pruning``), so a probe reads
  ``nprobe·n_assign/n_cells`` of the index no matter how large it grows.
  Scoring is the exact JVM cosine with the library-wide determinism
  discipline (6 dp round, id tiebreak). ``probe`` is a one-query
  ``probe_batch``: one implementation of cells, scoring and re-rank.

- **quantized storage** (``store_quantized=True``): index rows carry
  (scale, int8 codes) instead of float32 — ~4× less index on disk and
  ~4× less scan I/O per probe, the dominant probe cost at 100 TB.
  Quantized probes rank on the dequantized form (error ≤ scale/2 per
  element); ``probe(..., rescore_from=corpus)`` re-ranks an over-fetched
  candidate set against the exact vectors (the IVF-PQ re-rank shape) and
  returns exactly the brute-force answer as long as the true top-k
  survives the candidate cut.

Crash/replay: the index is a ``streaming.corpus._IndexLog`` row log
keyed on (id, cell) and partitioned by ``cell`` — the same discovery,
append and compaction as the minhash and digest indexes. The per-batch
append is plain parquet, so a replayed ``foreachBatch`` batch lands its
rows twice. Duplicate rows cannot change probe RESULTS (probes dedup on
the vector id before scoring, and a vector's replicated rows carry the
identical embedding) — they only grow the index; ``compact()`` rewrites
it deduplicated per (id, cell), still partitioned by cell, under the
atomic snapshot swap (``sources.io.overwrite_atomic``), and ``rebuild``
swaps its new index in the same way. Back the index with a
transactional table format in production if replays are frequent.

The reference has no similarity surface at all; this extends the north
star (SURVEY.md §2.11) to the streaming half of the ANN story.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# pd is module-level on purpose: pandas_udf resolves the (stringified,
# via __future__ annotations) type hints against this module's globals
# (the llm.bloom convention).

from .. import cacheutil
from ..cacheutil import release, released_on_error
from ..llm import simsearch
from ..sources.io import overwrite_atomic, read_committed
from .corpus import _IndexLog


def _layout(cols: list[str]) -> str:
    """The stored index layout, read from the index schema."""
    return "pq" if "pq_code" in cols else "int8" if "q_codes" in cols else "float"


class IncrementalIvfIndex(_IndexLog):
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_cells: int = 16,
        n_assign: int = 1,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        store_quantized: bool = False,
        store_pq: bool = False,
        pq_m: int = 8,
        pq_ks: int = 16,
    ) -> None:
        """``store_quantized=True`` stores each vector as (scale, int8
        codes) instead of float32 — the index shrinks ~4× and so does
        every probe's scan I/O, which is the dominant cost of a probe at
        100 TB. Probes score the dequantized form (per-element error ≤
        scale/2); pass ``rescore_from`` to ``probe`` to re-rank an
        over-fetched candidate set against the exact corpus vectors.

        ``store_pq=True`` is the tier BELOW int8 (Jégou et al. 2011,
        ``llm.simsearch.pq_train``): each vector stores as ``pq_m`` small
        ints (~32× lighter than fp32 at m=8/d=64), the per-subspace
        codebooks are trained in ``fit`` and persisted next to the
        centroids (same atomic-swap discipline — every batch and every
        probe, across restarts, reads the SAME codebooks), and probes
        rank candidates by ADC lookup tables. PQ scores are rank-only
        approximations, so PQ probes REQUIRE ``rescore_from`` — the
        exact re-rank is part of the published pipeline, not optional.

        Readers auto-detect the layout from the index schema, so one
        index never mixes forms with another's flag."""
        if store_quantized and store_pq:
            raise ValueError("store_quantized and store_pq are mutually exclusive tiers")
        super().__init__(spark, path.rstrip("/"), [id_col, "cell"], partition_by=["cell"])
        # the quantizer release: its centroid table and, for a PQ index,
        # its codebook table, committed together by one atomic swap
        self.centroid_path = self.path + "_centroids"
        self.n_cells = n_cells
        self.n_assign = n_assign
        self.vec_col = vec_col
        self.id_col = id_col
        self.store_quantized = store_quantized
        self.store_pq = store_pq
        self.pq_m = pq_m
        self.pq_ks = pq_ks

    # -- quantizer ---------------------------------------------------------

    def fit(self, df: DataFrame) -> list[list[float]]:
        """Build the coarse quantizer from ``df`` (deterministic:
        hash-sampled seeds + one Lloyd refinement) and persist it
        atomically. Call once with a representative bootstrap corpus;
        ``ingest_batch`` falls back to fitting on its first batch when
        no quantizer exists — fine for steady streams, but a tiny or
        skewed first batch makes a poor quantizer, so prefer an explicit
        ``fit``."""
        cents = simsearch.ivf_centroids(
            df.select(self.id_col, self.vec_col), self.n_cells, self.vec_col, self.id_col
        )
        if not cents:
            raise ValueError(
                "fit() needs a non-empty bootstrap corpus: zero vectors yield no "
                "quantizer (an empty first micro-batch must not define the index)"
            )
        cbs = None
        if self.store_pq:
            cbs = simsearch.pq_train(
                df.select(self.id_col, self.vec_col),
                m=self.pq_m,
                ks=self.pq_ks,
                vec_col=self.vec_col,
                id_col=self.id_col,
            )
        self._save_quantizer(cents, cbs)
        return cents

    def _save_quantizer(
        self, cents: list[list[float]], cbs: list[list[list[float]]] | None
    ) -> None:
        """Commit the centroid table and, for a PQ index, the codebook
        table as ONE release (one atomic swap): a crash leaves the whole
        previous quantizer or the whole new one, never new centroids
        beside old codebooks."""
        cdf = self.spark.createDataFrame(
            [(c, p, float(v)) for c, row in enumerate(cents) for p, v in enumerate(row)],
            "cell INT, pos INT, value DOUBLE",
        )
        release = {"centroids": cdf.coalesce(1)}
        if cbs is not None:
            cb_df = self.spark.createDataFrame(
                [
                    (s, c, p, float(v))
                    for s, book in enumerate(cbs)
                    for c, word in enumerate(book)
                    for p, v in enumerate(word)
                ],
                "s INT, c INT, pos INT, value DOUBLE",
            )
            release["pq_codebooks"] = cb_df.coalesce(1)
        overwrite_atomic(release, self.centroid_path)

    def _read_table(self, part: str, keys: list[str]) -> dict[tuple, list[float]] | None:
        """A quantizer table's (keys..., pos, value) rows as {key tuple:
        vector}, or None when never written. Read through
        ``sources.io.read_committed`` like the index rows: after a ``fit``
        or ``rebuild`` that crashed inside its swap, the previous
        quantizer is read from the tombstone, never mistaken for "never
        fit" (which would refit the quantizer from the next batch)."""
        table = read_committed(self.spark, self.centroid_path, part=part)
        if table is None:
            return None
        by: dict[tuple, dict[int, float]] = {}
        for r in table.collect():
            by.setdefault(tuple(r[k] for k in keys), {})[r["pos"]] = r["value"]
        return {key: [vec[p] for p in range(len(vec))] for key, vec in by.items()}

    def _centroids(self) -> list[list[float]] | None:
        """The persisted quantizer, or None when never fit."""
        by = self._read_table("centroids", ["cell"])
        if by is None:
            return None
        cells = sorted(c for c, in by)
        if cells != list(range(len(by))):
            raise ValueError(f"corrupt centroid table at {self.centroid_path}: cells {cells}")
        return [by[(c,)] for c in cells]

    def _pq_codebooks(self) -> list[list[list[float]]] | None:
        """The persisted PQ codebooks, or None when never fit with
        ``store_pq``."""
        by = self._read_table("pq_codebooks", ["s", "c"])
        if by is None:
            return None
        n_s = max(k[0] for k in by) + 1
        n_c = max(k[1] for k in by) + 1
        if sorted(by) != [(s, c) for s in range(n_s) for c in range(n_c)]:
            raise ValueError(f"corrupt PQ codebook table at {self.centroid_path}")
        return [[by[(s, c)] for c in range(n_c)] for s in range(n_s)]

    # -- ingest ------------------------------------------------------------

    def ingest_batch(self, df: DataFrame) -> None:
        """Assign the batch to cells and append it to the index, laid out
        ``partitionBy(cell)`` so probes partition-prune. An empty batch
        (idle trigger) is a no-op — it must neither crash the Arrow
        assignment nor, worse, bootstrap the quantizer from nothing."""
        if df.isEmpty():
            return
        assigned = self._assign(df, self._centroids() or self.fit(df))
        self._append(self._index_rows(assigned, self._landed()))

    def _index_rows(self, assigned: DataFrame, landed: DataFrame | None) -> DataFrame:
        """Index rows in this writer's layout from (id, vec, cell) rows;
        ``landed`` is the index as read before the batch. Both
        ``ingest_batch`` and ``dedup_batch`` append what this returns."""
        my_layout = (
            "pq" if self.store_pq else "int8" if self.store_quantized else "float"
        )
        if landed is not None:
            stored = _layout(landed.columns)
            if stored != my_layout:
                # Appending another layout would not fail loudly: probes
                # auto-detect the layout from the schema, so the minority
                # layout's rows read as nulls and silently vanish from
                # results. Refuse at ingest instead.
                raise ValueError(
                    f"index at {self.path} stores {stored} rows but this "
                    f"writer would append {my_layout} (store_quantized="
                    f"{self.store_quantized}, store_pq={self.store_pq}); "
                    "reopen with the matching flags (or compact() to a new "
                    "path) — mixing layouts makes one layout's vectors "
                    "invisible to probes"
                )
        cbs = None
        if self.store_pq:
            cbs = self._pq_codebooks()
            if cbs is None:
                raise ValueError(
                    f"no PQ codebooks at {self.centroid_path}: fit() this store_pq "
                    "index before ingesting (the quantizer fallback fit "
                    "covers them only when fit runs through this writer)"
                )
        return self._encode(assigned, my_layout, cbs)

    def _assign(self, df: DataFrame, cents: list[list[float]]) -> DataFrame:
        """(id, vec, cell): ``df`` assigned to its ``n_assign`` nearest cells."""
        return simsearch.ivf_assign(
            df.select(self.id_col, self.vec_col),
            cents,
            self.vec_col,
            out_col="cell",
            n_assign=self.n_assign,
        )

    def _encode(
        self, assigned: DataFrame, layout: str, cbs: list[list[list[float]]] | None
    ) -> DataFrame:
        """Index rows in ``layout`` from (id, vec, cell) rows. The int8
        form quantizes through the Arrow pass: the interpreted Column
        expression would pay rows × dim lambda dispatches per batch, and
        the numpy pass is bit-identical."""
        if layout == "int8":
            return simsearch.quantize_embeddings_arrow(assigned, self.vec_col).select(
                self.id_col, "cell", "q_scale", "q_codes"
            )
        if layout == "pq":
            return simsearch.pq_encode(assigned, cbs, vec_col=self.vec_col).select(
                self.id_col, "cell", "pq_code"
            )
        return assigned

    def _stored_vec(self, layout: str) -> Column:
        """The vector an index row stores: dequantized for int8 (error ≤
        scale/2 per element), the raw vector for float."""
        if layout == "int8":
            return simsearch.dequantize_embedding(F.col("q_codes"), F.col("q_scale"))
        return F.col(self.vec_col)

    def dedup_batch(
        self,
        df: DataFrame,
        threshold: float = 0.95,
        max_cell: int | None = 50_000,
    ) -> DataFrame:
        """Corpus-lifetime SEMANTIC dedup at ingest (r13) — the streaming
        twin of ``llm.simsearch.semdedup_prune``, completing the ingest
        ladder's dedup tiers (exact digest → canonical URL → lexical
        minhash → THIS): a batch vector whose cosine to any LANDED vector
        (or to a lower-id vector of the same batch) reaches ``threshold``
        is rejected; survivors are ingested. Catches the paraphrase /
        template / re-encode duplicates no lexical tier can see.

        Shape: the batch assigns to the SAME cells the index stores
        (``ivf_assign`` with this index's quantizer and ``n_assign``
        replication — the recall lever), so the landed comparison is a
        cell-equi-join against a partition-pruned slice of the index;
        never batch × corpus. Within-batch pairs use the within-cell
        self-join (lower id kept). ``max_cell`` drops cells hotter than
        the cap from BOTH pair searches — their vectors are all kept
        (conservative; the ``semdedup_prune``/minhash cap discipline).

        Layouts: float cells compare exact cosines; int8 cells compare
        against the dequantized form (per-element error ≤ scale/2 — the
        same semantics probes already have). PQ indexes refuse: ADC
        scores are rank-only, not cosines, and the index holds no
        vectors to rescore against.

        Crash/replay: a replayed batch finds its own survivors landed
        under the SAME ids — the landed probe ignores same-id matches,
        so decisions repeat exactly; the duplicate appended rows collapse
        in ``compact()``. Empty batch (idle trigger) is a no-op."""
        if self.store_pq:
            raise ValueError(
                "dedup_batch needs cosines; a PQ index stores rank-only ADC "
                "codes and no vectors to rescore against — use the float or "
                "int8 layout for the ingest-dedup tier"
            )
        if df.isEmpty():
            return df
        cents = self._centroids() or self.fit(df)
        # assigned ONCE: the pair searches read it and the survivors'
        # index rows are its rows for the kept ids
        assigned = self._assign(df, cents).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            pool = simsearch.cell_capped(
                assigned.select(
                    F.col(self.id_col).alias("_id"), F.col(self.vec_col).alias("_v"), "cell"
                ),
                "cell",
                max_cell,
            )
            rejected = simsearch.within_cell_dups(pool, "cell", threshold, "_rej")
            idx = self._landed()
            if idx is not None:
                landed = idx.select(
                    "cell",
                    F.col(self.id_col).alias("_lid"),
                    self._stored_vec(_layout(idx.columns)).alias("_lv"),
                )
                landed = simsearch.cell_capped(landed, "cell", max_cell)
                # batch side uses the CAPPED pool (r14, ADVICE): the
                # docstring's contract is that max_cell exempts over-cap
                # cells from BOTH pair searches — joining the uncapped
                # `assigned` here priced a hot batch cell against landed
                # rows while the within-batch search had already skipped it
                pair_cos = simsearch.pair_cosine_udf()
                dropped_landed = (
                    pool.join(landed, "cell")
                    .where(F.col("_id") != F.col("_lid"))  # replay: never self
                    .where(pair_cos(F.col("_v"), F.col("_lv")) >= threshold)
                    .select(F.col("_id").alias("_rej"))
                )
                rejected = rejected.unionByName(dropped_landed)

            kept = cacheutil.materialize(
                df.join(
                    rejected.distinct(),
                    F.col(self.id_col) == F.col("_rej"),
                    "left_anti",
                )
            )
            with released_on_error(kept):
                if not kept.isEmpty():
                    survivors = assigned.join(
                        kept.select(self.id_col), self.id_col, "left_semi"
                    )
                    self._append(self._index_rows(survivors, idx))
            return kept
        finally:
            # released on a refused or failed append too: a retried
            # batch must not leave its assignment cached
            release(assigned)

    def occupancy_drift(self, df: DataFrame, eps: float = 1e-4) -> DataFrame:
        """PSI between the LANDED index's cell-occupancy distribution and
        a batch's assignments — the embedding-side ingest alarm
        (`CorpusDriftMonitor`'s discipline applied at the ANN front
        door): an encoder swap or upstream dataset shift moves vectors
        to different cells long before probe recall visibly degrades,
        and the quantizer is FROZEN (fit once), so occupancy is a stable
        reference. Both sides are n_cells-row histograms — the landed
        side reads ONLY the `cell` partition column (directory values,
        no vector bytes), the batch side is one Arrow assignment pass —
        so this runs per micro-batch at any index size. Rule of thumb
        per `psi_drift`: < 0.1 stable, > 0.25 investigate the encoder.

        Returns (psi, n_bins_compared); raises if the index is empty or
        unfit (no reference to drift against)."""
        from ..operators.validation import psi_drift

        cents = self._centroids()
        idx = self._landed()
        if cents is None or idx is None:
            raise ValueError(
                "occupancy_drift needs a fitted, non-empty index — ingest "
                "at least one batch first"
            )

        def occupancy(cells: DataFrame) -> DataFrame:
            counts = cells.groupBy("cell").agg(F.count("*").alias("n"))
            total = counts.agg(F.sum("n").alias("_t"))
            return counts.crossJoin(F.broadcast(total)).select(
                F.lit("cells").alias("_g"),
                F.col("cell").alias("bin"),
                (F.col("n").cast("double") / F.col("_t").cast("double")).alias("frac"),
            )

        landed = occupancy(idx.select("cell"))
        batch = occupancy(
            simsearch.ivf_assign(
                df.select(self.vec_col),
                cents,
                self.vec_col,
                out_col="cell",
                n_assign=self.n_assign,
            ).select("cell")
        )
        return psi_drift(landed, batch, "_g", eps=eps).select("psi", "n_bins_compared")

    # -- query -------------------------------------------------------------

    def probe(
        self,
        query_vec: list[float],
        k: int = 10,
        nprobe: int = 4,
        rescore_from: DataFrame | None = None,
        overfetch: int = 4,
    ) -> DataFrame:
        """Cosine top-k over the ``nprobe`` cells nearest the query.
        Returns (id, score) with the library determinism discipline; ids
        replicated across cells (``n_assign`` > 1) or by batch replays
        dedup before scoring, so results are independent of both.

        On a float index the scores are exact. On a quantized index
        (``store_quantized`` — detected from the stored schema) candidates
        are scored on the dequantized int8 form: within-``scale/2``
        per element, which preserves ranking unless true scores are
        closer than the quantization noise. ``rescore_from`` (the exact
        corpus, keyed by ``id_col``) upgrades that to exact: the top
        ``overfetch×k`` candidates by quantized score are re-scored
        against their true vectors — a broadcast of a k-sized id set
        against the corpus scan, the IVF-PQ re-rank shape — and the final
        top-k is exact as long as the true top-k survives the candidate
        cut (quantization error would need to demote a true neighbor past
        ``(overfetch-1)·k`` impostors for a miss).

        Runs as a one-query ``probe_batch``, so both forms share every
        rule (cells, layout, scoring, re-rank)."""
        batch = self.probe_batch([(0, query_vec)], k, nprobe, rescore_from, overfetch)
        return simsearch.single_query(batch, k, self.id_col)

    def probe_batch(
        self,
        queries: list[tuple[int, list[float]]],
        k: int = 10,
        nprobe: int = 4,
        rescore_from: DataFrame | None = None,
        overfetch: int = 4,
    ) -> DataFrame:
        """Many probes in ONE index pass — the bulk-decontamination shape.

        Each query sees only its own ``nprobe`` nearest cells: the scan
        prunes to the UNION of probed cells (PartitionFilter), then a
        broadcast (query, cell) pair table restricts each query to its
        cells, and a per-query ``row_number`` window — bounded by the
        rank-limit pushdown exactly as in ``cosine_topk_batch`` — yields
        the top-k. ``rescore_from`` re-ranks each query's ``overfetch×k``
        best candidates by exact cosine on every layout; a PQ index
        requires it (ADC scores are rank-only). Returns (query_id, id,
        score, rn)."""
        cents = self._centroids()
        if cents is None:
            raise ValueError(f"no quantizer at {self.centroid_path}: fit() or ingest first")
        idx = self._landed()
        if idx is None:
            raise ValueError(
                f"no index rows at {self.path}: the quantizer exists but nothing "
                "was ever ingested (or the first append crashed before commit)"
            )
        if not queries:
            raise ValueError("probe_batch needs at least one query")
        if len({qid for qid, _ in queries}) != len(queries):
            raise ValueError(
                "duplicate query ids: each id labels one result group, so a "
                "repeat would silently fan out the score join"
            )
        layout = _layout(idx.columns)
        if layout == "pq" and rescore_from is None:
            raise ValueError(
                "a PQ index probe requires rescore_from: ADC scores order "
                "candidates but are not cosines — the exact re-rank is part "
                "of the IVF-PQ pipeline, not optional"
            )
        qvecs = [qv for _, qv in queries]
        pairs = [
            (int(qid), cell)
            for (qid, _), cells in zip(queries, simsearch.probe_cells(cents, qvecs, nprobe))
            for cell in cells
        ]
        pair_df = self.spark.createDataFrame(pairs, "query_id long, cell int")
        qvec_df = self.spark.createDataFrame(
            [(int(qid), [float(x) for x in qv]) for qid, qv in queries],
            "query_id long, query_vec array<double>",
        )
        idx = (
            idx.where(F.col("cell").isin(sorted({cell for _, cell in pairs})))
            .join(F.broadcast(pair_df), "cell")
            .dropDuplicates(["query_id", self.id_col])
        )
        if layout == "pq":
            cbs = self._pq_codebooks()
            if cbs is None:
                raise ValueError(f"no PQ codebooks at {self.centroid_path}")
            # ADC: the per-query tables stack into one (nq, m, ks)
            # closure-broadcast array; each (query, code) row scores
            # through one Arrow gather — no vector bytes read
            tables = simsearch.adc_tables(cbs, qvecs)
            qi_df = self.spark.createDataFrame(
                [(int(qid), i) for i, (qid, _) in enumerate(queries)],
                "query_id long, _qi int",
            )

            from pyspark.sql.functions import pandas_udf

            @pandas_udf("double")
            def adc(qi: pd.Series, code: pd.Series) -> pd.Series:
                if qi.empty:
                    return pd.Series([], dtype="float64")
                q_idx = qi.to_numpy().astype("int64")
                codes = np.stack(code.to_numpy()).astype("int64")
                out = np.zeros(len(q_idx), dtype="float64")
                for s in range(tables.shape[1]):
                    out += tables[q_idx, s, codes[:, s]]
                return pd.Series(out)

            scored = idx.join(F.broadcast(qi_df), "query_id").select(
                "query_id", self.id_col, adc("_qi", "pq_code").alias("score")
            )
        else:
            scored = idx.join(F.broadcast(qvec_df), "query_id").select(
                "query_id",
                self.id_col,
                F.round(
                    simsearch.cosine(self._stored_vec(layout), F.col("query_vec")), 6
                ).alias("score"),
            )
        if rescore_from is not None:
            cand = simsearch.top_per_query(
                scored, overfetch * k, "query_id", self.id_col
            ).select("query_id", self.id_col)
            scored = (
                rescore_from.select(self.id_col, self.vec_col)
                .join(F.broadcast(cand), self.id_col)
                .join(F.broadcast(qvec_df), "query_id")
                .select(
                    "query_id",
                    self.id_col,
                    F.round(
                        simsearch.cosine(F.col(self.vec_col), F.col("query_vec")), 6
                    ).alias("score"),
                )
            )
        return simsearch.top_per_query(scored, k, "query_id", self.id_col)

    # -- maintenance -------------------------------------------------------

    def rebuild(self, vectors: DataFrame | None = None) -> None:
        """Remediate a fired ``occupancy_drift`` alarm (r14, VERDICT
        task 4) — the tested path from alarm to fix: re-fit the coarse
        quantizer and MIGRATE every index row to its new cell, so cell
        occupancy (and with it probe recall) reflects where the vectors
        actually live again.  An un-actionable alarm is a pager, not a
        pipeline; this is the action.

        Two modes:

        - ``vectors=None`` — corpus-CONTENT drift (the ingest mixture
          moved; the encoder did not): the quantizer re-fits from the
          LANDED vectors and landed rows re-assign in place.  The float
          tier re-assigns exactly; the int8 tier re-assigns from the
          dequantized form (per-element error ≤ scale/2 — the same
          semantics probes already score with) and each row KEEPS its
          original (scale, codes), so migration loses no precision.
          A PQ index REFUSES loudly: it stores rank-only codes and no
          vectors to re-assign from — rebuild it with ``vectors=``.
        - ``vectors=`` an (id, vec) frame — ENCODER swap: the corpus
          re-embedded under the new encoder.  The quantizer, the index
          rows, and (PQ tier) the codebooks are rebuilt wholesale from
          these exact vectors in the index's STORED layout — same ids,
          new geometry.  This is the only rebuild mode a PQ index
          supports, and the int8 tier re-encodes fresh codes here.

        Atomicity: the new index is staged completely first
        (``compact()``'s tombstone discipline — a crash during staging
        leaves the live index untouched), then the index swaps in, then
        the quantizer release (centroids and, PQ, codebooks: one swap).
        A crash BETWEEN the two swaps leaves the new index under the old
        quantizer: probes stay well-formed (scores are real cosines, ids
        dedup) but cell pruning degrades until ``rebuild`` is re-run — it
        is idempotent, re-deriving everything from landed rows (or
        ``vectors``), so re-running converges."""
        idx = self._landed()
        if idx is None:
            raise ValueError(
                f"rebuild needs a non-empty index at {self.path}: nothing to migrate"
            )
        layout = _layout(idx.columns)
        rows = idx.drop("cell").dropDuplicates([self.id_col])
        if vectors is not None:
            src = vectors.select(self.id_col, self.vec_col)
        elif layout == "pq":
            raise ValueError(
                "a PQ index stores rank-only codes and no vectors to "
                "re-assign from — pass vectors= (the exact corpus, "
                "re-embedded if the encoder moved) to rebuild it"
            )
        else:
            src = rows.select(self.id_col, self._stored_vec(layout).alias(self.vec_col))
        cents = simsearch.ivf_centroids(src, self.n_cells, self.vec_col, self.id_col)
        if not cents:
            raise ValueError("rebuild found zero vectors to re-fit the quantizer from")
        assigned = self._assign(src, cents)
        cbs = None
        if vectors is None and layout == "int8":
            # migrate: new cell, original (scale, codes) — no
            # quantize→dequantize round trip touches the payload
            new_rows = rows.select(self.id_col, "q_scale", "q_codes").join(
                assigned.select(self.id_col, "cell"), self.id_col
            )
        else:
            if layout == "pq":
                cbs = simsearch.pq_train(
                    src, m=self.pq_m, ks=self.pq_ks,
                    vec_col=self.vec_col, id_col=self.id_col,
                )
            new_rows = self._encode(assigned, layout, cbs)
        overwrite_atomic(new_rows, self.path, ["cell"])
        self._save_quantizer(cents, cbs)
