"""Deduplication operators for document corpora.

Four tiers, cheapest-first — the standard 100 TB dedup ladder:

1. **exact**: group by the raw text (or its hash) — one shuffle on a
   64-128 bit key; at scale hash first (``sha2``) so the shuffle key is
   fixed-width instead of document-sized.
2. **token-bag**: group by the *sorted token array* — catches reorderings
   and whitespace variants; still a single shuffle.
3. **MinHash + LSH** (``near_dup_pairs_minhash``): shingle → k independent
   min-hashes → band signatures → candidates share a band bucket →
   verified by exact Jaccard. Shuffle cost O(docs × bands), never O(docs²).
4. **embedding cosine** (see ``simsearch``): semantic near-dup.

Everything below is built-in columnar Spark (xxhash64, transform,
array ops) — no Python in any per-row path.

Cache ownership (ADVICE r6, helper r9): operators ``persist()`` frames
that feed multiple consumers inside ONE returned plan (doc tables,
signature tables, gram rows) and cannot unpersist them — the plan is
lazy, the action is the caller's. The CALLER owns cleanup. A
single-tenant caller wraps the consuming action in
``cacheutil.scoped_caches(spark)``, or calls
``spark.catalog.clearCache()`` (what bench.py does per query). Both free
what OTHER queries cached too, so a session shared with concurrent
queries leaves these blocks to LRU eviction instead (never a correctness
issue; one-shot driver/test runs can skip cleanup too). Iterative
operators that materialize INTERNALLY (``dedup_clusters``) release their
superseded rounds by handle (``cacheutil.release``) and exit with only
the returned frame's blocks live.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textops import _cut_repeated, _ordered_text, tokens

def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-duplicate groups: canonical (min) id + multiplicity per
    distinct text. ``sha2`` digest as group key keeps shuffle rows small —
    the text itself never shuffles."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("text_sha"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def dup_groups_keep_best(
    df: DataFrame, text_col: str, id_col: str, score
) -> DataFrame:
    """Exact-dup resolution keeping the HIGHEST-``score`` copy per group
    (tie → lowest id) — the curation-practice refinement of
    ``exact_dup_groups``'s min-id rule: when duplicates differ in
    metadata quality, recency, or source trust, the kept copy should be
    the best one, not the accidentally-lowest id.

    ``score`` must be an integer-lattice expression (cross-engine exact
    comparisons), and ids must be > Long.MIN_VALUE (the tiebreak negates
    the id; every real id scheme qualifies). One ``max_by`` over a
    (score, −id) struct per digest group — same single fixed-width-digest shuffle as exact dedup, the
    text never moves — plus one digest equi-join back. Output: every
    input row as (id, n_copies, keep ∈ {1,0}); exactly one keep per
    group."""
    d = df.select(
        F.col(id_col),
        F.sha2(F.col(text_col), 256).alias("_dig"),
        score.cast("long").alias("_s"),
    )
    keep = d.groupBy("_dig").agg(
        F.max_by(
            F.col(id_col), F.struct(F.col("_s"), (-F.col(id_col)).alias("_ni"))
        ).alias("_keep_id"),
        F.count("*").cast("long").alias("n_copies"),
    )
    return d.join(keep, "_dig").select(
        id_col,
        "n_copies",
        (F.col(id_col) == F.col("_keep_id")).cast("int").alias("keep"),
    )


def token_bag_key(text: Column) -> Column:
    """Order-insensitive content key: sorted whitespace tokens re-joined.
    Catches shuffled/duplicated-with-reordering documents that exact dedup
    misses (present in the testdata: jaccard-1.0 pairs)."""
    return F.array_join(F.array_sort(tokens(text)), " ")


def token_bag_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-dup groups under the token-bag key; same shuffle shape as
    exact dedup."""
    return (
        df.withColumn("bag_key", token_bag_key(F.col(text_col)))
        .groupBy("bag_key")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def canonical_text(text: Column) -> Column:
    """Normalization for canonical-form exact dedup (the RefinedWeb/Falcon
    'exact dedup after normalization' key): lowercase, strip every
    non-alphanumeric character to a space, collapse whitespace runs, trim.
    Pure codegen (lower + two regexp_replace + trim) with an exact DuckDB
    twin — ASCII classes only, so no ICU/locale divergence."""
    lowered = F.lower(text)
    stripped = F.regexp_replace(lowered, "[^a-z0-9\\s]", " ")
    return F.trim(F.regexp_replace(stripped, "\\s+", " "))


def canonical_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-duplicate groups under the CANONICAL form: catches the
    case/punctuation/whitespace variants ('Hello, World!' vs 'hello
    world') that raw exact dedup misses but that are still verbatim
    copies, sitting between exact and token-bag in the ladder (token-bag
    additionally forgives word order). Same scale shape as exact dedup:
    one shuffle on the sha2 digest of the canonical form — the text never
    shuffles."""
    return (
        df.groupBy(F.sha2(canonical_text(F.col(text_col)), 256).alias("canon_sha"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of the token stream (distinct)."""
    toks = tokens(F.lower(text))
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.when(k <= 0, F.array(F.array_join(toks, " "))).otherwise(F.array_distinct(grams))


def shingle_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """One row per (doc, shingle), built WITHOUT higher-order functions:

    posexplode(split) → drop empties → ``lead(token, 1..n-1)`` over a
    per-doc window → ``concat_ws``. Every expression is codegen; the only
    cost is one shuffle on doc id for the window sort — which downstream
    per-doc aggregations (signatures, shingle sets) need anyway, so AQE
    reuses the exchange.

    ``id_col`` MUST identify a single document: the lead window orders
    token positions *within* an id, so an id shared by several docs would
    interleave their tokens into shingles that span document boundaries
    (and make the output order-dependent). Group-level consumers
    (``group_overlap_minhash``) shingle per-doc and pass the group as a
    ``carry`` column — constant per input row, propagated through the
    explode so the grouped aggregation never needs a join back.

    Matches ``shingles`` (and the DuckDB oracle CTE) exactly: lowercased
    whitespace tokens, <n-token docs yield their whole token string as the
    single shingle (``concat_ws`` skips the NULL leads, so the first row of
    a short doc is precisely the full join). Shingles are NOT deduplicated
    — min-aggregates don't care, and set consumers ``collect_set``.
    Returns (``_id``, *carry, ``_shingle``).
    """
    from pyspark.sql import Window

    carried = [F.col(c) for c in carry]
    if n < 2:
        return df.select(
            F.col(id_col).alias("_id"),
            *carried,
            F.explode(tokens(F.lower(F.col(text_col)))).alias("_shingle"),
        )
    toks = (
        df.select(
            F.col(id_col).alias("_id"),
            *carried,
            F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("_pos", "_t"),
        ).where(F.col("_t") != "")
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    leads = [F.lead("_t", j).over(w) for j in range(1, n)]
    rows = toks.select(
        "_id",
        *carry,
        F.concat_ws(" ", F.col("_t"), *leads).alias("_shingle"),
        leads[-1].isNotNull().alias("_complete"),
        (F.row_number().over(w) == 1).alias("_first"),
        (F.count("*").over(Window.partitionBy("_id")) >= n).alias("_big"),
    )
    return rows.where(
        (F.col("_big") & F.col("_complete")) | (~F.col("_big") & F.col("_first"))
    ).select("_id", *carry, "_shingle")


def _seeded_min_aggs(num_hashes: int) -> list[Column]:
    """The seeded min-hash aggregate list over a ``_h0`` shingle-hash
    column — THE hash-of-hash scheme, defined once so the per-document
    (``minhash_doc_table``) and per-group (``group_overlap_minhash``)
    signature paths can never de-synchronize."""
    return [
        F.min(F.xxhash64(F.col("_h0"), F.lit(i))).alias(f"_m{i}")
        for i in range(num_hashes)
    ]


def _sig_array(num_hashes: int) -> Column:
    """Pack the ``_m{i}`` min-agg outputs into the signature array."""
    return F.array(*[F.col(f"_m{i}") for i in range(num_hashes)])


def _min_signature_by(rows: DataFrame, key_col: str, num_hashes: int) -> DataFrame:
    """Signature table keyed by ``key_col`` over (``key_col``,
    ``_shingle``) rows: hash each shingle string to a long ONCE (xxhash64
    over 8 fixed bytes is several times cheaper than over a ~50-byte
    string, and hash-of-hash is the same uniform family), min-aggregate
    per key. Returns (``_id``, ``_sig``)."""
    exploded = rows.select(F.col(key_col).alias("_k"), F.xxhash64("_shingle").alias("_h0"))
    return (
        exploded.groupBy("_k")
        .agg(*_seeded_min_aggs(num_hashes))
        .select(F.col("_k").alias("_id"), _sig_array(num_hashes).alias("_sig"))
    )


def group_overlap_minhash(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n_shingle: int = 3,
    num_hashes: int = 64,
    eager_cache: bool = False,
) -> DataFrame:
    """Pairwise corpus-overlap estimate between GROUPS (sources, domains,
    snapshots): MinHash of each group's union-of-shingles set, compared
    componentwise — ``(group_a, group_b, est_jaccard)`` for every
    unordered pair.

    Because min distributes over union, a group's signature is just
    ``minhash_doc_table``'s signature keyed by the group instead of the
    doc id:
    ONE scan, one partial-aggregated shuffle carrying 8·k bytes per
    group. The pairwise compare is a crossJoin of the S-row signature
    table (S = #groups — hundreds-to-thousands of domains at 100 TB, so
    S² pairs are trivial next to a single corpus scan). The exact
    alternative — distinct (group, shingle) rows self-joined — shuffles
    the corpus's whole shingle vocabulary; that path remains the
    verifier at test scale (``q_source_overlap``) while this sketch is
    the product at 100 TB. Estimator std ≈ sqrt(j(1-j)/k); k=64 → ±0.06
    at j=0.5, deterministic given the seeded hashes.

    Shingling happens per-DOCUMENT (a synthesized unique row id), with the
    group carried alongside; only the min-aggregation is keyed by the
    group. Shingling by the group id directly would interleave tokens of
    different docs inside the lead window (shingles spanning document
    boundaries, tie-order-dependent output) — the signature would not be
    the union-set MinHash. The synthesized id only partitions the window;
    each doc's shingle multiset is invariant to its value, so the result
    is deterministic and independent of row order."""
    from pyspark import StorageLevel

    docs = df.select(
        F.col(group_col).alias("_grp"), F.col(text_col).alias("_txt")
    ).withColumn("_did", F.monotonically_increasing_id())
    rows = shingle_rows(docs, "_txt", "_did", n_shingle, carry=("_grp",))
    # persist the S-row signature table: both sides of the pair compare
    # derive from it, and without a materialization Catalyst plans the
    # corpus scan + shingle window + k-wide agg TWICE (caught by the
    # single-scan plan pin in tests/test_plans.py). Caller owns cleanup
    # per the module-header cache contract.
    sigs = _min_signature_by(rows, "_grp", num_hashes).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Eager fill (r12, bench adjudication; opt-IN since r13): computing
    # the corpus scan + k-wide min-agg in its OWN job before the pair
    # compare keeps the cache-fill out of the join stages — when both
    # crossJoin sides race to materialize the same uncached partitions,
    # tasks block on the BlockManager's compute-or-wait lock and a loaded
    # host amplifies the stall superlinearly (the r11 driver sweep priced
    # this family 2-4× over the same-code committed record). count() does
    # the identical work the first consumer would; total work is
    # unchanged, variance shrinks. Default False (r13, ADVICE): running a
    # Spark job at plan-CONSTRUCTION time breaks laziness for composing
    # callers; the bench/contract call sites opt in because they execute
    # immediately. Either way the persisted blocks live until the caller
    # (who owns cleanup per the module cache contract) unpersists or
    # clears the cache — repeated calls accumulate MEMORY_AND_DISK blocks
    # otherwise (the bench clears per query).
    if eager_cache:
        sigs.count()
    a = sigs.select(F.col("_id").alias("group_a"), F.col("_sig").alias("_sa"))
    b = sigs.select(F.col("_id").alias("group_b"), F.col("_sig").alias("_sb"))
    agree = F.aggregate(
        F.zip_with("_sa", "_sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        a.crossJoin(b)
        .where(F.col("group_a") < F.col("group_b"))
        .select(
            "group_a",
            "group_b",
            (agree.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
    )


def shingle_hash_sets_df(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, set of xxhash64(shingle)) per document — the verification-side
    companion to the MinHash signature. Jaccard over the hashed sets
    equals Jaccard over the string sets (64-bit collisions among a doc's
    ~10²-10³ shingles are negligible), and long arrays intersect far
    cheaper than string arrays. Returns (``_id``, ``_sh``)."""
    return (
        shingle_rows(df, text_col, id_col, n)
        .groupBy("_id")
        .agg(F.collect_set(F.xxhash64("_shingle")).alias("_sh"))
    )


def _set_table(
    df: DataFrame, text_col: str, id_col: str, n: int, carry: list[str] | None = None
) -> DataFrame:
    """``shingle_hash_sets_df`` plus the set size ``_sz`` and the ``carry``
    columns of ``df`` (joined back by id), persisted: every set-similarity
    join reads it at least twice (postings or one pair side, and the
    other pair side), and Catalyst would otherwise re-run the
    explode→window→agg pipeline per read."""
    from pyspark import StorageLevel

    sets_df = shingle_hash_sets_df(df, text_col, id_col, n)
    if carry:
        sets_df = sets_df.join(df.select(F.col(id_col).alias("_id"), *carry), "_id")
    return sets_df.withColumn("_sz", F.size("_sh")).persist(StorageLevel.MEMORY_AND_DISK)


def _with_overlap(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """``pairs`` plus the overlap of its two hash-set columns ``a`` and
    ``b``: ``_i`` = |A∩B|, ``_u`` = |A∪B| and ``_j`` = the Jaccard
    |A∩B| / |A∪B| as ONE division of exact ints (correctly rounded IEEE,
    so bit-identical across engines). The sets are ``collect_set``s, so
    |A∪B| = |A| + |B| − |A∩B| exactly and no union array is built per
    pair; the intersection is computed once, as a column."""
    return (
        pairs.withColumn("_i", F.size(F.array_intersect(a, b)))
        .withColumn("_u", F.size(a) + F.size(b) - F.col("_i"))
        .withColumn("_j", F.col("_i") / F.greatest("_u", F.lit(1)))
    )


def minhash_doc_table(
    df: DataFrame, text_col: str, id_col: str, n_shingle: int = 3, num_hashes: int = 64
) -> DataFrame:
    """(id, signature, shingle-hash set) in ONE pass: the ``num_hashes``
    seeded ``min(xxhash64(h, i))`` aggregates and the ``collect_set`` of
    ``shingle_hash_sets_df`` share a single groupBy, so the corpus is
    scanned once and the exploded shingle rows shuffle once.

    Why aggregates: ``xxhash64``/``min`` are codegen intrinsics, so the
    hot loop (docs × shingles × seeds hash evaluations) runs in generated
    JVM code; the equivalent nested-``transform`` expression
    (``minhash_signature``) is interpreted and ~100× slower. Partial
    (map-side) aggregation collapses each doc to one row before the
    exchange, and min over duplicate shingles equals min over the
    distinct set, so no dedup pass is needed.

    Alternatives measured and rejected at sf0.1: a two-level
    seed-exploded aggregation (explode seeds → min per (doc, seed) →
    repack) compiles its narrow aggregates faster but pays for the extra
    shuffle + doc-level join — 8.2s cold / 1.2s warm vs 5.5s / 1.4s for
    this single wide agg; a mapInPandas shingler is 6× slower than the
    explode+window pipeline. The ~4s one-time cost of the 64-aggregate
    whole-stage compile is unavoidable but paid once per session.

    Downstream LSH uses this frame 4 ways (banding, bucket caps, both
    pair sides) — callers persist it rather than letting Spark re-derive
    the whole explode→window→agg pipeline per use (ReuseExchange does NOT
    fire across the differing aggregate subplans; measured 6 redundant
    corpus scans without it). Returns (``_id``, ``_sig``, ``_sh``)."""
    exploded = shingle_rows(df, text_col, id_col, n_shingle).select(
        "_id", F.xxhash64("_shingle").alias("_h0")
    )
    return (
        exploded.groupBy("_id")
        .agg(*_seeded_min_aggs(num_hashes), F.collect_set("_h0").alias("_sh"))
        .select("_id", _sig_array(num_hashes).alias("_sig"), "_sh")
    )


def near_dup_pairs_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Candidate generation + exact verification:

    doc → shingles → 64 minhashes → 16 bands of 4 → explode band ids →
    self-join on (band, bucket) carrying ONLY doc ids → dedup pairs →
    re-join shingles → exact Jaccard filter.

    Plan-shape rules that keep this fast:

    - the per-doc signature+set table (``minhash_doc_table``) is computed
      ONCE and persisted (MEMORY_AND_DISK): banding, the bucket-size cap,
      and both sides of the verification join read the cache instead of
      re-running the explode→window→agg pipeline (which Catalyst will
      happily replicate per use — 6 corpus scans measured). At 100 TB the
      cached table is docs × (64 longs + the hashed shingle set) —
      orders of magnitude smaller than the corpus text, and the
      MEMORY_AND_DISK level spills instead of evicting to recompute;
    - the candidate join shuffles only (id, band, bucket) — never the
      shingle arrays; sets are re-attached by two id-equi-joins on the
      deduped (usually tiny) pair set;
    - buckets larger than ``max_bucket`` docs (boilerplate collisions) are
      dropped before the self-join — the quadratic guard; at 100 TB this
      plus AQE skew-join bounds the worst bucket.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    from pyspark import StorageLevel

    doc_tbl = minhash_doc_table(df, text_col, id_col, n_shingle, num_hashes).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return near_dup_pairs_from_doc_table(
        doc_tbl,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        max_bucket=max_bucket,
    )


def near_dup_pairs_from_doc_table(
    doc_tbl: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """``near_dup_pairs_minhash`` over a PREBUILT (and caller-persisted)
    ``minhash_doc_table`` frame (``_id``, ``_sig``, ``_sh``) — the r15
    ingest-fusion entry point: ``IncrementalMinhashIndex.dedup_batch``
    computes the batch's signature table ONCE and derives both the
    within-batch pair search and the landed-index rows from it, instead
    of running the explode→64-agg signature stage twice per micro-batch
    (once inside the pair finder, once in ``banded_index_rows``).
    Signatures are a deterministic function of the text, so the derived
    index rows are byte-identical to a recomputation. Cache ownership is
    the caller's (this function never persists)."""
    rows = num_hashes // bands
    sh_df = doc_tbl.select("_id", "_sh")
    sig_df = doc_tbl.select("_id", "_sig")
    banded = sig_df.select(
        "_id", "_sig", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("_band")
    ).select(
        "_id",
        "_band",
        F.xxhash64(F.array_join(F.slice("_sig", F.col("_band") * rows + 1, rows), ",")).alias(
            "_bucket"
        ),
    )
    ok_buckets = (
        banded.groupBy("_band", "_bucket").count().where(F.col("count") <= max_bucket).drop("count")
    )
    banded = banded.join(ok_buckets, ["_band", "_bucket"])
    left = banded.select(
        F.col("_id").alias("id_a"), F.col("_band").alias("band_a"), F.col("_bucket").alias("bkt_a")
    )
    right = banded.select(
        F.col("_id").alias("id_b"), F.col("_band").alias("band_b"), F.col("_bucket").alias("bkt_b")
    )
    cand = (
        left.join(
            right,
            (left.band_a == right.band_b) & (left.bkt_a == right.bkt_b) & (left.id_a < right.id_b),
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sh_df.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
    ).join(sh_df.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    return (
        _with_overlap(pairs, "sh_a", "sh_b")
        .withColumn("jaccard", F.round("_j", 4))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def lsh_candidate_probability(jaccard: float, bands: int, rows: int) -> float:
    """The banded-LSH s-curve: probability that two documents with the
    given Jaccard similarity share at least one band bucket,
    ``1 - (1 - j^rows)^bands``. This is the closed form behind
    ``near_dup_pairs_minhash``'s defaults and the number to consult when
    retuning them."""
    if not 0.0 <= jaccard <= 1.0:
        raise ValueError(f"jaccard must be in [0, 1], got {jaccard}")
    return 1.0 - (1.0 - jaccard**rows) ** bands


def lsh_tune(
    threshold: float, num_hashes: int = 64, min_recall: float = 0.95
) -> tuple[int, int]:
    """Pick (bands, rows) for a target Jaccard ``threshold``: among the
    factorizations ``bands × rows = num_hashes`` whose s-curve catches a
    threshold-similarity pair with probability ≥ ``min_recall``, choose
    the one with the least false-candidate mass (the s-curve integral
    below the threshold — wasted exact-verify work). Recall is a
    CONSTRAINT, not a weight, because the two costs are different in
    kind: a false candidate costs one cheap exact-Jaccard check, a miss
    ships a duplicate into the corpus unrecoverably. If no factorization
    meets the recall floor, the steepest available (most bands) is
    returned — the best recall ``num_hashes`` can buy. Closed forms
    sampled on a grid, microseconds at config time.

    ``lsh_tune(0.8, 64)`` → (16, 4): the library defaults, with
    p(candidate | j = 0.8) ≈ 0.9998.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    fallback: tuple[int, int, int] | None = None  # (bands, bands, rows)
    best: tuple[float, int, int] | None = None
    for rows in range(1, num_hashes + 1):
        if num_hashes % rows:
            continue
        bands = num_hashes // rows
        if fallback is None or bands > fallback[0]:
            fallback = (bands, bands, rows)
        if lsh_candidate_probability(threshold, bands, rows) < min_recall:
            continue
        steps = 200
        fp = sum(
            lsh_candidate_probability((i + 0.5) / steps, bands, rows)
            for i in range(steps)
            if (i + 0.5) / steps < threshold
        ) / steps
        if best is None or fp < best[0]:
            best = (fp, bands, rows)
    if best is not None:
        return best[1], best[2]
    assert fallback is not None
    return fallback[1], fallback[2]


def token_hashes(text: Column) -> Column:
    """Per-token xxhash64 array — materialize this ONCE (its own projection
    column) before feeding ``simhash_from_hashes``, which references it 64
    times."""
    return F.transform(tokens(F.lower(text)), lambda t: F.xxhash64(t))


def simhash_from_hashes(hashes: Column) -> Column:
    """64-bit SimHash from a *materialized* token-hash array: for each bit
    b, count hashes with bit b set, majority vote → bit, OR together.

    ``hashes`` must be an attribute reference: the 64 filter terms each
    reference it, and CollapseProject only leaves a multiply-referenced
    column un-inlined when it is already its own projection — pass the raw
    hashing expression and the tokenize+hash work runs 64× per row,
    interpreted (higher-order functions never codegen).
    """
    n = F.size(hashes)

    def bit_test(mask: int):
        # factory-bound single-param lambda: a 2-arg lambda (even via
        # default args) would be read as (element, index) by PySpark
        return lambda h: h.bitwiseAND(F.lit(mask)) != 0

    bit_terms = []
    for b in range(64):
        mask = 1 << b if b < 63 else -(1 << 63)  # bit 63 = long sign bit
        ones = F.size(F.filter(hashes, bit_test(mask)))
        bit_terms.append(
            F.when(ones * 2 >= n, F.lit(mask).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out.bitwiseOR(t)
    return out


def simhash64(text: Column) -> Column:
    """Single-column convenience wrapper (tests, ad-hoc use). For DataFrame
    pipelines use ``simhash_df`` — the interpreted higher-order filter here
    re-walks the hash array once per bit."""
    return simhash_from_hashes(token_hashes(text))


def simhash_df(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash) per document through codegen: explode tokens → hash →
    ONE groupBy with 64 conditional-count aggregates (ones per bit) + a
    total count → majority vote per bit → OR the masks together.

    Same rationale as ``minhash_doc_table``: conditional counts are
    codegen'd and partially aggregated map-side, so the shuffle carries 65
    longs per doc. Returns columns (``_id``, ``_sim``).
    """
    hashed = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("_t"),
        )
        .where(F.col("_t") != "")  # explode+where is codegen; F.filter is not
        .select("_id", F.xxhash64("_t").alias("_h"))
    )
    masks = [1 << b if b < 63 else -(1 << 63) for b in range(64)]
    aggs = [
        F.count(F.when(F.col("_h").bitwiseAND(F.lit(m)) != 0, 1)).alias(f"_b{b}")
        for b, m in enumerate(masks)
    ] + [F.count("*").alias("_n")]
    g = hashed.groupBy("_id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for b, m in enumerate(masks):
        sim = sim.bitwiseOR(
            F.when(F.col(f"_b{b}") * 2 >= F.col("_n"), F.lit(m).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return g.select("_id", sim.alias("_sim"))


def hamming_pairs_64(
    sig_df: DataFrame,
    max_hamming: int = 3,
    max_block: int = 10_000,
    on_oversize: str = "drop",
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit signature column: block on the 4
    16-bit quarters (pigeonhole: ≤3 differing bits ⇒ at least one
    identical quarter — complete for ``max_hamming`` ≤ 3), then verify
    the Hamming distance exactly. Shuffle is O(rows × 4) on 16-bit
    buckets — never quadratic. Input schema: ``(_id, _sim)``; shared by
    text SimHash (``near_dup_pairs_simhash``), image average-hash and
    audio fingerprints (``llm.multimodal``), so every family carries the
    same scale discipline. Returns (id_a, id_b, hamming).

    ``max_block``: quarter-key blocks holding more than this many rows
    are dropped before the self-join — the ``max_bucket`` discipline from
    minhash. Degenerate media make this non-theoretical: every blank
    image hashes to 0, so one hash value can own a block that would
    otherwise go O(n²) in a single task. The trade (same as minhash):
    pairs whose ONLY shared quarters sit in dropped blocks are missed —
    but a block that hot is boilerplate, not near-duplication evidence.
    Never binds at contract scale (largest testdata block ≈ tens of
    rows); pass ``None`` for the uncapped form.

    ``on_oversize`` (r13, ADVICE): ``"drop"`` applies the cap silently
    (the default — boilerplate blocks are expected at corpus scale);
    ``"error"`` raises in-plan when any block exceeds the cap, for
    callers whose downstream contract ASSUMES completeness (e.g. a
    planted-pair oracle that expects exactly one row per item — a
    silently dropped block would read as a false mismatch)."""
    if on_oversize not in ("drop", "error"):
        raise ValueError(f"on_oversize must be 'drop' or 'error', got {on_oversize!r}")
    quarters = sig_df.select(
        "_id",
        "_sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftrightunsigned("_sim", q * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("blk"),
    )
    if max_block is not None:
        counts = quarters.groupBy("blk").count()
        if on_oversize == "error":
            alarm = F.coalesce(
                F.assert_true(
                    F.col("count") <= max_block,
                    F.concat(
                        F.lit(f"hamming quarter-block exceeds max_block={max_block}: size="),
                        F.col("count").cast("string"),
                    ),
                ).cast("long"),
                F.col("count"),
            )
            counts = counts.withColumn("count", alarm)
        ok_blocks = counts.where(F.col("count") <= max_block).drop("count")
        quarters = quarters.join(ok_blocks, "blk")
    a = quarters.select(F.col("_id").alias("id_a"), F.col("_sim").alias("sim_a"), "blk")
    b = quarters.select(F.col("_id").alias("id_b"), F.col("_sim").alias("sim_b"), F.col("blk").alias("blk_b"))
    cand = (
        a.join(b, (a.blk == b.blk_b) & (a.id_a < b.id_b))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def near_dup_pairs_simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_block: int | None = 10_000,
) -> DataFrame:
    """SimHash near-dup: 64-bit simhash per doc, then the shared
    quarter-blocking + exact-Hamming verify (``hamming_pairs_64``).

    ``max_block`` passes through to the blocking stage: the 10k default
    makes the pipeline LOSSY for quarter-key blocks hotter than the cap
    (degenerate/boilerplate signatures) in exchange for a bounded
    worst-case task — ``None`` restores the pigeonhole-complete
    uncapped semantics (every hamming ≤ 3 pair guaranteed found).

    The (id, simhash) table is persisted: both sides of the candidate
    self-join read one materialization instead of re-running the 65-wide
    conditional-count aggregation each (same discipline as
    ``minhash_doc_table`` — ReuseExchange does not fire across self-join
    sides with differing projections)."""
    from pyspark import StorageLevel

    sh = simhash_df(df, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    return hamming_pairs_64(sh, max_hamming, max_block=max_block)


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, blocked)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs_blocked(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard within user-chosen blocking keys (e.g.
    same length band + language). Quadratic only *within* a block — the
    caller's blocking choice is the scale knob.

    Jaccard is computed over 64-bit shingle hashes (``shingle_hash_sets_df``
    — codegen explode+agg, and long arrays intersect far cheaper than
    string arrays); values equal the string-set Jaccard barring a 64-bit
    collision inside one document. The DuckDB oracle computes the string
    form — they agree on the testdata and on any realistic corpus.

    Per-pair cost discipline (this is the quadratic rung, so the constant
    matters): set sizes are computed ONCE per doc, the union size is
    derived arithmetically (``_with_overlap``), and the size-ratio
    bound ``min ≥ t·max`` (implied by J ≥ t: I ≤ min and I ≥ t·U ≥ t·max)
    filters pairs BEFORE the intersect — plain long comparisons versus a
    hash-set build per pair. The per-doc set table is persisted so the
    self-join's two sides read one materialization instead of re-running
    the explode→agg pipeline each. Measured 16.8s → well under half at
    sf0.1 with identical output."""
    size_ok = F.least("sz_a", "sz_b") >= F.lit(threshold) * F.greatest("sz_a", "sz_b")
    pairs = _blocked_pairs(df, text_col, id_col, block_cols, n, size_ok)
    return (
        pairs.withColumn("jaccard", F.round("_j", 4))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs_blocked(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Shingle-containment pairs: |A∩B| / min(|A|, |B|) ≥ threshold within
    caller-chosen blocks — the near-dup measure for SUB-document duplication
    (a short doc embedded in a long one scores containment ≈ 1 while its
    Jaccard ≈ |short|/|long| can sit far below any dedup threshold).

    Jaccard-style size-ratio prefiltering is deliberately absent: containment
    exists to catch size-skewed pairs, so the only quadratic bound is the
    caller's blocking choice (the scale knob, same contract as
    ``ngram_jaccard_pairs_blocked``). The threshold test is evaluated as the
    integer cross-multiplication ``I ≥ ceil(t·min)`` on exact set sizes
    before the reported ratio is rounded, so the cut is engine-exact.

    No reference analogue (its dedup guard is an exact-match driver scan,
    ``kafka_producer.py:41-58``); north-star extension per BASELINE.json.
    """
    from fractions import Fraction

    # exact rational form of the threshold (0.55 → 11/20) so the cut is
    # TRUE integer cross-multiplication: den·I ≥ num·min. ceil(t·min) on
    # the float would misclassify exact-boundary pairs (ceil(0.55·20) =
    # ceil(11.000000000000002) = 12 drops a pair at exactly 0.55).
    frac = Fraction(str(threshold)).limit_denominator(10**9)
    pairs = _blocked_pairs(df, text_col, id_col, block_cols, n)
    min_sz = F.greatest(F.least("sz_a", "sz_b"), F.lit(1))
    return (
        pairs.where(F.lit(frac.denominator) * F.col("_i") >= F.lit(frac.numerator) * min_sz)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_i") / min_sz, 4).alias("containment"),
        )
    )


def _blocked_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    n: int,
    size_ok: Column | None = None,
) -> DataFrame:
    """The blocked self-join of the shingle-hash sets: every pair
    ``id_a < id_b`` equal on all ``block_cols`` and passing ``size_ok``
    (a condition on the set sizes ``sz_a``/``sz_b``, applied in the join
    before any intersection), with its overlap (``_with_overlap``). Both
    sides read one persisted (id, set, size, block cols) table."""
    base = _set_table(df, text_col, id_col, n, block_cols)
    a = base.select(
        F.col("_id").alias("id_a"),
        F.col("_sh").alias("sh_a"),
        F.col("_sz").alias("sz_a"),
        *[F.col(c) for c in block_cols],
    )
    b = base.select(
        F.col("_id").alias("id_b"),
        F.col("_sh").alias("sh_b"),
        F.col("_sz").alias("sz_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
    )
    cond = a.id_a < b.id_b
    for c in block_cols:
        cond = cond & (a[c] == b[f"{c}_b"])
    if size_ok is not None:
        cond = cond & size_ok
    return _with_overlap(a.join(b, cond), "sh_a", "sh_b")


def exact_ngram_collisions(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    max_gram_docs: int | None = 1000,
) -> DataFrame:
    """Exact word-n-gram collision decontamination: for each ``corpus``
    document, how many DISTINCT ``probe`` documents share at least one
    sliding n-gram with it — the published GPT-3/PaLM-style exact-overlap
    check (a training doc containing any 8–13-gram from an eval set is
    flagged), complementing the LSH near-dup form
    (``q_split_contamination``) which misses verbatim *sub-span* leaks in
    otherwise-dissimilar documents.

    Output: ``(id_col, n_probe_hits)`` for flagged corpus docs only.

    Scale shape: both sides explode to per-(doc, gram) rows executor-side
    (no shuffle for the row multiplication) and collapse to DISTINCT
    (doc, gram) before the join, so the exchange carries each document's
    gram *set*, not its occurrence stream. The join shuffles on the gram
    string here so the result is oracle-exact; at 100 TB shuffle
    ``xxhash64(gram)`` (8 bytes vs ~n·6-byte strings — same result modulo
    a ~2⁻⁶⁴ collision) and broadcast the probe side outright when it is an
    eval set (thousands of docs): the corpus side then never shuffles at
    all.

    Hot-gram guard (``max_gram_docs``, default-on): stopword-only grams
    ('of the … in a') occur in a huge fraction of any natural corpus, and
    a gram shared by K corpus docs and M probe docs materializes K·M join
    rows in ONE key's task — the skewed-shuffle straggler at 100 TB.
    Grams present in more than ``max_gram_docs`` DISTINCT corpus docs are
    dropped from BOTH sides before the join (the minhash ``max_bucket``
    discipline: a map-side-combined count per gram, then an equi-join
    filter), bounding any key's fan-out to ``max_gram_docs · M``. Such
    grams are boilerplate, not leak evidence — the published exact-overlap
    decontamination protocols drop them for the same reason — but a doc
    whose ONLY shared grams are hot ones will no longer be flagged; pass
    ``None`` for the exact uncapped form.
    """

    def gram_rows(df: DataFrame, out_id: str) -> DataFrame:
        from .textops import sliding_grams

        toks = tokens(F.lower(F.col(text_col)))
        base = df.select(F.col(id_col).alias(out_id), toks.alias("_toks")).where(
            F.size("_toks") >= n
        )
        return base.select(
            out_id,
            F.explode(F.array_distinct(sliding_grams(F.col("_toks"), n))).alias("_gram"),
        )

    c = gram_rows(corpus, id_col)
    p = gram_rows(probe, "_probe_id")
    if max_gram_docs is not None:
        # the corpus gram rows feed both the cap count and the join —
        # persist them or the scan + tokenize + explode runs twice
        # (measured 2.0 s -> 1.5 s min-of-3 at sf0.1)
        from pyspark import StorageLevel

        c = c.persist(StorageLevel.MEMORY_AND_DISK)
        # rows are already distinct per (doc, gram), so count() == distinct
        # docs per gram; partial agg combines map-side before the exchange
        ok_grams = (
            c.groupBy("_gram").count().where(F.col("count") <= max_gram_docs).drop("count")
        )
        # filtering the corpus side alone suffices (the equi-join can then
        # never produce a hot key); the probe side's hot rows just find no
        # match, which is cheaper than a second filtering join
        c = c.join(ok_grams, "_gram")
    return (
        c.join(p, "_gram")
        .groupBy(id_col)
        .agg(F.count_distinct("_probe_id").alias("n_probe_hits"))
    )


# ---------------------------------------------------------------------------
# Span-level boilerplate dedup (C4/line-dedup family)
# ---------------------------------------------------------------------------


def span_segment_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_tokens: int = 3,
    delimiter: str | None = None,
) -> DataFrame:
    """One row per document span: ``(id_col, _i, _seg, _dig)`` — position,
    span text, and its SHA-256 digest. ``delimiter`` splits on a literal
    separator (true line segmentation); otherwise fixed non-overlapping
    windows of ``span_tokens`` whitespace tokens (final window keeps the
    remainder). Shared by the batch boilerplate pass
    (``boilerplate_span_dedup``) and the ingest-time incremental span
    index (``streaming.corpus.IncrementalSpanIndex``), so both segment
    identically. Zero-token documents produce no rows."""
    if delimiter is not None:
        # F.split takes a Java REGEX; the API promises a LITERAL
        # separator, so quote it (\Q...\E, splicing any embedded \E) —
        # an unquoted '.' or '|' would otherwise split on everything and
        # silently destroy the corpus
        quoted = "\\Q" + delimiter.replace("\\E", "\\E\\\\E\\Q") + "\\E"
        segs_arr = F.filter(F.split(F.col(text_col), F.lit(quoted), -1), lambda s: s != "")
    else:
        # One greedy regex pass over whitespace-normalized text: each match
        # consumes up to span_tokens tokens, so matches ARE the fixed
        # non-overlapping windows (final window keeps the remainder), each
        # already joined by single spaces. Equivalent to grouping
        # ``tokens()`` into span_tokens-slices and array_join-ing — both
        # reduce to the same token sequence — but regexp_extract_all stays
        # in whole-stage codegen while the transform(sequence, slice)
        # formulation is an interpreted HOF that measured 5.5× slower on
        # the segmentation stage (r7 bench regression root-cause: this
        # stage was ~60% of q_text_dedup_intra's runtime). Equivalence is
        # property-tested against the token formulation on
        # multi-whitespace inputs (tests/test_llm_dedup.py).
        norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
        pat = r"\S+( \S+){0,%d}" % (span_tokens - 1)
        segs_arr = F.regexp_extract_all(norm, F.lit(pat), 0)
    return df.select(F.col(id_col), F.posexplode(segs_arr).alias("_i", "_seg")).withColumn(
        "_dig", F.sha2("_seg", 256)
    )


def span_joiner(delimiter: str | None) -> str:
    """The separator survivors of ``span_segment_rows`` rejoin with: the
    literal ``delimiter``, or one space between token windows."""
    return delimiter if delimiter is not None else " "


def boilerplate_span_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_tokens: int = 3,
    min_docs: int = 2,
    delimiter: str | None = None,
) -> DataFrame:
    """Remove spans that repeat across documents — the line/paragraph-level
    dedup pass (C4-style boilerplate removal; with token segmentation, the
    duplicated-span removal of corpus-dedup practice) that document-level
    dedup cannot express: it edits INSIDE surviving documents.

    Segmentation: ``delimiter`` (e.g. ``"\\n"`` for true line dedup) when
    given, else fixed non-overlapping windows of ``span_tokens`` whitespace
    tokens (the final window keeps the remainder). A span is boilerplate
    when it occurs verbatim in ≥ ``min_docs`` distinct documents; each doc
    returns with those spans excised (order of survivors preserved) plus a
    dropped-span count. Documents with zero tokens are passed through
    unchanged with ``n_dropped = 0``.

    Scale shape (the reason this is exactly two shuffles):

    1. segment rows → groupBy the span's **sha2-256 digest** with partial
       map-side aggregation — the shuffle carries a fixed-width digest per
       span occurrence, never span text;
    2. boilerplate digests (a tiny fraction of distinct spans) broadcast
       back against the segment rows — no second corpus shuffle;
    3. reassembly groups segments by doc id: one shuffle of surviving span
       text, upper-bounded by corpus size.

    Steps 2-3 are the excision core (``textops._cut_repeated``) that
    ``streaming.corpus.IncrementalSpanIndex`` also runs, fed there with
    the batch's counts plus the landed history.

    The reference has no in-document transformation beyond column maps;
    north-star extension per BASELINE.json.
    """
    from pyspark import StorageLevel

    # both the boilerplate-count branch and the flag/reassembly branch
    # read the segmented corpus; persist it so tokenize+segment+sha2 runs
    # once, not once per consumer (same discipline as the minhash/ngram
    # doc tables — ReuseExchange does not fire across differing subplans)
    seg = span_segment_rows(df, text_col, id_col, span_tokens, delimiter).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    boiler = (
        seg.groupBy("_dig")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_dig")
    )
    return _cut_repeated(
        df.select(id_col), seg, F.broadcast(boiler), id_col, ["_dig"],
        "_i", "_seg", span_joiner(delimiter), "text_clean", "int",
    )


def intra_doc_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 3,
    delimiter: str | None = None,
) -> DataFrame:
    """WITHIN-document repetition removal (the Gopher/C4 'repeated lines/
    paragraphs' pass): every repeated span inside a document is excised
    except its FIRST occurrence, order preserved. Complements
    ``boilerplate_span_dedup`` (cross-document spans) — a crawl page that
    repeats its own nav block ten times is repetition even if no other
    document shares it.

    Segmentation is ``span_segment_rows`` (same contract: ``delimiter``
    for true line dedup, else fixed non-overlapping ``span_tokens``-token
    windows), so the two passes compose on identical span boundaries.

    Output: ``(id_col, text_clean, n_spans, n_dup_spans)`` — one row per
    input document (zero-token docs pass through with empty text and zero
    counts).

    Scale shape: two partial-aggregable shuffles, both keyed by the doc —
    (doc, span-digest) → first position + occurrence count, then doc →
    reassembly. No window function (a per-doc window would buffer whole
    docs per task anyway — the groupBy gets map-side combine for free),
    no cross-document exchange at all: cost is bounded by corpus size,
    never corpus².

    The reference has no in-document transformation; north-star extension
    per BASELINE.json (same family as boilerplate_span_dedup).
    """
    seg = span_segment_rows(df, text_col, id_col, span_tokens, delimiter)
    per_span = seg.groupBy(id_col, "_dig").agg(
        F.min("_i").alias("_keep_i"),
        # all rows in the group carry the identical span text (sha2-keyed),
        # so min is just a deterministic pick
        F.min("_seg").alias("_seg"),
        F.count("*").alias("_n_occ"),
    )
    cleaned = per_span.groupBy(id_col).agg(
        _ordered_text("_keep_i", "_seg", span_joiner(delimiter)).alias("text_clean"),
        F.sum("_n_occ").cast("int").alias("n_spans"),
        (F.sum("_n_occ") - F.count("*")).cast("int").alias("n_dup_spans"),
    )
    return (
        df.select(id_col)
        .join(cleaned, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        )
    )


# ---------------------------------------------------------------------------
# Cluster assignment (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 20,
    max_driver_edges: int | None = 1_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs: every document gets a
    ``cluster_id`` (the minimum id reachable through the pair graph;
    singletons cluster with themselves) — the step that turns pair lists
    into an actionable keep/drop decision (keep ``doc_id == cluster_id``).

    Iterative min-label propagation (Pregel-lite): each round joins the
    current labels across the edge list and takes the per-node minimum.
    Rounds needed = graph diameter — near-dup clusters are shallow (a dup
    cluster's diameter is rarely >3), so this converges in a handful of
    rounds; ``max_iter`` bounds adversarial chains, and each round is one
    shuffle on the node id. The driver-side loop is the documented
    exception for iterative algorithms (each iteration is still fully
    distributed; only the 1-row convergence count returns to the driver).

    Lineage discipline: caching alone is NOT enough for an iterative
    loop — the logical plan still embeds the full upstream pipeline (for
    LSH pairs, the whole corpus scan + 64-aggregate stage) and doubles
    per round, so Catalyst re-analysis dominates wall time even when every
    byte is cached (measured: 2-5s of driver time per round at a few
    hundred edges). ``localCheckpoint(eager=True)`` truncates the plan to
    the materialized blocks, making each round's plan O(round), not
    O(pipeline × round).

    ``pairs`` must carry ``id_a``/``id_b``; ``all_ids`` (one ``id_col``
    column) extends the output to documents in no pair.

    SMALL-GRAPH FAST PATH (``max_driver_edges``, default 1M): near-dup
    edge lists are tiny relative to the corpus (pairs exist only where
    documents actually collide — 5000 docs with planted dups yield a few
    hundred edges), yet every propagation round costs a join + an eager
    checkpoint + a convergence probe, ~1s of fixed latency each. When
    the materialized edge count is within the bound, the edges collect
    to the driver (hard-bounded: 1M (id,id) rows ≈ 16 MB) and a
    path-compressed union-find labels the components in microseconds —
    EXACTLY the propagation fixpoint (each component's min id), returned
    as one small createDataFrame. Beyond the bound the distributed loop
    runs unchanged; ``max_driver_edges=0``/``None`` forces it. This is
    the standard hybrid: the driver path is the bounded-size special
    case, never the scale path (pinned equal in tests).

    Cache lifetime (r8 advice): each round's eager checkpoint would
    otherwise leave the PREVIOUS round's blocks cached until session
    LRU — O(rounds) dead RDDs in a long-lived service. Superseded
    rounds (and, after the loop, the edge list) are released by their
    own handles (``cacheutil.release``) as soon as the next round has
    materialized, and the result is checkpointed in its output shape
    before the final round is released. The distributed path therefore
    returns a frame that IS its one live checkpoint: the caller frees it
    with ``cacheutil.release(result)`` once consumed, and no other
    query's caches are touched.
    """
    from ..cacheutil import materialize, release

    spark = pairs.sparkSession
    # Checkpoint the directed pair list ONCE and mirror it from the
    # materialized blocks. Checkpointing the union itself would execute
    # the upstream pair subtree (for LSH pairs, the whole corpus scan +
    # candidate + verify pipeline) TWICE in one job — once per union
    # branch (r14: the q_dedup_clusters before-plan carried the full
    # LSH pipeline in both branches).
    p0 = materialize(
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
    )
    edges = p0.unionAll(p0.select(F.col("d").alias("s"), F.col("s").alias("d")))
    if edges.isEmpty():
        # no pairs at all — the COMMON case for a streaming micro-batch
        # probing the incremental index. Skip the propagation machinery
        # entirely (each round costs a join + eager checkpoint +
        # convergence probe, ~seconds of per-batch latency for nothing):
        # every document is its own singleton cluster. The returned plan
        # never reads the (empty) edge checkpoint — free it now.
        release(p0)
        if all_ids is None:
            return pairs.select(
                F.col("id_a").alias(id_col),
                F.col("id_a").alias("cluster_id"),
                F.lit(True).alias("keep"),
            ).limit(0)
        return all_ids.select(
            id_col,
            F.col(id_col).alias("cluster_id"),
            F.lit(True).alias("keep"),
        )
    if max_driver_edges:
        n_edges = edges.count()
        if n_edges <= max_driver_edges:
            rows = edges.collect()  # hard-bounded by max_driver_edges
            release(p0)
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in rows:
                ra, rb = find(r["s"]), find(r["d"])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            nodes = {r["s"] for r in rows} | {r["d"] for r in rows}
            label_rows = [(n, find(n)) for n in sorted(nodes)]
            from pyspark.sql.types import StructField, StructType

            id_type = edges.schema["s"].dataType
            labels_df = spark.createDataFrame(
                label_rows,
                StructType(
                    [
                        StructField("id", id_type, False),
                        StructField("label", id_type, False),
                    ]
                ),
            )
            out = labels_df.select(
                F.col("id").alias(id_col), F.col("label").alias("cluster_id")
            )
            if all_ids is not None:
                out = (
                    all_ids.select(id_col)
                    .join(out, id_col, "left")
                    .withColumn(
                        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
                    )
                )
            return out.withColumn(
                "keep", (F.col(id_col) == F.col("cluster_id")).cast("boolean")
            )
    labels = materialize(
        edges.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iter):
        neighbor = (
            edges.join(labels, edges.d == labels.id)
            .select(F.col("s").alias("id"), "label")
        )
        new_labels = materialize(
            labels.unionByName(neighbor)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "id")
            .where(F.col("label") != F.col("old"))
            .limit(1)
            .count()
        )
        # the convergence probe was this round's LAST read of the old
        # labels — free its blocks before they pile up round over round
        release(labels)
        labels = new_labels
        if changed == 0:
            break
    # the returned plan reads only the final labels; the edge list is done
    release(p0)
    out = labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
    if all_ids is not None:
        out = (
            all_ids.select(id_col)
            .join(out, id_col, "left")
            .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
        )
    # the result is its own checkpoint, so the caller frees it by handle
    out = materialize(
        out.withColumn("keep", (F.col(id_col) == F.col("cluster_id")).cast("boolean"))
    )
    release(labels)
    return out


# ---------------------------------------------------------------------------
# Edit-distance (Levenshtein) near-dup, length-banded
# ---------------------------------------------------------------------------


def near_dup_pairs_editdist(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 8,
    band_width: int = 64,
    max_block: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs by exact Levenshtein distance ≤ ``max_dist``,
    found without an all-pairs comparison: a pair within edit distance d
    has character lengths differing by ≤ d, so docs are blocked on
    ``floor(len / band_width)`` and each doc is emitted into ITS OWN band
    and the next one — any pair with |Δlen| ≤ d < band_width then shares
    at least one band key regardless of which side of a band boundary
    each doc falls on (doc at band p emits {p, p+1}; its partner is in
    band p−1, p, or p+1 and also emits two keys, so the pair meets at p
    or p+1). Complete for ``max_dist < band_width`` (asserted).

    Candidates carry only (id, len, text-ref) through a band-keyed
    equi-join — shuffle is O(rows × 2), never O(n²); the |Δlen| ≤ d
    pre-filter and the threshold form of ``levenshtein`` (early exit at
    ``max_dist+1``) bound the verify cost. ``max_block`` drops bands
    hotter than the cap before the self-join (the minhash ``max_bucket``
    discipline; ``None`` = uncapped/complete).

    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b``. Because the
    blocking is lossless (cap aside), the result equals the quadratic
    definition — which is exactly what the DuckDB contract oracle runs."""
    if max_dist >= band_width:
        raise ValueError(
            f"band completeness needs max_dist ({max_dist}) < band_width ({band_width})"
        )
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        F.length(text_col).cast("long").alias("_len"),
    )
    banded = base.select(
        "_id",
        "_txt",
        "_len",
        F.explode(
            F.array(
                (F.col("_len") / band_width).cast("long"),
                (F.col("_len") / band_width).cast("long") + 1,
            )
        ).alias("_band"),
    )
    if max_block is not None:
        ok = banded.groupBy("_band").count().where(F.col("count") <= max_block).drop("count")
        banded = banded.join(ok, "_band")
    a = banded.select(
        F.col("_band"),
        F.col("_id").alias("id_a"),
        F.col("_txt").alias("_txt_a"),
        F.col("_len").alias("_len_a"),
    )
    b = banded.select(
        F.col("_band").alias("_band_b"),
        F.col("_id").alias("id_b"),
        F.col("_txt").alias("_txt_b"),
        F.col("_len").alias("_len_b"),
    )
    cand = (
        a.join(
            b,
            (a["_band"] == b["_band_b"])
            & (a["id_a"] < b["id_b"])
            & (F.abs(a["_len_a"] - b["_len_b"]) <= max_dist),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    dist = F.levenshtein("_txt_a", "_txt_b", max_dist)
    return (
        cand.withColumn("dist", dist.cast("int"))
        .where(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_posting_docs: int = 10_000,
    eager_cache: bool = False,
) -> DataFrame:
    """ALL pairs with exact shingle-set Jaccard ≥ ``threshold`` via
    prefix filtering (the SSJoin/PPJoin candidate scheme) — the lossless
    alternative to caller-chosen blocking (``ngram_jaccard_pairs_blocked``
    misses pairs that cross a block boundary; this misses nothing).

    Scheme: order every document's shingles by GLOBAL rarity (document
    frequency asc, hash asc — rarest first); a doc of set size m indexes
    only its first ``m − ⌈t·m⌉ + 1`` shingles (its *prefix*). Prefix
    theorem: two sets with Jaccard ≥ t must share at least one prefix
    element under any common total order — J ≥ t forces overlap
    I ≥ t·max(|A|,|B|) ≥ ⌈t·|A|⌉, and a set's prefix of length
    |A| − ⌈t·|A|⌉ + 1 cannot avoid all I common elements — so joining
    prefix postings on the shingle hash finds every qualifying pair.
    Rarity ordering makes prefixes meet in LOW-frequency postings: the
    candidate join's key groups are the corpus's rare shingles, not its
    stopword grams.

    Scale shape: one corpus scan into the persisted (id, set, size)
    table, then the SSJoin core shared with ``fuzzy_join_jaccard`` and
    ``fuzzy_join_editdist`` (``_prefix_candidates``): a partial-
    aggregable dfreq shuffle broadcast back onto the id-partitioned
    postings, a per-doc rank window on that same partitioning, and a
    candidate join that ships only (hash, id, size) rows from the
    ~(1−t)·|set| prefixes. ``max_posting_docs`` caps any degenerate posting group
    (same contract as minhash's ``max_bucket``: drop + document, never
    O(n²) one task); a size-ratio prefilter (min ≥ t·max, implied by
    J ≥ t) cuts candidates before the exact verify, which re-joins the
    two set columns by id and intersects once per surviving pair.

    Determinism: sizes and intersections are exact ints; ``jaccard`` is
    ONE division of exact ints — correctly-rounded IEEE, shipped RAW
    (never ROUND a quotient across engines). Returns
    (``id_a``, ``id_b``, ``jaccard``).
    """
    sets_df = _set_table(df, text_col, id_col, n)
    # Eager fill (r12, bench adjudication): the set table feeds three plan
    # branches (postings, verify side a, verify side b) inside one action — racing tasks block on the cache's
    # compute-or-wait lock while the first fills it, and a loaded host
    # amplifies that stall (the r11 driver sweep: 8.2s flat vs 2.2s
    # committed at calibration drift only 1.29). Filling the cache in a
    # dedicated job first does the same work once, sequenced; see
    # group_overlap_minhash for the full argument (incl. why the default
    # is False since r13: no Spark job at plan-construction time for
    # composing callers; execute-now call sites opt in).
    if eager_cache:
        sets_df.count()
    return _jaccard_prefix_join(sets_df, None, threshold, max_posting_docs).select(
        F.col("_la").alias("id_a"), F.col("_rb").alias("id_b"), F.col("_j").alias("jaccard")
    )


def _prefix_candidates(
    postings: DataFrame, prefix_len: Column, max_posting_docs: int | None, self_join: bool
) -> DataFrame:
    """Candidate pairs of the SSJoin prefix filter (Chaudhuri et al.,
    ICDE 2006), shared by the Jaccard joins and the q-gram path of
    ``fuzzy_join_editdist``.

    ``postings`` holds one row per distinct token ``_h`` of a row ``_id``
    of side ``_side`` (0 = left, 1 = right; every row of a self-join is
    side 0) with the row's size ``_sz``. Every row indexes its first
    ``prefix_len`` tokens (a Column over ``_sz``) under ONE common total
    order: document frequency over the postings of BOTH sides, rarest
    first, then the token. The prefix theorem needs that common order —
    a per-side order would let a qualifying pair's prefixes miss each
    other — and rarity puts the prefixes in the corpus's small posting
    groups. Prefix tokens holding more than ``max_posting_docs`` rows of
    one side are dropped (None = lossless), the degenerate-key cap of
    minhash's ``max_bucket``. Left and right prefix postings then
    equi-join on the token (a self-join keeps ``_la < _rb``).

    Returns (``_la``, ``_sza``, ``_rb``, ``_szb``) — one row per shared
    prefix token, so the caller filters on the sizes and dedups."""
    from pyspark.sql import Window

    def counted(rows: DataFrame, keys: list[str], name: str) -> DataFrame:
        # Form by A/B (docs/SCALE.md "Prefix-filtered set-similarity
        # joins"): one table's postings keep the set table's id
        # partitioning through a groupBy with a broadcast join-back, so
        # the rank window and the pair dedup need no exchange; a count
        # window would shuffle them away. A union of two tables has lost
        # that partitioning, and there the count window wins.
        if self_join:
            return rows.join(rows.groupBy(*keys).agg(F.count("*").alias(name)), keys)
        return rows.withColumn(name, F.count("*").over(Window.partitionBy(*keys)))

    w = Window.partitionBy("_side", "_id").orderBy("_df", "_h")
    prefix = (
        counted(postings, ["_h"], "_df")
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= prefix_len)
        .select("_side", "_id", "_sz", "_h")
    )
    if max_posting_docs is not None:
        # postings count per side; a self-join has one side, and its
        # constant side key would hide the broadcast from the planner
        keys = ["_h"] if self_join else ["_side", "_h"]
        prefix = counted(prefix, keys, "_pc").where(F.col("_pc") <= max_posting_docs)
    a = prefix.where(F.col("_side") == 0).select(
        "_h", F.col("_id").alias("_la"), F.col("_sz").alias("_sza")
    )
    b = prefix.where(F.col("_side") == (0 if self_join else 1)).select(
        F.col("_h").alias("_hb"), F.col("_id").alias("_rb"), F.col("_sz").alias("_szb")
    )
    on = a["_h"] == b["_hb"]
    if self_join:
        on = on & (a["_la"] < b["_rb"])
    return a.join(b, on).select("_la", "_sza", "_rb", "_szb")


def _jaccard_prefix_join(
    left: DataFrame, right: DataFrame | None, threshold: float, max_posting_docs: int
) -> DataFrame:
    """All (``_la``, ``_rb``) pairs of the set tables ``left`` and
    ``right`` (``_set_table``; None = the self-join of ``left``) with
    exact Jaccard ``_j`` ≥ ``threshold``. A set of size m indexes its
    ``m − ⌈t·m⌉ + 1`` prefix: J ≥ t forces overlap I ≥ t·max(|A|,|B|) ≥
    ⌈t·|A|⌉, and a prefix of that length cannot avoid all I common
    elements. The size-ratio bound (J ≥ t ⇒ min ≥ t·max) cuts candidates
    before the exact verify re-joins the full sets by id. ``threshold``
    is taken as an exact rational, so ⌈t·m⌉ and both cuts are integer
    arithmetic (a float ceil would misplace exact-boundary pairs)."""
    from fractions import Fraction

    frac = Fraction(str(threshold)).limit_denominator(10**9)
    tn, td = frac.numerator, frac.denominator

    def postings(sets: DataFrame, side: int) -> DataFrame:
        return sets.select(F.lit(side).alias("_side"), "_id", "_sz", F.explode("_sh").alias("_h"))

    self_join = right is None
    right = left if self_join else right
    allp = postings(left, 0) if self_join else postings(left, 0).unionByName(postings(right, 1))
    ceil_tm = -F.floor((F.col("_sz") * F.lit(-tn)) / F.lit(td))  # ⌈tn·m/td⌉
    cand = (
        _prefix_candidates(allp, F.col("_sz") - ceil_tm + 1, max_posting_docs, self_join)
        .where(F.lit(td) * F.least("_sza", "_szb") >= F.lit(tn) * F.greatest("_sza", "_szb"))
        .select("_la", "_rb")
        .distinct()
    )
    va = left.select(F.col("_id").alias("_la"), F.col("_sh").alias("_sha"))
    vb = right.select(F.col("_id").alias("_rb"), F.col("_sh").alias("_shb"))
    pairs = _with_overlap(cand.join(va, "_la").join(vb, "_rb"), "_sha", "_shb")
    return pairs.where(F.lit(td) * F.col("_i") >= F.lit(tn) * F.col("_u"))


# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. 2021) — the last rung of the dedup ladder
# ---------------------------------------------------------------------------


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """EXACT-substring duplicate spans (Lee et al. 2021, arXiv:2107.06499
    ExactSubstr): every maximal token span of length ≥ ``min_len`` whose
    text occurs verbatim ≥ ``min_count`` times anywhere in the corpus
    (any document, including the same one — the paper counts total
    occurrences, which is what a suffix array sees). This is the exact
    method the fixed-window passes (``boilerplate_span_dedup`` /
    ``intra_doc_span_dedup``) approximate: those can only excise spans
    aligned to their segmentation grid; this finds shared spans at ANY
    offset and of ANY length ≥ min_len.

    The published implementation is a single-node suffix array; that
    shape does not distribute. The distributed equivalence used here is
    the ANCHOR-GRAM identity: a span of length ≥ L is shared iff every
    (equivalently: any) of its L-token windows is shared, so

        { positions inside some shared span of length ≥ L }
      = { positions covered by a duplicated L-gram }

    exactly — no approximation. The plan:

    1. one pass over token positions builds the L-gram at each position
       inside a per-document window frame (``collect_list`` over ROWS
       CURRENT..L−1 FOLLOWING) and immediately collapses it to a 128-bit
       md5 digest — the gram text is TRANSIENT inside the window
       operator, never shuffled or materialized columnar;
    2. duplicated digests = groupBy(digest) HAVING count ≥ min_count —
       one partial-aggregable shuffle of (digest, doc, pos) rows: the
       shuffle is bounded by corpus TOKEN COUNT × 16 bytes, independent
       of min_len and of how hot any gram is (occurrence-LINEAR: a
       boilerplate gram shared by 10⁶ docs contributes 10⁶ rows, never
       10¹² pairs — no hot-key cap needed, unlike the signature joins);
    3. covered positions semi-join the duplicated digests, and the
       intervals [pos, pos+L−1] merge per document with the standard
       gaps-and-islands window (runs of covered positions are ≤ 1 apart
       by construction, so merged spans are exactly the maximal shared
       regions).

    Exactness caveat: two DIFFERENT grams colliding under md5 would
    merge their occurrence counts (probability ≤ n²/2¹²⁸ ≈ 0 at any
    corpus size); the contract oracle applies the identical digesting,
    so the formulations agree even in that event.

    Returns ``(id_col, span_start, span_len)`` — token offsets, 0-based,
    one row per maximal duplicated span. Reference parity: none (the
    reference has no text pipeline); north-star extension.
    """
    from pyspark import StorageLevel

    # the gram table feeds two consumers (the duplicate-count branch and
    # the marks semi-join): persist so tokenize+window+md5 runs once, not
    # twice (the minhash/span doc-table discipline; the caller owns
    # cleanup, per the module docstring)
    grams = anchor_gram_rows(df, text_col, id_col, min_len).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dup = (
        grams.groupBy("_g")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") >= int(min_count))
        .select("_g")
    )
    marks = grams.join(dup, "_g", "left_semi")
    return covered_spans(marks, id_col, min_len)


def anchor_gram_rows(
    df: DataFrame, text_col: str, id_col: str, min_len: int
) -> DataFrame:
    """(id, pos, _g) — the md5 digest of the L-token gram at every token
    position (docs shorter than L emit nothing). The gram text is
    materialized transiently inside the per-doc window and digested
    BEFORE anything shuffles; shared by the batch operator
    (``exact_substring_spans``) and the ingest-time index
    (``streaming.corpus.IncrementalSubstringIndex``), so the two can
    never disagree on what a gram is."""
    from pyspark.sql import Window

    L = int(min_len)
    if L < 2:
        raise ValueError(f"min_len must be ≥ 2, got {min_len}")
    toks = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "_tok")
    )
    wg = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, L - 1)
    return (
        toks.select(
            id_col,
            "pos",
            F.md5(F.concat_ws(" ", F.collect_list("_tok").over(wg))).alias("_g"),
            F.count("_tok").over(wg).alias("_n"),
        )
        .where(F.col("_n") == L)
        .drop("_n")
    )


def covered_spans(marks: DataFrame, id_col: str, min_len: int) -> DataFrame:
    """Merge duplicated-gram positions ``(id, pos)`` into maximal spans
    ``(id, span_start, span_len)`` — gaps-and-islands per document over
    the [pos, pos+L−1] intervals (runs of covered positions are ≤ 1
    apart, so merged spans are exactly the maximal shared regions)."""
    from pyspark.sql import Window

    L = int(min_len)
    iv = marks.select(
        id_col, F.col("pos").alias("_s"), (F.col("pos") + L - 1).alias("_e")
    )
    wo = Window.partitionBy(id_col).orderBy("_s")
    wprev = wo.rowsBetween(Window.unboundedPreceding, -1)
    m = (
        iv.withColumn("_pmax", F.max("_e").over(wprev))
        .withColumn(
            "_new",
            F.when(
                F.col("_pmax").isNull() | (F.col("_s") > F.col("_pmax") + 1), 1
            ).otherwise(0),
        )
        .withColumn("_gid", F.sum("_new").over(wo))
    )
    return m.groupBy(id_col, "_gid").agg(
        F.min("_s").cast("int").alias("span_start"),
        (F.max("_e") - F.min("_s") + 1).cast("int").alias("span_len"),
    ).drop("_gid")


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Apply ``exact_substring_spans``: excise every duplicated span's
    tokens from each document (the Lee et al. removal step — they note
    removing just one copy is possible but drop all, as done here, for
    train/test-leak symmetry). Output ``(id_col, text_clean,
    n_removed)`` — one row per input document; untouched documents pass
    through with ``n_removed = 0``.

    Plan: the span table explodes to covered positions (output-bounded:
    Σ span_len per doc ≤ doc length), anti-joins the token positions,
    and survivors reassemble per document in token order
    (``textops._ordered_text``, the one ordered rebuild)."""
    spans = exact_substring_spans(df, text_col, id_col, min_len, min_count)
    return excise_spans(df, spans, text_col, id_col)


def excise_spans(
    df: DataFrame, spans: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Remove the given token spans ``(id, span_start, span_len)`` from
    each document: explode spans to covered positions (output-bounded:
    Σ span_len per doc ≤ doc length), anti-join the token positions,
    reassemble survivors in order. Shared by the batch dedup and the
    ingest-time index. Output: (id, text_clean, n_removed), every input
    row present."""
    covered = spans.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_start") + F.col("span_len") - 1)
        ).alias("pos"),
    )
    toks = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "_tok")
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    removed = covered.groupBy(id_col).agg(F.count("*").cast("int").alias("n_removed"))
    clean = kept.groupBy(id_col).agg(_ordered_text("pos", "_tok", " ").alias("text_clean"))
    return (
        df.select(id_col)
        .join(clean, id_col, "left")
        .join(removed, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )


def fuzzy_join_editdist(
    left: DataFrame,
    right: DataFrame,
    l_text: str,
    r_text: str,
    l_id: str = "l_id",
    r_id: str = "r_id",
    max_dist: int = 2,
    q: int = 3,
    max_posting_docs: int | None = 10_000,
) -> DataFrame:
    """TWO-TABLE fuzzy equi-join by exact Levenshtein distance ≤
    ``max_dist`` — the entity-resolution shape (scraped titles ↔
    canonical titles, OCR'd names ↔ a registry) that
    ``near_dup_pairs_editdist`` covers only for self-joins.

    Candidate scheme: EDJoin-style RARE-q-GRAM PREFIX filtering, not
    length banding — same-length corpora (titles, product codes, the
    common entity-resolution case) all land in ONE length band, which
    silently degrades banding to the quadratic join (measured: the
    uniform-30-char contract probe at sf0.1 took 54 s banded; grams
    restore the blocking). One edit destroys at most ``q`` q-gram
    occurrences, so two strings within distance d disagree on at most
    ``q·d`` DISTINCT grams per side; under a COMMON total order (gram
    document frequency over the union of both sides, rarest first) the
    two-sided prefix theorem then guarantees any qualifying pair shares
    a gram among each side's ``q·d + 1`` rarest — so only those prefix
    grams are indexed and joined, and rarity ordering makes the join
    keys the corpus's RARE grams, never its stopwords.

    Strings too short to carry the bound (len < q·(d+1), where the
    gram-count argument goes vacuous) route through the |Δlen|-banded
    short path instead; pairs straddling the regimes have both lengths
    within one regime by |Δlen| ≤ d, so the union of the two candidate
    sets is COMPLETE. The |Δlen| ≤ d pre-filter and the THRESHOLD form
    of ``levenshtein`` (early exit past max_dist) bound verify cost;
    ``max_posting_docs`` caps degenerate posting groups per side
    (None = lossless/complete, which is what the contract oracle's
    quadratic join certifies).

    Returns (l_id, r_id, dist)."""
    if max_dist < 0 or q < 1:
        raise ValueError(f"need max_dist >= 0 and q >= 1, got {max_dist}, {q}")
    lmin = q * (max_dist + 1)
    short_bound = lmin + max_dist

    la = left.select(
        F.col(l_id).alias("_la"), F.col(l_text).alias("_ta"),
        F.length(l_text).cast("long").alias("_na"),
    )
    rb = right.select(
        F.col(r_id).alias("_rb"), F.col(r_text).alias("_tb"),
        F.length(r_text).cast("long").alias("_nb"),
    )

    # -- short path: |Δlen|-keyed banding over the bounded-length slice --
    # (band key = length itself; any |Δlen| ≤ d pair meets on the left's
    # length because the right emits lengths len−d..len+d)
    sa = la.where(F.col("_na") <= short_bound).select(
        "_la", F.col("_na").alias("_k")
    )
    sb = rb.where(F.col("_nb") <= short_bound).select(
        "_rb",
        F.explode(
            F.sequence(F.col("_nb") - max_dist, F.col("_nb") + max_dist)
        ).alias("_k"),
    )
    short_cand = sa.join(sb, "_k").select("_la", "_rb")

    # -- gram path: rare-gram prefixes over the ≥ lmin slice --
    def grams(df: DataFrame, txt: str, idc: str, nc: str, side: int) -> DataFrame:
        g = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(txt) - (q - 1)),
                lambda i: F.substr(F.col(txt), i, F.lit(q)),
            )
        )
        return df.select(
            F.lit(side).alias("_side"), F.col(idc).alias("_id"), F.col(nc).alias("_sz"),
            F.explode(g).alias("_h"),
        )

    allg = grams(la.where(F.col("_na") >= lmin), "_ta", "_la", "_na", 0).unionByName(
        grams(rb.where(F.col("_nb") >= lmin), "_tb", "_rb", "_nb", 1)
    )
    gram_cand = (
        _prefix_candidates(allg, F.lit(q * max_dist + 1), max_posting_docs, self_join=False)
        .where(F.abs(F.col("_sza") - F.col("_szb")) <= max_dist)
        .select("_la", "_rb")
    )

    # short-path pairs have |Δlen| ≤ d by construction
    cand = short_cand.unionByName(gram_cand).distinct()
    verified = (
        cand.join(la, "_la")
        .join(rb, "_rb")
        .withColumn("dist", F.levenshtein("_ta", "_tb", max_dist).cast("int"))
        .where(F.col("dist") >= 0)
    )
    return verified.select(
        F.col("_la").alias(l_id), F.col("_rb").alias(r_id), "dist"
    )


def fuzzy_join_jaccard(
    left: DataFrame,
    right: DataFrame,
    l_text: str,
    r_text: str,
    l_id: str = "l_id",
    r_id: str = "r_id",
    n: int = 3,
    threshold: float = 0.5,
    max_posting_docs: int = 10_000,
) -> DataFrame:
    """TWO-TABLE set-similarity join: all (left, right) pairs with exact
    shingle-set Jaccard ≥ ``threshold`` — the Jaccard leg of the fuzzy
    entity-resolution family (``fuzzy_join_editdist`` is the character
    leg; ``jaccard_pairs_prefix`` covers only self-joins).

    Same SSJoin prefix-filter scheme, with the one two-table subtlety
    done right: the prefix theorem requires a COMMON total order over
    shingles, so document frequency is computed over the UNION of both
    sides' postings (a per-side order would let a qualifying pair's
    prefixes miss each other). Each side indexes its first
    ``m − ⌈t·m⌉ + 1`` rarest shingles; L-prefix postings equi-join
    R-prefix postings on the shingle hash; the size-ratio bound
    (td·min ≥ tn·max) cuts candidates before the exact verify re-joins
    the full sets. ``max_posting_docs`` caps degenerate postings (the
    shared-gram stopword guard), counted per side.

    Exact ints throughout; jaccard is one division of exact ints,
    shipped raw. Returns (l_id, r_id, jaccard)."""
    ls = _set_table(left, l_text, l_id, n)
    rs = _set_table(right, r_text, r_id, n)
    return _jaccard_prefix_join(ls, rs, threshold, max_posting_docs).select(
        F.col("_la").alias(l_id), F.col("_rb").alias(r_id), F.col("_j").alias("jaccard")
    )


def canonical_url(url) -> "Column":
    """URL canonicalization for crawl dedup (r11) — the first dedup step
    every web-scale corpus runs BEFORE any content hashing (CommonCrawl
    and its derivatives dedup by canonical URL at ingest; it is ~free
    and removes the bulk of re-crawl duplicates without touching text):

      1. strip the fragment (``#...`` never reaches the server);
      2. strip tracking params (``utm_*``, ``ref``, ``fbclid``) wherever
         they sit in the query string, preserving real params and their
         order, then tidy the separators left behind;
      3. lowercase the scheme+authority (host names are
         case-insensitive; paths are NOT touched — they are
         case-sensitive by spec);
      4. strip trailing slashes from the path.

    Pure ``regexp_replace``/``regexp_extract`` — whole-stage codegen,
    no UDF, embarrassingly parallel; the exact same algebra is
    expressible in any SQL engine (q_dedup_url's DuckDB oracle replays
    it with RE2 syntax). Not a full RFC 3986 normalizer (no percent-
    encoding case-folding, no dot-segment removal, no default-port
    strip) — those are rare in crawl data and each is one more regex in
    the same chain when needed.

    Scheme match and tracking-param names are CASE-INSENSITIVE (r12,
    ADVICE): real crawls carry ``HTTP://HOST/x`` and ``UTM_SOURCE=`` —
    a case-sensitive scheme match silently skipped the host lowering
    (contradicting rule 3) and uppercase tracking params survived the
    strip, splitting dedup groups. ``(?i:...)`` is shared Java-regex /
    RE2 syntax, so the DuckDB oracle replays it verbatim."""
    u = F.regexp_replace(url, r"#.*$", "")
    u = F.regexp_replace(
        u, r"([?&])(?i:utm_[A-Za-z0-9_]+|ref|fbclid)=[^&]*", r"$1"
    )
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]$", "")
    auth = F.regexp_extract(u, r"^((?i:https?)://[^/?]+)", 1)
    tail = u.substr(F.length(auth) + F.lit(1), F.length(u))
    u = F.concat(F.lower(auth), tail)
    return F.regexp_replace(u, r"/+$", "")
