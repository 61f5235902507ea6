"""Corpus filtering: the quality-gate cascade every training-data pipeline
runs before tokenization.

Not reference-derived — north-star extension. The shape matters more than
any single heuristic: each rule is an independent boolean column computed
in ONE projection pass (no per-rule scans), the verdict is their
conjunction, and rejected rows keep their rule bits so the drop reasons
are aggregable ("how much did the length gate cost us?") without a second
pass. At 100 TB this runs fused with the scan — zero shuffles until the
caller aggregates.

All rules are deterministic columnar expressions (codegen); nothing leaves
the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import textops
from .textops import LANG_MARKERS, predicted_lang_from_text, punct_ratio, tokens


def repetition_ratio(text: Column) -> Column:
    """1 - distinct_tokens/total_tokens — the cheap boilerplate/spam signal
    (a 500-token doc of 30 distinct tokens scores 0.94)."""
    return _repetition_from_tokens(tokens(F.lower(text)))


def _repetition_from_tokens(toks: Column) -> Column:
    n = F.size(toks)
    return (1.0 - F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1))).cast("double")


def filter_rules(
    text: Column,
    toks: Column,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    allowed_langs: tuple[str, ...] = ("en",),
    max_punct_ratio: float = 0.2,
    max_repetition: float = 0.6,
) -> dict[str, Column]:
    """The rule set as named boolean columns (True = passes that rule).
    ``toks`` should be a *materialized* lowercased token array attribute:
    the rules reference it 8 times, and an inline tokenize expression would
    be re-evaluated per reference (higher-order functions are interpreted,
    so that multiplies real per-row cost, not just plan size)."""
    n_tok = F.size(toks)
    return {
        "len_ok": (n_tok >= min_tokens) & (n_tok <= max_tokens),
        # r15: the codegen regex form — the interpreted HOF form
        # (an F.filter marker scan) was ~85% of the gate's per-row
        # cost because the argmax chain re-evaluates each language's
        # token filter when interpreted; see textops._marker_count
        "lang_ok": predicted_lang_from_text(F.lower(text)).isin(*allowed_langs),
        "punct_ok": punct_ratio(text) <= max_punct_ratio,
        "rep_ok": _repetition_from_tokens(toks) <= max_repetition,
    }


def apply_corpus_filter(df: DataFrame, text_col: str = "text", **thresholds) -> DataFrame:
    """Annotate every document with its rule bits and the overall verdict
    (``keep``). Two projections (tokens, then rules); filter with
    ``.where("keep")`` or aggregate the bits for a drop report."""
    toked = df.withColumn("__toks", tokens(F.lower(F.col(text_col))))
    rules = filter_rules(F.col(text_col), F.col("__toks"), **thresholds)
    out = toked
    for name, col in rules.items():
        out = out.withColumn(name, col)
    verdict = None
    for name in rules:
        verdict = F.col(name) if verdict is None else (verdict & F.col(name))
    return out.withColumn("keep", verdict).drop("__toks")


def document_stat_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    min_stopwords_present: int = 2,
    max_symbol_pct: int = 10,
    max_dup3_pct: int = 30,
    min_alpha_pct: int = 80,
) -> DataFrame:
    """Document-statistics quality gate (the Gopher-rules family, public
    pretraining practice): five independent per-document rules emitted as
    bit columns plus their conjunction.

    Every threshold is evaluated by integer cross-multiplication on exact
    counts (``10·symbols ≤ n_tok`` rather than ``symbols/n_tok ≤ 0.1``), so
    rule bits are engine-exact — no float ratio ever decides a document's
    fate differently across engines:

    - ``meanlen_ok``: mean token length within [min, max] chars
      (``min·n ≤ Σlen(tok) ≤ max·n``) — too short = tag soup, too long =
      base64/URL debris;
    - ``stop_ok``: ≥ ``min_stopwords_present`` DISTINCT function words
      present — real prose uses several;
    - ``symbol_ok``: tokens that are symbol debris (``#`` runs or ``...``)
      ≤ ``max_symbol_pct`` % of tokens;
    - ``dup3_ok``: duplicated sliding token-trigram fraction ≤
      ``max_dup3_pct`` % — the within-document repetition signal (the
      cross-document form is ``dedup.boilerplate_span_dedup``);
    - ``alpha_ok``: ≥ ``min_alpha_pct`` % of tokens contain a letter.

    One projection pass over a materialized token array, all codegen, zero
    shuffles — same execution contract as ``filter_rules``. Rejects keep
    their bits so drop reasons aggregate without a second scan.
    """
    stop = LANG_MARKERS["en"]
    toked = df.select(
        F.col(id_col), F.col(text_col), tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    n = F.size("_toks")
    tot_chars = F.aggregate("_toks", F.lit(0), lambda a, t: a + F.length(t))
    n_stop = F.size(F.array_intersect(F.array_distinct("_toks"), F.array(*map(F.lit, stop))))
    n_sym = F.size(F.filter(F.col("_toks"), lambda t: t.rlike(r"^#+$") | t.contains("...")))
    tri = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
            lambda i: F.array_join(F.slice("_toks", i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_tri = F.size(tri)
    n_tri_dup = n_tri - F.size(F.array_distinct(tri))
    n_alpha = F.size(F.filter(F.col("_toks"), lambda t: t.rlike("[a-z]")))
    rules = {
        "meanlen_ok": (F.lit(min_mean_word_len) * n <= tot_chars)
        & (tot_chars <= F.lit(max_mean_word_len) * n),
        "stop_ok": n_stop >= F.lit(min_stopwords_present),
        "symbol_ok": F.lit(100) * n_sym <= F.lit(max_symbol_pct) * n,
        "dup3_ok": F.lit(100) * n_tri_dup <= F.lit(max_dup3_pct) * n_tri,
        "alpha_ok": F.lit(100) * n_alpha >= F.lit(min_alpha_pct) * n,
    }
    out = toked.select(
        id_col, *[col.cast("int").alias(name) for name, col in rules.items()]
    )
    keep = None
    for name in rules:
        bit = F.col(name) == 1
        keep = bit if keep is None else (keep & bit)
    return out.withColumn("keep", keep.cast("int"))


def cap_per_group(
    df: DataFrame,
    group_col: str = "source",
    cap: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen by a deterministic hash
    rank of the stable id — the per-domain cap every crawl-derived corpus
    applies so no single site dominates the mixture (public practice:
    C4/RefinedWeb-style domain caps).

    The rank key is ``md5(id)``: a uniform pseudo-random order that every
    engine reproduces (no RNG state, no seed plumbing), with the id itself
    as tiebreak so the selection is total even under hash collisions.
    Capping is a *sample* of each group, not a prefix of it — ranking by
    the raw id would bias the kept set toward whatever the id order
    encodes (usually crawl time).

    Scale: the ``row_number() ≤ cap`` filter plans as ``WindowGroupLimit``
    (Spark ≥ 3.5 rank-limit pushdown) on BOTH sides of the exchange — each
    input partition forwards at most ``cap`` rows per group it sees, so
    the shuffle carries O(partitions·groups·cap) rows, not the corpus,
    and no task ever sorts a mega-domain's full group (the skew story; a
    plan-pin test guards the pushdown from regressing to a bare Window).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def temperature_keep_rates(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.5,
    mod: int = 1000,
) -> DataFrame:
    """Per-group keep-rates (``group_col``, ``rate`` ∈ [0, mod]) that
    reshape the corpus token mixture toward ``share_i ∝ tokens_i^alpha``
    — temperature sampling, the standard pretraining mixture knob
    (alpha=1 keeps the natural mixture; alpha→0 flattens it). Since a
    keep-rate can only DOWNsample, rates normalize so the smallest group
    keeps everything: ``rate_i = floor(mod · (t_min/t_i)^(1-alpha))``.

    Determinism: for the default ``alpha=0.5`` the rate is computed as
    ``sqrt(t_min)/sqrt(t_i)`` — sqrt and one division are both
    correctly-rounded IEEE ops over exact integer token counts, so the
    rates (and therefore sample membership) are bit-identical across
    engines. Other alphas go through ``pow``, whose last-ulp rounding is
    libm-specific — fine for production sampling, not for a hash-exact
    oracle.

    Scale: one partial-aggregable groupBy to a group-cardinality table +
    a 1-row global min — broadcast-sized output; apply with
    ``temperature_sample``."""
    from .textops import token_count

    toks = df.groupBy(group_col).agg(
        F.sum(token_count(F.col(text_col))).alias("_t")
    )
    tmin = toks.agg(F.min("_t").alias("_tmin"))
    joined = toks.crossJoin(F.broadcast(tmin))
    if alpha == 0.5:
        ratio = F.sqrt(F.col("_tmin").cast("double")) / F.sqrt(F.col("_t").cast("double"))
    else:
        ratio = F.pow(
            F.col("_tmin").cast("double") / F.col("_t").cast("double"), F.lit(1.0 - alpha)
        )
    return joined.select(
        group_col, F.floor(F.lit(mod) * ratio).cast("int").alias("rate")
    )


def temperature_sample(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.5,
    id_col: str = "doc_id",
    mod: int = 1000,
) -> DataFrame:
    """Deterministic temperature-mixture downsampling: keep a document
    when its id-hash bucket falls under its group's
    ``temperature_keep_rates`` rate — the same multiplicative-hash
    membership as ``q_sample_rebalance`` (no RNG, row-local predicate),
    but with the per-group rates DERIVED from the corpus mixture instead
    of hand-configured. One tiny broadcast join of the rates table over
    the scan; membership composes with splits/packing because it is pure
    arithmetic on the stable id."""
    rates = temperature_keep_rates(df, group_col, text_col, alpha, mod)
    bucket = (F.col(id_col) * F.lit(1597334677)) % mod
    return df.join(F.broadcast(rates), group_col).where(bucket < F.col("rate"))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 32,
    stride: int | None = None,
) -> DataFrame:
    """Split each document's token stream into fixed-size training chunks:
    (id, chunk_idx, n_tokens, chunk_text). The final chunk keeps the
    remainder. Chunk boundaries are token-aligned and deterministic.

    ``stride`` (default ``max_tokens`` = disjoint windows) sets the step
    between chunk starts; ``stride < max_tokens`` yields OVERLAPPING
    context windows — the standard long-document training shape where
    each chunk carries ``max_tokens - stride`` tokens of left context so
    no next-token prediction ever starts cold at a chunk boundary. Chunk
    i starts at token ``i·stride``; starts past the end are not emitted,
    so every chunk is non-empty and the last chunk may be short.
    ``stride > max_tokens`` raises: it would silently DROP
    ``stride - max_tokens`` tokens between consecutive windows — if
    gap-sampling is what you want, filter chunks downstream instead of
    encoding data loss in the window step (ADVICE r6).

    Columnar construction: ``sequence`` over the chunk count → explode →
    ``slice`` the token array per chunk — row multiplication happens
    executor-side with no shuffle, the 100 TB shape for tokenize-and-pack.
    """
    step = max_tokens if stride is None else stride
    if step <= 0:
        raise ValueError(f"stride must be positive, got {step}")
    if step > max_tokens:
        raise ValueError(
            f"stride ({step}) > max_tokens ({max_tokens}) would silently drop "
            "tokens between windows; sample chunks downstream instead"
        )
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_toks"))
    # number of window starts strictly inside the token stream:
    # ceil(n / step) for the disjoint case generalizes to the count of
    # starts i·step < n
    n_chunks = F.ceil(F.size("_toks") / F.lit(step)).cast("int")
    exploded = base.where(F.size("_toks") > 0).select(
        id_col,
        "_toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("_toks"), F.col("chunk_idx") * step + 1, max_tokens)
    return exploded.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def pack_docs_contiguous(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    capacity: int = 1024,
    n_streams: int = 32,
) -> DataFrame:
    """Assign WHOLE documents to fixed-capacity training bins — the
    document-boundary-preserving packing used when examples must not
    straddle sequences (SFT/instruction corpora, contrastive pairs).
    The concat-then-split GPT-pretraining form, where documents DO
    straddle block boundaries, is ``q_pack_sequences``
    (plans/queries_llm.py) — these are the two standard packing
    disciplines. Returns one row per document:
    ``(id, stream, bin, n_tokens)``.

    Semantics: documents are packed CONTIGUOUSLY in stable ``id_col``
    order within ``n_streams`` independent streams (stream =
    Knuth-multiplicative hash of the id — deterministic, no RNG, the
    same row-local assignment as the samplers). A document lands in the
    bin where its start offset (running token sum before it) falls, so a
    bin may overflow by at most one document's tail — the standard
    "greedy contiguous with overflow" packing; callers who need hard
    caps split first with ``chunk_documents`` (whose chunks then never
    straddle: capacity a multiple of max_tokens keeps slices aligned).

    Scale shape: ONE window prefix-sum per stream — the global-cumsum
    form would serialize the corpus through a single task, the classic
    accidental driver-bottleneck; N independent streams keep every core
    busy and cost one shuffle on the stream key. Packing quality is
    unaffected at corpus scale (each stream sees a uniform sample, so
    per-bin utilization is identical in distribution). All integer
    arithmetic — bin ids are exactly reproducible cross-engine.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    from pyspark.sql import Window

    # overflow-free Knuth mix: reduce the id mod 2^31 BEFORE the multiply
    # so the int64 product never exceeds 2^31·K < 2^63 — a bare id·K
    # would wrap silently in Spark at id > ~3.47e9 (100 TB ids get there)
    # while DuckDB errors on the overflow, splitting the engines exactly
    # where the scale claim applies. For id < 2^31 the value equals the
    # plain (id·K) mod N, so the established sampler arithmetic is
    # unchanged on any realistic test data.
    knuth = 2654435761
    stream = F.pmod(F.pmod(F.col(id_col), F.lit(2**31)) * F.lit(knuth), F.lit(n_streams))
    base = df.select(
        F.col(id_col),
        stream.cast("int").alias("stream"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("stream").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # integral `div`, not floor(double /): a double quotient is exact
    # only below 2^53 summed tokens — div keeps the whole computation in
    # long, matching the oracle's integer // bit-for-bit at any scale
    return base.withColumn(
        "_start", F.sum("n_tokens").over(w) - F.col("n_tokens")
    ).select(
        id_col,
        "stream",
        F.expr(f"_start div {int(capacity)}").cast("long").alias("bin"),
        "n_tokens",
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    k: int,
    salt: int = 2_654_435_761,
) -> DataFrame:
    """Deterministic EXACT-k-per-stratum sample: rank each stratum's rows
    by the Knuth multiplicative hash of the stable id and keep the first
    ``k`` — the companion to ``cap_per_group`` (which caps by arrival
    share) and ``temperature_keep_rates`` (probabilistic rates): this one
    guarantees an exact per-stratum count, the contract an eval-set or
    per-domain probe-set builder needs.

    Output: input columns + ``sample_rank`` (1..k within the stratum).

    Scale: one window shuffle keyed by the stratum; Spark plans the
    ``row_number() <= k`` filter as WindowGroupLimit BELOW the exchange
    (partition-local top-k first), so the shuffle carries at most
    ``k·strata`` rows — the same pushdown the top-k queries pin. No RNG
    state anywhere: any engine, any partitioning, any run reproduces the
    identical sample (the multiplicative hash is the library's standard
    reproducible-split idiom, cf. ``q_split_hash``).

    Hash values stay exact: id·salt ≤ 2^63 for ids < ~3.5e9; for wider id
    spaces pre-fold the id (``pmod(id, 2^31)``) or switch to xxhash64 and
    drop the cross-engine oracle claim."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        (F.col(id_col) * F.lit(salt)) % F.lit(1_000_000_007), F.col(id_col)
    )
    return df.withColumn("sample_rank", F.row_number().over(w).cast("int")).where(
        F.col("sample_rank") <= k
    )


def weighted_sample_wor(
    df: DataFrame,
    id_col: str,
    weight_col: Column,
    k: int,
    max_weight: int = 64,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, probability
    proportional to an integer weight (sample long documents more often:
    weight ∝ tokens — the PPS draw mixture builders need), via
    min-stable unit hashing:

    each row explodes into ``weight`` unit rows, every unit gets the
    md5 of ``(id, unit#)``, the row's key is its MINIMUM unit digest,
    and the sample is the ``k`` rows with the smallest keys. For the
    first draw this is EXACT PPS: P(row i owns the global minimum) =
    w_i/Σw (the uniform-minimum integral telescopes). Subsequent draws
    are the successive-minima relaxation of Efraimidis–Spirakis
    (exact under exponential keys; uniform minima deviate by O(u) at
    the u ≈ k/Σw scale — negligible for k ≪ Σw, and the determinism is
    the contract here, not the last decimal of inclusion probability).

    Everything is integer/string: md5 hex strings ARE the uniform order
    (lexicographic = numeric on fixed-width hex), so there is no float,
    no libm, no RNG — any engine, any partitioning reproduces the same
    sample, and a SQL oracle can replay it verbatim.

    Scale: the explode is the cost — O(Σw) rows, bounded by
    ``max_weight`` (weights clamp to [1, max_weight]; raise it only
    with a reason). Map-side ``min`` collapses each row to one 16-byte
    digest before the exchange, and the global top-k is
    TakeOrderedAndProject — k rows per partition move, never the corpus.

    Output: ``id_col``, ``weight`` (the clamped weight actually used),
    ``sample_rank`` (1..k by ascending key, the draw order)."""
    from pyspark.sql import Window

    w = F.greatest(F.lit(1), F.least(F.lit(max_weight), weight_col)).cast("int")
    units = df.select(F.col(id_col), w.alias("weight")).withColumn(
        "_rep", F.explode(F.sequence(F.lit(1), F.col("weight")))
    )
    keyed = units.groupBy(id_col, "weight").agg(
        F.min(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"), F.lit("#"), F.col("_rep").cast("string")
                )
            )
        ).alias("_key")
    )
    top = keyed.orderBy("_key", id_col).limit(k)
    rank = Window.orderBy("_key", id_col)
    return top.select(
        id_col, "weight", F.row_number().over(rank).cast("int").alias("sample_rank")
    )


def repeat_rates_fixedpoint(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    mod: int = 1000,
    cap_milli: int = 3000,
) -> DataFrame:
    """Per-group REPEAT rates in exact milli-units — the upsampling half
    of mixture construction (``temperature_keep_rates`` can only drop;
    epoch building also needs "see the small source 2.4× per epoch"):
    ``rate_milli = min(cap, (mod · w_max) div w_g)`` so the largest
    group runs at exactly 1.0× and smaller groups are boosted toward
    equal total weight, clamped at ``cap_milli`` (repeating a tiny
    source 50× per epoch memorizes it — the cap is the product guard,
    cf. the ≤4-epochs-of-repetition practice in data-constrained
    scaling). Integer division end-to-end: the rates are bit-identical
    on any engine. One partial-aggregated groupBy + a 1-row broadcast."""
    w = df.groupBy(group_col).agg(F.sum(F.col(weight_col)).alias("_w"))
    wmax = w.agg(F.max("_w").alias("_wmax"))
    return (
        w.crossJoin(F.broadcast(wmax))
        .select(
            group_col,
            F.least(
                F.lit(cap_milli), F.expr(f"({mod} * _wmax) div _w")
            )
            .cast("int")
            .alias("rate_milli"),
        )
    )


def repeat_epoch_copies(
    df: DataFrame,
    group_col: str = "source",
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    mod: int = 1000,
    cap_milli: int = 3000,
    salt: int = 1_597_334_677,
) -> DataFrame:
    """Number of copies of each document in ONE materialized epoch under
    ``repeat_rates_fixedpoint``: ``floor(rate) `` copies always, plus one
    more for the deterministic ``(id·salt) mod 1000 < frac(rate)`` slice
    — so a group at rate 2.4 contributes every doc twice and a stable
    40% of docs a third time, landing the group total within one doc of
    ``rate × n_docs`` with zero RNG. Row-local after a broadcast join of
    the S-row rates table; ``F.explode(F.sequence(1, n_copies))``
    materializes the epoch when the caller wants rows instead of counts.

    Output: ``id_col``, ``group_col``, ``n_copies`` (int ≥ 0; a rate
    below 1.0 downsamples — floor 0 plus the fractional slice)."""
    rates = repeat_rates_fixedpoint(df, group_col, weight_col, mod, cap_milli)
    bucket = (F.col(id_col) * F.lit(salt)) % F.lit(mod)
    return df.join(F.broadcast(rates), group_col).select(
        id_col,
        group_col,
        (
            F.expr(f"rate_milli div {mod}")
            + (bucket < F.col("rate_milli") % F.lit(mod)).cast("int")
        )
        .cast("int")
        .alias("n_copies"),
    )


def dsir_importance(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> DataFrame:
    """DSIR-style importance scores (Xie et al. 2023, arXiv:2302.03169):
    rank a raw corpus by how much its documents look like a TARGET
    distribution, using unigram bag likelihood ratios — the
    data-selection step before pretraining on quality-matched data.

        score(D) = Σ_w c_D(w) · ln( p_target(w) / p_proposal(w) )

    with add-1-smoothed unigram models fit on the target slice
    (``is_target`` rows) and the rest (the proposal). High score =
    target-like.

    ``n_buckets`` hashes features (``xxhash64(token) % n_buckets``) —
    the paper's hashed-feature design, which bounds the model table to
    ``n_buckets`` rows at ANY corpus size; ``None`` keeps raw unigrams
    (vocabulary-sized model — the oracle-checkable form, since no
    engine-portable string hash exists across Spark/DuckDB).

    Determinism discipline (the q_text_entropy precedent): each
    feature's log-ratio snaps to an INTEGER 1e-6 grid
    (``CAST(ROUND(ln(...)·1e6) AS BIGINT)``) so the per-doc sum is an
    exact bigint Σ c·lw — order-free, partition-free — and ships raw.
    Inputs to ``ln`` are one division of exactly-representable integer
    products (counts and totals ≪ 2^53).

    Scale shape: the BM25 plan — one token explode, one (feature)
    model aggregation whose output is vocabulary/bucket-sized and
    BROADCASTS, one (doc, feature) count shuffle, one per-doc sum.
    Returns (``id_col``, ``is_target`` int, ``score_e6`` bigint).
    """
    toks = df.select(
        F.col(id_col),
        is_target.cast("int").alias("_tgt"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("_w"),
    )
    if n_buckets is not None:
        toks = toks.withColumn(
            "_w", F.pmod(F.xxhash64("_w"), F.lit(n_buckets)).cast("string")
        )
    model = toks.groupBy("_w").agg(
        F.sum("_tgt").cast("long").alias("_ct"),
        F.sum(1 - F.col("_tgt")).cast("long").alias("_cp"),
    )
    stats = model.agg(
        F.sum("_ct").alias("_tt"),
        F.sum("_cp").alias("_tp"),
        F.count("*").alias("_v"),
    )
    num = (F.col("_ct") + 1).cast("double") * (F.col("_tp") + F.col("_v")).cast("double")
    den = (F.col("_cp") + 1).cast("double") * (F.col("_tt") + F.col("_v")).cast("double")
    lw = F.round(F.log(num / den) * F.lit(1000000.0)).cast("long")
    weighted = model.crossJoin(F.broadcast(stats)).select("_w", lw.alias("_lw"))
    per_doc_term = toks.groupBy(id_col, "_tgt", "_w").agg(
        F.count("*").cast("long").alias("_c")
    )
    scored = (
        per_doc_term.join(F.broadcast(weighted), "_w")
        .groupBy(id_col, "_tgt")
        .agg(F.sum(F.col("_c") * F.col("_lw")).alias("score_e6"))
    )
    return df.select(F.col(id_col), is_target.cast("int").alias("is_target")).join(
        scored.select(id_col, "score_e6"), id_col, "left"
    ).select(id_col, "is_target", F.coalesce("score_e6", F.lit(0)).alias("score_e6"))


def duplication_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    canonical: bool = False,
) -> DataFrame:
    """Duplication-aware example weights: every document gets
    ``weight = 1 / n_copies`` where ``n_copies`` is the size of its
    byte-identical (or, with ``canonical=True``, normalized-form) group
    — the soft alternative to dropping duplicates: total loss mass per
    distinct text is constant, so boilerplate can't dominate training
    while every copy's metadata/provenance survives (the "weight, don't
    delete" option in dedup practice).

    Plan: sha2-digest groupBy (fixed-width shuffle keys, map-side
    combine — the exact-dedup tier's cost) then one digest equi-join
    back. ``weight`` is ONE raw division of exact longs — correctly
    rounded, hash-stable across engines. Output: every input row as
    (id, n_copies, weight); Σ weight = number of distinct texts,
    exactly.
    """
    from .dedup import canonical_text

    key = canonical_text(F.col(text_col)) if canonical else F.col(text_col)
    d = df.select(F.col(id_col), F.sha2(key, 256).alias("_dig"))
    sizes = d.groupBy("_dig").agg(F.count("*").cast("long").alias("n_copies"))
    return (
        d.join(sizes, "_dig")
        .select(
            id_col,
            "n_copies",
            (F.lit(1.0) / F.col("n_copies").cast("double")).alias("weight"),
        )
    )


def stratified_split(
    df: DataFrame,
    group_col: str,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Deterministic train/val/test split with EXACT per-group
    proportions — the stratified upgrade of the global hash split
    (``curation.split_col``): a global ``(id·KNUTH) mod 100`` gives each
    SOURCE only expected-value proportions, so small domains can land
    90/10/0 by luck and the eval set stops representing them; here every
    group contributes exactly ⌈p·n_g⌉-bounded counts.

    Mechanics: md5-rank within each group (the ``cap_per_group``
    ordering — deterministic, id-keyed, engine-agnostic), then integer
    threshold buckets: row r of n (1-based) is train iff
    ``r·100 ≤ train_pct·n``, val iff ``r·100 ≤ (train_pct+val_pct)·n``
    — pure integer cross-multiplication, no float rounding to disagree
    across engines. Per-group counts are exact floors:
    ``n_train = ⌊train_pct·n/100⌋`` per group, guaranteed.

    One window per group (same shuffle cap_per_group already pays);
    at 100 TB the rank window is per-group-bounded, never global.
    Returns the input rows + ``split``."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    n = Window.partitionBy(group_col)
    r = F.row_number().over(w).cast("long")
    cnt = F.count("*").over(n).cast("long")
    split = (
        F.when(r * 100 <= int(train_pct) * cnt, "train")
        .when(r * 100 <= int(train_pct + val_pct) * cnt, "val")
        .otherwise("test")
    )
    return df.withColumn("split", split)


#: PII detection patterns (r11): the email class is EXACTLY
#: textops.REDACTION_PATTERNS' email pattern (one definition of "email"
#: across scrub and audit — a count computed with a different regex than
#: the scrub would certify the wrong thing); the phone class is narrower
#: than the redaction pass's digit-run pattern because a COUNT needs
#: precision where a scrub wants recall. RE2-compatible (no lookarounds)
#: so the same strings run as Java regex and DuckDB RE2.
PII_EMAIL_RE = textops.EMAIL_RE
PII_PHONE_RE = r"\b555-[0-9]{4}\b"
PII_COUNT_PATTERNS: tuple[tuple[str, str], ...] = (
    (PII_EMAIL_RE, "<EMAIL>"),
    (PII_PHONE_RE, "<PHONE>"),
)


def pii_counts(text) -> dict[str, "Column"]:
    """Per-row PII hit counts + the redacted text — the AUDIT companion
    of ``textops.redact`` (q_text_redact scrubs; this counts what was
    scrubbed and feeds the release-gate summary), and the text-side
    complement to the k-anonymity/l-diversity column audits.
    All codegen (`regexp_count` + the shared redact chain), no UDF;
    counts are exact ints so the gate summary hash-compares across
    engines. Callers aggregate — the per-doc frame never ships."""
    return {
        "n_emails": F.regexp_count(text, F.lit(PII_EMAIL_RE)).cast("long"),
        "n_phones": F.regexp_count(text, F.lit(PII_PHONE_RE)).cast("long"),
        "redacted": textops.redact(text, PII_COUNT_PATTERNS),
    }


#: Frozen linear quality model (r11): integer word weights + bias on the
#: synthetic corpus vocabulary — what a released fasttext-style quality
#: classifier's top features look like after integer quantization (real
#: deployments broadcast ~10^6 hashed-feature weights the same way; the
#: plan does not change). Integer weights keep every score exact.
QUALITY_WEIGHTS: dict[str, int] = {
    "table": 5, "query": 4, "join": 4, "window": 3, "agg": 3,
    "stream": 3, "spark": 2, "merge": 2, "sort": 2, "group": 2,
    "slow": -3, "small": -2, "a": -4, "the": -1, "of": -2,
}
QUALITY_BIAS = -2


def classify_quality(
    docs: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: dict[str, int] | None = None,
    bias: int | None = None,
    threshold: int = 0,
) -> "DataFrame":
    """Linear document quality classifier — the production shape of the
    fasttext-style quality gate every curated corpus runs (CCNet,
    Gopher, LLaMA all score with a linear model over token features):
    ``score = bias + Σ weight(token)``, keep when ``score ≥ threshold``.

    Plan: explode tokens (the only corpus-sized frame), inner-join the
    BROADCAST weight table (absent tokens contribute 0 — the join drops
    them, which IS the +0), one id-keyed groupBy. No UDF anywhere and
    the model rides the broadcast, so scoring 100 TB is one shuffle of
    the matched-token frame (vocabulary-filtered — far smaller than the
    corpus). Integer weights ⇒ exact int64 scores ⇒ the gate decision
    hash-compares across engines (q_text_classify).

    Output: ``(id_col, score, keep)``; keep is int 0/1."""
    w = weights if weights is not None else QUALITY_WEIGHTS
    b = bias if bias is not None else QUALITY_BIAS
    spark = docs.sparkSession
    wtab = spark.createDataFrame(
        [(k, v) for k, v in sorted(w.items())], "word string, weight int"
    )
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
        ).alias("word"),
    )
    scored = (
        toks.join(F.broadcast(wtab), "word")
        .groupBy(id_col)
        .agg(F.sum("weight").cast("long").alias("_s"))
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            (F.coalesce(F.col("_s"), F.lit(0)) + F.lit(b)).cast("long").alias("score"),
            F.when(
                F.coalesce(F.col("_s"), F.lit(0)) + F.lit(b) >= threshold, 1
            )
            .otherwise(0)
            .cast("int")
            .alias("keep"),
        )
    )
