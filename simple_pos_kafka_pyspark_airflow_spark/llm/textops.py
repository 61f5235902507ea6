"""Text analysis operators over a document corpus.

All pure Column expressions (JVM, codegen) — tokenization, counting and
ratio features never leave the executors and never call Python. Designed
for a ``documents(doc_id, text, lang, source, n_chars)`` table but
parameterized on column names.

Scale: each op is embarrassingly parallel (per-row); the only shuffles are
the aggregations a caller adds on top. At 100 TB, run as a single
mapInPandas-free projection pass fused with the scan.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Tiny per-language function-word lists for the n-gram/stopword language
#: heuristic. Deliberately ASCII and deterministic (no model download).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "la", "los", "que", "de", "es"),
    "zh": ("de5",),  # placeholder marker; honest fallback is 'und'
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization: split on runs of whitespace, drop empties.

    Implemented as ``regexp_extract_all(text, '\\S+')`` — each match IS a
    maximal non-whitespace run, so the result equals splitting on ``\\s+``
    and dropping empty strings (leading/trailing/multiple whitespace
    included; property-pinned in tests/test_properties.py). The earlier
    ``split`` + ``F.filter`` form was NOT codegen: ``F.filter`` is an
    interpreted higher-order function (CodegenFallback), and this kernel
    sits under every gram/token consumer in the module — the r8 bench
    caught the HOF as a measurable regression on q_text_phrase.
    """
    return F.regexp_extract_all(text, F.lit(r"\S+"), 0)


def token_count(text: Column) -> Column:
    """Number of whitespace tokens (int)."""
    return F.size(tokens(text)).cast("int")


def bpe_ish_token_count(text: Column) -> Column:
    """Cheap LLM-token estimate: count word-pieces matched by a BPE-ish
    regex (letter runs, digit runs, single non-space symbols) — the
    standard pre-tokenizer split, without a merges table. RE2-compatible
    (no lookarounds) so the same pattern runs in DuckDB oracles."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)).cast(
        "int"
    )


#: PII-shaped patterns, RE2-compatible (no lookarounds) so the identical
#: pattern runs in DuckDB oracles. Deliberately simple: recall-oriented
#: scrubbing for training corpora, not a compliance tool. Named
#: constants (r12, ADVICE): downstream audits (llm/filtering.pii_counts)
#: share the EXACT scrub pattern by name — indexing REDACTION_PATTERNS
#: by position made a reorder silently swap the email count for the
#: phone regex while the certified oracle kept the old string.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_SCRUB_RE = r"[0-9]{3}[- ][0-9]{3,4}[- ]?[0-9]{0,4}"
REDACTION_PATTERNS: tuple[tuple[str, str], ...] = (
    (EMAIL_RE, "<EMAIL>"),
    (PHONE_SCRUB_RE, "<PHONE>"),
)


def redact(text: Column, patterns: tuple[tuple[str, str], ...] = REDACTION_PATTERNS) -> Column:
    """Scrub PII-shaped substrings (emails, phone-like digit runs) — the
    standard pre-training redaction pass. Chained ``regexp_replace`` stays
    in codegen; replaces ALL occurrences (DuckDB needs the 'g' flag for
    the same semantics)."""
    out = text
    for pattern, token in patterns:
        out = F.regexp_replace(out, pattern, token)
    return out


def char_count(text: Column) -> Column:
    return F.length(text).cast("int")


def space_count(text: Column) -> Column:
    """Spaces via length delta — no regex engine needed."""
    return (F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit("")))).cast("int")


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    stripped = F.regexp_replace(text, r"[A-Za-z0-9 ]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def _marker_count(lowered_text: Column, markers: tuple[str, ...]) -> Column:
    """Occurrence count of tokens exactly equal to any marker word, as ONE
    whole-stage-codegen ``regexp_count`` pass over the (already
    lowercased) text — the r15 replacement for the interpreted
    ``F.filter(toks, isin)`` higher-order form (CodegenFallback; measured
    the dominating cost of the quality gate once the argmax chain
    repeated it per language). Equivalence with the token form: tokens
    are maximal ``\\S+`` runs, so a token equals a marker iff the marker
    appears preceded by start-or-whitespace and followed by
    whitespace-or-end; the leading ``(?:^|\\s)`` consumes at most the one
    delimiter before the match and the trailing guard is a lookahead, so
    adjacent marker tokens ("to a") each count. Markers are plain
    lowercase words (test-pinned), so no regex escaping is needed.
    Pinned equal to the HOF form on real + adversarial corpora in
    tests/test_llm_ops.py."""
    pat = r"(?:^|\s)(?:" + "|".join(markers) + r")(?=\s|$)"
    return F.regexp_count(lowered_text, F.lit(pat))


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    """Fraction of tokens that are function words — a classic quality
    signal (real prose ≈ 0.3-0.5; keyword spam ≈ 0)."""
    low = F.lower(text)
    hits = _marker_count(low, stopwords)
    return hits / F.greatest(F.size(tokens(low)), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence −
    punctuation excess. Deterministic, explainable, columnar."""
    n_tok = token_count(text)
    length_ok = F.when((n_tok >= 5) & (n_tok <= 100_000), F.lit(0.5)).otherwise(F.lit(0.0))
    stop_part = F.least(stopword_ratio(text) * 2, F.lit(0.3))
    punct_penalty = F.least(punct_ratio(text), F.lit(0.2))
    return length_ok + stop_part - punct_penalty + F.lit(0.2)


def lang_scores(text: Column) -> Column:
    """Map of language → marker-hit count; argmax (ties → lexicographic
    language code) is the predicted language. Counts via the codegen
    ``_marker_count`` regex (r15), one pass per language."""
    low = F.lower(text)
    return F.map_from_arrays(
        F.array(*[F.lit(lang) for lang in sorted(LANG_MARKERS)]),
        F.array(
            *[
                _marker_count(low, markers)
                for lang, markers in sorted(LANG_MARKERS.items())
            ]
        ),
    )


def predicted_lang(text: Column) -> Column:
    """Argmax over per-language marker hits; ties break to the
    lexicographically-smallest code, zero hits → 'und'. A when-chain over a
    handful of languages constant-folds into one codegen expression."""
    return predicted_lang_from_text(F.lower(text))


def predicted_lang_from_text(lowered_text: Column) -> Column:
    """``predicted_lang`` over an already-lowercased text column — the
    codegen single-evaluation form (r15): per-language occurrence counts
    via ``_marker_count`` regex passes, argmax-ed by ONE ``array_max``
    over (score, tie_rank, winner) structs so every count is evaluated
    exactly once per row. The naive when-chain argmax re-evaluates each
    score under its conditional branches (Spark's subexpression
    elimination skips expressions inside when/if arms), which measured
    ~4× the five raw regex passes; the interpreted higher-order
    ``F.filter`` form was worse still and dominated
    ``apply_corpus_filter`` inside every curation query. Tie-break and
    zero-hit semantics are encoded IN the structs: ``tie_rank`` makes
    the lexicographically-smallest code win equal scores, and a sentinel
    ``(0, +1, 'und')`` entry outranks every zero-score language (real
    tie_ranks are ≤ 0) while losing to any positive score, so the
    all-zero case needs no second look at the array. Pinned equal to
    the HOF reference form (kept in tests/test_llm_ops.py) on real +
    adversarial corpora."""
    codes = sorted(LANG_MARKERS)
    entries = [
        F.struct(
            _marker_count(lowered_text, LANG_MARKERS[c]).alias("s"),
            F.lit(-i).alias("r"),
            F.lit(c).alias("c"),
        )
        for i, c in enumerate(codes)
    ]
    sentinel = F.struct(
        F.lit(0).cast("int").alias("s"), F.lit(1).alias("r"), F.lit("und").alias("c")
    )
    return F.array_max(F.array(*entries, sentinel))["c"]


def sliding_grams(toks: Column, n: int) -> Column:
    """All sliding word n-grams of a token array, space-joined — THE gram
    definition: every n-gram consumer (occurrence counts, exact-collision
    decontamination, and their DuckDB oracles) must share it, or a
    tokenization tweak in one silently desynchronizes the others."""
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )


def ngram_occurrence_counts(df, text_col: str = "text", n: int = 2):
    """Corpus-wide word n-gram occurrence counts: (ngram, n_occ), every
    SLIDING occurrence counted (not per-doc distinct) — the raw statistic
    behind vocabulary audits, contamination probes ("is this benchmark
    phrase in the corpus?") and boilerplate discovery.

    Scale shape: explode sliding windows executor-side (no shuffle for the
    row multiplication), then one groupBy where map-side partial
    aggregation collapses each partition's counts before the exchange — the
    shuffle carries one row per DISTINCT n-gram per partition, not one per
    occurrence. Top-k consumers should ``orderBy(...).limit(k)`` so Spark
    plans TakeOrderedAndProject (per-partition heaps, no global sort).
    Docs shorter than ``n`` tokens contribute nothing, mirroring sliding
    semantics.
    """
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(toks.alias("_toks")).where(F.size("_toks") >= n)
    return (
        base.select(F.explode(sliding_grams(F.col("_toks"), n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n_occ"))
    )


def heavy_hitters_topk(df, text_col: str = "text", n: int = 2, k: int = 20, capacity: int | None = None):
    """Top-k n-grams via distributed Misra–Gries: the bounded-exchange
    alternative to ``ngram_occurrence_counts`` + top-k, for corpora whose
    DISTINCT n-gram vocabulary is itself too large to shuffle (the exact
    form's exchange carries one row per distinct gram per partition —
    at 100 TB of web text that is the vocabulary times the partition
    count).

    Three stages:

    1. per-partition candidate summaries — one ``mapInPandas`` pass
       keeping a Misra–Gries summary of ``capacity`` grams (merged
       batch-wise via the mergeable-summaries rule: add the batch's
       counts, then subtract the (capacity+1)-th largest running count
       from everything and drop non-positives). MG guarantees any gram
       with partition frequency > partition_size/capacity survives;
    2. the candidate union (≤ partitions × capacity rows — thousands,
       not the vocabulary) broadcasts back against the gram stream for
       ONE exact recount restricted to candidates;
    3. exact top-k over the recounted candidates (TakeOrderedAndProject,
       (count desc, gram asc) total order).

    Sketch errors therefore only ever MISS deep-tail items (a true
    heavy hitter with global frequency > total/capacity appears in some
    partition's summary); every REPORTED count is exact. Default
    ``capacity = 8·k`` leaves a deep margin; raise it if the k-th item's
    frequency approaches total/capacity. Gram definition (lowercase
    whitespace tokens, sliding windows) is shared with every other gram
    consumer via ``sliding_grams``."""
    import pandas as pd

    cap = capacity or 8 * k
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(toks.alias("_toks")).where(F.size("_toks") >= n)
    grams = base.select(F.explode(sliding_grams(F.col("_toks"), n)).alias("ngram"))

    def mg_summaries(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for g, c in pdf["ngram"].value_counts().items():
                counters[g] = counters.get(g, 0) + int(c)
            if len(counters) > cap:
                # subtract the (cap+1)-th largest count from all, drop <=0
                cut = sorted(counters.values(), reverse=True)[cap]
                counters = {g: c - cut for g, c in counters.items() if c > cut}
        if counters:
            yield pd.DataFrame({"ngram": list(counters)})

    candidates = grams.mapInPandas(mg_summaries, "ngram string").distinct()
    return (
        grams.join(F.broadcast(candidates), "ngram")
        .groupBy("ngram")
        .agg(F.count("*").alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("ngram"))
        .limit(k)
    )


def corpus_mixture(df, group_cols=("source", "lang"), text_col: str = "text"):
    """Per-group corpus composition — the data-mixture table every
    pretraining run is configured from: document count, token count, each
    group's share of all corpus tokens, and mean tokens per document.
    Its output is what feeds back into per-stratum sampling rates
    (``q_sample_rebalance``) and per-domain caps
    (``filtering.cap_per_group``).

    Shapes: one groupBy (map-side partial agg collapses each partition to
    one row per group before the exchange), then the grand total — a
    single row — joins back via broadcast. Shares and means divide exact
    integer counts, so the doubles are bit-identical across engines with
    no rounding step.
    """
    g = (
        df.select(*group_cols, token_count(F.col(text_col)).alias("_n"))
        .groupBy(*group_cols)
        .agg(F.count("*").alias("n_docs"), F.sum("_n").alias("sum_tokens"))
    )
    total = g.agg(F.sum("sum_tokens").alias("_tot"))
    return g.join(F.broadcast(total)).select(
        *group_cols,
        "n_docs",
        "sum_tokens",
        (F.col("sum_tokens") / F.col("_tot")).alias("token_share"),
        (F.col("sum_tokens") / F.col("n_docs")).alias("mean_tokens"),
    )


def fingerprint(text: Column, prime: int = 1_000_003, mod: int = (1 << 61) - 1) -> Column:
    """Deterministic polynomial rolling-hash fingerprint of the token
    stream: ``sum(hash_i * prime^i) mod m`` folded left with
    ``F.aggregate`` — order-sensitive (unlike a token-set hash), pure
    columnar, reproducible across engines that implement xxhash64."""
    toks = tokens(text)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(prime) + F.abs(F.xxhash64(t))) % F.lit(mod),
    )


def fingerprint_portable(
    text: Column, prime: int = 1_000_003, mod: int = 2_147_483_647
) -> Column:
    """``fingerprint`` with an engine-portable token hash: each token maps
    to the integer value of the first 7 hex chars of its SHA-256 (< 2^28 —
    SHA-256 is universally available, unlike xxhash64), folded as
    ``acc·prime + h  mod  2^31−1``. Bounds are chosen so no intermediate
    exceeds ~2^52: engines that RAISE on int64 overflow (rather than wrap)
    compute the identical value, which is what makes the fingerprint
    cross-engine verifiable — the property the xxhash64 form can't offer.
    Same order-sensitivity, same columnar execution."""
    toks = tokens(text)
    h = lambda t: F.conv(F.substring(F.sha2(t, 256), 1, 7), 16, 10).cast("long")  # noqa: E731
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(prime) + h(t)) % F.lit(mod),
    )


def token_distribution(df, text_col: str = "text", top_n: int = 100):
    """The corpus's token frequency profile as a comparable histogram:
    (bin, frac) over the ``top_n`` most frequent whitespace tokens (count
    desc, token asc tiebreak — deterministic) plus an ``<oov>`` bucket
    folding everything else, with ``corpus`` as a constant group column so
    the frame plugs straight into ``operators.validation.psi_drift``.

    One explode + partial-aggregable count shuffle; the top-n pick is
    TakeOrderedAndProject and every driver-side object is O(top_n).
    """
    from pyspark.sql import functions as F

    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), "bin").limit(top_n).collect()
    total = counts.agg(F.sum("n").alias("t")).first()["t"] or 1
    top_total = sum(r["n"] for r in top)
    rows = [("corpus", r["bin"], r["n"], r["n"] / total) for r in top]
    rows.append(("corpus", "<oov>", total - top_total, (total - top_total) / total))
    return df.sparkSession.createDataFrame(
        rows, "corpus string, bin string, n long, frac double"
    )


def token_distribution_against(df, reference_dist, text_col: str = "text"):
    """The live side of token drift: histogram ``df`` against the
    REFERENCE's vocabulary (its bins are the only valid bins — unseen
    tokens fold into ``<oov>``), so the two frames share edges and
    ``psi_drift(reference_dist, this)`` is meaningful. The vocab rides a
    broadcast-sized literal ``isin`` (≤ top_n tokens)."""
    from pyspark.sql import functions as F

    vocab = [r["bin"] for r in reference_dist.select("bin").collect() if r["bin"] != "<oov>"]
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    binned = toks.select(
        F.when(F.col("tok").isin(vocab), F.col("tok")).otherwise("<oov>").alias("bin")
    )
    counts = binned.groupBy("bin").agg(F.count("*").alias("n"))
    totals = counts.agg(F.sum("n").alias("t")).first()["t"] or 1
    return counts.select(
        F.lit("corpus").alias("corpus"),
        "bin",
        "n",
        (F.col("n") / F.lit(float(totals))).alias("frac"),
    )


def unigram_logprob_scores(df, text_col: str = "text", id_col: str = "doc_id"):
    """Model-free fluency scoring: each document's mean unigram
    log-probability under the CORPUS'S OWN token distribution — the
    perplexity-filter shape (CCNet/KenLM practice) without an external
    LM: documents full of tokens the corpus rarely uses (garbled
    encodings, boilerplate codes, exotic spam) score far below prose, and
    a threshold on the score is the filter. Output: (id_col, n_tokens,
    mean_logprob) — zero-token documents produce no row (their mean is
    undefined).

    Scale shape: one partial-aggregable token-count shuffle builds the
    frequency table; the per-occurrence join back is keyed by the token —
    hot stopword keys are the classic skew, handled by broadcasting the
    frequency table when the vocabulary fits (tens of millions of tokens
    × ~16 B — usually it does) and AQE skew-join otherwise; the final
    per-doc mean is another partial-aggregable shuffle on the id. The
    exploded token stream is computed twice (freq build + scoring join) —
    deliberate: at corpus scale persisting the occurrence stream costs
    more than re-scanning.

    Determinism: counts and the total are exact integers; ``c/N`` is one
    correctly-rounded division; ``ln`` is libm-level (last-ulp varies
    across engines) and the per-doc mean is summation-order-dependent, so
    the score rounds to 6 dp — the library's cross-engine float
    discipline (same as TF-IDF's ln path)."""
    from pyspark.sql import functions as F

    toks = df.select(F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("_tok"))
    freq = toks.groupBy("_tok").agg(F.count("*").alias("_c"))
    total = freq.agg(F.sum("_c").alias("_n"))
    scored = (
        toks.join(F.broadcast(freq), "_tok")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.log(F.col("_c").cast("double") / F.col("_n").cast("double")).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_tokens"),
        F.round(F.avg("_lp"), 6).alias("mean_logprob"),
    )


def bm25_scores(
    df,
    query_terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
):
    """Okapi BM25 retrieval scores for a fixed bag of ``query_terms`` over
    the corpus — the standard lexical ranker (Robertson/Spärck Jones),
    with the +1 idf smoothing so scores stay positive:

        idf(t)  = ln(1 + (N − df + 0.5) / (df + 0.5))
        tfpart  = tf·(k1+1) / (tf + k1·(1 − b + b·len/avglen))
        score   = Σ_t  idf(t) · tfpart(t, D)

    Output: ``(id_col, n_terms, score)`` for every document containing at
    least one query term (``n_terms`` = how many distinct query terms hit).

    Scale shape: the token stream is filtered to the query terms BEFORE
    the tf shuffle, so the grouped state is O(matching occurrences), not
    O(corpus tokens); document length is a per-row projection fused with
    the scan (no second explode); ``df`` per term and the (N, avglen)
    stats are |terms|-row / 1-row aggregates that ride broadcasts. One
    corpus scan computes lengths + the filtered stream; two partial-
    aggregable shuffles (doc×term tf, per-doc sum).

    Determinism: tf/df/len/N are exact integers; avglen is one division
    of exact integers; k1/b parse to the same doubles in any IEEE engine.
    Per-term contributions round to 4 dp, the per-doc sum of those
    on-grid values re-rounds at the same 4 dp (the library's money-sum
    pattern: ties sit half a grid step away), so the driver's value hash
    matches DuckDB bit-for-bit."""
    from pyspark.sql import functions as F

    terms = [t.lower() for t in query_terms]
    docs = df.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_toks")
    ).select(id_col, "_toks", F.size("_toks").cast("long").alias("_len"))
    stats = docs.agg(
        F.count("*").cast("long").alias("_n_docs"),
        F.sum("_len").alias("_len_sum"),
    )
    toks = docs.select(
        id_col, "_len", F.explode("_toks").alias("_tok")
    ).where(F.col("_tok").isin(terms))
    tf = toks.groupBy(id_col, "_tok", "_len").agg(F.count("*").cast("long").alias("_tf"))
    dfreq = tf.groupBy("_tok").agg(F.count("*").cast("long").alias("_df"))
    nd = F.col("_n_docs").cast("double")
    avglen = F.col("_len_sum").cast("double") / nd
    idf = F.log(
        F.lit(1.0) + (nd - F.col("_df").cast("double") + F.lit(0.5)) / (F.col("_df").cast("double") + F.lit(0.5))
    )
    tfd = F.col("_tf").cast("double")
    tfpart = (tfd * F.lit(k1 + 1.0)) / (
        tfd + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("_len").cast("double") / avglen)
    )
    contrib = F.round(idf * tfpart, 4)
    scored = (
        tf.join(F.broadcast(dfreq), "_tok")
        .join(F.broadcast(stats))
        .select(id_col, contrib.alias("_c"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_terms"),
        F.round(F.sum("_c"), 4).alias("score"),
    )


def token_entropy(df, group_col: str = "source", text_col: str = "text"):
    """Per-group Shannon entropy (nats) of the unigram distribution plus
    the type-token ratio — the two classic corpus-diversity signals a
    mixture designer reads before weighting sources (low entropy ⇒
    template/boilerplate-heavy source; low TTR ⇒ repetitive vocabulary).

    Output: ``(group_col, n_tokens, n_types, entropy, ttr)``.

    H = ln(T) − Σ n·ln(n) / T over per-token counts n (algebraic
    rearrangement of −Σ p·ln p that needs no per-token division).

    Scale shape: one explode into a (group, token) partial-aggregable
    count shuffle, then a group-cardinality aggregation — vocabulary
    never leaves the executors and no all-token state exists anywhere.

    Determinism (the driver hash-compares against DuckDB): Σ n·ln(n) is
    a float sum whose value would depend on summation order, so each
    term is snapped to a 1e-6 grid as an INTEGER (``ROUND(n·ln n · 1e6)
    → BIGINT``) and the sum is exact 64-bit arithmetic — order-free and
    bit-identical across engines. Bound: the snapped sum stays inside
    int64 for corpora up to ~10^12 total n·ln n nats (≈ a trillion-token
    group); past that, drop the grid to 1e3 in both engines."""
    from pyspark.sql import functions as F

    counts = (
        df.select(
            F.col(group_col).alias("_grp"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("_tok"),
        )
        .groupBy("_grp", "_tok")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    per = counts.groupBy("_grp").agg(
        F.sum("_n").alias("_t"),
        F.count("*").cast("long").alias("_v"),
        F.sum(
            F.round(F.col("_n").cast("double") * F.log(F.col("_n").cast("double")) * F.lit(1000000.0), 0).cast(
                "long"
            )
        ).alias("_s"),
    )
    td = F.col("_t").cast("double")
    return per.select(
        F.col("_grp").alias(group_col),
        F.col("_t").cast("long").alias("n_tokens"),
        F.col("_v").alias("n_types"),
        F.round(
            F.log(td) - (F.col("_s").cast("double") / F.lit(1000000.0)) / td, 4
        ).alias("entropy"),
        F.round(F.col("_v").cast("double") / td, 4).alias("ttr"),
    )


def phrase_search(
    df,
    phrase: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Exact-phrase search via a positional postings self-count — the
    inverted-index primitive BM25's bag-of-words ranking can't express
    (``"slow hash batch"`` must match those words *adjacent and in
    order*).

    Each posting ``(doc, pos, term)`` whose term is the phrase's i-th word
    votes for candidate start ``pos − i``; a start position where all k
    distinct offsets voted is a match. Output: ``(id_col, n_matches,
    first_pos)`` for documents with ≥1 occurrence, ``first_pos`` 1-based
    in TOKEN positions — positions index the shared ``tokens()`` stream
    (split on whitespace runs, empties dropped), the same kernel every
    other gram consumer in this module uses (ADVICE r7: the earlier raw
    ``split(\\s+)`` positions diverged from the oracle on consecutive
    whitespace).

    Scale shape: the token stream is filtered to the phrase's terms BEFORE
    any shuffle (same discipline as ``bm25_scores``), then ONE
    partial-aggregable groupBy on (doc, start) and a per-doc rollup — no
    k-way self-join, no join at all. Cost is O(occurrences of phrase
    terms), not O(corpus tokens), and repeated words inside the phrase are
    handled for free (each offset i votes independently; a start matches
    only when all k offsets are present).

    Determinism: pure integer positions — the DuckDB oracle
    (string_split + generate_subscripts) is value-exact.
    """
    from pyspark.sql import functions as F

    terms = [t.lower() for t in phrase]
    k = len(terms)
    # term → its offsets inside the phrase, inlined as a literal CASE of
    # tiny arrays (k entries) so the whole vote expansion stays in the ONE
    # projection fused with the scan — a per-term union would re-scan the
    # corpus k times.
    offmap: dict[str, list[int]] = {}
    for i, t in enumerate(terms):
        offmap.setdefault(t, []).append(i)
    off_expr = F.lit(None).cast("array<int>")
    for t, offs in offmap.items():
        off_expr = F.when(
            F.col("_tok") == t, F.array(*[F.lit(i) for i in offs])
        ).otherwise(off_expr)
    postings = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("_pos", "_tok"),
    ).where(F.col("_tok").isin(terms))
    votes = postings.select(
        id_col, "_pos", F.explode(off_expr).alias("_off")
    ).select(id_col, (F.col("_pos") - F.col("_off")).alias("_start"), "_off")
    hits = (
        votes.groupBy(id_col, "_start")
        .agg(F.countDistinct("_off").alias("_k"))
        .where((F.col("_k") == k) & (F.col("_start") >= 0))
    )
    return hits.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_matches"),
        (F.min("_start") + 1).cast("int").alias("first_pos"),
    )


def collocation_lift(df, text_col: str = "text", min_count: int = 5, k: int = 20):
    """Top-k bigram collocations by pointwise lift — the corpus-phrase
    discovery statistic (PMI's monotone argument, kept as an exact
    rational instead of its logarithm):

        lift(w1 w2) = T · c(w1 w2) / (c(w1) · c(w2))

    with T = total token count. lift > 1 ⇒ the pair co-occurs more than
    independence predicts; ranking by lift equals ranking by PMI (ln is
    monotone) with zero libm in the plan.

    Output: ``(bigram, n, lift)`` — top ``k`` by (lift desc, bigram asc)
    among bigrams with ``n ≥ min_count`` (the classic support floor: a
    hapax pair of two hapax words has sky-high lift and no significance).

    Scale shape: the shared ``sliding_grams`` kernel feeds two
    partial-aggregable count shuffles (unigrams, bigrams); the bigram
    table joins the unigram table twice on the split words (shuffles
    sized by VOCABULARY, not corpus); T is a 1-row broadcast. Top-k plans
    as TakeOrderedAndProject — per-partition heaps, no global sort.

    Determinism: counts are exact int64; lift is ONE division of exact
    integer products — bit-identical in any IEEE engine, shipped raw.
    Overflow: T·n and c·c stay in int64 up to ~10⁹-token corpora with
    ~10⁹-occurrence grams; past that widen to DECIMAL(38,0) in both
    engines."""
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(toks.alias("_toks"))
    uni = (
        base.select(F.explode("_toks").alias("_w"))
        .groupBy("_w")
        .agg(F.count("*").cast("long").alias("_c"))
    )
    big = (
        base.where(F.size("_toks") >= 2)
        .select(F.explode(sliding_grams(F.col("_toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("n"))
        .where(F.col("n") >= min_count)
    )
    tot = uni.agg(F.sum("_c").cast("long").alias("_t"))
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    w2 = F.split(F.col("bigram"), " ").getItem(1)
    u1 = uni.select(F.col("_w").alias("_w1"), F.col("_c").alias("_c1"))
    u2 = uni.select(F.col("_w").alias("_w2"), F.col("_c").alias("_c2"))
    joined = (
        big.withColumn("_w1", w1)
        .withColumn("_w2", w2)
        .join(u1, "_w1")
        .join(u2, "_w2")
        .crossJoin(F.broadcast(tot))
    )
    lift = (F.col("_t") * F.col("n")).cast("double") / (
        F.col("_c1") * F.col("_c2")
    ).cast("double")
    return (
        joined.select("bigram", "n", lift.alias("lift"))
        .orderBy(F.desc("lift"), F.asc("bigram"))
        .limit(k)
    )


def rrf_fuse(rankings, id_col: str = "doc_id", k: int = 60):
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of any
    number of rankings: ``rrf(d) = Σ_i 1/(k + rank_i(d))``, the standard
    zero-tuning way to combine heterogeneous retrieval signals (BM25 +
    dense cosine + recency + quality priors) — rank-based, so wildly
    different score scales need no normalization.

    ``rankings``: DataFrames with (``id_col``, ``r``) where ``r`` is the
    1-based rank; an id absent from a ranking contributes 0 (the
    standard convention). Ranks must come from DETERMINISTIC orderings
    (unique tiebreak), or the fusion inherits the tie.

    Scale shape: full outer joins on the id — rankings are CANDIDATE
    lists (top-k of upstream retrievers, thousands of rows), so the
    fusion is broadcast-sized by construction; never feed it a
    whole-corpus ranking at scale (a global rank is a global sort —
    fine for the contract query's 5k docs, wrong at 100 TB). The RRF
    sum is a fixed left-to-right chain of correctly-rounded divisions —
    deterministic cross-engine."""
    from functools import reduce as _reduce

    out = None
    for i, r in enumerate(rankings):
        r = r.select(F.col(id_col), F.col("r").alias(f"_r{i}"))
        out = r if out is None else out.join(r, id_col, "full")
    terms = [
        F.coalesce(
            F.lit(1.0) / (F.col(f"_r{i}") + F.lit(k)).cast("double"), F.lit(0.0)
        )
        for i in range(len(rankings))
    ]
    return out.select(F.col(id_col), _reduce(lambda a, b: a + b, terms).alias("rrf"))


def gopher_repetition(df, text_col: str = "text", id_col: str = "doc_id", ns=(2, 3)):
    """Gopher-style repetition metrics (Rae et al. 2021, Table A1): per
    document, the fraction of n-gram mass inside DUPLICATED n-grams —
    ``dup{n}_frac = Σ_{g: c_g≥2} c_g·len(g) / Σ_g c_g·len(g)`` over the
    sliding word n-grams (char-length-weighted, so long repeated
    phrases dominate short ones). The named pretraining filter for
    within-document repetition (docs above ~0.2 at n=2 are template/
    spam-like); complements ``intra_doc_span_dedup`` (which EDITS) by
    SCORING without modification.

    Exactness: numerator/denominator are exact int64 sums (counts ×
    char lengths); the fraction ships as ONE raw division — bit-
    identical cross-engine. Docs with < n tokens have no n-grams →
    NULL frac (emitted explicitly, not 0: "no signal" ≠ "no
    repetition").

    Scale shape per n: the sliding-gram explode is executor-side row
    multiplication (no shuffle), then two partial-aggregable doc-keyed
    shuffles ((doc, gram) counts → per-doc sums) — the
    ``intra_doc_span_dedup`` cost envelope, O(corpus tokens), never
    corpus²."""
    toks = tokens(F.lower(F.col(text_col)))
    out = df.select(F.col(id_col))
    for n in ns:
        # the >= n guard matters beyond the obvious empty result:
        # sliding_grams on a shorter doc builds sequence(1, size-n+1)
        # with an end BELOW the start — a DESCENDING sequence whose 0
        # index crashes F.slice (ngram_occurrence_counts guards the
        # same way)
        g = df.select(F.col(id_col), toks.alias("_toks")).where(
            F.size("_toks") >= n
        ).select(
            F.col(id_col), F.explode(sliding_grams(F.col("_toks"), n)).alias("_g")
        )
        per_gram = g.groupBy(id_col, "_g").agg(F.count("*").alias("_c"))
        mass = F.col("_c") * F.length("_g")
        per_doc = per_gram.groupBy(id_col).agg(
            F.sum(F.when(F.col("_c") >= 2, mass).otherwise(F.lit(0))).alias(f"dup{n}_num"),
            F.sum(mass).alias(f"dup{n}_den"),
        )
        out = out.join(per_doc, id_col, "left")
    sel = [F.col(id_col)]
    for n in ns:
        num, den = F.col(f"dup{n}_num"), F.col(f"dup{n}_den")
        sel += [
            F.coalesce(num, F.lit(0)).alias(f"dup{n}_num"),
            F.coalesce(den, F.lit(0)).alias(f"dup{n}_den"),
            F.when(den > 0, num.cast("double") / den.cast("double")).alias(f"dup{n}_frac"),
        ]
    return out.select(*sel)


def cooccurrence_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_support: int = 2,
    max_doc_items: int = 200,
) -> DataFrame:
    """Frequent token CO-OCCURRENCE pairs (2-itemsets, the A-priori
    shape): unordered token pairs appearing together — at ANY distance —
    in ≥ ``min_support`` documents, with their lift against independent
    occurrence. Complements ``collocation_lift`` (ADJACENT bigrams):
    co-occurrence sees topical association ("spark" with "shuffle"
    three sentences apart) that adjacency misses.

    A-priori pruning keeps this off the quadratic cliff: a pair can be
    frequent only if BOTH tokens are frequent (downward closure), so

    1. per-doc DISTINCT tokens (presence, not counts — one row per
       (doc, token));
    2. token document-frequencies; tokens under ``min_support`` are
       pruned BEFORE any pair forms (on Zipfian text this removes the
       long tail — most of the vocabulary);
    3. docs carrying more than ``max_doc_items`` frequent tokens are
       excluded from pair forming (C(k,2) per doc — the cap bounds the
       worst document at C(cap,2); the standard degenerate-doc guard,
       same family as minhash's max_bucket);
    4. pairs form by a doc-keyed self-join (tok_a < tok_b orders the
       pair canonically) and count distinct docs ≥ min_support.

    Lift = n_docs·df(a,b) / (df(a)·df(b)) — ONE division of exact ints,
    hash-stable. Output: (tok_a, tok_b, n_pair_docs, lift).
    """
    toks = df.select(
        F.col(id_col).alias("_d"),
        F.explode(F.array_distinct(tokens(F.lower(F.col(text_col))))).alias("_t"),
    )
    n_docs = df.select(id_col).distinct().count()
    dfreq = toks.groupBy("_t").agg(F.count("*").cast("long").alias("_df"))
    frequent = dfreq.where(F.col("_df") >= int(min_support))
    ft = toks.join(frequent, "_t").select("_d", "_t", "_df")
    sizes = ft.groupBy("_d").agg(F.count("*").alias("_k"))
    pool = ft.join(
        sizes.where(F.col("_k") <= int(max_doc_items)).select("_d"), "_d"
    )
    a = pool.select(
        F.col("_d"), F.col("_t").alias("tok_a"), F.col("_df").alias("_dfa")
    )
    b = pool.select(
        F.col("_d").alias("_db"), F.col("_t").alias("tok_b"), F.col("_df").alias("_dfb")
    )
    pairs = (
        a.join(b, (a["_d"] == b["_db"]) & (a["tok_a"] < b["tok_b"]))
        .groupBy("tok_a", "tok_b", "_dfa", "_dfb")
        .agg(F.count("*").cast("long").alias("n_pair_docs"))
        .where(F.col("n_pair_docs") >= int(min_support))
    )
    return pairs.select(
        "tok_a",
        "tok_b",
        "n_pair_docs",
        (
            (F.lit(int(n_docs)) * F.col("n_pair_docs")).cast("double")
            / (F.col("_dfa") * F.col("_dfb")).cast("double")
        ).alias("lift"),
    )


def tf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    q_id_col: str = "query_id",
    k: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """SPARSE lexical retrieval: top-k corpus documents per query doc by
    TERM-FREQUENCY cosine, via an INVERTED-INDEX join — the sparse leg
    of the similarity family (dense exact/LSH/IVF/PQ live in
    ``simsearch``; ``bm25_scores`` ranks against one fixed term bag,
    this ranks doc-against-doc).

    Plan: postings (doc, term, tf) both sides; the join is keyed by
    TERM, so only documents SHARING a term ever meet — the whole point
    of an inverted index: cost follows posting-list sizes, not
    |corpus|×|queries|. ``max_df`` drops terms present in more than
    that many corpus docs BEFORE the join (the stopword lever — a
    universal term's posting list is the corpus, and it contributes
    near-zero discrimination; this is the hot-key cap of this operator,
    same role as minhash's max_bucket).

    Exactness discipline (the grouped_corr recipe): tf values are
    integers, so dots and squared norms are EXACT int64 sums
    (order-free, partial-aggregable); cosine is then one fixed tree of
    correctly-rounded IEEE ops over exact ints — bit-identical on any
    engine, shipped raw. Top-k per query by (score desc, id) rides the
    WindowGroupLimit pushdown. Self-matches are excluded.

    Returns (query_id, id_col, dot, score, rn)."""

    def postings(df: DataFrame, idc: str, out_id: str) -> DataFrame:
        return (
            df.select(F.col(idc).alias(out_id), F.explode(tokens(F.lower(F.col(text_col)))).alias("_t"))
            .groupBy(out_id, "_t")
            .agg(F.count("*").cast("long").alias("_tf"))
        )

    # NOT persisted: the norm and dot consumers read byte-identical
    # exchange subtrees of each postings table, which ReuseExchange
    # already dedupes at runtime — an explicit persist measured as a
    # wash at best (r14 A/B) while adding token-level cache churn.
    cp = postings(corpus, id_col, "_cid")
    qp = postings(queries, q_id_col, "_qid")
    if max_df is not None:
        keep = (
            cp.groupBy("_t").agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= int(max_df))
            .select("_t")
        )
        cp = cp.join(keep, "_t")
        qp = qp.join(keep, "_t")
    cn = cp.groupBy("_cid").agg(F.sum(F.col("_tf") * F.col("_tf")).alias("_cn2"))
    qn = qp.groupBy("_qid").agg(F.sum(F.col("_tf") * F.col("_tf")).alias("_qn2"))
    dots = (
        qp.select("_qid", "_t", F.col("_tf").alias("_tfq"))
        .join(cp.select("_cid", "_t", F.col("_tf").alias("_tfc")), "_t")
        .where(F.col("_qid") != F.col("_cid"))
        .groupBy("_qid", "_cid")
        .agg(F.sum(F.col("_tfq") * F.col("_tfc")).alias("dot"))
    )
    scored = (
        dots.join(F.broadcast(qn), "_qid")
        .join(cn, "_cid")
        .select(
            F.col("_qid").alias(q_id_col),
            F.col("_cid").alias(id_col),
            "dot",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("_qn2").cast("double"))
                    * F.sqrt(F.col("_cn2").cast("double"))
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy(q_id_col).orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= k)
        .select(q_id_col, id_col, "dot", "score", "rn")
    )


def bigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff: float = 0.4,
) -> DataFrame:
    """Model-free fluency scoring, ORDER-AWARE: each document's mean
    bigram log-probability under the corpus's own distribution with
    stupid backoff (Brants et al. 2007) — the n-gram upgrade of
    ``unigram_logprob_scores`` that a bag-of-words score cannot match:
    shuffled prose keeps its unigram score but craters here, because
    the signal is P(w_i | w_{i-1}), not P(w_i).

        lp_i = ln( c(w_{i-1} w_i) / c(w_{i-1}) )          bigram seen
             = ln( backoff · c(w_i) / N )                  otherwise

    Output (id_col, n_bigrams, mean_logprob); single-token and empty
    documents produce no row (no bigram positions).

    Scale shape mirrors the unigram op: one partial-aggregable bigram
    count shuffle + one unigram count shuffle build the tables (both
    vocabulary-sized — bigram vocab is the larger but still Zipf-tailed);
    the per-position join back is keyed by the bigram with the unigram
    backoff columns joined alongside; broadcast when the tables fit,
    AQE skew-join otherwise. Same cross-engine float discipline: exact
    integer counts, one division per term, ln is libm-level and the
    mean is order-dependent — ROUND(mean, 6)."""
    lower = F.lower(F.col(text_col))
    toks = df.select(F.col(id_col), tokens(lower).alias("_ts")).where(
        F.size("_ts") >= 2
    )
    big = toks.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.slice("_ts", 1, F.size("_ts") - 1).alias("w1"),
                F.slice("_ts", 2, F.size("_ts") - 1).alias("w2"),
            )
        ).alias("_b"),
    ).select(id_col, F.col("_b.w1").alias("_w1"), F.col("_b.w2").alias("_w2"))
    uni = (
        df.select(F.explode(tokens(lower)).alias("_w"))
        .groupBy("_w")
        .agg(F.count("*").cast("long").alias("_cu"))
    )
    total = uni.agg(F.sum("_cu").alias("_n"))
    bi = big.groupBy("_w1", "_w2").agg(F.count("*").cast("long").alias("_cb"))
    scored = (
        big.join(F.broadcast(bi), ["_w1", "_w2"], "left")
        .join(F.broadcast(uni.select(F.col("_w").alias("_w1"), F.col("_cu").alias("_c1"))), "_w1")
        .join(F.broadcast(uni.select(F.col("_w").alias("_w2"), F.col("_cu").alias("_c2"))), "_w2")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.when(
                F.col("_cb").isNotNull(),
                F.log(F.col("_cb").cast("double") / F.col("_c1").cast("double")),
            )
            .otherwise(
                F.log(
                    F.lit(float(backoff))
                    * F.col("_c2").cast("double")
                    / F.col("_n").cast("double")
                )
            )
            .alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_bigrams"),
        F.round(F.avg("_lp"), 6).alias("mean_logprob"),
    )


#: Integer-grid NDCG position weights: W[p] = floor(1e9 / log2(p+1)) for
#: ranks p = 1..10, precomputed ONCE as literals so both engines evaluate
#: pure int64 arithmetic — per-engine log2/pow calls are not guaranteed
#: correctly rounded, and a one-ulp disagreement inside a SUM would break
#: hash certification. Scaling by 1e9 keeps the grid fine enough that the
#: floor never reorders two real DCG values (gains are ≤ 15 per position).
NDCG_WEIGHTS_10: tuple[int, ...] = (
    1_000_000_000,
    630_929_753,
    500_000_000,
    430_676_558,
    386_852_807,
    356_207_187,
    333_333_333,
    315_464_876,
    301_029_995,
    289_064_826,
)


def ndcg_at_k(
    df,
    query_col: str,
    doc_col: str,
    rel_col,
    score_col,
    k: int = 10,
):
    """Per-query NDCG@k (Järvelin & Kekäläinen 2002) on the INTEGER grid —
    the retrieval-evaluation companion of ``rrf_fuse`` (which combines
    rankings; this grades one). The metric every retrieval-augmented
    training pipeline tracks per release.

        DCG@k  = Σ_{p=1..k} (2^rel(p) − 1) · W[p]
        nDCG@k = DCG@k / IDCG@k   (IDCG = DCG of the rel-sorted ideal)

    with W the precomputed ``NDCG_WEIGHTS_10`` literals: gains are exact
    int64 (rel is a small graded integer; 2^rel−1 ≤ 15 at rel ≤ 3; 10
    positions × 15 × 1e9 ≪ 2^63), both DCG sums are order-free integer
    aggregations, and the final ratio is ONE IEEE division of two exact
    integers — bit-identical across engines. Ties are total-ordered by
    ``doc_col`` on BOTH the run ranking (score DESC, doc) and the ideal
    ranking (rel DESC, doc), so the metric is deterministic even on
    degenerate score distributions.

    Physical shape: two row_number windows over the SAME per-query
    shuffle partitioning (one sort each), each truncated to k rows
    map-side by WindowGroupLimit, then a per-query integer aggregate and
    a broadcast-sized join of the two k-row-per-query frames. Queries
    with no relevant docs at all (IDCG = 0) yield NULL ndcg via NULLIF,
    identically in both engines.

    Output: ``(query, dcg_scaled, idcg_scaled, ndcg)``."""
    if k > len(NDCG_WEIGHTS_10):
        raise ValueError(f"k={k} exceeds the precomputed weight grid ({len(NDCG_WEIGHTS_10)})")
    wts = F.array(*[F.lit(w) for w in NDCG_WEIGHTS_10[:k]])
    # NULL relevance = unjudged = gain 0 (the TREC convention); a raw
    # NULL would poison the int64 DCG sum into NULL for the whole query
    base = df.select(
        F.col(query_col).alias("query"),
        F.col(doc_col).alias("_doc"),
        F.coalesce(rel_col.cast("long"), F.lit(0)).alias("_rel"),
        score_col.alias("_score"),
    )
    gain = (F.pow(F.lit(2.0), F.col("_rel").cast("double")).cast("long") - 1) * F.element_at(
        wts, F.col("_p")
    )
    run_w = Window.partitionBy("query").orderBy(F.col("_score").desc(), F.col("_doc"))
    dcg = (
        base.withColumn("_p", F.row_number().over(run_w))
        .where(F.col("_p") <= k)
        .groupBy("query")
        .agg(F.sum(gain).cast("long").alias("dcg_scaled"))
    )
    ideal_w = Window.partitionBy("query").orderBy(F.col("_rel").desc(), F.col("_doc"))
    idcg = (
        base.withColumn("_p", F.row_number().over(ideal_w))
        .where(F.col("_p") <= k)
        .groupBy("query")
        .agg(F.sum(gain).cast("long").alias("idcg_scaled"))
    )
    return dcg.join(idcg, "query").select(
        "query",
        "dcg_scaled",
        "idcg_scaled",
        (
            F.col("dcg_scaled").cast("double")
            / F.nullif(F.col("idcg_scaled").cast("double"), F.lit(0.0))
        ).alias("ndcg"),
    )


def retrieval_metrics_at_k(
    df,
    query_col: str,
    doc_col: str,
    rel_col,
    score_col,
    k: int = 10,
):
    """Per-query MRR and recall@k — the binary-relevance companions of
    ``ndcg_at_k`` (graded): together the three are the standard
    retrieval-eval report. Relevance is binarized as ``rel > 0`` (NULL =
    unjudged = not relevant, the TREC convention shared with NDCG).

    Both metrics are exact integer ratios, so certification needs no
    float discipline at all beyond two final IEEE divisions:

        first_rel_rank — rank of the first relevant doc in the run
                         ordering (score DESC, doc ASC total order)
        mrr            = 1 / first_rel_rank      (NULL if none)
        hits_at_k      — relevant docs at rank ≤ k
        n_rel          — total relevant docs for the query
        recall_at_k    = hits_at_k / n_rel       (NULL if n_rel = 0)

    Physical shape: ONE row_number window per query (same shuffle as the
    NDCG run ranking), then a single per-query aggregate — min-of-rank
    and two conditional counts are all partial-aggregable; nothing about
    the query's full ranking ships anywhere. Queries with no relevant
    docs yield NULL metrics via NULLIF, identically in both engines."""
    base = df.select(
        F.col(query_col).alias("query"),
        F.col(doc_col).alias("_doc"),
        (F.coalesce(rel_col.cast("long"), F.lit(0)) > 0).alias("_rel"),
        score_col.alias("_score"),
    )
    w = Window.partitionBy("query").orderBy(F.col("_score").desc(), F.col("_doc"))
    ranked = base.withColumn("_p", F.row_number().over(w))
    agg = ranked.groupBy("query").agg(
        F.min(F.when(F.col("_rel"), F.col("_p"))).cast("long").alias("first_rel_rank"),
        F.sum(F.when(F.col("_rel") & (F.col("_p") <= k), 1).otherwise(0))
        .cast("long")
        .alias("hits_at_k"),
        F.sum(F.when(F.col("_rel"), 1).otherwise(0)).cast("long").alias("n_rel"),
    )
    return agg.select(
        "query",
        "first_rel_rank",
        "hits_at_k",
        "n_rel",
        (F.lit(1.0) / F.col("first_rel_rank").cast("double")).alias("mrr"),
        (
            F.col("hits_at_k").cast("double")
            / F.nullif(F.col("n_rel").cast("double"), F.lit(0.0))
        ).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# HTML / markup text extraction — the web-crawl front door
# ---------------------------------------------------------------------------

#: HTML entities the extractor decodes, applied IN ORDER after tag
#: stripping. ``&amp;`` is deliberately LAST: decoding it first would
#: double-decode ``&amp;lt;`` to ``<`` (one decode pass must yield
#: ``&lt;`` — the literal text the author escaped). ``&nbsp;`` becomes a
#: plain space BEFORE whitespace normalization so it collapses like any
#: other run. Shared with the DuckDB oracle as a literal replace chain.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)

#: Block-level elements whose open/close tags delimit LINES for the
#: boilerplate rule (jusText scores blocks; C4 scores lines — both need
#: a segmentation that follows document structure, not source newlines).
_BLOCK_TAGS = (
    "p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|thead|tbody|section|article|"
    "header|footer|nav|aside|blockquote|pre|form|hr"
)


def _decode_entities(t: Column) -> Column:
    for entity, plain in HTML_ENTITIES:
        t = F.replace(t, F.lit(entity), F.lit(plain))
    return t


def _visible(fragment: Column) -> Column:
    """Visible text of an HTML fragment: strip every remaining tag, decode
    entities, collapse whitespace. Entity decode runs AFTER the tag strip
    so a decoded ``&lt;b&gt;`` stays literal text, never a tag."""
    t = F.regexp_replace(fragment, r"(?s)<[^>]*>", " ")
    t = _decode_entities(t)
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def _remove_nonvisible(html: Column) -> Column:
    """Drop content that never renders: script/style/title bodies (title
    is document METADATA — chrome, not body text) and comments. Dotall +
    case-insensitive, lazy quantifiers so adjacent blocks don't merge."""
    h = F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", " ")
    h = F.regexp_replace(h, r"(?is)<style[^>]*>.*?</style>", " ")
    h = F.regexp_replace(h, r"(?is)<title[^>]*>.*?</title>", " ")
    return F.regexp_replace(h, r"(?s)<!--.*?-->", " ")


def strip_markup(html: Column) -> Column:
    """Plain visible text of an HTML document — scripts, styles and
    comments removed WITH their content (they never render), every tag
    stripped, entities decoded, whitespace collapsed. No boilerplate
    judgment: this is the conservative extraction (RefinedWeb's
    "trafilatura-then-filter" step 1) for callers that run their own
    line rules; ``extract_html_text_rows`` adds the C4/jusText-shape rule.
    Pure codegen regex — no UDF, embarrassingly parallel, and the exact
    chain replays in DuckDB RE2 (q_text_extract_html)."""
    h = _remove_nonvisible(html)
    return _visible(h)


def _html_lines(html: Column) -> Column:
    """Stages 1-2 of the extraction: strip non-rendering content, then
    segment into lines at block-element boundaries."""
    h = _remove_nonvisible(html)
    h = F.regexp_replace(h, r"(?i)</?(?:" + _BLOCK_TAGS + r")\b[^>]*>", "\n")
    return F.split(h, "\n")


def _html_line_scored(
    x: Column, min_words: int, tn: int, td: int
) -> tuple[Column, Column]:
    """Stage 3, per line: (visible text, keep?) — word count ≥ min_words
    AND link density ≤ tn/td by exact integer cross-multiplication."""
    vis = _visible(x)
    anchor_vis = _visible(
        F.array_join(
            F.regexp_extract_all(x, F.lit(r"(?is)<a\b[^>]*>(.*?)</a>"), 1),
            " ",
        )
    )
    n_words = F.when(vis == "", F.lit(0)).otherwise(F.size(F.split(vis, " ")))
    keep = (n_words >= F.lit(min_words)) & (
        F.length(anchor_vis) * F.lit(td) <= F.length(vis) * F.lit(tn)
    )
    return vis, keep


def extract_html_text_rows(
    df: DataFrame,
    html: Column,
    id_cols: list[str],
    min_words: int = 3,
    max_link_density: float = 0.5,
) -> DataFrame:
    """Boilerplate-filtered visible text of HTML documents — the first
    rung of the web-crawl pipeline (every dedup/quality gate downstream
    assumes extraction already happened; C4 and RefinedWeb both start
    here):

      1. remove non-rendering content (``<script>``/``<style>``/``<title>``
         with bodies, comments — ``(?is)`` dotall+case-insensitive, lazy
         quantifier so adjacent blocks don't merge);
      2. segment into LINES at block-element boundaries (``<p>``,
         ``<div>``, ``<br>``, headings, list items, table cells … —
         structure-following segmentation, not source newlines);
      3. per line, the two classic boilerplate signals: word count of
         the visible text (C4 drops short fragments) and LINK DENSITY —
         visible characters inside ``<a>`` anchors over all visible
         characters (jusText's core rule; nav bars and footers are
         link-dense, body prose is not). Keep when words ≥ ``min_words``
         AND link_chars ≤ ``max_link_density``·total_chars — the
         threshold compares as an exact integer cross-multiplication
         (``Fraction`` of the float, same discipline as the dedup
         thresholds) so engines can't disagree on the boundary;
      4. join kept lines with ``\\n`` in page order (``_ordered_text``),
         entities decoded, whitespace collapsed per line.

    ``n_lines`` counts NONEMPTY visible lines (segmentation artifacts
    don't inflate the denominator); ``n_kept`` the survivors. An ``<a>``
    spanning a block boundary counts per fragment (documented
    approximation — real extractors parse, this scores). The same
    algebra replays in DuckDB for the q_text_extract_html oracle.

    Physical shape: lines are EXPLODED to rows, scored by plain
    whole-stage-codegen regex expressions, and re-assembled with one
    doc-keyed partial-aggregable groupBy — size-bounded (a page's
    visible text), skew-free (group = one page). A per-row projection
    over the line array would need higher-order functions, which are
    CodegenFallback (interpreted per element): that form measured 2.9×
    slower on q_text_extract_html and slower again at the streaming
    front door (docs/SCALE.md "Markup extraction front door"); it lives
    on in tests/test_llm_ops.py as the reference this form is pinned to.

    ``html`` is a Column over ``df``; ``id_cols`` must uniquely key
    ``df``'s rows (they become the group key; a caller without a natural
    key synthesizes one with ``monotonically_increasing_id`` BEFORE
    calling — fine in a single consumer chain, where the nondeterminism
    never crosses plan branches; see q_crawl_e2e). Returns
    ``id_cols + (text, n_lines, n_kept)``, one row per input row: a NULL
    ``html`` explodes (``posexplode_outer``) to one NULL line that adds no
    text, and the row comes back as (NULL, NULL, NULL)."""
    if not id_cols:
        raise ValueError("id_cols must uniquely key the rows")
    frac = Fraction(str(max_link_density)).limit_denominator(10**9)
    tn, td = frac.numerator, frac.denominator
    keys = list(id_cols)
    lines = df.select(
        *keys,
        F.posexplode_outer(_html_lines(html)).alias("__pos", "__x"),
    )
    vis, keep = _html_line_scored(F.col("__x"), min_words, tn, td)
    scored = lines.select(*keys, "__pos", vis.alias("__t"), keep.alias("__k"))
    nonempty = F.col("__t") != ""
    has_html = F.count("__pos") > 0
    return scored.groupBy(*keys).agg(
        F.when(
            has_html, _ordered_text("__pos", "__t", "\n", nonempty & F.col("__k"))
        ).alias("text"),
        F.sum(nonempty.cast("long")).cast("long").alias("n_lines"),
        F.sum((nonempty & F.col("__k")).cast("long")).cast("long").alias("n_kept"),
    )


def strip_markdown(md: Column) -> Column:
    """Plain prose from Markdown — the OTHER big markup family a crawl
    corpus carries (READMEs, forums, docs sites; GitHub-sourced corpora
    are mostly Markdown). Pure regexp_replace chain (codegen, no UDF,
    replays in DuckDB RE2 for the q_text_extract_md oracle):

      1. fenced code blocks dropped WITH content (``` ... ``` — code is
         not prose; the C4 choice. Inline ``code`` KEEPS its text, only
         the backticks go);
      2. images become their alt text, links their anchor text
         (``![alt](url)`` → alt, ``[text](url)`` → text — the
         link-density signal lives in HTML land; Markdown links are
         prose citations);
      3. ATX headers lose their ``#`` markers, blockquotes their ``>``,
         list items their leading ``-``/``*``/``+``/``1.`` markers,
         horizontal rules vanish (line-anchored ``(?m)`` forms);
      4. emphasis markers unwrap (** * __ _ pairs, innermost-safe
         non-greedy), then whitespace collapses (newlines INCLUDED —
         output is one prose string, the ``strip_markup`` contract).

    Order matters and is pinned by test: code fences FIRST (their
    content must not look like headers/lists), images BEFORE links
    (``![a](u)`` contains ``[a](u)``)."""
    t = F.regexp_replace(md, r"(?s)```.*?```", " ")
    t = F.regexp_replace(t, r"`([^`]*)`", r"$1")
    t = F.regexp_replace(t, r"!\[([^\]]*)\]\([^)]*\)", r"$1")
    t = F.regexp_replace(t, r"\[([^\]]*)\]\([^)]*\)", r"$1")
    t = F.regexp_replace(t, r"(?m)^[ \t]{0,3}#{1,6}[ \t]+", "")
    t = F.regexp_replace(t, r"(?m)^[ \t]{0,3}>[ \t]?", "")
    t = F.regexp_replace(t, r"(?m)^[ \t]{0,3}([-*+]|[0-9]+\.)[ \t]+", "")
    # explicit alternation, not a backreference — RE2 (the oracle's
    # engine) has no backrefs
    t = F.regexp_replace(
        t,
        r"(?m)^[ \t]{0,3}(?:(?:-[ \t]*){3,}|(?:\*[ \t]*){3,}|(?:_[ \t]*){3,})$",
        " ",
    )
    t = F.regexp_replace(t, r"\*\*([^*]+)\*\*", r"$1")
    t = F.regexp_replace(t, r"\*([^*]+)\*", r"$1")
    t = F.regexp_replace(t, r"__([^_]+)__", r"$1")
    t = F.regexp_replace(t, r"\b_([^_]+)_\b", r"$1")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


# ---------------------------------------------------------------------------
# Excision core: every ordered reassembly and every repeated-piece cut
# ---------------------------------------------------------------------------


def _ordered_text(pos: str, piece: str, joiner: str, keep: Column | None = None) -> Column:
    """Aggregate that rebuilds a document from its piece rows: the
    group's ``piece`` values (only those where ``keep`` holds, when
    given) joined by ``joiner`` in ``pos`` order —
    ``array_join(transform(array_sort(collect_list(struct(pos, piece))),
    piece), joiner)``. ``pos`` must be unique per group. The collect is
    partial-aggregable and the sort runs per group over one document's
    pieces, so a doc-keyed groupBy over it costs one exchange of the
    surviving piece rows. Every reassembly of the library is this one
    expression: HTML line extraction, line, span and token excision."""
    row = F.struct(F.col(pos), F.col(piece))
    if keep is not None:
        row = F.when(keep, row)
    return F.array_join(
        F.transform(F.array_sort(F.collect_list(row)), lambda s: s[piece]), joiner
    )


def _cut_repeated(
    docs: DataFrame,
    pieces: DataFrame,
    repeated: DataFrame,
    id_col: str,
    keys: list[str],
    pos: str,
    piece: str,
    joiner: str,
    text_out: str,
    n_type: str,
) -> DataFrame:
    """The flag-and-rebuild step of every repeated-piece excision: the
    ``pieces`` rows ``(id_col, *keys, pos, piece)`` left-join the
    ``repeated`` key frame, flagged pieces are cut, and the survivors
    rebuild each document in order (``_ordered_text``). Returns
    ``docs``' columns plus ``text_out`` and ``n_dropped`` (the cut count,
    cast to ``n_type``), one row per ``docs`` row: a document with no
    piece rows comes back as ``('', 0)``.

    The batch operators (``strip_common_lines``,
    ``llm.dedup.boilerplate_span_dedup``) feed it the keys repeated in
    their own frame; the incremental indexes
    (``streaming.corpus.IncrementalLineIndex`` / ``IncrementalSpanIndex``)
    feed it the keys repeated in the batch plus the landed history, so an
    index's first batch on a fresh path IS the batch operator. The caller
    builds ``repeated`` and so picks the join: the span tiers broadcast
    their digest set, the line tiers leave the planner to choose. The
    join is a LEFT join, so a piece whose key has a NULL part never
    matches and survives (no key, no claim)."""
    flagged = pieces.join(repeated.withColumn("__cut", F.lit(True)), keys, "left")
    cut = F.coalesce(F.col("__cut"), F.lit(False))
    cleaned = flagged.groupBy(id_col).agg(
        _ordered_text(pos, piece, joiner, ~cut).alias("__text"),
        F.sum(cut.cast("long")).alias("__n_cut"),
    )
    return docs.join(cleaned, id_col, "left").select(
        *docs.columns,
        F.coalesce(F.col("__text"), F.lit("")).alias(text_out),
        F.coalesce(F.col("__n_cut"), F.lit(0)).cast(n_type).alias("n_dropped"),
    )


def strip_common_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    min_docs: int = 3,
) -> DataFrame:
    """Cross-page COMMON-LINE boilerplate removal — the deduplication-
    based rule C4 and RefinedWeb apply after extraction: a line that
    appears verbatim in ≥ ``min_docs`` documents of the same group
    (domain/dump) is chrome — cookie banners, copyright footers,
    subscribe prompts — not content, however prose-like a single
    instance looks. This is the corpus-statistical complement of
    ``extract_html_text_rows``'s per-page link-density rule (which cannot see
    that a clean-looking sentence repeats on every page of the site).

    Plan: line posexplode → per-(group, line) distinct-doc count (one
    partial-aggregable shuffle keyed by the line — the hot keys ARE the
    boilerplate, bounded by Spark's two-phase distinct agg) → the
    repeated lines flag the line rows (a left join on the same key) →
    per-doc rebuild in ORIGINAL order (``_cut_repeated``, the excision
    core shared with the span tiers and both incremental indexes).
    Fully-stripped docs keep their row with empty text (silently dropping
    them would hide the most boilerplate-heavy pages); a NULL-text doc
    comes back as ``('', 0)``, and a doc whose group is NULL passes
    through untouched (its lines match no repeated key). Group-local
    counting matters at 100 TB: a global count would strip legitimate
    cross-domain idioms, and the group key keeps the count shuffle
    partition-pruned per domain.

    Streaming note: this is the BATCH form (counts within the frame it
    is given); the cross-micro-batch twin is the persistent LINE index
    (``streaming.corpus.IncrementalLineIndex``) — the same core fed with
    group-local line counts carried across batches, so a footer planted
    one-copy-per-micro-batch is excised at ingest.

    Output: ``(id_col, group_col, text_col cleaned, n_dropped)``."""
    lines = docs.select(
        F.col(id_col),
        F.col(group_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    )
    keys = [group_col, "__line"]
    repeated = (
        lines.groupBy(*keys)
        .agg(F.countDistinct(id_col).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select(*keys)
    )
    return _cut_repeated(
        docs.select(id_col, group_col), lines, repeated, id_col, keys,
        "__pos", "__line", "\n", text_col, "long",
    )
