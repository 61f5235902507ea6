"""Byte-pair-encoding tokenizer — distributed train + encode.

Public-knowledge BPE (Sennrich, Haddow & Birch 2016, "Neural Machine
Translation of Rare Words with Subword Units"; the GPT-2 tokenizer is
the same algorithm byte-level). Two halves, both Spark-first:

**Training** (``bpe_train``) operates on the WORD-FREQUENCY table, never
the corpus: the state is ``(symbols[], count)`` with one row per
DISTINCT word, so a 100 TB corpus collapses to a vocabulary-sized frame
(Zipf: tens of millions of rows at web scale — a few GB) after one
corpus-sized groupBy. Each merge round is then

  1. pair count: explode each word's adjacent symbol pairs, groupBy
     (left, right), sum the word counts — a VOCABULARY-sized shuffle
     (rows ≤ Σ per-word symbol count), partial-aggregable;
  2. argmax: the top-``TOPK_WINDOW`` pairs collected to the driver (max
     count, lexicographic tiebreak — deterministic, unlike the reference
     implementation's dict order), from which ``_select_merge_batch``
     accepts up to ``MAX_BATCH`` merges only when the batch provably
     equals that many sequential argmax rounds;
  3. merge apply: rewrite the symbol arrays of the words that contain
     an accepted pair (Arrow-batched pandas UDF over the pair-containing
     subset; everything else passes through untouched);
  4. an eager checkpoint (``cacheutil.materialize``) to truncate the
     iterative lineage (the same discipline as ``dedup.dedup_clusters`` —
     Catalyst re-analysis of an unbounded loop plan costs more than the
     data at small rounds).

The corpus itself is touched exactly ONCE (the initial word count);
everything after is at most n_merges vocabulary-sized rounds. This is the
published distributed formulation (the Sennrich reference trains on a
word-count dict in memory; the DataFrame form is the same algebra).

**Encoding** (``bpe_encode_words`` / ``bpe_token_stats``) applies a
FROZEN merge table: greedy lowest-rank-first merging per word. Scale
discipline: encode DISTINCT words once (vocabulary-sized Arrow-batched
work with the rank table broadcast) and join the results back to word
occurrences — the Zipf cache that makes per-word Python cost irrelevant
at corpus scale. The greedy loop merges the FIRST occurrence of the
lowest-rank pair per step; this is provably identical to the reference
implementation's all-occurrences-per-step form (a pair created by a
merge can only have a HIGHER rank than the pair just merged — ranks are
training order — so remaining occurrences of the current lowest-rank
pair stay minimal) and is the exact step a SQL oracle can replay
(see q_bpe_encode's recursive CTE).

Python twins (``bpe_train_python``, ``bpe_encode_python``) define the
semantics; the distributed forms are pinned equal in tests.

No counterpart in the reference repo (its pipeline never tokenizes);
this closes the engine's last gap to a real training-data pipeline —
every token count before this module was whitespace or the
``textops.bpe_ish_token_count`` regex estimate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cacheutil
from ..cacheutil import release

# Distributed training: at most MAX_BATCH merges per round, chosen from the
# TOPK_WINDOW most frequent pairs (see ``_select_merge_batch``).
MAX_BATCH = 8
TOPK_WINDOW = 64

# ---------------------------------------------------------------------------
# Python twins — the semantic ground truth (pure, deterministic)
# ---------------------------------------------------------------------------


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> dict[tuple[str, str], int]:
    counts: dict[tuple[str, str], int] = {}
    for syms, c in vocab.items():
        for j in range(len(syms) - 1):
            p = (syms[j], syms[j + 1])
            counts[p] = counts.get(p, 0) + c
    return counts


def _merge_word(syms: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    """All non-overlapping occurrences of (a, b), left to right — the
    Sennrich training apply step."""
    out: list[str] = []
    j = 0
    n = len(syms)
    while j < n:
        if j + 1 < n and syms[j] == a and syms[j + 1] == b:
            out.append(a + b)
            j += 2
        else:
            out.append(syms[j])
            j += 1
    return tuple(out)


def bpe_train_python(
    word_counts: dict[str, int], n_merges: int, min_count: int = 2
) -> list[tuple[str, str]]:
    """Classic BPE training on a word-frequency dict. Deterministic: the
    merged pair is the max-count one, ties broken lexicographically on
    (left, right) — the reference implementation's dict-order tie is not
    reproducible across runs/engines, this is. Stops early when the best
    pair's count drops below ``min_count``."""
    vocab = {tuple(w): c for w, c in word_counts.items() if w}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_count:
            break
        merges.append((a, b))
        vocab = {
            (_merge_word(s, a, b) if a in s else s): cnt for s, cnt in vocab.items()
        }
    return merges


def _select_merge_batch(
    rows: list[tuple[str, str, int]],
    window_full: bool,
    max_batch: int,
    min_count: int,
) -> list[tuple[str, str]]:
    """Pick a batch of merges PROVABLY identical to applying them one
    sequential argmax at a time — the fix for the one-Spark-job-per-merge
    round count (a 32k-vocab train is 32k sequential shuffles without it).

    ``rows`` is the top-K pair window sorted by ``(-count, left, right)``
    (the sequential tiebreak order); ``window_full`` says whether the
    window holds EVERY pair (otherwise the last row's count bounds every
    unseen pair). Symbol-disjointness alone does NOT make batching safe:
    applying the argmax (a,b) can boost an interacting pair — e.g. every
    "x a b" occurrence turns into an (x, ab) occurrence, up to the full
    original count of (x, a) — and that boosted pair, not the batch's
    next member, may be the true next argmax. The provable rule:

    - accepted merges form a PREFIX of the greedy symbol-disjoint scan
      (components AND concatenated outputs all distinct — a skipped
      interacting row may be boosted/destroyed, but a skipped DISJOINT
      row would itself be the next sequential argmax, so acceptance must
      stop, never skip);
    - every accepted merge after the first must have count > 2·S, where
      S = max(unseen-pair bound, max count of any visible pair that
      interacts with the accepted set). Proof sketch: a non-accepted
      pair's count during the replay is ≤ its original count (≤ S — it
      either interacts or is unseen, both bounded) + its total boost
      (every boosted occurrence maps to a distinct original occurrence
      of some pair sharing a symbol with an accepted merge, again ≤ S),
      so < 2S < the accepted count, while accepted counts are unchanged
      (fully disjoint ⇒ no destruction, no creation). Trimming the
      batch changes S (dropped members stop contributing interactions),
      so verification runs to a fixpoint.

    Pinned batched == sequential on randomized vocabularies in
    tests/test_tokenize.py, over a sweep of ``max_batch`` and window
    sizes; falls back to batch size 1 (the plain argmax) when counts are
    too flat to dominate. The rule almost never batches on natural
    single-script text (every frequent pair shares a frequent letter
    with the argmax's neighborhood, so the guard binds); it DOES batch
    on multi-script corpora whose alphabets are disjoint symbol
    families (docs/SCALE.md has the round counts)."""
    if not rows or rows[0][2] < min_count:
        return []
    c_out = 0 if window_full else rows[-1][2]
    m = max_batch
    while True:
        acc: list[tuple[str, str, int]] = []
        syms: set[str] = set()
        for l, r, c in rows:
            if len(acc) >= m or c < min_count:
                break
            if acc and (l in syms or r in syms or (l + r) in syms):
                continue
            acc.append((l, r, c))
            syms.update((l, r, l + r))
        accset = {(l, r) for l, r, _ in acc}
        guard = c_out
        for l, r, c in rows:
            if (l, r) not in accset and (l in syms or r in syms or (l + r) in syms):
                guard = max(guard, c)
        bad = next(
            (i for i, (_, _, c) in enumerate(acc) if i > 0 and not c > 2 * guard),
            None,
        )
        if bad is None:
            return [(l, r) for l, r, _ in acc]
        m = max(1, bad)


def bpe_ranks(merges: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
    """Merge list → rank lookup (training order = merge priority)."""
    return {pair: i for i, pair in enumerate(merges)}


def bpe_encode_python(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE encode of one word: repeatedly merge the FIRST
    occurrence of the lowest-rank adjacent pair until no pair is in the
    table. Equivalent to the all-occurrences form (see module doc) and
    step-identical to the q_bpe_encode oracle's recursive CTE."""
    t = list(word)
    while len(t) > 1:
        best_rank = None
        best_j = -1
        for j in range(len(t) - 1):
            r = ranks.get((t[j], t[j + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_j = r, j
        if best_rank is None:
            break
        t[best_j : best_j + 2] = [t[best_j] + t[best_j + 1]]
    return t


# ---------------------------------------------------------------------------
# Distributed training
# ---------------------------------------------------------------------------


def word_count_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) over the lowercased whitespace-split corpus — the
    one corpus-sized pass of BPE training (partial-aggregable groupBy;
    output is vocabulary-sized)."""
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("count"))
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Distributed BPE training over a document corpus; returns the
    merge list (training order). One corpus-sized groupBy builds the
    word-frequency table, then delegates to ``bpe_train_from_counts`` —
    which is also the RETRAIN path from a maintained word-count index
    (``streaming.corpus.IncrementalWordCountIndex``): the corpus is
    never rescanned for a retrain."""
    return bpe_train_from_counts(
        word_count_table(docs, text_col), n_merges=n_merges, min_count=min_count
    )


def bpe_train_from_counts(
    word_counts: DataFrame,
    n_merges: int = 50,
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Distributed BPE training from a ``(word, count)`` table; returns
    the merge list (training order).

    Each ROUND is one vocabulary-sized pair-count shuffle + a top-K
    driver collect (K = ``TOPK_WINDOW`` tiny rows, never a vocabulary) +
    ONE Arrow-batched merge apply for the whole accepted batch. The
    batch is chosen by ``_select_merge_batch`` — provably identical to
    sequential argmax training (fully symbol-disjoint merges whose
    counts dominate twice every interacting/unseen pair), so the result
    is pinned equal to ``bpe_train_python`` in tests/test_tokenize.py
    while the ROUND COUNT drops by the realized batch factor. This is
    what makes a production 32k-vocab train feasible: scheduling
    latency scales with rounds, not merges (docs/SCALE.md prices the
    envelope). At most ``MAX_BATCH`` merges are accepted per round.

    Driver materialization per round: ≤ ``TOPK_WINDOW`` (count, left,
    right) rows."""
    from pyspark.sql.types import ArrayType, StringType

    vocab = word_counts.select(
        # split('x','') yields exactly the chars in Spark 4 (verified; no
        # trailing empty element); array_remove guards the empty-string
        # edge anyway — array_compact would only strip NULLs, not ''
        F.array_remove(F.split("word", ""), "").alias("syms"),
        F.col("count"),
    )
    vocab = cacheutil.materialize(vocab)

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        rows = (
            vocab.where(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.slice("syms", 1, F.size("syms") - 1).alias("l"),
                        F.slice("syms", 2, F.size("syms") - 1).alias("r"),
                    )
                ).alias("p"),
                "count",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("count").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(TOPK_WINDOW)
            .collect()
        )
        batch = _select_merge_batch(
            [(x["l"], x["r"], x["c"]) for x in rows],
            window_full=len(rows) < TOPK_WINDOW,
            max_batch=min(MAX_BATCH, n_merges - len(merges)),
            min_count=min_count,
        )
        if not batch:
            break
        merges.extend(batch)

        def _mk(batch: list[tuple[str, str]]):
            @F.pandas_udf(ArrayType(StringType()))
            def apply_batch(col: pd.Series) -> pd.Series:
                def go(s):
                    t = tuple(s)
                    for a, b in batch:
                        if a in t:
                            t = _merge_word(t, a, b)
                    return list(t)

                return col.map(go)

            return apply_batch

        apply_batch = _mk(batch)

        # only words containing BOTH symbols of some accepted pair can
        # change — the codegen prefilter keeps the Arrow hop off
        # untouched rows
        hit = None
        for a, b in batch:
            h = F.array_contains("syms", a) & F.array_contains("syms", b)
            hit = h if hit is None else (hit | h)
        superseded = vocab
        vocab = cacheutil.materialize(
            vocab.select(
                F.when(hit, apply_batch("syms")).otherwise(F.col("syms")).alias("syms"),
                "count",
            )
        )
        release(superseded)
    release(vocab)
    return merges


# ---------------------------------------------------------------------------
# Distributed encoding
# ---------------------------------------------------------------------------


def bpe_encode_words(
    words: DataFrame, merges: list[tuple[str, str]], word_col: str = "word"
) -> DataFrame:
    """word table → + ``tokens array<string>``, ``n_tokens int``. The
    rank table is closure-captured (broadcast with the task — kilobytes
    for real vocabularies); the encode is an Arrow-batched pandas UDF.
    Callers pass DISTINCT words and join back (``bpe_token_stats``)."""
    from pyspark.sql.types import ArrayType, StringType

    ranks = bpe_ranks(merges)

    @F.pandas_udf(ArrayType(StringType()))
    def enc(col: pd.Series) -> pd.Series:
        return col.map(lambda w: bpe_encode_python(w, ranks))

    return words.withColumn("tokens", enc(word_col)).withColumn(
        "n_tokens", F.size("tokens").cast("int")
    )


def bpe_token_stats(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document REAL token counts under a frozen merge table:
    ``(id_col, n_words, n_tokens)``.

    Plan: occurrences = explode(lowercase whitespace split) — the only
    corpus-sized frame; DISTINCT words encode once (vocabulary-sized
    Arrow work); one word-keyed join back (the distinct side is
    vocabulary-sized, broadcastable for real corpora); one id groupBy.
    At 100 TB this is the shape that works: per-word Python runs
    |vocab| times, not |corpus| times."""
    occ = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
        ).alias("word"),
    )
    encoded = bpe_encode_words(occ.select("word").distinct(), merges).select(
        "word", "n_tokens"
    )
    return (
        occ.join(F.broadcast(encoded), "word")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Frozen merge table for the contract query
# ---------------------------------------------------------------------------

#: Seed word frequencies for the FROZEN contract merge table — a fixed,
#: corpus-independent artifact (what a real deployment would load from a
#: tokenizer release). Words are the synthetic corpus vocabulary
#: (TESTDATA.md) with hand-fixed Zipf-ish counts so the trained merges
#: actually bind on the documents table (non-vacuous contract query);
#: training is the pure-python twin at import (microseconds).
_SEED_WORD_COUNTS: dict[str, int] = {
    "the": 90, "a": 80, "table": 60, "value": 55, "scan": 50, "row": 48,
    "fast": 45, "part": 42, "agg": 40, "window": 38, "batch": 36,
    "slow": 34, "key": 32, "data": 30, "join": 28, "small": 26,
    "line": 24, "order": 22, "query": 20, "column": 19, "spark": 18,
    "merge": 17, "sort": 16, "group": 15, "stream": 14, "filter": 13,
    "customer": 12, "big": 11, "vector": 10, "hash": 9, "of": 8,
}

#: 48 merges is enough to fuse the common short words whole while leaving
#: rarer words multi-token — a realistic mix of 1..4 tokens per word.
FROZEN_MERGES: list[tuple[str, str]] = bpe_train_python(
    _SEED_WORD_COUNTS, n_merges=48, min_count=2
)


def bpe_vocab(
    merges: list[tuple[str, str]], base_chars: str
) -> dict[str, int]:
    """Token-string → token-id mapping, GPT-2 style: base characters
    first (sorted), then each merge's output token in TRAINING ORDER.
    Two merges can produce the same string (('a','bc') and ('ab','c'));
    the first occurrence keeps the id — the mapping is on strings, as a
    released tokenizer's vocab file is. Characters outside the base
    alphabet encode to the UNK id −1 (callers decide the policy)."""
    vocab: dict[str, int] = {}
    for ch in sorted(set(base_chars)):
        vocab.setdefault(ch, len(vocab))
    for a, b in merges:
        vocab.setdefault(a + b, len(vocab))
    return vocab


def bpe_token_ids(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document TOKEN-ID statistics under a frozen (merges, vocab)
    pair: ``(id_col, n_tokens, sum_ids, n_unk)`` — the certified witness
    that the engine produces the trainer's ACTUAL input (ids, not just
    counts): sum_ids pins the id of every token through the distinct-
    word cache, n_unk counts tokens outside the released vocabulary.

    Same plan as ``bpe_token_stats`` (the Zipf distinct-word encode +
    broadcast join back) with the id mapping applied inside the same
    Arrow pass — no extra shuffle."""
    from pyspark.sql.functions import pandas_udf

    ranks = bpe_ranks(merges)

    @pandas_udf("struct<n_tok: int, sum_ids: long, n_unk: int>")
    def enc(col: pd.Series) -> pd.DataFrame:
        rows = []
        for w in col:
            toks = bpe_encode_python(w, ranks)
            ids = [vocab.get(t, -1) for t in toks]
            rows.append(
                (
                    len(toks),
                    sum(i for i in ids if i >= 0),
                    sum(1 for i in ids if i < 0),
                )
            )
        return pd.DataFrame(rows, columns=["n_tok", "sum_ids", "n_unk"])

    occ = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\S+"), 0)
        ).alias("word"),
    )
    encoded = (
        occ.select("word")
        .distinct()
        .withColumn("_e", enc("word"))
        .select("word", "_e.n_tok", "_e.sum_ids", "_e.n_unk")
    )
    return (
        occ.join(F.broadcast(encoded), "word")
        .groupBy(id_col)
        .agg(
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("sum_ids").cast("long").alias("sum_ids"),
            F.sum("n_unk").cast("long").alias("n_unk"),
        )
    )


#: Frozen vocab for the contract queries: the seed corpus's alphabet +
#: the 48 frozen merges (ids 0..25+47 — 26 letters, then merge outputs).
FROZEN_VOCAB: dict[str, int] = bpe_vocab(
    FROZEN_MERGES, base_chars="abcdefghijklmnopqrstuvwxyz"
)
