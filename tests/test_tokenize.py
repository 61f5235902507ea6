"""BPE tokenizer: distributed train/encode pinned to the python twins.

The twins (bpe_train_python / bpe_encode_python) are the semantic ground
truth; these tests pin (a) the distributed training loop equal to the
twin merge-for-merge, (b) the first-occurrence encode equal to the
published all-occurrences-per-step form, (c) lossless detokenization,
and (d) the per-doc stats operator equal to a from-scratch python
recount.
"""

from __future__ import annotations

import random

from simple_pos_kafka_pyspark_airflow_spark.llm import tokenize as tk


def _reference_encode(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """The published (GPT-2-style) encode: per step pick the lowest-rank
    pair present, then merge ALL its non-overlapping occurrences left to
    right. The module's first-occurrence step must agree exactly."""
    t = list(word)
    while len(t) > 1:
        pairs = {(t[j], t[j + 1]) for j in range(len(t) - 1)}
        ranked = [p for p in pairs if p in ranks]
        if not ranked:
            break
        a, b = min(ranked, key=lambda p: ranks[p])
        out, j = [], 0
        while j < len(t):
            if j + 1 < len(t) and t[j] == a and t[j + 1] == b:
                out.append(a + b)
                j += 2
            else:
                out.append(t[j])
                j += 1
        t = out
    return t


def test_train_python_known_sequence():
    """Hand-checkable corpus: 'ab' dominates, then merges chain."""
    merges = tk.bpe_train_python({"abab": 10, "abc": 5, "xy": 1}, n_merges=10)
    # (a,b) count 25 first; then (ab,ab) 10; then (ab,c) 5; xy count 1 < min_count
    assert merges[:3] == [("a", "b"), ("ab", "ab"), ("ab", "c")]
    assert ("x", "y") not in merges


def test_train_python_tiebreak_lexicographic():
    """Equal counts must break ties on the lexicographically smallest
    pair — deterministic across engines, unlike dict order."""
    merges = tk.bpe_train_python({"zw": 3, "ab": 3}, n_merges=1)
    assert merges == [("a", "b")]


def test_encode_first_occurrence_equals_reference_form():
    """Property: for random words over the trained alphabet, the
    module's first-occurrence greedy step produces EXACTLY the published
    all-occurrences tokenization (the rank argument in the module doc)."""
    ranks = tk.bpe_ranks(tk.FROZEN_MERGES)
    rng = random.Random(42)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    for _ in range(300):
        w = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 14)))
        assert tk.bpe_encode_python(w, ranks) == _reference_encode(w, ranks), w


def test_encode_detokenizes_losslessly_and_handles_unknowns():
    ranks = tk.bpe_ranks(tk.FROZEN_MERGES)
    for w in ("table", "customer", "xyzzy", "a", "ßü√"):
        toks = tk.bpe_encode_python(w, ranks)
        assert "".join(toks) == w
    # chars absent from every merge stay single-symbol tokens
    assert tk.bpe_encode_python("zzz", ranks) == ["z", "z", "z"]


def test_frozen_merges_are_reproducible():
    assert tk.FROZEN_MERGES == tk.bpe_train_python(
        tk._SEED_WORD_COUNTS, n_merges=48, min_count=2
    )
    assert len(tk.FROZEN_MERGES) == 48


def test_distributed_train_equals_python_twin(spark):
    """Merge-for-merge equality on the real sf0.001 corpus — the
    distributed pair-count/argmax/apply loop IS the twin's algebra."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wc = {r["word"]: r["count"] for r in tk.word_count_table(docs).collect()}
    assert tk.bpe_train(docs, n_merges=12) == tk.bpe_train_python(wc, 12)


def test_distributed_train_min_count_stop(spark):
    """Every pair unique => best count 1 < min_count 2 => no merges."""
    docs = spark.createDataFrame([("abc",), ("xyz",)], ["text"])
    assert tk.bpe_train(docs, n_merges=5) == []


def test_token_stats_equals_python_recount(spark):
    docs = spark.createDataFrame(
        [(1, "the table Table"), (2, "customer of the big TABLE"), (3, "zz")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in tk.bpe_token_stats(docs, tk.FROZEN_MERGES).collect()
    }
    ranks = tk.bpe_ranks(tk.FROZEN_MERGES)
    for doc_id, text in [(1, "the table Table"), (2, "customer of the big TABLE"), (3, "zz")]:
        words = text.lower().split()
        want = (len(words), sum(len(tk.bpe_encode_python(w, ranks)) for w in words))
        assert got[doc_id] == want, (doc_id, got[doc_id], want)


def test_encode_words_returns_token_arrays(spark):
    out = {
        r["word"]: r["tokens"]
        for r in tk.bpe_encode_words(
            spark.createDataFrame([("table",), ("spark",)], ["word"]),
            tk.FROZEN_MERGES,
        ).collect()
    }
    ranks = tk.bpe_ranks(tk.FROZEN_MERGES)
    assert out["table"] == tk.bpe_encode_python("table", ranks)
    assert out["spark"] == tk.bpe_encode_python("spark", ranks)


def test_vocab_and_token_ids(spark):
    """Vocab ids: base alphabet first (a=0..z=25), then merge outputs in
    training order; duplicate merge strings keep the first id; unknown
    chars map to unk (-1) and are counted, never summed; the Spark stats
    equal a from-scratch python recount."""
    ranks = tk.bpe_ranks(tk.FROZEN_MERGES)
    v = tk.FROZEN_VOCAB
    assert v["a"] == 0 and v["z"] == 25
    assert all(v[a + b] >= 26 for a, b in tk.FROZEN_MERGES)
    # duplicate-string merges collapse to one id
    dup = tk.bpe_vocab([("a", "bc"), ("ab", "c")], base_chars="abc")
    assert len(dup) == 4  # a, b, c, abc (once)

    docs = spark.createDataFrame(
        [(1, "the table 9to5"), (2, "zz qq")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["sum_ids"], r["n_unk"])
        for r in tk.bpe_token_ids(docs, tk.FROZEN_MERGES, v).collect()
    }
    for doc_id, text in [(1, "the table 9to5"), (2, "zz qq")]:
        n_tok = sum_ids = n_unk = 0
        for w in text.lower().split():
            for t in tk.bpe_encode_python(w, ranks):
                i = v.get(t, -1)
                n_tok += 1
                if i < 0:
                    n_unk += 1
                else:
                    sum_ids += i
        assert got[doc_id] == (n_tok, sum_ids, n_unk), doc_id
    assert got[1][2] == 2  # '9' and '5' are outside the alphabet


# ---------------------------------------------------------------------------
# Batched training (r11): provably-sequential-equal merge batches
# ---------------------------------------------------------------------------


def _reference_batched_train(
    word_counts: dict[str, int],
    n_merges: int,
    min_count: int = 2,
    max_batch: int = tk.MAX_BATCH,
    topk_window: int = tk.TOPK_WINDOW,
) -> list[tuple[str, str]]:
    """Batched twin of ``bpe_train_python`` — the distributed trainer's
    selection logic (``_select_merge_batch`` over a top-K window) without
    a SparkSession, so batched == sequential can be fuzzed over
    ``max_batch`` and ``topk_window``."""
    vocab = {tuple(w): c for w, c in word_counts.items() if w}
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        counts = tk._pair_counts(vocab)
        if not counts:
            break
        ordered = sorted(
            ((l, r, c) for (l, r), c in counts.items()),
            key=lambda t: (-t[2], t[0], t[1]),
        )
        batch = tk._select_merge_batch(
            ordered[:topk_window],
            len(ordered) <= topk_window,
            min(max_batch, n_merges - len(merges)),
            min_count,
        )
        if not batch:
            break
        merges.extend(batch)
        for a, b in batch:
            vocab = {
                (tk._merge_word(s, a, b) if a in s else s): cnt
                for s, cnt in vocab.items()
            }
    return merges


def test_select_batch_rejects_boostable_pair():
    """The counter-example that shows symbol-disjointness ALONE is not
    sequential-safe: merging (a,b) turns every 'x a b' into an (x, ab)
    occurrence — count 95, overtaking the disjoint (c,d) at 90. The
    selection must keep (c,d) OUT of the batch (the guard sees the
    interacting (x,a)=95 and 90 is not > 2*95), and sequential replay
    confirms: the true second merge is (x, ab)."""
    wc = {"ab": 100, "xab": 95, "cd": 90}
    rows = [("a", "b", 195), ("x", "a", 95), ("c", "d", 90)]
    batch = tk._select_merge_batch(rows, window_full=True, max_batch=8, min_count=2)
    assert batch == [("a", "b")]
    seq = tk.bpe_train_python(wc, n_merges=2)
    assert seq == [("a", "b"), ("x", "ab")]
    assert _reference_batched_train(wc, n_merges=2, max_batch=8) == seq


def test_select_batch_accepts_dominating_disjoint_pairs():
    rows = [("a", "b", 100), ("c", "d", 20)]
    batch = tk._select_merge_batch(rows, window_full=True, max_batch=8, min_count=2)
    assert batch == [("a", "b"), ("c", "d")]
    wc = {"ab": 100, "cd": 20}
    assert _reference_batched_train(wc, 2) == tk.bpe_train_python(wc, 2)


def test_batched_python_twin_equals_sequential_fuzz():
    """Randomized vocabularies over a tight alphabet (maximal pair
    interaction): the batched trainer must be merge-for-merge identical
    to the sequential argmax for every (max_batch, topk_window)."""
    rng = random.Random(1234)
    for trial in range(200):
        n_words = rng.randint(1, 12)
        wc = {}
        for _ in range(n_words):
            w = "".join(rng.choice("abcd") for _ in range(rng.randint(1, 6)))
            wc[w] = wc.get(w, 0) + rng.randint(1, 50)
        n_merges = rng.randint(1, 10)
        seq = tk.bpe_train_python(wc, n_merges)
        for max_batch, topk in ((2, 64), (4, 8), (8, 3), (8, 64)):
            got = _reference_batched_train(
                wc, n_merges, max_batch=max_batch, topk_window=topk
            )
            assert got == seq, (trial, wc, max_batch, topk, got, seq)


def test_distributed_batched_equals_sequential_modes(spark):
    """Spark batched training (up to MAX_BATCH merges per round) == python
    sequential, on a corpus engineered with both dominating-disjoint and
    boostable-interacting pairs."""
    docs = spark.createDataFrame(
        [("ab ab ab xab cd cd ef ef ef ef",), ("xab xab cd ab ef gh gh",)],
        ["text"],
    )
    wc = {r["word"]: r["count"] for r in tk.word_count_table(docs).collect()}
    seq = tk.bpe_train_python(wc, 10)
    assert tk.bpe_train(docs, n_merges=10) == seq
