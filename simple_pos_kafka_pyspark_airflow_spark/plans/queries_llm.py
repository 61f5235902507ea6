"""Contract queries: LLM-training-data pipeline operators (north star).

Not reference-derived — these extend the engine per BASELINE.json: dedup,
similarity search, text analysis, multimodal columns, each designed for
100 TB (see the operator modules' docstrings for the scale story).

Oracle notes: hash-based ops (minhash/simhash/LSH) are deterministic given
fixed seeds, so where the *output* is exact-verified pairs we still ship an
exact-SQL oracle (the LSH candidate stage provably catches every pair at
these thresholds — verified in tests); ops whose output embeds
engine-specific hashes are rows-only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..llm import dedup, filtering, multimodal, simsearch, textops
from .contract import register

# DuckDB shingle CTE shared by the jaccard oracles (3-gram word shingles,
# identical semantics to llm.dedup.shingles).
_SHINGLE_CTE = """
WITH t AS (
  SELECT doc_id, n_chars,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, n_chars,
         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
                     i -> array_to_string(toks[i:i+2], ' ')))
         END AS sh
  FROM t
)
"""


@register(
    "q_dedup_exact",
    "llm",
    oracle="""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY text
    """,
    notes="exact dedup: group by sha2(text) so only a 32-byte key shuffles, "
    "never the document (llm/dedup.exact_dup_groups)",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dedup.exact_dup_groups(d, "text", "doc_id").select("keep_id", "n_copies")


@register(
    "q_dedup_tokens",
    "llm",
    oracle="""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY array_to_string(list_sort(list_filter(string_split(text, ' '), x -> x <> '')), ' ')
    """,
    notes="token-bag dedup: sorted-token key catches word-order shuffles "
    "(the testdata's jaccard-1.0 pairs) in one shuffle",
)
def q_dedup_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dedup.token_bag_dup_groups(d, "text", "doc_id").select("keep_id", "n_copies")


@register(
    "q_dedup_canonical",
    "llm",
    oracle="""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))
    """,
    notes="canonical-form exact dedup (the RefinedWeb/Falcon "
    "normalize-then-hash key): lowercase, strip punctuation to spaces, "
    "collapse whitespace — catches case/punctuation variants raw exact "
    "dedup misses while staying one sha2-keyed shuffle; sits between "
    "q_dedup_exact and q_dedup_tokens in the ladder (token-bag "
    "additionally forgives word order). ASCII-only regex classes so the "
    "Java and RE2 engines agree (llm/dedup.canonical_dup_groups)",
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dedup.canonical_dup_groups(d, "text", "doc_id").select("keep_id", "n_copies")


@register(
    "q_dedup_minhash",
    "llm",
    oracle=_SHINGLE_CTE
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
                 / greatest(len(list_distinct(a.sh || b.sh)), 1), 4) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / greatest(len(list_distinct(a.sh || b.sh)), 1) >= 0.8
    """,
    notes="MinHash(64)+LSH(16 bands) candidates, exact-Jaccard verified ≥0.8. "
    "Oracle is brute-force all-pairs — identical output because every true "
    "pair in the corpus has j≥0.9 and the deterministic LSH miss bound at "
    "j=0.9 is (1-0.9^4)^16 ≈ 4e-8 (verified in tests). Engine cost is "
    "O(docs·bands), oracle is O(docs²) — that asymmetry is the point.",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dedup.near_dup_pairs_minhash(
        d, "text", "doc_id", n_shingle=3, num_hashes=64, bands=16, jaccard_threshold=0.8
    )


@register(
    "q_dedup_ngram",
    "llm",
    oracle=_SHINGLE_CTE
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
                 / greatest(len(list_distinct(a.sh || b.sh)), 1), 4) AS jaccard
    FROM s a JOIN s b
      ON a.n_chars // 100 = b.n_chars // 100 AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / greatest(len(list_distinct(a.sh || b.sh)), 1) >= 0.5
    """,
    notes="exact n-gram Jaccard within 100-char length-band blocks — the "
    "caller-chosen blocking makes the quadratic term local "
    "(llm/dedup.ngram_jaccard_pairs_blocked). Blocking on EXACT n_chars "
    "returned 0 rows at every sf: near-dup texts differ by a few chars "
    "(measured deltas ≤ 8), so the band is the correct blocking key — it "
    "keeps 24/25 of the corpus's true ≥0.8-jaccard pairs co-blocked",
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").withColumn(
        "len_band", F.floor(F.col("n_chars") / 100)
    )
    return dedup.ngram_jaccard_pairs_blocked(
        d, "text", "doc_id", block_cols=["len_band"], n=3, threshold=0.5
    )


@register(
    "q_dedup_simhash",
    "llm",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS id_a,
           CAST(doc_id + 1000000 AS BIGINT) AS id_b,
           CAST(0 AS INTEGER) AS hamming
    FROM documents WHERE trim(text) <> ''
    """,
    notes="SimHash(64) near-dup: quarter-blocking (pigeonhole-complete for "
    "hamming≤3) + exact verify. Self-certifying planted-pair form: the "
    "corpus is unioned with an id-shifted copy of itself, and the output "
    "is restricted to the planted (doc, doc+1e6) pairs — an identical "
    "text has the identical simhash, so every planted pair MUST surface "
    "with hamming 0 (recall 1.0 by construction ⇒ the expected output is "
    "exactly one row per document, a full value-hash oracle). Both sides "
    "exclude whitespace-only docs (simhash_df drops zero-token texts, "
    "which would otherwise silently drop that doc's planted pair). The "
    "raw xxhash64-based simhash values themselves stay inexpressible in "
    "DuckDB; organic-pair behavior is pinned by unit tests "
    "(tests/test_llm_dedup.py) and the sf0.1 spot-check",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").where(F.trim(F.col("text")) != "")
    planted = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
    pairs = dedup.near_dup_pairs_simhash(planted, "text", "doc_id", max_hamming=3)
    return pairs.where(F.col("id_b") == F.col("id_a") + F.lit(1_000_000))


@register(
    "q_dedup_embed",
    "llm",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS id_a,
           CAST(vec_id + 1000000 AS BIGINT) AS id_b,
           CAST(1.0 AS DOUBLE) AS cos_sim
    FROM embeddings
    """,
    notes="embedding-cosine near-dup via hyperplane-signature blocking "
    "(llm/simsearch.near_dup_pairs_embedding). The testdata embeddings "
    "are mutually dissimilar (max pairwise cosine 0.51 — measured), so "
    "the corpus is unioned with an id-shifted copy of itself: a planted "
    "duplicate has the IDENTICAL float array, hence the identical "
    "hyperplane signature (recall 1.0 by construction) and a cosine that "
    "rounds to exactly 1.0 (num = Σv², den = sqrt(Σv²)² differ by ≤1 ulp), "
    "so the output restricted to planted pairs is a full value-hash "
    "oracle: one (v, v+1e6, 1.0) row per vector. Organic-threshold "
    "behavior is pinned by unit tests and the sf0.1 spot-check",
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    planted = e.unionByName(e.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000)))
    pairs = simsearch.near_dup_pairs_embedding(planted, threshold=0.95)
    return pairs.where(F.col("id_b") == F.col("id_a") + F.lit(1_000_000))


@register(
    "q_semdedup",
    "llm",
    oracle="""
    SELECT vec_id, CAST(1 AS INTEGER) AS kept FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id, CAST(0 AS INTEGER) AS kept
    FROM embeddings
    """,
    notes="SemDeDup (Abbas et al. 2023) — SEMANTIC dedup: cluster the "
    "embedding space (the ANN quantizer's own ivf_centroids/ivf_assign "
    "kernels, so the cluster key doubles as the storage partition key), "
    "then drop within-cluster points with cosine ≥ 0.95 to a lower-id "
    "point; O(n²) confined to cells, max_cell caps degenerate cells "
    "conservatively (llm/simsearch.semdedup_prune). Planted-pair "
    "oracle: testdata embeddings are mutually dissimilar (max pairwise "
    "cosine 0.51), so union an id-shifted identical copy — a twin lands "
    "in its original's cell by determinism of the Arrow argmax, scores "
    "cosine 1.0, and exactly the higher id drops: every original keeps, "
    "every twin drops, a full value-hash contract on 2N rows",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    planted = e.unionByName(e.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000)))
    return simsearch.semdedup_prune(planted, "embedding", "vec_id", n_cells=16)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    row = (
        table(spark, sf_dir, "embeddings").where(F.col("vec_id") == vec_id).select("embedding").first()
    )
    return [float(x) for x in row["embedding"]]


@register(
    "q_simsearch_topk",
    "llm",
    oracle="""
    SELECT vec_id,
           ROUND(list_cosine_similarity(
               CAST(embedding AS DOUBLE[]),
               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score
    FROM embeddings
    ORDER BY score DESC, vec_id LIMIT 10
    """,
    notes="brute-force cosine top-k (query = vec 0): zip_with/aggregate dot "
    "product in double, TakeOrderedAndProject — exact ANN baseline, zero shuffle",
)
def q_simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return simsearch.cosine_topk(e, _query_vector(spark, sf_dir), k=10)


def _planted_corpus(spark: SparkSession, sf_dir: str, n_plants: int = 10) -> DataFrame:
    """Embeddings corpus plus ``n_plants`` exact copies of vector 0 under
    ids 1_000_000..1_000_000+n-1 — the guaranteed-recall certification
    harness for the approximate search paths: an exact copy of the query
    shares its hyperplane signature bit-for-bit (hamming 0) and assigns to
    the query's own argmax IVF cell, so BOTH pruning families must return
    every plant no matter how the organic corpus scatters. The true top-k
    is then known in closed form (vec 0 + the plants, cosine exactly 1.0
    after the 6 dp round), which upgrades the former rows-only checks to
    full value-hash oracles. Organic recall quality remains approximate by
    design and is pinned separately (tests/test_scale_spotcheck.py)."""
    e = table(spark, sf_dir, "embeddings")
    plants = (
        e.where(F.col("vec_id") == 0)
        .crossJoin(spark.range(n_plants).select((F.col("id") + F.lit(1_000_000)).alias("_nid")))
        .withColumn("vec_id", F.col("_nid"))
        .drop("_nid")
        .select(*e.columns)
    )
    return e.unionByName(plants)


#: DuckDB form of the planted top-11: vec 0 itself plus the ten plants,
#: all at cosine exactly 1.0 (organic max 0.51 — measured — so nothing
#: else can reach the planted score).
_PLANTED_TOPK_ORACLE = """
    SELECT CAST(0 AS BIGINT) AS vec_id, CAST(1.0 AS DOUBLE) AS score
    UNION ALL
    SELECT CAST(999999 + r AS BIGINT), CAST(1.0 AS DOUBLE) FROM range(1, 11) t(r)
    """


@register(
    "q_simsearch_lsh",
    "llm",
    oracle=_PLANTED_TOPK_ORACLE,
    notes="LSH-bucketed cosine top-k: hyperplane signature prune (hamming≤6 "
    "of 16 planes) then exact scoring — the 100 TB path where the signature "
    "is the storage partition key. Certified on the planted-copy corpus "
    "(see _planted_corpus): copies of the query share its signature exactly, "
    "so the top-11 is known in closed form and the candidate pruning, "
    "Hamming filter, exact scoring, and k-selection are all value-verified; "
    "organic recall stays approximate by design (sf0.1 spot-check)",
)
def q_simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    planted = _planted_corpus(spark, sf_dir)
    return simsearch.cosine_topk_lsh(
        planted, _query_vector(spark, sf_dir), k=11, n_planes=16, max_hamming=6
    )


@register(
    "q_simsearch_batch",
    "llm",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 8
    ), s AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
      FROM embeddings e CROSS JOIN q
    ), r AS (
      SELECT query_id, vec_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id) AS INT) AS rn
      FROM s
    )
    SELECT query_id, vec_id, score, rn FROM r WHERE rn <= 5
    """,
    notes="batched exact top-k retrieval (8 query vectors at once): one corpus "
    "scan ⋈ broadcast(queries); WindowGroupLimit rank-limit pushdown bounds "
    "the shuffle to n_partitions×n_queries×k rows (plan-pinned) — the "
    "decontamination/retrieval probe shape at 100 TB",
)
def q_simsearch_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return simsearch.cosine_topk_batch(e, queries, k=5)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "q_text_tokens",
    "llm",
    oracle=r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER)
               AS n_bpe_ish
    FROM documents
    """,
    notes="token counting: whitespace tokens + BPE-ish word-piece estimate, "
    "both pure codegen expressions",
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textops.token_count(F.col("text")).alias("n_tokens"),
        textops.bpe_ish_token_count(F.col("text")).alias("n_bpe_ish"),
    )


@register(
    "q_text_quality",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars_calc,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(toks,
                x -> list_contains(['the','and','of','to','a','in','is'], x))) AS INTEGER)
               AS stop_hits,
           ROUND(len(list_filter(toks,
                x -> list_contains(['the','and','of','to','a','in','is'], x))) * 1.0
                / greatest(len(toks), 1), 4) AS stop_ratio
    FROM t
    """,
    notes="quality scoring: length/stopword metrics (integers + one rounded "
    "ratio so hashes are engine-stable)",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = textops.tokens(F.lower(F.col("text")))
    stop = textops.LANG_MARKERS["en"]
    hits = F.size(F.filter(toks, lambda t: t.isin(*stop)))
    return d.select(
        "doc_id",
        textops.char_count(F.col("text")).alias("n_chars_calc"),
        F.size(toks).cast("int").alias("n_tokens"),
        hits.cast("int").alias("stop_hits"),
        F.round(hits / F.greatest(F.size(toks), F.lit(1)), 4).alias("stop_ratio"),
    )


@register(
    "q_text_langid",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
        len(list_filter(toks, x -> list_contains(['der','die','das','und','nicht','ist'], x))) AS s_de,
        len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is'], x))) AS s_en,
        len(list_filter(toks, x -> list_contains(['el','la','los','que','de','es'], x))) AS s_es,
        len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est'], x))) AS s_fr,
        len(list_filter(toks, x -> list_contains(['de5'], x))) AS s_zh
      FROM t
    )
    SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang
    FROM s
    """,
    notes="language-ID: function-word marker argmax (deterministic tie-break "
    "to lexicographically-smallest code) — the n-gram-heuristic family, no model",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", textops.predicted_lang(F.col("text")).alias("pred_lang"))


@register(
    "q_text_fingerprint",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
      CAST(list_reduce(
        list_prepend(0, list_transform(toks,
          s -> ('0x' || substr(sha256(s), 1, 7))::BIGINT)),
        (a, b) -> (a * 1000003 + b) % 2147483647
      ) AS BIGINT) AS fp
    FROM t
    """,
    notes="document fingerprint: order-sensitive polynomial rolling hash of "
    "the token stream. The token hash is the first 7 hex chars of SHA-256 "
    "and the fold is acc·1000003+h mod 2^31−1 "
    "(llm/textops.fingerprint_portable) — bounds keep every intermediate "
    "under ~2^52 so overflow-raising and overflow-wrapping engines agree, "
    "which is what upgraded this query from rows-only to value-verified; "
    "the xxhash64 form (llm/textops.fingerprint) remains the cheap "
    "single-engine variant",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", textops.fingerprint_portable(F.col("text")).alias("fp"))


@register(
    "q_text_logprob",
    "llm",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
      FROM documents
    ), f AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY tok
    ), n AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total FROM f
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_tokens,
           ROUND(AVG(ln(CAST(f.c AS DOUBLE) / CAST((SELECT total FROM n) AS DOUBLE))), 6)
             AS mean_logprob
    FROM tok t JOIN f USING (tok)
    GROUP BY t.doc_id
    """,
    notes="model-free fluency scoring (llm/textops.unigram_logprob_scores): "
    "each doc's mean unigram log-probability under the corpus's OWN token "
    "distribution — the CCNet/KenLM perplexity-filter shape without an "
    "external LM; a threshold on the score is the garbled-text filter. "
    "One token-count shuffle + broadcast frequency join + per-doc mean; "
    "hot stopword join keys ride the broadcast (AQE skew-join at "
    "vocabularies past broadcast range). Score rounded to 6 dp (ln is "
    "libm-level and the mean is summation-order-dependent — the TF-IDF "
    "ln discipline)",
)
def q_text_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textops.unigram_logprob_scores(d, "text", "doc_id")


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@register(
    "q_multimodal",
    "llm",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           sha256(text) AS payload_sha
    FROM documents
    """,
    notes="multimodal plumbing: documents→binary assets→mapInPandas feature "
    "extraction (Arrow batches). The sha/byte-count columns oracle-verify "
    "that the Python batch path saw exactly the right bytes; decoded feature "
    "values are oracle-verified by q_multimodal_decode and unit tests",
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    assets = multimodal.synthesize_assets(d)
    feats = multimodal.extract_features(assets)
    return feats.select("asset_id", "n_bytes", "payload_sha")


@register(
    "q_multimodal_decode",
    "llm",
    oracle="""
    WITH b AS (
      SELECT doc_id AS asset_id, octet_length(encode(text)) AS n FROM documents
    ), d AS (
      SELECT asset_id, n, GREATEST(1, LEAST(16, (n + 2) // 3)) AS width FROM b
    )
    SELECT asset_id,
           CAST(width AS INTEGER) AS width,
           CAST(GREATEST(1, CAST(ceil(n / (width * 3.0)) AS BIGINT)) AS INTEGER) AS height
    FROM d
    """,
    notes="REAL multimodal decode, oracle-verified: documents → synthesized "
    "24-bit BMP payloads (llm/multimodal.encode_bmp over text bytes) → "
    "mapInPandas feature extraction that PARSES the BMP header back "
    "(llm/multimodal.decode_bmp). The width/height the decoder recovers "
    "exist only inside the binary container, so a match against the "
    "oracle's arithmetic reconstruction proves the decode path executed — "
    "no stub left in the default flow. Channel-mean/RMS features are "
    "pinned by unit tests (exact values on known pixels/samples)",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    assets = multimodal.synthesize_media_assets(d, modality="image")
    feats = multimodal.extract_features(assets)
    return feats.select(
        "asset_id",
        F.col("feature")[0].cast("int").alias("width"),
        F.col("feature")[1].cast("int").alias("height"),
    )


@register(
    "q_multimodal_audio",
    "llm",
    oracle="""
    WITH b AS (
      SELECT doc_id AS asset_id, octet_length(encode(text)) AS n FROM documents
    )
    SELECT asset_id,
           CAST((n + (n % 2)) // 2 AS INTEGER) AS n_samples,
           CAST(((n + (n % 2)) // 2) * 1000.0 / 8000 AS DOUBLE) AS duration_ms
    FROM b
    """,
    notes="REAL audio decode, oracle-verified: documents → mono 16-bit PCM "
    "WAV payloads (llm/multimodal.encode_wav; text bytes zero-padded to "
    "even length become int16 samples) → mapInPandas feature extraction "
    "that walks the RIFF chunks back (llm/multimodal.decode_wav). Sample "
    "count and duration live only inside the container headers; the "
    "duration doubles are dyadic (n/8 ms) so float32 feature storage is "
    "exact and both engines hash identically. RMS/min/max pinned by unit "
    "tests on known samples",
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    assets = multimodal.synthesize_media_assets(d, modality="audio")
    feats = multimodal.extract_features(assets)
    return feats.select(
        "asset_id",
        F.col("feature")[2].cast("int").alias("n_samples"),
        F.col("feature")[3].cast("double").alias("duration_ms"),
    )


@register(
    "q_multimodal_dedup",
    "llm",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS id_a,
           CAST(doc_id + 1000000 AS BIGINT) AS id_b,
           CAST(0 AS INTEGER) AS hamming
    FROM documents
    """,
    notes="perceptual image near-dup (average-hash over the REAL BMP "
    "decoder): documents → synthesized 24-bit BMPs → 64-bit aHash per "
    "image (Arrow-batched, numpy raster sampling) → the SAME "
    "quarter-blocking + exact-Hamming pipeline as the text simhash "
    "(llm/dedup.hamming_pairs_64; shuffle O(assets × 4), never "
    "quadratic). Self-certifying planted-pair form: the asset table is "
    "unioned with an id-shifted copy — byte-identical payloads hash "
    "identically, so every planted (doc, doc+1e6) pair MUST surface at "
    "hamming 0 (recall 1.0 by pigeonhole ⇒ exactly one row per doc, a "
    "full value-hash oracle); the raw hash values stay inexpressible in "
    "DuckDB (no BMP decode), perturbation locality pinned by unit tests "
    "(llm/multimodal.near_dup_images_ahash)",
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    assets = multimodal.synthesize_media_assets(d, modality="image")
    planted = assets.unionByName(
        assets.withColumn("asset_id", F.col("asset_id") + F.lit(1_000_000))
    )
    pairs = multimodal.near_dup_images_ahash(planted, max_hamming=3)
    return pairs.where(F.col("id_b") == F.col("id_a") + F.lit(1_000_000))


@register(
    "q_multimodal_audio_dedup",
    "llm",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS id_a,
           CAST(doc_id + 1000000 AS BIGINT) AS id_b,
           CAST(0 AS INTEGER) AS hamming
    FROM documents
    """,
    notes="audio near-dup (64-bit energy-delta fingerprint over the REAL "
    "WAV chunk-walk decoder — the FFT-free Shazam-family reduction): "
    "documents → synthesized PCM WAVs → sign-of-delta bits over 65 "
    "amplitude windows → the shared quarter-blocking + exact-Hamming "
    "pipeline (llm/dedup.hamming_pairs_64 — third family on it after "
    "text simhash and image aHash). Same self-certifying planted-pair "
    "form as q_multimodal_dedup: byte-identical audio fingerprints "
    "identically, so every planted (doc, doc+1e6) pair surfaces at "
    "hamming 0 — exactly one row per doc, full value-hash oracle "
    "(llm/multimodal.near_dup_audio_fingerprint)",
)
def q_multimodal_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    assets = multimodal.synthesize_media_assets(d, modality="audio")
    planted = assets.unionByName(
        assets.withColumn("asset_id", F.col("asset_id") + F.lit(1_000_000))
    )
    pairs = multimodal.near_dup_audio_fingerprint(planted, max_hamming=3)
    return pairs.where(F.col("id_b") == F.col("id_a") + F.lit(1_000_000))


@register(
    "q_pandas_udf",
    "llm",
    oracle="""
    SELECT vec_id,
           ROUND(list_cosine_similarity(
               CAST(embedding AS DOUBLE[]),
               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score
    FROM embeddings
    """,
    notes="§2.10: the engine's vectorized-UDF discipline — Arrow pandas_udf "
    "cosine against a broadcast query vector, numerically checked vs DuckDB",
)
def q_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    qv = np.array(_query_vector(spark, sf_dir), dtype="float64")
    qn = float(np.sqrt((qv * qv).sum()))

    # pd/np are module-level imports: pandas_udf resolves the (stringified,
    # via __future__ annotations) type hints against the function's module
    # globals — function-local imports make the hints unresolvable.
    @pandas_udf("double")
    def cos_sim(col: pd.Series) -> pd.Series:
        # np.stack → one (batch, dim) float64 matrix per Arrow batch; the
        # matmul is the whole batch's work in one BLAS call.
        m = np.stack(col.to_numpy())
        m = m.astype("float64")
        num = m @ qv
        den = np.sqrt((m * m).sum(axis=1)) * qn
        return pd.Series(num / np.maximum(den, 1e-12))

    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", F.round(cos_sim(F.col("embedding")), 6).alias("score"))


@register(
    "q_simsearch_ivf",
    "llm",
    oracle=_PLANTED_TOPK_ORACLE,
    notes="IVF cosine top-k: deterministic hash-sampled coarse quantizer, "
    "Pandas-UDF batched matmul assignment, nprobe-cell probe then exact "
    "scoring (llm/simsearch.cosine_topk_ivf) — at scale the cell id is the "
    "storage partition key and a probe reads nprobe/n_cells of the data. "
    "Certified on the planted-copy corpus (see _planted_corpus): a copy of "
    "the query assigns to the query's own argmax cell, which is by "
    "definition the first probed cell, so the closed-form top-11 "
    "value-verifies quantizer fit, assignment, cell pruning, and scoring; "
    "organic recall stays approximate by design (sf0.1 spot-check)",
)
def q_simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    planted = _planted_corpus(spark, sf_dir)
    return simsearch.cosine_topk_ivf(
        planted, _query_vector(spark, sf_dir), k=11, n_cells=16, nprobe=4
    )


@register(
    "q_simsearch_recall",
    "llm",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(10 AS BIGINT) AS n_exact,
           CAST(1 AS INTEGER) AS recall_ok
    FROM embeddings ORDER BY vec_id LIMIT 8
    """,
    notes="in-plan ANN quality certification: batched IVF retrieval "
    "(llm/simsearch.cosine_topk_ivf_batch — probe-pairs broadcast join "
    "on the cell key, the partition-pruning shape at scale) joined "
    "against the exact batched top-10 (cosine_topk_batch), per-query "
    "overlap counted in the same plan. recall_ok asserts recall@10 "
    ">= 0.8 per query at n_cells=16/nprobe=8/n_assign=3 (measured "
    ">= 0.9 at sf0.001/0.01/0.1 on the near-isotropic test embeddings; "
    "the 0.8 bound leaves one-neighbor margin). Deterministic "
    "end-to-end: hash-sampled quantizer seeds, rounded scores, id "
    "tiebreaks — so the bit is stable, and the recall harness itself "
    "is distributed (no driver-side per-query loop), which is what "
    "lets the same query audit an index over any corpus size",
)
def q_simsearch_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    queries = (
        e.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    exact = simsearch.cosine_topk_batch(e, queries, k=10)
    approx = simsearch.cosine_topk_ivf_batch(
        e, queries, k=10, n_cells=16, nprobe=8, n_assign=3
    )
    overlap = (
        exact.select("query_id", "vec_id")
        .join(approx.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            (F.coalesce("n_overlap", F.lit(0)) >= 8).cast("int").alias("recall_ok"),
        )
    )


@register(
    "q_embed_centroid",
    "llm",
    oracle="""
    WITH x AS (
      SELECT label,
             unnest(list_transform(embedding, (v, i) -> {'pos': i, 'val': v})) AS u
      FROM embeddings
    )
    SELECT label, CAST(u.pos AS INTEGER) AS pos,
           ROUND(AVG(CAST(u.val AS DOUBLE)), 6) AS c
    FROM x GROUP BY label, u.pos
    """,
    notes="per-label embedding centroid as a pure columnar plan: posexplode "
    "to (label, pos, val) rows, one hash agg — the vector mean at 100 TB is "
    "a partial-aggregated shuffle of 8-byte cells, no UDF, no collect. "
    "Output is (label, pos, c) rows rather than arrays so the compare is "
    "elementwise-exact",
)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    exploded = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("c")
    ).select("label", (F.col("pos") + 1).cast("int").alias("pos"), "c")


@register(
    "q_approx_percentile",
    "llm",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_exact,
           CAST(1 AS INTEGER) AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    notes="approx_percentile (GK sketch): the 100 TB replacement for "
    "q_percentiles' exact per-group sort — mergeable sketches, one shuffle "
    "of O(sketch) bytes per group. Self-certifying form: the sketch value "
    "itself is engine-specific, so the query emits the EXACT per-group "
    "median (hash-comparable, same quantile_cont contract as "
    "q_percentiles) plus an integer bound bit |approx−exact| ≤ 5%·exact "
    "computed in-plan; the oracle asserts the bit is 1, which certifies "
    "the sketch's accuracy claim rather than its internals",
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    ap = F.approx_percentile("l_quantity", F.lit(0.5), F.lit(10000))
    ep = F.percentile("l_quantity", F.lit(0.5))
    return li.groupBy("l_returnflag").agg(
        F.round(ep, 4).alias("p50_exact"),
        (F.abs(ap - ep) <= F.lit(0.05) * ep).cast("int").alias("approx_ok"),
    )


@register(
    "q_approx_percentile_sketch",
    "llm",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(1 AS INTEGER) AS rank_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    notes="the PRODUCTION form of the grouped median: approx_percentile "
    "sketch WITHOUT the exact percentile aggregate (q_approx_percentile "
    "pays the exact buffer-all-values percentile in-plan for its bound "
    "bit, so its bench number showed the exact path's profile — the r5/r6 "
    "ADVICE item). Certification here is the QUANTILE RANK CONTRACT, "
    "checked with one extra hash-agg scan + broadcast join instead of a "
    "per-group value sort: the fraction of rows ≤ the sketch's p50 must "
    "sit within 0.5 ± (sketch rank error 1e-4 + one value-bin of tie "
    "mass ≈ 0.02) — a wrong quantile is off by O(0.5). The bit is robust "
    "to the sketch's merge-order nondeterminism because the rank bound "
    "holds for ANY legal GK state, so the row hashes identically every "
    "run. At 100 TB: two scans, both partial-aggregated, no value buffer",
)
def q_approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    ap = li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_quantity", F.lit(0.5), F.lit(10000)).alias("_p50")
    )
    joined = li.select("l_returnflag", "l_quantity").join(
        F.broadcast(ap), "l_returnflag"
    )
    frac = F.avg((F.col("l_quantity") <= F.col("_p50")).cast("double"))
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        (F.abs(frac - F.lit(0.5)) <= F.lit(0.03)).cast("int").alias("rank_ok"),
    )


@register(
    "q_corpus_filter",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
        len(toks) AS n_tok,
        len(list_distinct(toks)) AS n_dist,
        length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0
            / greatest(length(text), 1) AS punct,
        len(list_filter(toks, x -> list_contains(['der','die','das','und','nicht','ist'], x))) AS s_de,
        len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is'], x))) AS s_en,
        len(list_filter(toks, x -> list_contains(['el','la','los','que','de','es'], x))) AS s_es,
        len(list_filter(toks, x -> list_contains(['le','la','et','les','des','est'], x))) AS s_fr,
        len(list_filter(toks, x -> list_contains(['de5'], x))) AS s_zh
      FROM t
    ), v AS (
      SELECT doc_id,
        n_tok BETWEEN 10 AND 100000 AS len_ok,
        CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
             WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
             WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
             WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
             WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
             ELSE 'zh' END = 'en' AS lang_ok,
        punct <= 0.2 AS punct_ok,
        (1.0 - n_dist * 1.0 / greatest(n_tok, 1)) <= 0.6 AS rep_ok
      FROM s
    )
    SELECT doc_id,
           CAST(len_ok AS INTEGER) AS len_ok,
           CAST(lang_ok AS INTEGER) AS lang_ok,
           CAST(punct_ok AS INTEGER) AS punct_ok,
           CAST(rep_ok AS INTEGER) AS rep_ok,
           CAST(len_ok AND lang_ok AND punct_ok AND rep_ok AS INTEGER) AS keep
    FROM v
    """,
    notes="corpus filter cascade (llm/filtering.apply_corpus_filter): "
    "length / language / punctuation / repetition gates as independent "
    "bits + conjunction verdict, ONE projection pass fused with the scan — "
    "rejected rows keep their rule bits so drop reasons aggregate without "
    "a second scan. All integer/ratio comparisons are bit-identical "
    "cross-engine (integer-division doubles)",
)
def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import filtering

    d = table(spark, sf_dir, "documents")
    out = filtering.apply_corpus_filter(d, "text")
    return out.select(
        "doc_id",
        F.col("len_ok").cast("int").alias("len_ok"),
        F.col("lang_ok").cast("int").alias("lang_ok"),
        F.col("punct_ok").cast("int").alias("punct_ok"),
        F.col("rep_ok").cast("int").alias("rep_ok"),
        F.col("keep").cast("int").alias("keep"),
    )


@register(
    "q_text_chunks",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, CAST(ceil(len(toks) / 32.0) AS INTEGER) - 1)) AS chunk_idx
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(len(toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 32]) AS INTEGER) AS n_tokens,
           array_to_string(toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 32], ' ') AS chunk_text
    FROM c
    """,
    notes="tokenize-and-pack (llm/filtering.chunk_documents): fixed-size "
    "token chunks via sequence+explode+slice — row multiplication stays "
    "executor-side, zero shuffles; the deterministic chunking stage of a "
    "training-data pipeline",
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import filtering

    d = table(spark, sf_dir, "documents")
    return filtering.chunk_documents(d, "text", "doc_id", max_tokens=32)


@register(
    "q_python_udtf",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, CAST(ceil(len(toks) / 16.0) AS INTEGER) - 1)) AS chunk_idx
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(len(toks[chunk_idx * 16 + 1 : chunk_idx * 16 + 16]) AS INTEGER) AS n_tokens,
           array_to_string(toks[chunk_idx * 16 + 1 : chunk_idx * 16 + 16], ' ') AS chunk_text
    FROM c
    """,
    notes="Spark 4 Python UDTF surface (functions/udtfs.ChunkTextUDTF): "
    "one row in, many rows out through a LATERAL join — the table-"
    "function member of the UDF family (scalar pandas_udf, grouped "
    "applyInPandas, mapInPandas are covered elsewhere). Deliberately "
    "the SAME transform as q_text_chunks at a different width, so the "
    "oracle pins the UDTF output equal to the codegen "
    "sequence+explode+slice hot path — the UDTF is row-path Python and "
    "is documented as API coverage / escape hatch, never the 100 TB "
    "plan of record",
)
def q_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udtfs import register_udtfs

    register_udtfs(spark)
    table(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.n_tokens, c.chunk_text
        FROM _udtf_docs AS d,
             LATERAL chunk_text_udtf(d.text, 16) AS c
        """
    )


@register(
    "q_text_chunks_overlap",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, CAST(ceil(len(toks) / 24.0) AS INTEGER) - 1)) AS chunk_idx
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(len(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS INTEGER) AS n_tokens,
           array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS chunk_text
    FROM c
    """,
    notes="OVERLAPPING context windows (llm/filtering.chunk_documents with "
    "stride 24 < max_tokens 32): each chunk carries 8 tokens of left "
    "context so no next-token prediction starts cold at a boundary — the "
    "standard long-document training shape. Same zero-shuffle "
    "sequence+explode+slice construction as q_text_chunks; chunk starts "
    "step by the stride, window length stays max_tokens, last window "
    "keeps the remainder",
)
def q_text_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import filtering

    d = table(spark, sf_dir, "documents")
    return filtering.chunk_documents(d, "text", "doc_id", max_tokens=32, stride=24)


@register(
    "q_text_tfidf",
    "llm",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, t
      FROM documents, LATERAL UNNEST(regexp_split_to_array(lower(text), '\s+')) AS u(t)
      WHERE t != ''
    ),
    tf AS (SELECT doc_id, t AS token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, t),
    df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS dfreq
           FROM (SELECT DISTINCT doc_id, token FROM tf) GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf, df.dfreq,
           ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.dfreq), 4) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
    """,
    notes="TF-IDF as pure DataFrame composition (no MLlib HashingTF — the "
    "exact token identity is kept, which training pipelines want for "
    "interpretable filtering): explode → tf per (doc, token) → document "
    "frequency per token → broadcast n_docs → ln ratio. Two shuffles "
    "(doc-token, token). The tf⋈dfreq join is deliberately NOT hinted: "
    "dfreq is vocabulary-sized (hundreds of millions of rows at 100 TB of "
    "text), so a forced broadcast would OOM; tf is already hash-partitioned "
    "by token from the dfreq aggregation, so AQE reuses that exchange and "
    "only picks broadcast when dfreq measures small at runtime. The LN of "
    "identical integer ratios agrees across engines; ROUND(,4) output",
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("dfreq"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "dfreq",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("dfreq")), 4
            ).alias("tfidf"),
        )
    )


@register(
    "q_dedup_clusters",
    "llm",
    oracle=_SHINGLE_CTE.replace("WITH t AS", "WITH RECURSIVE t AS")
    + """
    , pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / greatest(len(list_distinct(a.sh || b.sh)), 1) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id
    ),
    comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT d.doc_id,
           CAST(COALESCE(comp.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
           (d.doc_id = COALESCE(comp.cluster_id, d.doc_id)) AS keep
    FROM documents d LEFT JOIN comp ON d.doc_id = comp.id
    """,
    notes="dedup cluster assignment: connected components over the "
    "MinHash+LSH near-dup pair graph via iterative min-label propagation "
    "(llm/dedup.dedup_clusters) — the step that turns pair lists into the "
    "keep/drop decision (keep doc_id == cluster_id, the canonical "
    "survivor). Rounds = cluster diameter (shallow for dup clusters); each "
    "round is one shuffle on the node id, only a 1-row convergence probe "
    "reaches the driver. Oracle: DuckDB recursive-CTE transitive closure "
    "over the brute-force pair set",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    pairs = dedup.near_dup_pairs_minhash(
        d, "text", "doc_id", n_shingle=3, num_hashes=64, bands=16, jaccard_threshold=0.8
    )
    return dedup.dedup_clusters(pairs, all_ids=d, id_col="doc_id").select(
        "doc_id", "cluster_id", "keep"
    )


@register(
    "q_sample_rebalance",
    "llm",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE (doc_id * 1597334677) % 1000 <
          CASE lang WHEN 'en' THEN 300 WHEN 'de' THEN 700 ELSE 1000 END
    """,
    notes="deterministic stratified downsampling — corpus rebalancing "
    "(e.g. cap overrepresented languages) via a multiplicative hash of the "
    "stable id against a per-stratum keep-rate: no RNG state, every engine "
    "reproduces the same sample, and membership is a pure row-local "
    "predicate evaluated inside the scan's codegen stage — no RNG, no "
    "shuffle, no sample table to join (the hash arithmetic itself is not "
    "a parquet-pushable comparison; the win is composability, not I/O "
    "skipping). Per-lang rates as a CASE (a broadcast rates dim works "
    "identically for many strata)",
)
def q_sample_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(1597334677)) % 1000
    rate = (
        F.when(F.col("lang") == "en", 300)
        .when(F.col("lang") == "de", 700)
        .otherwise(1000)
    )
    return d.where(bucket < rate).select("doc_id", "lang", "source")


@register(
    "q_pack_contiguous",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(((doc_id % 2147483648) * 2654435761) % 32 AS INTEGER) AS stream,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT stream, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT stream, CAST((cum - n_tokens) // 512 AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM c GROUP BY 1, 2
    """,
    notes="document-boundary-preserving packing "
    "(llm/filtering.pack_docs_contiguous): assign WHOLE docs to "
    "fixed-capacity training bins by per-stream token prefix-sums — the "
    "packing discipline for SFT/instruction corpora where examples must "
    "not straddle sequences (q_pack_sequences is the concat-then-split "
    "pretraining twin where they do). Contiguous fill in stable id "
    "order within 32 Knuth-hash streams; a doc lands in the bin holding "
    "its start offset (overflow ≤ one doc tail; hard caps compose with "
    "chunk_documents). Scale: N independent window prefix-sums, ONE "
    "shuffle on the stream key — the global-cumsum form would serialize "
    "the corpus through a single task. All integer arithmetic; per-bin "
    "doc/token counts are a full value oracle",
)
def q_pack_contiguous(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    packed = filtering.pack_docs_contiguous(d, "text", "doc_id", capacity=512, n_streams=32)
    return packed.groupBy("stream", "bin").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("sum_tokens")
    )


@register(
    "q_sample_temperature",
    "llm",
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS tk
      FROM documents GROUP BY source
    ), r AS (
      SELECT source,
             CAST(FLOOR(1000 * (sqrt(CAST((SELECT MIN(tk) FROM t) AS DOUBLE))
                                / sqrt(CAST(tk AS DOUBLE)))) AS INTEGER) AS rate
      FROM t
    )
    SELECT d.doc_id, d.source, r.rate
    FROM documents d JOIN r USING (source)
    WHERE (d.doc_id * 1597334677) % 1000 < r.rate
    """,
    notes="temperature-mixture downsampling (share_i ∝ tokens_i^alpha, "
    "alpha=0.5): per-source keep-rates DERIVED from the corpus token "
    "mixture (normalized so the smallest source keeps all), applied via "
    "the same deterministic id-hash membership as q_sample_rebalance — "
    "the standard pretraining mixture knob with zero RNG. Rates are "
    "bit-identical cross-engine because sqrt and one division are "
    "correctly-rounded IEEE ops over exact integer token sums (general "
    "alpha uses pow and is excluded from the oracle by design). One "
    "group-cardinality agg + broadcast rates join over the scan "
    "(llm/filtering.temperature_sample)",
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return filtering.temperature_sample(d, "source", "text", alpha=0.5).select(
        "doc_id", "source", "rate"
    )


@register(
    "q_pack_sequences",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER)
               AS n_tokens,
             CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                  WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ), p AS (
      SELECT doc_id, split, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY split ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM t
    )
    SELECT doc_id, split, n_tokens,
           CAST(prefix // 2048 AS INTEGER) AS pack_id,
           CAST(prefix % 2048 AS INTEGER) AS pack_offset
    FROM p
    """,
    notes="GPT-style sequence packing (concat-then-split): an exclusive "
    "prefix sum of token counts in stable doc_id order assigns every "
    "document its training-sequence id (prefix // 2048) and offset — "
    "documents may straddle block boundaries exactly as in standard "
    "pretraining packing. Packed WITHIN the deterministic split shards "
    "(window PARTITION BY split): the global-cumsum bottleneck is bounded "
    "by shard size, and at 100 TB the same pattern runs per storage shard "
    "(hundreds of partitions), never one global sort. Pure integer "
    "arithmetic — bit-identical across engines",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    t = d.select(
        "doc_id",
        textops.token_count(F.col("text")).alias("n_tokens"),
        split.alias("split"),
    )
    w = (
        Window.partitionBy("split")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return t.select(
        "doc_id",
        "split",
        "n_tokens",
        F.floor(prefix / 2048).cast("int").alias("pack_id"),
        (prefix % 2048).cast("int").alias("pack_offset"),
    )


@register(
    "q_embed_quantize",
    "llm",
    oracle="""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), s AS (
      SELECT vec_id, v,
             GREATEST(list_max(list_transform(v, x -> abs(x))) / 127.0, 1e-30) AS scale
      FROM b
    ), q AS (
      SELECT vec_id, scale,
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
      FROM s
    )
    SELECT vec_id, scale,
           array_to_string(qv, ',') AS q_codes,
           CAST(list_sum(qv) AS BIGINT) AS q_sum
    FROM q
    """,
    notes="symmetric per-vector int8 quantization "
    "(llm/simsearch.quantize_embedding): scale = max|v|/127, q = "
    "floor(v/scale + 0.5) — explicit half-up floor instead of round() "
    "because the engines' rounding tie modes differ; every step is the "
    "same IEEE double op on both sides, so even the raw double scale "
    "hashes identically. Codes are emitted string-joined (+ checksum) — "
    "scalar cells, since the driver's value-hash comparison is only "
    "specified for scalars. At 100 TB the int8 form cuts embedding "
    "storage and scan I/O 4x, scores candidates in integer arithmetic, "
    "and exact re-scoring touches only finalists",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    scale, q = simsearch.quantize_embedding(F.col("embedding"))
    qq = e.select("vec_id", scale.alias("scale"), q.alias("qv"))
    return qq.select(
        "vec_id",
        "scale",
        F.array_join(F.transform(F.col("qv"), lambda x: x.cast("string")), ",").alias("q_codes"),
        F.aggregate(F.col("qv"), F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
    )


@register(
    "q_embed_normalize",
    "llm",
    oracle="""
    WITH x AS (
      SELECT label,
             unnest(list_transform(embedding, (v, i) -> {'pos': i, 'val': v})) AS u
      FROM embeddings
    )
    SELECT label, CAST(u.pos AS INTEGER) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(1 AS INTEGER) AS mu_ok, CAST(1 AS INTEGER) AS sd_ok
    FROM x GROUP BY label, u.pos
    """,
    notes="§2.10 grouped-map discipline: per-label embedding whitening via "
    "applyInPandas (llm/simsearch.normalize_embeddings_by_group) — the one "
    "Pandas-UDF shape where the computation needs the whole group as a "
    "matrix; one shuffle on label. The raw whitened doubles are "
    "summation-order-dependent across engines (and an ARRAY column can't "
    "be value-hashed at all — the round-4 red row), so the contract "
    "projection certifies the DEFINING invariants instead: per (label, "
    "dimension), the whitened values must have |mean| < 1e-4 and "
    "|stddev_pop − 1| < 1e-3 (emitted as integer bits, tolerance covers "
    "only float32 round-trip noise — a wrong mean/std/axis would be off "
    "by O(1)), plus the group row count. sd_ok is vacuously 1 for "
    "single-row groups (they whiten to zeros by the std-clamp contract, "
    "where stddev_pop=0 is correct, not a defect); a zero-variance INPUT "
    "dimension in a larger group would legitimately trip the bit — the "
    "testdata has none (smallest group 42 rows, all dims nontrivial "
    "variance). Exact per-value semantics stay pinned by the numpy-twin "
    "unit test",
)
def q_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    out = simsearch.normalize_embeddings_by_group(e, "label", "embedding", "vec_id")
    per_dim = out.select(
        "label", F.posexplode("embedding").alias("pos0", "w")
    ).select(
        "label",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("w").cast("double").alias("w"),
    )
    return per_dim.groupBy("label", "pos").agg(
        F.count("*").alias("n"),
        (F.abs(F.avg("w")) < F.lit(1e-4)).cast("int").alias("mu_ok"),
        ((F.abs(F.stddev_pop("w") - F.lit(1.0)) < F.lit(1e-3)) | (F.count("*") == 1))
        .cast("int")
        .alias("sd_ok"),
    )


@register(
    "q_split_contamination",
    "llm",
    oracle=_SHINGLE_CTE
    + """
    , sp AS (
      SELECT doc_id, sh,
             CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                  WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM s
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           a.split AS split_a, b.split AS split_b,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
                 / greatest(len(list_distinct(a.sh || b.sh)), 1), 4) AS jaccard
    FROM sp a JOIN sp b ON a.doc_id < b.doc_id
    WHERE a.split <> b.split
      AND len(list_intersect(a.sh, b.sh)) * 1.0
          / greatest(len(list_distinct(a.sh || b.sh)), 1) >= 0.8
    """,
    notes="train/test DEcontamination — the eval-integrity pass every "
    "training pipeline needs: near-dup pairs (MinHash+LSH candidates, "
    "exact-Jaccard ≥0.8 verified) that CROSS the deterministic train/val/"
    "test split of q_split_hash. Engine cost is the same O(docs×bands) "
    "LSH as q_dedup_minhash plus a broadcast-sized split projection "
    "(split membership is pure arithmetic on the id — no split table "
    "join); the oracle is brute-force all-pairs. At 100 TB the "
    "contaminated ids feed an anti-join to quarantine eval leakage",
)
def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    pairs = dedup.near_dup_pairs_minhash(
        d, "text", "doc_id", n_shingle=3, num_hashes=64, bands=16, jaccard_threshold=0.8
    )
    bucket_a = (F.col("id_a") * F.lit(2654435761)) % 100
    bucket_b = (F.col("id_b") * F.lit(2654435761)) % 100
    split_of = lambda b: F.when(b < 80, "train").when(b < 90, "val").otherwise("test")  # noqa: E731
    return (
        pairs.withColumn("split_a", split_of(bucket_a))
        .withColumn("split_b", split_of(bucket_b))
        .where(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
    )


@register(
    "q_text_redact",
    "llm",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                      '@example.com or call 555-0100'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{3}[- ][0-9]{3,4}[- ]?[0-9]{0,4}', '<PHONE>', 'g') AS clean
    FROM documents
    """,
    notes="PII-shaped redaction (llm/textops.redact): chained codegen "
    "regexp_replace scrubbing emails and phone-like digit runs — the "
    "standard pre-training scrub pass, map-only at any scale. "
    "Deterministic synthetic PII is appended per row so every document "
    "exercises a real (non-vacuous) replacement; patterns are "
    "RE2-compatible so the identical regex runs in the DuckDB oracle "
    "('g' flag gives DuckDB Spark's replace-all semantics)",
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-0100"),
    )
    return d.select("doc_id", textops.redact(dirty).alias("clean"))


@register(
    "q_split_hash",
    "llm",
    oracle="""
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT n_chars,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT n_chars, (doc_id * 2654435761) % 100 AS bucket FROM documents)
    )
    GROUP BY split ORDER BY split
    """,
    notes="deterministic train/val/test assignment by multiplicative hash "
    "of the stable id (Knuth constant) — the reproducible-split idiom for "
    "training corpora: no RNG state, any engine reproduces the same "
    "partition, membership is a pure projection (joins/filters at 100 TB "
    "never need a split table). 80/10/10 by bucket ranges; exact integer "
    "arithmetic on both engines",
)
def q_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(F.col("n_chars"), split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("split")
    )


@register(
    "q_dedup_containment",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, lang,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
                         i -> array_to_string(toks[i:i+2], ' ')))
             END AS sh
      FROM t
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
                 / greatest(least(len(a.sh), len(b.sh)), 1), 4) AS containment
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE 5 * len(list_intersect(a.sh, b.sh))
          >= 4 * greatest(least(len(a.sh), len(b.sh)), 1)
    """,
    notes="shingle-containment near-dup (|A∩B|/min(|A|,|B|) ≥ 0.8) within "
    "language blocks — catches SUB-document duplication that Jaccard "
    "structurally misses (a doc embedded in a 10× larger one has "
    "containment ≈ 1 but jaccard ≈ 0.1, below every dedup threshold). No "
    "size-ratio prefilter by design: size-skewed pairs are the quarry. "
    "Threshold is integer cross-multiplication on exact set sizes, so the "
    "cut is engine-exact (llm/dedup.containment_pairs_blocked)",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dedup.containment_pairs_blocked(
        d, "text", "doc_id", block_cols=["lang"], n=3, threshold=0.8
    )


@register(
    "q_text_dedup_spans",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), segl AS (
      SELECT doc_id,
             list_transform(generate_series(0, CAST(ceil(len(toks) / 3.0) AS BIGINT) - 1),
                            i -> array_to_string(toks[3*i+1:3*i+3], ' ')) AS segs
      FROM t WHERE len(toks) > 0
    ), seg AS (
      SELECT doc_id, unnest(segs) AS seg,
             unnest(generate_series(0, len(segs) - 1)) AS i
      FROM segl
    ), boiler AS (
      SELECT seg FROM seg GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 2
    ), kept AS (
      SELECT s.doc_id, s.i, s.seg, (b.seg IS NOT NULL) AS is_b
      FROM seg s LEFT JOIN boiler b ON s.seg = b.seg
    ), agg AS (
      SELECT doc_id,
             COALESCE(string_agg(seg, ' ' ORDER BY i) FILTER (WHERE NOT is_b), '')
               AS text_clean,
             SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS n_dropped
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.text_clean, '') AS text_clean,
           CAST(COALESCE(a.n_dropped, 0) AS INTEGER) AS n_dropped
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    notes="span-level boilerplate dedup (the C4 line-dedup / duplicated-"
    "span-removal family): 3-token spans occurring verbatim in ≥2 distinct "
    "docs are excised from every document — editing INSIDE documents, which "
    "doc-level dedup cannot express. Engine counts spans by sha2 digest so "
    "the count shuffle carries fixed-width keys; boilerplate digests "
    "broadcast back (llm/dedup.boilerplate_span_dedup). Oracle groups the "
    "span strings directly — identical output barring a SHA-256 collision",
)
def q_text_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dedup.boilerplate_span_dedup(
        d, "text", "doc_id", span_tokens=3, min_docs=2
    )


@register(
    "q_text_dedup_intra",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), segl AS (
      SELECT doc_id,
             list_transform(generate_series(0, CAST(ceil(len(toks) / 3.0) AS BIGINT) - 1),
                            i -> array_to_string(toks[3*i+1:3*i+3], ' ')) AS segs
      FROM t WHERE len(toks) > 0
    ), seg AS (
      SELECT doc_id, unnest(segs) AS seg,
             unnest(generate_series(0, len(segs) - 1)) AS i
      FROM segl
    ), p AS (
      SELECT doc_id, seg, MIN(i) AS keep_i, COUNT(*) AS n_occ
      FROM seg GROUP BY doc_id, seg
    ), agg AS (
      SELECT doc_id,
             string_agg(seg, ' ' ORDER BY keep_i) AS text_clean,
             CAST(SUM(n_occ) AS INTEGER) AS n_spans,
             CAST(SUM(n_occ) - COUNT(*) AS INTEGER) AS n_dup_spans
      FROM p GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.text_clean, '') AS text_clean,
           COALESCE(a.n_spans, 0) AS n_spans,
           COALESCE(a.n_dup_spans, 0) AS n_dup_spans
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    notes="WITHIN-document repetition removal (the Gopher/C4 repeated-"
    "lines pass): every repeated 3-token span inside a doc is excised "
    "except its first occurrence, order preserved — the self-repetition "
    "complement of q_text_dedup_spans' cross-document boilerplate. Two "
    "partial-aggregable doc-keyed shuffles, no window, no cross-doc "
    "exchange (llm/dedup.intra_doc_span_dedup); oracle groups span "
    "strings where the engine groups sha2 digests — identical barring a "
    "SHA-256 collision",
)
def q_text_dedup_intra(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dedup.intra_doc_span_dedup(d, "text", "doc_id", span_tokens=3)


@register(
    "q_quality_rules",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
        len(toks) AS n,
        CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS tot,
        len(list_intersect(list_distinct(toks),
                           ['the','and','of','to','a','in','is'])) AS nstop,
        len(list_filter(toks, x -> regexp_matches(x, '^#+$') OR contains(x, '...')))
          AS nsym,
        CASE WHEN len(toks) >= 3
             THEN list_transform(generate_series(1, len(toks) - 2),
                                 i -> array_to_string(toks[i:i+2], ' '))
             ELSE CAST([] AS VARCHAR[]) END AS tri,
        len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS nalpha
      FROM t
    )
    SELECT doc_id,
      CAST(3*n <= tot AND tot <= 10*n AS INTEGER) AS meanlen_ok,
      CAST(nstop >= 2 AS INTEGER) AS stop_ok,
      CAST(100*nsym <= 10*n AS INTEGER) AS symbol_ok,
      CAST(100*(len(tri) - len(list_distinct(tri))) <= 30*len(tri) AS INTEGER) AS dup3_ok,
      CAST(100*nalpha >= 80*n AS INTEGER) AS alpha_ok,
      CAST((3*n <= tot AND tot <= 10*n) AND nstop >= 2 AND 100*nsym <= 10*n
           AND 100*(len(tri) - len(list_distinct(tri))) <= 30*len(tri)
           AND 100*nalpha >= 80*n AS INTEGER) AS keep
    FROM s
    """,
    notes="document-statistics quality gate (Gopher-rules family): mean "
    "word length band, distinct-stopword presence, symbol-token ratio, "
    "within-doc duplicated-trigram fraction, alphabetic-token ratio — five "
    "bits + conjunction per doc. Every threshold is integer "
    "cross-multiplication on exact counts, so bits are engine-exact; one "
    "codegen projection pass, zero shuffles "
    "(llm/filtering.document_stat_rules)",
)
def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return filtering.document_stat_rules(d, "text", "doc_id")


@register(
    "q_embed_assign",
    "llm",
    oracle="""
    WITH c AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < 8
    ), s AS (
      SELECT e.vec_id, c.cid,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) AS score
      FROM embeddings e CROSS JOIN c
    )
    SELECT vec_id, CAST(cid AS INTEGER) AS cell
    FROM (SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
          FROM s)
    WHERE rn = 1
    """,
    notes="nearest-centroid assignment (the k-means E-step / semantic-"
    "partition pass) through the PRODUCTION Arrow kernel (llm/simsearch."
    "ivf_assign: one batched float64 matmul + argmax per Arrow batch) — "
    "the exact-oracle twin that the rows-only q_simsearch_ivf check can't "
    "give. Centroids are the 8 lowest-id vectors so the oracle can select "
    "them in SQL; np.argmax's first-index tie-break matches the oracle's "
    "(score DESC, cid) row_number because the centroid list is built in "
    "ascending id order. Integer cell output: a float summation-order "
    "delta can only flip the result if two centroid cosines collide "
    "within ulps — not a property of real embedding data. Map-only at any "
    "scale; at 100 TB `cell` becomes the storage partition key",
)
def q_embed_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.where(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
    ]
    return simsearch.ivf_assign(e, cents, "embedding", out_col="cell").select(
        "vec_id", "cell"
    )


@register(
    "q_text_ngram_topk",
    "llm",
    oracle="""
    WITH t AS (
      SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), g AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+1], ' '))) AS ngram
      FROM t WHERE len(toks) >= 2
    )
    SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM g GROUP BY ngram
    ORDER BY n_occ DESC, ngram LIMIT 100
    """,
    notes="corpus-wide top-k word bigrams — the vocabulary/boilerplate/"
    "contamination audit statistic. Sliding windows explode executor-side "
    "(no shuffle for row multiplication); map-side partial aggregation "
    "collapses counts before the single exchange; orderBy+limit plans "
    "TakeOrderedAndProject (per-partition heaps, no global sort). "
    "Deterministic total order via (count desc, ngram asc) "
    "(llm/textops.ngram_occurrence_counts)",
)
def q_text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        textops.ngram_occurrence_counts(d, "text", n=2)
        .orderBy(F.desc("n_occ"), F.asc("ngram"))
        .limit(100)
    )


@register(
    "q_text_heavyhitters",
    "llm",
    oracle="""
    WITH t AS (
      SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), g AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+1], ' '))) AS ngram
      FROM t WHERE len(toks) >= 2
    )
    SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM g GROUP BY ngram
    ORDER BY n_occ DESC, ngram LIMIT 50
    """,
    notes="top-50 bigrams via distributed Misra-Gries "
    "(llm/textops.heavy_hitters_topk): per-partition mapInPandas "
    "summaries -> candidate union broadcast -> exact recount restricted "
    "to candidates -> top-k. The exchange carries O(partitions x "
    "capacity) candidates + candidate-only counts, never the distinct "
    "vocabulary — the regime where the exact groupBy's exchange IS the "
    "bottleneck at 100 TB. Honesty note: the synthetic corpus's bigram "
    "vocabulary (~931, near-uniform counts — no true heavy hitters) "
    "sits under the 1024 capacity, so ON TESTDATA the summary is "
    "lossless and the oracle compare certifies the merge/recount/top-k "
    "machinery end-to-end; the lossy sketch regime (capacity << vocab, "
    "planted skew) is pinned by "
    "test_heavy_hitters_finds_planted_skew_with_tiny_capacity",
)
def q_text_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textops.heavy_hitters_topk(d, "text", n=2, k=50, capacity=1024)


@register(
    "q_sample_source_cap",
    "llm",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 20
    """,
    notes="per-domain cap (C4/RefinedWeb practice): keep at most 20 docs "
    "per source, selected by deterministic md5(id) rank so the kept set "
    "is an unbiased sample of the domain, not a crawl-order prefix, and "
    "every engine reproduces it with no RNG state. One shuffle on source "
    "+ streaming window rank; mega-domain skew handled by a two-phase "
    "pre-trim at scale (llm/filtering.cap_per_group docstring)",
)
def q_sample_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return filtering.cap_per_group(d, "source", cap=20, id_col="doc_id").select(
        "doc_id", "source"
    )


@register(
    "q_split_ngram_leak",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, (doc_id * 2654435761) % 100 AS b,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, b,
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 4),
               i -> array_to_string(toks[i:i+4], ' ')))) AS gram
      FROM t WHERE len(toks) >= 5
    ), ok AS (
      SELECT gram FROM g WHERE b < 80 GROUP BY gram HAVING COUNT(*) <= 1000
    )
    SELECT tr.doc_id, CAST(COUNT(DISTINCT te.doc_id) AS BIGINT) AS n_probe_hits
    FROM g tr JOIN ok USING (gram) JOIN g te ON tr.gram = te.gram
    WHERE tr.b < 80 AND te.b >= 90
    GROUP BY tr.doc_id
    """,
    notes="exact n-gram decontamination (GPT-3/PaLM-style): train-split "
    "docs sharing any sliding word 5-gram with the held-out test split, "
    "with the distinct count of leaking test docs — catches verbatim "
    "sub-span leaks the LSH whole-doc form (q_split_contamination) "
    "misses. Gram SETS (array_distinct before explode) cross the "
    "exchange, not occurrence streams; the default-on hot-gram cap "
    "(grams in > 1000 distinct train docs are dropped, mirrored in the "
    "oracle) bounds any join key's fan-out — the skewed-shuffle guard at "
    "100 TB, same discipline as minhash max_bucket. Same deterministic "
    "hash split as q_split_hash/q_pack_sequences so all three compose "
    "(llm/dedup.exact_ngram_collisions)",
)
def q_split_ngram_leak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import curation

    d = table(spark, sf_dir, "documents")
    # the canonical split definition (curation.split_col) so this probe,
    # curate_corpus, q_split_hash and q_pack_sequences can never disagree
    # on membership
    split = curation.split_col("doc_id", curation.CurationConfig())
    train = d.where(split == "train")
    test = d.where(split == "test")
    return dedup.exact_ngram_collisions(train, test, "text", "doc_id", n=5)


@register(
    "q_split_bloom",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, (doc_id * 2654435761) % 100 AS b,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, b,
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 4),
               i -> array_to_string(toks[i:i+4], ' ')))) AS gram
      FROM t WHERE len(toks) >= 5
    ), hits AS (
      SELECT DISTINCT tr.doc_id
      FROM g tr JOIN g te ON tr.gram = te.gram
      WHERE tr.b < 80 AND te.b >= 90
    )
    SELECT t.doc_id,
           CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS INTEGER) AS exact_hit,
           CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS INTEGER) AS bloom_hit,
           CAST(1 AS INTEGER) AS superset_ok
    FROM t LEFT JOIN hits h USING (doc_id)
    WHERE t.b < 80 AND len(t.toks) >= 5
    """,
    notes="broadcast-Bloom decontamination (llm/bloom.py): the probe "
    "(test) split's 5-gram Bloom bitmap is built with one "
    "distinct-positions shuffle and broadcast (~0.5 MB at m=2^22); the "
    "train corpus is flagged by an Arrow-vectorized bitmap gather — no "
    "gram string ever shuffles, the 100 TB-side complement to "
    "q_split_ngram_leak's exact join. Certification: superset_ok "
    "asserts the Bloom guarantee (no false negatives vs the uncapped "
    "exact collision set); bloom_hit is additionally value-matched to "
    "exact_hit, valid because at m=2^22/k=4 the per-gram fp rate is "
    "~3e-11 and the hashes (xxhash64, fixed seeds) are deterministic — "
    "measured zero fp at sf0.001/0.01/0.1, so equality is stable, not "
    "probabilistic. Same split arithmetic as q_split_hash so the tiers "
    "compose",
)
def q_split_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import bloom, curation

    d = table(spark, sf_dir, "documents")
    split = curation.split_col("doc_id", curation.CurationConfig())
    train = d.where(split == "train")
    test = d.where(split == "test")
    flags = bloom.bloom_decontaminate(
        train, test, "text", "doc_id", n=5, m_bits=1 << 22
    )
    exact = dedup.exact_ngram_collisions(
        train, test, "text", "doc_id", n=5, max_gram_docs=None
    ).withColumnRenamed("n_probe_hits", "_nh")
    exact_hit = F.when(F.col("_nh").isNotNull(), 1).otherwise(0).cast("int")
    return flags.join(exact, "doc_id", "left").select(
        "doc_id",
        exact_hit.alias("exact_hit"),
        F.col("bloom_hit").cast("int").alias("bloom_hit"),
        (F.col("bloom_hit").cast("int") >= exact_hit).cast("int").alias("superset_ok"),
    )


_CLOSURE_SQL = """
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM {tbl}
  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM {tbl}
  UNION ALL SELECT doc_id + 2000000 AS doc_id, text FROM {tbl}
), dup AS (
  SELECT doc_id, md5(text) AS sha FROM corpus
), edges AS (
  SELECT a.doc_id AS src, MAX(b.doc_id) AS dst
  FROM dup a JOIN dup b ON a.sha = b.sha AND b.doc_id < a.doc_id
  GROUP BY a.doc_id
), reach (src, dst) AS (
  SELECT src, dst FROM edges
  UNION ALL
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), labels AS (
  SELECT src, MIN(dst) AS cluster FROM reach GROUP BY src
)
SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster
FROM dup d LEFT JOIN labels l ON d.doc_id = l.src
"""


@register(
    "q_closure_recursive",
    "llm",
    oracle=_CLOSURE_SQL.format(tbl="documents"),
    notes="connected components via Spark 4 RECURSIVE CTE — the "
    "Catalyst-native iterative form (the production dedup_clusters "
    "operator iterates driver-side with localCheckpoint per round; "
    "this is the same fixpoint expressed declaratively, one engine "
    "feature the reference era lacked). Planted 3-copy corpus gives "
    "every document a 3-member exact-dup cluster whose edges are "
    "PREDECESSOR links (MAX below, not group min), forcing genuine "
    "multi-hop recursion to reach the cluster label; identical SQL "
    "runs on both engines (md5 computed engine-side, only ids cross "
    "the compare). Scale: reach rows are O(chain-length) per member "
    "with UNION ALL (Spark's recursion supports only UNION ALL; "
    "spark.sql.cte.recursion.level.limit guards runaway) — on "
    "organic corpora cap dup-group size first, the same discipline "
    "as every self-join in the dedup ladder",
)
def q_closure_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "documents").createOrReplaceTempView("_closure_docs")
    return spark.sql(_CLOSURE_SQL.format(tbl="_closure_docs"))


@register(
    "q_source_overlap",
    "llm",
    oracle="""
    WITH t AS (
      SELECT source, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT DISTINCT source,
             unnest(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
                           i -> array_to_string(toks[i:i+2], ' '))) END) AS sh
      FROM t
    ), c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY source
    ), i AS (
      SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM s a JOIN s b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT ca.source AS source_a, cb.source AS source_b,
           COALESCE(i.n_inter, 0) AS n_inter,
           ca.n + cb.n - COALESCE(i.n_inter, 0) AS n_union,
           CAST(1 AS INTEGER) AS est_ok
    FROM c ca JOIN c cb ON ca.source < cb.source
    LEFT JOIN i ON i.sa = ca.source AND i.sb = cb.source
    """,
    notes="pairwise corpus-overlap audit between sources: exact "
    "shingle-set intersection/union per source pair (hash-comparable "
    "integers) plus a bound bit certifying the MinHash sketch estimate "
    "(llm/dedup.group_overlap_minhash, k=128) to within 0.25 of the "
    "exact Jaccard on every pair — measured max |err| 0.052 at sf0.01, "
    "0.086 at sf0.1 (re-measured after the r7 union-semantics fix; "
    "consistent with the 2σ bound of the k=128 estimator), "
    "deterministic given the seeded hashes. The sketch "
    "is the 100 TB product (one scan, 8·k bytes per source over the "
    "exchange, S² trivial pairs); the exact path computed here for "
    "certification shuffles the shingle vocabulary and is priced "
    "accordingly — at scale run the sketch alone (same ADVICE-noted "
    "pattern as the other self-certifying sketches)",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    d = table(spark, sf_dir, "documents")
    # the distinct (source, shingle) frame feeds three consumers (two
    # join sides + the per-source counts): persist it or the scan +
    # explode + distinct runs three times (measured 6.0 s -> ~3 s at
    # sf0.1); same discipline as minhash_doc_table
    g = (
        d.select("source", F.explode(dedup.shingles(F.col("text"))).alias("sh"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c = g.groupBy("source").agg(F.count("*").alias("n"))
    inter = (
        g.alias("a")
        .join(
            g.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count("*").alias("_ni"))
    )
    est = dedup.group_overlap_minhash(
        d, "source", "text", num_hashes=128, eager_cache=True
    ).select(
        F.col("group_a").alias("source_a"),
        F.col("group_b").alias("source_b"),
        "est_jaccard",
    )
    ca = c.select(F.col("source").alias("source_a"), F.col("n").alias("_na"))
    cb = c.select(F.col("source").alias("source_b"), F.col("n").alias("_nb"))
    pairs = (
        ca.crossJoin(cb)
        .where(F.col("source_a") < F.col("source_b"))
        .join(inter, ["source_a", "source_b"], "left")
        .join(est, ["source_a", "source_b"])
        .withColumn("n_inter", F.coalesce("_ni", F.lit(0)))
    )
    exact_j = F.col("n_inter") / (F.col("_na") + F.col("_nb") - F.col("n_inter"))
    return pairs.select(
        "source_a",
        "source_b",
        "n_inter",
        (F.col("_na") + F.col("_nb") - F.col("n_inter")).alias("n_union"),
        (F.abs(F.col("est_jaccard") - exact_j) <= 0.25).cast("int").alias("est_ok"),
    )


@register(
    "q_source_overlap_sketch",
    "llm",
    oracle="""
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(1 AS INTEGER) AS est_in_range
    FROM (SELECT DISTINCT source FROM documents) a
    JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source
    """,
    notes="the PRODUCTION form of the source-overlap audit: MinHash "
    "union-sketch alone (llm/dedup.group_overlap_minhash, k=128) — one "
    "corpus scan, 8·k bytes per source over the exchange, S² trivial "
    "pairs; NO exact (source, shingle) self-join. This is the entry the "
    "bench times, so the measured number is the 100 TB plan's profile "
    "(the r6 verdict flagged the combined exact+sketch q_source_overlap "
    "as misrepresenting the production path). The oracle value-checks "
    "pair enumeration (every unordered source pair exactly once) and the "
    "[0,1] range bit; the sketch's ACCURACY is certified by "
    "q_source_overlap's est_ok bound on the identical kernel, which "
    "stays registered for driver certification at test scale",
)
def q_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    est = dedup.group_overlap_minhash(
        d, "source", "text", num_hashes=128, eager_cache=True
    )
    return est.select(
        F.col("group_a").alias("source_a"),
        F.col("group_b").alias("source_b"),
        ((F.col("est_jaccard") >= 0) & (F.col("est_jaccard") <= 1))
        .cast("int")
        .alias("est_in_range"),
    )


@register(
    "q_shard_manifest",
    "llm",
    oracle="""
    WITH t AS (
      SELECT CAST((doc_id * 2654435761) % 16 AS INTEGER) AS shard,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
      FROM documents
    ), m AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS sum_tokens
      FROM t GROUP BY shard
    )
    SELECT shard, n_docs, sum_tokens,
           CAST(CASE WHEN (SELECT MAX(n_docs) FROM m)
                          <= 1.5 * (SELECT SUM(n_docs) FROM m) / 16
                     THEN 1 ELSE 0 END AS INTEGER) AS balance_ok
    FROM m
    """,
    notes="training-shard export: deterministic multiplicative-hash shard "
    "assignment (same arithmetic family as q_split_hash so splits and "
    "shards compose), repartition('shard') so each shard is ONE writer "
    "task -> one file (the small-files guard), physical "
    "partitionBy('shard') parquet write, then the manifest is computed "
    "from the READ-BACK — certifying the round-trip, not the "
    "pre-write frame. balance_ok bound-bit asserts max shard <= 1.5x "
    "mean (an odd multiplier mod 2^k is a bijection on dense ids, so "
    "shards self-balance; at 100 TB swap in xxhash64 for sparse ids — "
    "same plan, hash not oracle-expressible). The per-shard manifest "
    "(docs, tokens) is what a training loader consumes for "
    "deterministic epoch ordering",
)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from .queries_joins import _workdir

    n_shards = 16
    d = table(spark, sf_dir, "documents")
    shard = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(n_shards)).cast("int")
    docs = d.select(
        "doc_id",
        textops.token_count(F.col("text")).alias("n_tokens"),
        shard.alias("shard"),
    )
    path = _workdir("shard_export", os.path.basename(sf_dir.rstrip("/")))
    docs.repartition(n_shards, "shard").write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(path)
    man = (
        spark.read.parquet(path)
        .groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("sum_tokens"))
    )
    stats = man.agg(
        F.max("n_docs").alias("_mx"), (F.sum("n_docs") / F.lit(n_shards)).alias("_avg")
    )
    return man.crossJoin(F.broadcast(stats)).select(
        "shard",
        "n_docs",
        "sum_tokens",
        (F.col("_mx") <= F.lit(1.5) * F.col("_avg")).cast("int").alias("balance_ok"),
    )


@register(
    "q_corpus_mixture",
    "llm",
    oracle="""
    WITH t AS (
      SELECT source, lang,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
      FROM documents
    ), g AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS sum_tokens
      FROM t GROUP BY source, lang
    )
    SELECT source, lang, n_docs, sum_tokens,
           sum_tokens * 1.0 / (SELECT SUM(sum_tokens) FROM g) AS token_share,
           sum_tokens * 1.0 / n_docs AS mean_tokens
    FROM g
    """,
    notes="the data-mixture composition table (docs, tokens, corpus token "
    "share, mean doc length per source×lang) that pretraining sampling "
    "rates are configured from — feeds q_sample_rebalance / "
    "cap_per_group. One partial-agg groupBy + a broadcast 1-row grand "
    "total; shares divide exact integer counts so the doubles are "
    "bit-identical with no rounding (llm/textops.corpus_mixture)",
)
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textops.corpus_mixture(d, ("source", "lang"), "text")


_CURATION_E2E_ORACLE = """
    WITH RECURSIVE t AS (
      SELECT doc_id, text, source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), gate AS (
      SELECT doc_id, text, source, toks FROM t
      WHERE len(toks) BETWEEN 3 AND 100000
        AND length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0
            / greatest(length(text), 1) <= 0.2
        AND (1.0 - len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1)) <= 0.6
    ), exact AS (
      SELECT * FROM gate
      WHERE doc_id IN (SELECT MIN(doc_id) FROM gate GROUP BY text)
    ), s AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
                         i -> array_to_string(toks[i:i+2], ' ')))
             END AS sh
      FROM exact
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / greatest(len(list_distinct(a.sh || b.sh)), 1) >= 0.8
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id
    ), comp AS (
      SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
    ), near AS (
      SELECT e.doc_id, e.source, e.toks
      FROM exact e LEFT JOIN comp ON e.doc_id = comp.id
      WHERE comp.id IS NULL OR e.doc_id = comp.cluster_id
    ), capped AS (
      SELECT doc_id, source, toks FROM (
        SELECT doc_id, source, toks,
               ROW_NUMBER() OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM near) WHERE rn <= 40
    ), labeled AS (
      SELECT doc_id, source, toks,
             CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                  WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM capped
    ), grams AS (
      SELECT doc_id, split,
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 4),
               i -> array_to_string(toks[i:i+4], ' ')))) AS gram
      FROM labeled WHERE len(toks) >= 5
    ), leaks AS (
      SELECT DISTINCT tr.doc_id
      FROM grams tr JOIN grams te ON tr.gram = te.gram
      WHERE tr.split <> 'test' AND te.split = 'test'
    )
    SELECT doc_id, source, split FROM labeled
    WHERE doc_id NOT IN (SELECT doc_id FROM leaks)
    """


@register(
    "q_curation_e2e",
    "llm",
    oracle=_CURATION_E2E_ORACLE,
    notes="the ENTIRE batch curation ladder value-verified as one query: "
    "quality gate (length/punct/repetition; all languages admitted so "
    "the lang bit is vacuous and the oracle stays readable) → exact "
    "dedup (min id per text) → MinHash-LSH near-dup connected components "
    "(recursive-CTE transitive closure in the oracle, Pregel-lite "
    "min-label propagation in the engine) → per-source cap 40 by "
    "md5-rank → deterministic split → exact 5-gram decontamination of "
    "train∪val against test. Output = surviving (doc_id, source, split). "
    "Oracle-exactness inherits the near-dup stage's preconditions, which "
    "this corpus satisfies (same bounds q_dedup_minhash/q_dedup_clusters "
    "document): no LSH band bucket near the max_bucket=10k quadratic "
    "guard, true pairs at j≥0.9 where the miss bound is ~4e-8, component "
    "diameter far under the max_iter=20 propagation bound, and no 5-gram "
    "in >1000 distinct train docs (the decontamination hot-gram cap; "
    "measured max 4 at sf0.1) — data beyond those bounds diverges from "
    "the brute-force closure BY DESIGN (guards trade exactness for a "
    "scale ceiling). Composing the stages "
    "adds no shuffles beyond the stages' own (llm/curation.curate_corpus); "
    "the per-stage invariant suite lives in tests/test_curation_pipeline.py",
)
def q_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import curation

    d = table(spark, sf_dir, "documents")
    cfg = curation.CurationConfig(
        min_tokens=3,
        allowed_langs=("en", "de", "fr", "es", "zh", "und"),
        per_source_cap=40,
    )
    out, _ = curation.curate_corpus(d, cfg, counts=False)
    return out.select("doc_id", "source", "split")


@register(
    "q_curation_reasons",
    "llm",
    oracle="""
    WITH RECURSIVE t AS (
      SELECT doc_id, text, source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), gate AS (
      SELECT doc_id, text, source, toks FROM t
      WHERE len(toks) BETWEEN 3 AND 100000
        AND length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0
            / greatest(length(text), 1) <= 0.2
        AND (1.0 - len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1)) <= 0.6
    ), exact AS (
      SELECT * FROM gate
      WHERE doc_id IN (SELECT MIN(doc_id) FROM gate GROUP BY text)
    ), s AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
                         i -> array_to_string(toks[i:i+2], ' ')))
             END AS sh
      FROM exact
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / greatest(len(list_distinct(a.sh || b.sh)), 1) >= 0.8
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id
    ), comp AS (
      SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
    ), near AS (
      SELECT e.doc_id, e.source, e.toks
      FROM exact e LEFT JOIN comp ON e.doc_id = comp.id
      WHERE comp.id IS NULL OR e.doc_id = comp.cluster_id
    ), capped AS (
      SELECT doc_id, source, toks FROM (
        SELECT doc_id, source, toks,
               ROW_NUMBER() OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM near) WHERE rn <= 40
    ), labeled AS (
      SELECT doc_id, source, toks,
             CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                  WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM capped
    ), grams AS (
      SELECT doc_id, split,
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 4),
               i -> array_to_string(toks[i:i+4], ' ')))) AS gram
      FROM labeled WHERE len(toks) >= 5
    ), leaks AS (
      SELECT DISTINCT tr.doc_id
      FROM grams tr JOIN grams te ON tr.gram = te.gram
      WHERE tr.split <> 'test' AND te.split = 'test'
    )
    SELECT d.doc_id,
           CASE
             WHEN d.doc_id NOT IN (SELECT doc_id FROM gate) THEN 'quality'
             WHEN d.doc_id NOT IN (SELECT doc_id FROM exact) THEN 'exact_dup'
             WHEN d.doc_id NOT IN (SELECT doc_id FROM near) THEN 'near_dup'
             WHEN d.doc_id NOT IN (SELECT doc_id FROM capped) THEN 'domain_cap'
             WHEN d.doc_id IN (SELECT doc_id FROM leaks) THEN 'decontaminated'
             ELSE 'kept'
           END AS stage
    FROM documents d
    """,
    notes="per-document curation provenance (llm/curation."
    "curation_drop_reasons): every input doc labeled with the FIRST "
    "ladder stage that dropped it (quality → exact_dup → near_dup → "
    "domain_cap → decontaminated) or 'kept' — the audit that answers "
    "'why did my corpus shrink?'. Built from q_curation_e2e's stage "
    "frames in the SAME run (five id-only marker joins + one CASE, no "
    "stage recomputed); the oracle extends the e2e CTE chain with the "
    "same CASE. Inherits q_curation_e2e's oracle preconditions",
)
def q_curation_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import curation

    d = table(spark, sf_dir, "documents")
    cfg = curation.CurationConfig(
        min_tokens=3,
        allowed_langs=("en", "de", "fr", "es", "zh", "und"),
        per_source_cap=40,
    )
    return curation.curation_drop_reasons(d, cfg)


_BM25_TERMS = ("spark", "table", "query", "window")
#: k1+1 computed in DOUBLE and interpolated by repr: a bare SQL literal
#: "2.2" would be DECIMAL-parsed (exact 22/10) and convert to a DIFFERENT
#: double than the k1+1.0 float add the Spark side performs.
_BM25_K1P1 = repr(1.2 + 1.0)


@register(
    "q_text_bm25",
    "llm",
    oracle=rf"""
    WITH docs AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dlen FROM docs),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
                     CAST(SUM(dlen) AS DOUBLE) AS lensum FROM lens),
    toks AS (
      SELECT doc_id, t FROM docs, LATERAL UNNEST(toks) u(t)
      WHERE t IN ('spark', 'table', 'query', 'window')
    ),
    tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    contrib AS (
      SELECT tf.doc_id,
             ROUND(
               LN(1.0 + (s.nd - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
               * ((CAST(tf.tf AS DOUBLE) * {_BM25_K1P1})
                  / (CAST(tf.tf AS DOUBLE)
                     + 1.2 * (1.0 - 0.75 + 0.75 * CAST(l.dlen AS DOUBLE) / (s.lensum / s.nd)))),
               4) AS c
      FROM tf JOIN dfreq d USING (t) JOIN lens l USING (doc_id) CROSS JOIN stats s
    )
    SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_terms, ROUND(SUM(c), 4) AS score
    FROM contrib GROUP BY doc_id
    """,
    notes="Okapi BM25 lexical ranking (llm/textops.bm25_scores) for a fixed "
    "query-term bag — the retrieval scorer a data pipeline uses to mine "
    "topic-relevant training documents. Token stream filtered to the query "
    "terms BEFORE the tf shuffle (state is O(matches), not O(tokens)); "
    "doc length fused with the scan; df and (N, avglen) broadcast. "
    "Per-term contributions ROUND(,4) then the money-sum pattern re-rounds "
    "the per-doc sum; the k1+1 constant is repr-interpolated into the "
    "oracle because a bare 2.2 literal is DECIMAL in DuckDB and would "
    "convert to a different double than the Spark-side float add",
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textops.bm25_scores(d, _BM25_TERMS)


@register(
    "q_text_repetition",
    "llm",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    g2 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                                           i -> array_to_string(toks[i:i+1], ' '))) AS g
      FROM t WHERE len(toks) >= 2
    ),
    g3 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                                           i -> array_to_string(toks[i:i+2], ' '))) AS g
      FROM t WHERE len(toks) >= 3
    ),
    c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
    c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
    d2 AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS BIGINT) AS dup2_num,
             CAST(SUM(c * length(g)) AS BIGINT) AS dup2_den
      FROM c2 GROUP BY 1
    ),
    d3 AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS BIGINT) AS dup3_num,
             CAST(SUM(c * length(g)) AS BIGINT) AS dup3_den
      FROM c3 GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(d2.dup2_num, 0) AS dup2_num,
           COALESCE(d2.dup2_den, 0) AS dup2_den,
           CASE WHEN d2.dup2_den > 0
                THEN CAST(d2.dup2_num AS DOUBLE) / CAST(d2.dup2_den AS DOUBLE) END
             AS dup2_frac,
           COALESCE(d3.dup3_num, 0) AS dup3_num,
           COALESCE(d3.dup3_den, 0) AS dup3_den,
           CASE WHEN d3.dup3_den > 0
                THEN CAST(d3.dup3_num AS DOUBLE) / CAST(d3.dup3_den AS DOUBLE) END
             AS dup3_frac
    FROM documents d LEFT JOIN d2 USING (doc_id) LEFT JOIN d3 USING (doc_id)
    """,
    notes="Gopher repetition metrics (Rae et al. 2021, Table A1; "
    "llm/textops.gopher_repetition): per-doc char-weighted fraction of "
    "sliding 2-/3-gram mass inside DUPLICATED grams — the named "
    "pretraining filter for template/spam repetition; SCORES without "
    "editing (intra_doc_span_dedup is the editing sibling). Exact "
    "int64 num/den with the fraction as one raw division "
    "(bit-identical); executor-side gram explode, two "
    "partial-aggregable doc-keyed shuffles per n; docs shorter than n "
    "tokens report NULL frac (no signal, not zero)",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textops.gopher_repetition(d, "text", "doc_id", ns=(2, 3))


@register(
    "q_retrieval_fusion",
    "llm",
    oracle=rf"""
    WITH docs AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dlen FROM docs),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
                     CAST(SUM(dlen) AS DOUBLE) AS lensum FROM lens),
    toks AS (
      SELECT doc_id, t FROM docs, LATERAL UNNEST(toks) u(t)
      WHERE t IN ('spark', 'table', 'query', 'window')
    ),
    tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    contrib AS (
      SELECT tf.doc_id,
             ROUND(
               LN(1.0 + (s.nd - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
               * ((CAST(tf.tf AS DOUBLE) * {_BM25_K1P1})
                  / (CAST(tf.tf AS DOUBLE)
                     + 1.2 * (1.0 - 0.75 + 0.75 * CAST(l.dlen AS DOUBLE) / (s.lensum / s.nd)))),
               4) AS c
      FROM tf JOIN dfreq d USING (t) JOIN lens l USING (doc_id) CROSS JOIN stats s
    ),
    bm AS (SELECT doc_id, ROUND(SUM(c), 4) AS score FROM contrib GROUP BY doc_id),
    ra AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r
           FROM bm),
    rb AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY dlen DESC, doc_id) AS BIGINT) AS r
           FROM lens),
    fused AS (
      SELECT rb.doc_id,
             COALESCE(CAST(1 AS DOUBLE) / CAST(ra.r + 60 AS DOUBLE), CAST(0 AS DOUBLE))
             + COALESCE(CAST(1 AS DOUBLE) / CAST(rb.r + 60 AS DOUBLE), CAST(0 AS DOUBLE))
               AS rrf
      FROM rb LEFT JOIN ra USING (doc_id)
    )
    SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
    notes="reciprocal-rank fusion (Cormack et al. 2009; "
    "llm/textops.rrf_fuse): the zero-tuning rank-based combiner of "
    "heterogeneous retrieval signals — here the BM25 lexical ranking "
    "(same kernel/terms as q_text_bm25) fused with a document-length "
    "prior ranking. RRF sum is a fixed chain of correctly-rounded "
    "divisions on exact ranks (deterministic tiebreaks on doc_id), so "
    "the raw doubles hash-compare; absent-from-ranking contributes 0 "
    "per the standard convention. The contract query ranks the whole "
    "5k-doc corpus as a stand-in; production fuses CANDIDATE lists "
    "(top-k of upstream retrievers), never a global sort at 100 TB — "
    "documented on the operator",
)
def q_retrieval_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    bm = textops.bm25_scores(d, _BM25_TERMS)
    ra = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .cast("long")
        .alias("r"),
    )
    lens = d.select("doc_id", textops.token_count(F.col("text")).alias("_n"))
    rb = lens.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("_n").desc(), F.col("doc_id")))
        .cast("long")
        .alias("r"),
    )
    fused = textops.rrf_fuse([ra, rb], "doc_id", k=60)
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(20)


@register(
    "q_text_entropy",
    "llm",
    oracle=r"""
    WITH toks AS (
      SELECT source AS src, t
      FROM documents,
           LATERAL UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                      x -> x <> '')) u(t)
    ),
    counts AS (SELECT src, t, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1, 2),
    per AS (
      SELECT src,
             CAST(SUM(n) AS BIGINT) AS t_total,
             CAST(COUNT(*) AS BIGINT) AS v,
             CAST(SUM(CAST(ROUND(CAST(n AS DOUBLE) * LN(CAST(n AS DOUBLE)) * 1000000.0,
                                 0) AS BIGINT)) AS BIGINT) AS s
      FROM counts GROUP BY 1
    )
    SELECT src AS source, t_total AS n_tokens, v AS n_types,
           ROUND(LN(CAST(t_total AS DOUBLE))
                 - (CAST(s AS DOUBLE) / 1000000.0) / CAST(t_total AS DOUBLE), 4) AS entropy,
           ROUND(CAST(v AS DOUBLE) / CAST(t_total AS DOUBLE), 4) AS ttr
    FROM per
    """,
    notes="per-source unigram Shannon entropy + type-token ratio "
    "(llm/textops.token_entropy) — the corpus-diversity signals behind "
    "mixture weighting (low entropy = boilerplate source). One explode "
    "into a (source, token) partial-aggregable count, then a "
    "group-cardinality agg; the order-dependent float sum Σ n·ln n is "
    "snapped per-term to a 1e-6 integer grid so the 64-bit sum is exact "
    "and order-free — bit-identical across engines by construction",
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textops.token_entropy(d, "source", "text")


@register(
    "q_dedup_editdist",
    "llm",
    oracle="""
    WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS dlen FROM documents),
    banded AS (
      SELECT doc_id, text, dlen, (dlen // 64) + u.b AS band
      FROM d, LATERAL (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) u(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.doc_id < b.doc_id AND abs(a.dlen - b.dlen) <= 8
    ),
    scored AS MATERIALIZED (
      SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS INTEGER) AS dist FROM cand
    )
    SELECT id_a, id_b, dist FROM scored WHERE dist <= 8
    """,
    notes="exact Levenshtein near-dup (llm/dedup.near_dup_pairs_editdist): "
    "length-band blocking (|Δlen| ≤ d ⇒ adjacent 64-char bands, each doc "
    "emitted into {band, band+1} so every qualifying pair shares a key — "
    "lossless for d < band width), equi-join on band, |Δlen| prefilter, "
    "then the threshold form of levenshtein (early exit past d). Shuffle "
    "is O(rows×2); the oracle runs the SAME banding (a DuckDB quadratic "
    "join would evaluate the O(n²) levenshteins) and a MATERIALIZED "
    "verify stage so the distance is computed once per candidate",
)
def q_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # band_width=16 (r14): pure candidate-generation lever, result-
    # identical for ANY width > max_dist MODULO the max_block hot-band
    # cap (no band trips the cap at the certified SFs; under the cap,
    # different widths could drop different hot bands — narrowing to 16
    # only ever REDUCES cap hits, so this change itself is safe; the
    # oracle's own 64-band scheme is independently lossless, so the
    # value-compare is unaffected — certified strict at all three SFs).
    # Narrower bands cut the band self-join's pre-|Δlen| pair
    # evaluations ~4× and, at scale, keep each band further under the
    # max_block hot-band cap. Interleaved A/B in BOTH run orders:
    # 2.37 vs 2.06 s and 2.57 vs 2.40 s min (64 vs 16), 16 ahead in
    # 8 of 9 non-warmup rounds; 255 result rows either way.
    return dedup.near_dup_pairs_editdist(d, "text", "doc_id", max_dist=8, band_width=16)


@register(
    "q_text_phrase",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
      FROM t
    ), votes AS (
      SELECT doc_id, pos - ph.ord AS strt, ph.ord
      FROM tok JOIN (VALUES ('slow', 0), ('hash', 1), ('batch', 2)) AS ph(term, ord)
        ON tok.tok = ph.term
    ), hits AS (
      SELECT doc_id, strt FROM votes WHERE strt >= 1
      GROUP BY doc_id, strt HAVING COUNT(DISTINCT ord) = 3
    )
    SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_matches,
           CAST(MIN(strt) AS INTEGER) AS first_pos
    FROM hits GROUP BY doc_id
    """,
    notes="extension: exact-phrase search (llm/textops.phrase_search) — "
    "the positional-postings primitive bag-of-words BM25 can't express. "
    "Postings filtered to the phrase's terms BEFORE any shuffle, each "
    "occurrence votes for start = pos − offset, one partial-aggregable "
    "(doc, start) groupBy counts distinct offsets — no k-way self-join. "
    "Positions index the shared tokens() kernel on BOTH sides (r8: the "
    "oracle's single-space string_split diverged from the engine's "
    "regex split on consecutive whitespace — both now filter empties "
    "from a \\s+ split, so positions agree on any text). Non-vacuous at "
    "the driver scale: 'slow hash batch' hits 5 docs / 8 occurrences "
    "at sf0.01 (one doc matches twice, exercising n_matches)",
)
def q_text_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textops.phrase_search(d, ("slow", "hash", "batch"))


@register(
    "q_sample_stratified",
    "llm",
    oracle="""
    SELECT doc_id, source, sample_rank FROM (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY (doc_id * 2654435761) % 1000000007, doc_id
             ) AS INTEGER) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 10
    """,
    notes="extension: deterministic EXACT-k-per-stratum sampling "
    "(llm/filtering.stratified_sample) — the eval-set/probe-set builder "
    "contract (exact counts, no RNG state; any engine reproduces the "
    "identical sample via the Knuth multiplicative hash rank). The "
    "row_number ≤ k filter plans as WindowGroupLimit below the exchange, "
    "so the stratum shuffle carries ≤ k·strata rows at any corpus size",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return filtering.stratified_sample(d, "source", "doc_id", k=10).select(
        "doc_id", "source", "sample_rank"
    )


@register(
    "q_dedup_prefix",
    "llm",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
                         i -> array_to_string(toks[i:i+2], ' ')))
             END AS sh
      FROM t
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.sh, b.sh)) AS i,
             len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
      FROM s a JOIN s b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
    FROM pairs WHERE 2 * i >= u
    """,
    notes="extension: prefix-filtered exact set-similarity join "
    "(llm/dedup.jaccard_pairs_prefix, the SSJoin/PPJoin candidate "
    "scheme) — LOSSLESS near-dup pairs, certified by an all-pairs "
    "brute-force oracle with NO blocking clause (q_dedup_ngram's "
    "length-band twin can miss cross-band pairs; this provably cannot). "
    "Docs index only their rarity-ordered prefix (m − ⌈t·m⌉ + 1 "
    "shingles), candidates meet in rare postings, threshold cuts are "
    "integer cross-multiplications, and the jaccard ships as ONE raw "
    "division of exact ints — bit-identical across engines",
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs_prefix(
        d, "text", "doc_id", n=3, threshold=0.5, eager_cache=True
    )


@register(
    "q_text_collocations",
    "llm",
    oracle="""
    WITH t AS (
      SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS tt FROM uni
    ), big AS (
      SELECT g AS bigram, CAST(COUNT(*) AS BIGINT) AS n
      FROM (
        SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> array_to_string(toks[i:i+1], ' '))) AS g
        FROM t WHERE len(toks) >= 2
      ) GROUP BY g
    )
    SELECT bigram, n, CAST(tt * n AS DOUBLE) / CAST(u1.c * u2.c AS DOUBLE) AS lift
    FROM big
    JOIN uni u1 ON u1.w = string_split(bigram, ' ')[1]
    JOIN uni u2 ON u2.w = string_split(bigram, ' ')[2]
    CROSS JOIN tot
    WHERE n >= 5
    ORDER BY lift DESC, bigram ASC
    LIMIT 20
    """,
    notes="extension: top-k bigram collocations by pointwise lift "
    "(llm/textops.collocation_lift) — PMI's monotone argument as an "
    "exact rational, zero libm in the plan. Two vocabulary-sized count "
    "shuffles off the shared sliding_grams kernel, two unigram joins, "
    "1-row broadcast total, TakeOrderedAndProject top-k; lift is ONE "
    "division of exact integer products, bit-identical across engines",
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textops.collocation_lift(d, "text", min_count=5, k=20)


@register(
    "q_url_parse",
    "text",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/' || lang || '/doc/'
               || CAST(doc_id AS VARCHAR) || '?k=' || CAST(doc_id % 7 AS VARCHAR) AS url
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^https://([^/]+)', 1) AS host,
           regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
           CAST(regexp_extract(url, 'k=([0-9]+)', 1) AS INTEGER) AS k_val
    FROM u
    """,
    notes="extension: URL structural parsing (parse_url HOST/PATH/QUERY-"
    "param) — the first step of every web-corpus curation pipeline "
    "(domain-level quality priors, per-host caps, blocklist joins all key "
    "on the parsed host). parse_url is a codegen JVM expression, no UDF; "
    "the oracle re-derives the same fields with anchored regexes, so the "
    "driver pins Spark's parser against an independent implementation. "
    "URLs are synthesized deterministically from (source, lang, doc_id) "
    "because the testdata carries no URL column — the projection under "
    "test is the parse, not the synthesis",
)
def q_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?k="),
        (F.col("doc_id") % 7).cast("string"),
    )
    u = d.select("doc_id", url.alias("_url"))
    return u.select(
        "doc_id",
        F.parse_url(F.col("_url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("_url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("_url"), F.lit("QUERY"), F.lit("k"))
        .cast("int")
        .alias("k_val"),
    )


@register(
    "q_sample_weighted",
    "sample",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             CAST(greatest(1, least(64, (n_chars + 99) // 100)) AS INTEGER) AS weight
      FROM documents
    ), u AS (
      SELECT doc_id, weight,
             md5(CAST(doc_id AS VARCHAR) || '#' || CAST(r AS VARCHAR)) AS uk
      FROM w, UNNEST(generate_series(1, weight)) AS t(r)
    ), m AS (
      SELECT doc_id, weight, MIN(uk) AS key FROM u GROUP BY doc_id, weight
    )
    SELECT doc_id, weight,
           CAST(ROW_NUMBER() OVER (ORDER BY key, doc_id) AS INTEGER) AS sample_rank
    FROM m ORDER BY key, doc_id LIMIT 50
    """,
    notes="extension: weighted sampling WITHOUT replacement, P ∝ document "
    "length (llm/filtering.weighted_sample_wor) — the PPS draw mixture "
    "builders use to sample long documents proportionally. Min-stable "
    "unit hashing: explode to weight unit rows, md5(id#unit), row key = "
    "min digest, k smallest keys win; first draw exactly P=w/Σw, "
    "successive draws the Efraimidis–Spirakis successive-minima "
    "relaxation. md5 hex IS the uniform order — no float, no libm, no "
    "RNG, so DuckDB replays the identical sample and the driver "
    "hash-verifies actual sample MEMBERSHIP, not a summary. Scale: "
    "explode bounded by the weight clamp, map-side min collapses to one "
    "digest per doc pre-shuffle, top-k is TakeOrderedAndProject",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.filtering import weighted_sample_wor

    d = table(spark, sf_dir, "documents")
    return weighted_sample_wor(
        d, "doc_id", F.expr("(n_chars + 99) div 100"), k=50, max_weight=64
    )


@register(
    "q_sample_repeat",
    "sample",
    oracle="""
    WITH w AS (
      SELECT source, SUM(n_chars) AS wsum FROM documents GROUP BY source
    ), r AS (
      SELECT source,
             CAST(least(3000, (1000 * (SELECT MAX(wsum) FROM w)) // wsum) AS INTEGER)
               AS rate_milli
      FROM w
    )
    SELECT d.doc_id, d.source,
           CAST(rate_milli // 1000
                + CASE WHEN (d.doc_id * 1597334677) % 1000 < rate_milli % 1000
                       THEN 1 ELSE 0 END AS INTEGER) AS n_copies
    FROM documents d JOIN r USING (source)
    """,
    notes="extension: per-source REPEAT rates + one materialized epoch "
    "(llm/filtering.repeat_epoch_copies) — the upsampling half of mixture "
    "construction that temperature_keep_rates (drop-only) can't express: "
    "rate_milli = min(3000, (1000·w_max) div w_src) boosts small sources "
    "toward char-weight parity, capped at 3× (the repetition guard from "
    "data-constrained-scaling practice); n_copies = floor + deterministic "
    "fractional slice by multiplicative id-hash. Integer division "
    "end-to-end — rates and copy counts bit-identical across engines. "
    "One partial-agg groupBy + 1-row max + S-row broadcast join; "
    "explode(sequence(1, n_copies)) materializes the epoch rows",
)
def q_sample_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.filtering import repeat_epoch_copies

    d = table(spark, sf_dir, "documents")
    return repeat_epoch_copies(d, "source", "n_chars", "doc_id")


@register(
    "q_sample_importance",
    "llm",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN source = 'src1'
                  THEN translate(text, 'aeiou', 'xyzwv') ELSE text END AS text,
             CAST(source = 'src1' AS INTEGER) AS is_target
      FROM documents
    ), tok AS (
      SELECT doc_id, is_target, t AS w
      FROM corpus,
           LATERAL UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                      x -> x <> '')) u(t)
    ), model AS (
      SELECT w, CAST(SUM(is_target) AS BIGINT) AS ct,
             CAST(SUM(1 - is_target) AS BIGINT) AS cp
      FROM tok GROUP BY 1
    ), st AS (
      SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cp) AS BIGINT) AS tp,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM model
    ), wts AS (
      SELECT w,
             CAST(ROUND(LN((CAST(ct + 1 AS DOUBLE) * CAST(tp + v AS DOUBLE))
                           / (CAST(cp + 1 AS DOUBLE) * CAST(tt + v AS DOUBLE)))
                        * 1000000.0) AS BIGINT) AS lw
      FROM model CROSS JOIN st
    ), dt AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
    ), sc AS (
      SELECT doc_id, CAST(SUM(c * lw) AS BIGINT) AS score_e6
      FROM dt JOIN wts USING (w) GROUP BY 1
    )
    SELECT c.doc_id, c.is_target, COALESCE(sc.score_e6, 0) AS score_e6
    FROM corpus c LEFT JOIN sc USING (doc_id)
    """,
    notes="DSIR-style importance scores (Xie et al. 2023; "
    "llm/filtering.dsir_importance): rank raw documents by add-1 "
    "unigram log-likelihood ratio against a target slice — the "
    "data-SELECTION step before pretraining (temperature/repeat "
    "sampling decide HOW MUCH, this decides WHICH). The synthetic docs "
    "share one vocabulary across labels, so target drift is "
    "MANUFACTURED per the testdata discipline: src1 text is vowel-"
    "translated on both sides, making the ratio model non-vacuous. "
    "Per-feature log-ratios snap to an integer 1e-6 grid (the "
    "q_text_entropy ln discipline) so per-doc sums are exact bigints; "
    "plan is the BM25 shape — broadcast model table, one (doc,term) "
    "shuffle. The hashed-feature production form (n_buckets, bounding "
    "the model at any corpus size) is Spark-side unit-tested; no "
    "engine-portable string hash exists for an oracle",
)
def q_sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.filtering import dsir_importance

    d = table(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("source") == "src1", F.translate(F.col("text"), "aeiou", "xyzwv")
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dsir_importance(corpus, F.col("source") == "src1", "text", "doc_id")


def _diversity_oracle(dim: int = 64, grid: int = 1_000_000) -> str:
    """Generated (deterministic) oracle for q_embed_diversity: the SAME
    explicit left-associated chains the Spark side evaluates — a list
    fold would hand the accumulation order to the engine, and sums of
    doubles are order-dependent."""
    sq = " + ".join(
        f"CAST(embedding[{i+1}] AS DOUBLE) * CAST(embedding[{i+1}] AS DOUBLE)"
        for i in range(dim)
    )
    wdefs = ",\n             ".join(
        f"CAST(floor(CAST(embedding[{i+1}] AS DOUBLE) / nv * {float(grid)}) AS BIGINT)"
        f" AS w{i}"
        for i in range(dim)
    )
    self_ss = " + ".join(f"w{i} * w{i}" for i in range(dim))
    # bigint group moments; squares/combination in DOUBLE with the exact
    # operation order the Spark side uses (r8 overflow fix: the self term
    # is carried as the residual from grid² and reconstructed in double,
    # and per-dim sums are cast to double BEFORE squaring)
    sums = ",\n             ".join(f"CAST(SUM(w{i}) AS BIGINT) AS s{i}" for i in range(dim))
    sum_sq = " + ".join(f"CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE)" for i in range(dim))
    g2 = float(grid) * float(grid)
    return f"""
    WITH nrm AS (
      SELECT label, embedding, greatest(sqrt({sq}), 1e-12) AS nv
      FROM embeddings
    ), w AS (
      SELECT label,
             {wdefs}
      FROM nrm
    ), r AS (
      SELECT *, ({self_ss}) - {int(grid) * int(grid)} AS sdelta FROM w
    ), g AS (
      SELECT label, COUNT(*) AS n, CAST(SUM(sdelta) AS BIGINT) AS sdelta,
             {sums}
      FROM r GROUP BY label
    )
    SELECT label, CAST(n AS BIGINT) AS n,
           ({sum_sq}) - (CAST(n AS DOUBLE) * {g2!r} + CAST(sdelta AS DOUBLE))
             AS diversity_scaled,
           CASE WHEN n >= 2 THEN
             (({sum_sq}) - (CAST(n AS DOUBLE) * {g2!r} + CAST(sdelta AS DOUBLE)))
               / (CAST(n * (n - 1) AS DOUBLE) * {g2!r})
           END AS mean_pair_cos
    FROM g
    """


@register(
    "q_embed_diversity",
    "llm",
    oracle=_diversity_oracle(),
    notes="extension: per-group embedding diversity (mean pairwise "
    "cosine) in ONE pass via the moment identity sum_{i!=j} v_i.v_j = "
    "|sum v|^2 - sum|v|^2 (llm/simsearch.embed_diversity_onepass) — the "
    "O(n^2) pairwise join collapses to d running sums per group; the "
    "shuffle carries d+2 numbers per group at any corpus size. Flags "
    "collapsed scrapes / templated spam / broken encoders before they "
    "dominate a mixture. Exactness: explicit left-associated d-term "
    "IEEE chains (never an engine-ordered list fold), floor-grid "
    "snapped normalized coords (floor, never round-of-quotient), then "
    "pure bigint moments; mean ships as one raw division. The oracle "
    "text is GENERATED from the same (dim, grid) parameters the "
    "builder uses, so the two sides cannot drift",
)
def q_embed_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.simsearch import embed_diversity_onepass

    e = table(spark, sf_dir, "embeddings")
    return embed_diversity_onepass(e, "label", "embedding", dim=64)


@register(
    "q_dedup_substring",
    "llm",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS toks
      FROM documents
    ), corpus AS (
      SELECT doc_id, toks FROM base
      UNION ALL
      SELECT doc_id + 100000 AS doc_id,
             list_concat(list_concat(['zq0', 'zq1'], toks[1:30]), ['qz9']) AS toks
      FROM base WHERE doc_id % 5 = 0
    ), tp AS (
      SELECT doc_id,
             unnest(list_transform(toks, (t, i) -> {'pos': i - 1, 'tok': t})) AS u
      FROM corpus
    ), pos AS (
      SELECT doc_id, CAST(u.pos AS INT) AS pos, u.tok AS tok FROM tp
    ), grams AS (
      SELECT doc_id, pos,
             md5(string_agg(tok, ' ') OVER w) AS g,
             COUNT(*) OVER w AS n
      FROM pos
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 19 FOLLOWING)
    ), lg AS (
      SELECT doc_id, pos, g FROM grams WHERE n = 20
    ), dup AS (
      SELECT g FROM lg GROUP BY g HAVING COUNT(*) >= 2
    ), marks AS (
      SELECT doc_id, pos AS s, pos + 19 AS e
      FROM lg WHERE g IN (SELECT g FROM dup)
    ), seq AS (
      SELECT doc_id, s, e,
             MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM marks
    ), grp AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s) AS gid
      FROM seq
    )
    SELECT doc_id, CAST(MIN(s) AS INT) AS span_start,
           CAST(MAX(e) - MIN(s) + 1 AS INT) AS span_len
    FROM grp GROUP BY doc_id, gid
    """,
    notes="extension: EXACT-substring dedup spans (Lee et al. 2021, "
    "arXiv:2107.06499 ExactSubstr — remove any >=50-token span shared "
    "verbatim; 20 here to bind on 10-99-token docs), the exact method "
    "the fixed-window span passes approximate. Distributed via the "
    "anchor-gram identity (positions inside a shared >=L span == "
    "positions covered by a duplicated L-gram — exact, no suffix "
    "array): per-doc window builds each position's L-gram transiently "
    "and collapses it to md5 BEFORE the shuffle, duplicated digests "
    "come from one partial-aggregable groupBy (occurrence-LINEAR: hot "
    "boilerplate grams cost rows, never pairs, so no hot-key cap is "
    "needed), covered intervals merge per doc with gaps-and-islands "
    "windows. PLANTED spans make the output non-vacuous: every doc_id "
    "% 5 == 0 gets a +100000 twin sharing its 30-token prefix inside "
    "unique padding, so each such pair yields spans at known offsets "
    "(docs shorter than 20 tokens yield none, deterministically in "
    "both engines); both engines run the IDENTICAL md5-anchor "
    "formulation, so even a (2^-128) digest collision cannot diverge "
    "them (llm/dedup.exact_substring_spans)",
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.dedup import exact_substring_spans
    from ..llm.textops import tokens

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )
    planted = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("zq0 zq1"),
            F.array_join(F.slice(tokens(F.col("text")), 1, 30), " "),
            F.lit("qz9"),
        ).alias("text"),
    )
    corpus = d.unionByName(planted)
    return exact_substring_spans(corpus, "text", "doc_id", min_len=20)


@register(
    "q_curation_audited",
    "llm",
    oracle=_CURATION_E2E_ORACLE,
    notes="the AUDITED form of q_curation_e2e: identical ladder, identical "
    "output (same oracle text), but counts=True — every stage "
    "localCheckpoints eagerly and reports a row count, which is what a "
    "production run with stage-level observability pays. Registered so "
    "the bench prices the audit materializations SEPARATELY from the "
    "lazy production plan (q_curation_e2e, counts=False): the delta "
    "between the two bench entries IS the cost of per-stage auditing, "
    "measured rather than asserted (r8 verdict task). Value-equivalence "
    "of the two forms is itself driver-verified since both hash against "
    "the same oracle",
)
def q_curation_audited(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import curation

    d = table(spark, sf_dir, "documents")
    cfg = curation.CurationConfig(
        min_tokens=3,
        allowed_langs=("en", "de", "fr", "es", "zh", "und"),
        per_source_cap=40,
    )
    out, report = curation.curate_corpus(d, cfg, counts=True)
    assert report, "counts=True must produce a per-stage report"
    return out.select("doc_id", "source", "split")


@register(
    "q_sample_dupweight",
    "llm",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    ), sizes AS (
      SELECT text, CAST(COUNT(*) AS BIGINT) AS n_copies FROM corpus GROUP BY 1
    )
    SELECT c.doc_id, s.n_copies,
           CAST(1 AS DOUBLE) / CAST(s.n_copies AS DOUBLE) AS weight
    FROM corpus c JOIN sizes s ON c.text = s.text
    """,
    notes="extension: duplication-aware example weights — weight = "
    "1/n_copies per byte-identical group (llm/filtering."
    "duplication_weights), the 'weight, don't delete' alternative to "
    "exact dedup: total loss mass per distinct text is constant, "
    "provenance survives. PLANTED copies (doc_id % 10 twins) make "
    "n_copies = 2 groups real on this corpus. Plan: sha2-digest groupBy "
    "(fixed-width shuffle keys) + one digest equi-join back — the "
    "exact-dedup tier's cost; the oracle groups by raw text, an "
    "identical partition of the corpus (digest collisions ~2^-256). "
    "weight is ONE raw division of exact longs — hash-stable",
)
def q_sample_dupweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.filtering import duplication_weights

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(planted)
    return duplication_weights(corpus)


@register(
    "q_dedup_keepbest",
    "llm",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    ), scored AS (
      SELECT doc_id, text, (doc_id * 2654435761) % 1000 AS s FROM corpus
    ), r AS (
      SELECT doc_id, text, s,
             CAST(COUNT(*) OVER (PARTITION BY text) AS BIGINT) AS n_copies,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY s DESC, doc_id) AS rn
      FROM scored
    )
    SELECT doc_id, n_copies, CAST(rn = 1 AS INTEGER) AS keep FROM r
    """,
    notes="extension: exact-dup resolution keeping the HIGHEST-score copy "
    "per group, tie to lowest id (llm/dedup.dup_groups_keep_best) — the "
    "curation refinement of min-id exact dedup when duplicates differ in "
    "quality/recency/trust. One max_by over a (score, −id) struct per "
    "sha2-digest group (text never shuffles) + one digest join back; the "
    "oracle phrases the same choice as a row_number over (score DESC, "
    "id). Score is a deterministic integer hash spread ((id·2654435761) "
    "% 1000 — the Knuth multiplier already used by q_curation's split) "
    "so kept copies differ from the min-id rule on this corpus; PLANTED "
    "doc_id % 10 twins make 2-copy groups real",
)
def q_dedup_keepbest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.dedup import dup_groups_keep_best

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(planted)
    score = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1000)
    return dup_groups_keep_best(corpus, "text", "doc_id", score)


@register(
    "q_text_cooccur",
    "llm",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS d,
             unnest(list_distinct(list_filter(
               regexp_split_to_array(lower(text), '\s+'), t -> t <> ''))) AS t
      FROM documents
    ), dfreq AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS dfr FROM toks GROUP BY 1
    ), freq AS (
      SELECT * FROM dfreq WHERE dfr >= 50
    ), ft AS (
      SELECT toks.d, toks.t, freq.dfr FROM toks JOIN freq ON toks.t = freq.t
    ), sizes AS (
      SELECT d, COUNT(*) AS k FROM ft GROUP BY 1
    ), pool AS (
      SELECT ft.d, ft.t, ft.dfr FROM ft JOIN sizes ON ft.d = sizes.d
      WHERE sizes.k <= 200
    ), pairs AS (
      SELECT a.t AS tok_a, b.t AS tok_b, a.dfr AS dfa, b.dfr AS dfb,
             CAST(COUNT(*) AS BIGINT) AS n_pair_docs
      FROM pool a JOIN pool b ON a.d = b.d AND a.t < b.t
      GROUP BY 1, 2, 3, 4
      HAVING COUNT(*) >= 50
    )
    SELECT tok_a, tok_b, n_pair_docs,
           CAST((SELECT COUNT(DISTINCT doc_id) FROM documents) * n_pair_docs AS DOUBLE)
           / CAST(dfa * dfb AS DOUBLE) AS lift
    FROM pairs
    """,
    notes="extension: frequent token CO-OCCURRENCE 2-itemsets (A-priori "
    "shape) — unordered pairs together at ANY distance in >= min_support "
    "docs, with lift vs independence (llm/textops.cooccurrence_pairs); "
    "complements q_text_collocations' ADJACENT bigrams (topical "
    "association vs phrasing). Downward closure prunes infrequent "
    "tokens BEFORE any pair forms (the Zipf tail never enters the "
    "self-join) and max_doc_items caps the per-doc C(k,2) blowup (the "
    "minhash max_bucket discipline). Lift is ONE division of exact "
    "int64 products; min_support=50 on this shared-vocabulary corpus "
    "keeps the pair set vocabulary²-bounded",
)
def q_text_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.textops import cooccurrence_pairs

    d = table(spark, sf_dir, "documents")
    return cooccurrence_pairs(d, min_support=50, max_doc_items=200)


@register(
    "q_embed_gram",
    "llm",
    oracle="""
    WITH comp AS (
      SELECT vec_id,
             unnest(list_transform(embedding,
               (v, k) -> {'k': k - 1, 'q': CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)})) AS u
      FROM embeddings
    ), c AS (
      SELECT vec_id, CAST(u.k AS INTEGER) AS k, u.q FROM comp
    )
    SELECT a.k AS i, b.k AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS gram
    FROM c a JOIN c b ON a.vec_id = b.vec_id AND a.k <= b.k
    GROUP BY 1, 2
    """,
    notes="extension: exact Gram matrix Σ x·xᵀ over the embedding column "
    "(llm/simsearch.gram_matrix_exact) — the one-pass PCA/whitening/"
    "covariance sufficient statistic. Floor-grid int64 components make "
    "the sums EXACT (order-free, hash-stable — a float Gram never "
    "hash-compares); per-Arrow-batch einsum reduces each partition to a "
    "d×d partial so the exchange carries O(partitions·d²) rows, never "
    "per-vector data (the oracle's explode-pairs formulation ships "
    "rows·d²/2 — fine for DuckDB at 500×64, exactly what the Spark plan "
    "avoids). int64 bound n·(|v|·grid)² documented with the grid/"
    "DECIMAL widening paths",
)
def q_embed_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.simsearch import gram_matrix_exact

    e = table(spark, sf_dir, "embeddings")
    return gram_matrix_exact(e, "embedding")


# ---------------------------------------------------------------------------
# BPE tokenizer (llm/tokenize.py) — real token counts under a frozen
# merge table. The oracle replays greedy BPE EXACTLY in DuckDB: the
# frozen merges are rendered as a literal rank table and a recursive CTE
# merges the first occurrence of the lowest-rank adjacent pair per step
# over the DISTINCT words (the same distinct-word cache the Spark plan
# uses), then joins back to word occurrences. The engine's first-
# occurrence step is provably identical to the reference all-occurrence
# form (see llm/tokenize.py module doc).
# ---------------------------------------------------------------------------


def _bpe_merge_values() -> str:
    from ..llm.tokenize import FROZEN_MERGES

    return ", ".join(
        f"('{l}', '{r}', {i})" for i, (l, r) in enumerate(FROZEN_MERGES)
    )


_BPE_ENCODE_CTE = """
WITH RECURSIVE
m(l, r, rk) AS (VALUES {merges}),
ml AS (SELECT list(struct_pack(l := l, r := r, rk := rk)) AS ms FROM m),
dw AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
  FROM documents
),
words AS (SELECT DISTINCT w FROM dw),
init AS (
  SELECT w, 0 AS step,
         list_transform(range(1, length(w) + 1), i -> w[i]) AS t
  FROM words
),
enc(w, step, t) AS (
  SELECT * FROM init
  UNION ALL
  SELECT w, step + 1,
         t[1:best[2]-1] || [t[best[2]] || t[best[2]+1]] || t[best[2]+2:]
  FROM (
    SELECT w, step, t,
      list_min(list_filter(
        list_transform(range(1, len(t)), j -> [
          list_min(list_transform(
            list_filter(ms, x -> x.l = t[j] AND x.r = t[j+1]),
            x -> x.rk)), j
        ]),
        p -> p[1] IS NOT NULL)) AS best
    FROM enc, ml
  ) s
  WHERE best IS NOT NULL
),
final AS (
  SELECT w, len(t) AS n_tok FROM (
    SELECT w, t, ROW_NUMBER() OVER (PARTITION BY w ORDER BY step DESC) AS rn
    FROM enc
  ) WHERE rn = 1
),
doc_tokens AS (
  SELECT dw.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(f.n_tok) AS BIGINT) AS n_tokens
  FROM dw JOIN final f ON dw.w = f.w
  GROUP BY dw.doc_id
)
"""


@register(
    "q_bpe_encode",
    "llm",
    oracle=_BPE_ENCODE_CTE.format(merges=_bpe_merge_values())
    + "SELECT doc_id, n_words, n_tokens FROM doc_tokens",
    notes="REAL BPE token counts (Sennrich 2016 / GPT-2-style greedy "
    "merge) under the frozen 48-merge table llm/tokenize.FROZEN_MERGES — "
    "closes the r9 gap where every token count was whitespace or a regex "
    "estimate. Engine plan: one corpus-sized explode, DISTINCT words "
    "encode once via an Arrow-batched pandas UDF with the rank table "
    "broadcast (the Zipf cache: |vocab| Python calls, not |corpus|), one "
    "broadcast join back, one id groupBy. Oracle: the merge table as a "
    "literal rank relation + a recursive CTE replaying the identical "
    "greedy step per distinct word. Training itself is driver-loop "
    "iterative (non-SQL); its distributed form is pinned equal to the "
    "python twin in tests/test_tokenize.py",
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import tokenize

    d = table(spark, sf_dir, "documents")
    return tokenize.bpe_token_stats(d, tokenize.FROZEN_MERGES)


@register(
    "q_pack_bpe",
    "llm",
    oracle=_BPE_ENCODE_CTE.format(merges=_bpe_merge_values())
    + """,
    t AS (
      SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
             CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                  WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM doc_tokens
    ), p AS (
      SELECT doc_id, split, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY split ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM t
    )
    SELECT doc_id, split, n_tokens,
           CAST(prefix // 2048 AS INTEGER) AS pack_id,
           CAST(prefix % 2048 AS INTEGER) AS pack_offset
    FROM p
    """,
    notes="q_pack_sequences rewired to REAL BPE token counts (the r9 "
    "verdict's 'wire real token counts into a packing query'): identical "
    "concat-then-split prefix-sum packing, identical deterministic split "
    "shards, but the budget arithmetic runs on the frozen-merge-table "
    "tokenization instead of whitespace counts — pack boundaries now "
    "land where a real trainer's would. Same scale story as "
    "q_pack_sequences (per-shard window, no global sort) plus "
    "q_bpe_encode's distinct-word encode",
)
def q_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..llm import tokenize

    d = table(spark, sf_dir, "documents")
    stats = tokenize.bpe_token_stats(d, tokenize.FROZEN_MERGES).select(
        "doc_id", F.col("n_tokens").cast("int").alias("n_tokens")
    )
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    t = stats.withColumn("split", split)
    w = (
        Window.partitionBy("split")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return t.select(
        "doc_id",
        "split",
        "n_tokens",
        F.floor(prefix / 2048).cast("int").alias("pack_id"),
        (prefix % 2048).cast("int").alias("pack_offset"),
    )


@register(
    "q_embed_pq",
    "llm",
    oracle="""
    SELECT vec_id AS query_id, vec_id,
           CAST(1.0 AS DOUBLE) AS score, CAST(1 AS INTEGER) AS rn
    FROM embeddings WHERE vec_id % 50 = 0
    UNION ALL
    SELECT vec_id AS query_id, vec_id + 1000000 AS vec_id,
           CAST(1.0 AS DOUBLE) AS score, CAST(2 AS INTEGER) AS rn
    FROM embeddings WHERE vec_id % 50 = 0
    """,
    notes="Product Quantization retrieval (Jégou et al. 2011; "
    "llm/simsearch.pq_train/pq_encode/pq_topk_batch) — the compression "
    "tier below int8 for a 100 TB vector store: m=8 subspace codebooks "
    "(ks=16, trained by deterministic hash-seeded k-means), codes of 8 "
    "small ints per vector (~32x lighter than fp32), per-query ADC "
    "lookup-table scoring that reads ONLY the code column, exact cosine "
    "re-rank of the top-50 ADC candidates. Planted-twin oracle "
    "(q_semdedup's pattern): corpus = embeddings ∪ id-shifted identical "
    "copy; every 50th original queries the index — its self and its twin "
    "share the IDENTICAL code (maximal ADC, certainly in the rerank "
    "buffer) and re-rank to exactly (rank1=self, rank2=twin, cosine "
    "1.0), while the nearest organic vector sits at ≤0.51 cosine "
    "(measured corpus property). A full value-hash contract on 2 rows "
    "per query; organic recall-vs-int8 behavior is pinned in tests",
)
def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    planted = e.unionByName(e.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000)))
    codebooks = simsearch.pq_train(e, m=8, ks=16)
    enc = simsearch.pq_encode(planted, codebooks)
    queries = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return simsearch.pq_topk_batch(enc, codebooks, queries, k=2, rerank=50)


@register(
    "q_bpe_pairs",
    "llm",
    oracle=r"""
    WITH w AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
        FROM documents
      ) GROUP BY w
    ), p AS (
      SELECT w[i] AS l, w[i+1] AS r, cnt
      FROM w, unnest(range(1, length(w))) AS t(i)
    ), agg AS (
      SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS c FROM p GROUP BY l, r
    )
    SELECT l, r, c FROM agg ORDER BY c DESC, l, r LIMIT 10
    """,
    notes="the BPE TRAINING kernel certified relationally: round-0 "
    "adjacent-symbol (character) pair counts weighted by word frequency — "
    "exactly the aggregation bpe_train runs each merge round, including "
    "the deterministic (count desc, l, r) argmax order whose top row IS "
    "the first merge. The engine plan is the training loop's own: "
    "corpus-sized word-count groupBy, then the vocabulary-sized "
    "arrays_zip pair explode + partial-aggregable groupBy. Top-10 with "
    "full tiebreak = the driver argmax certified 10 deep. The loop's "
    "later rounds depend on merge state (iterative, non-SQL); they are "
    "pinned merge-for-merge against the python twin in "
    "tests/test_tokenize.py",
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import tokenize

    d = table(spark, sf_dir, "documents")
    wc = tokenize.word_count_table(d, "text")
    syms = wc.select(F.array_compact(F.split("word", "")).alias("syms"), "count")
    pairs = (
        syms.where(F.size("syms") >= 2)
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
        .agg(F.sum("count").cast("long").alias("c"))
    )
    return pairs.orderBy(F.desc("c"), F.asc("l"), F.asc("r")).limit(10)


@register(
    "q_bpe_compression",
    "llm",
    oracle=_BPE_ENCODE_CTE.format(merges=_bpe_merge_values())
    + """,
    chars AS (
      SELECT doc_id, source,
             CAST(length(replace(lower(text), ' ', '')) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c.n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(t.n_words) AS BIGINT) AS n_words,
           CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
           ROUND(SUM(c.n_chars) * 1.0 / SUM(t.n_tokens), 6) AS chars_per_token
    FROM chars c JOIN doc_tokens t USING (doc_id)
    GROUP BY c.source
    """,
    notes="tokenizer-aware corpus quality/mixture signal: per-source "
    "compression under the REAL frozen merge table — chars-per-token is "
    "the standard 'is this actually natural text' detector (binary junk, "
    "wrong-language, or boilerplate tokenizes near 1 char/token; clean "
    "text sits several times higher) and the honest token-budget "
    "denominator for mixture planning (q_corpus_mixture's whitespace "
    "counts overstate budget ~2-4x). Engine: q_bpe_encode's "
    "distinct-word encode + one source rollup; one raw division rounded "
    "at 6dp per the float rules (numerator/denominator are exact int64 "
    "sums)",
)
def q_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import tokenize

    d = table(spark, sf_dir, "documents")
    stats = tokenize.bpe_token_stats(d, tokenize.FROZEN_MERGES)
    chars = d.select(
        "doc_id",
        "source",
        F.length(F.replace(F.lower("text"), F.lit(" "), F.lit(""))).cast("long").alias(
            "n_chars"
        ),
    )
    return (
        chars.join(stats, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_tokens").cast("double"), 6
            ).alias("chars_per_token"),
        )
    )


@register(
    "q_join_fuzzy",
    "llm",
    oracle="""
    WITH l AS (
      SELECT doc_id, substr(lower(text), 1, 30) AS s FROM documents
    ), r AS (
      SELECT doc_id + 1000000 AS rid,
             substr(s, 1, 5) || 'x' || substr(s, 7) AS s
      FROM (SELECT doc_id, substr(lower(text), 1, 30) AS s FROM documents)
    )
    SELECT l.doc_id AS l_id, r.rid AS r_id,
           CAST(levenshtein(l.s, r.s) AS INTEGER) AS dist
    FROM l, r WHERE levenshtein(l.s, r.s) <= 2
    """,
    notes="extension: TWO-TABLE fuzzy equi-join by exact Levenshtein "
    "distance (llm/dedup.fuzzy_join_editdist) — the entity-resolution "
    "shape (scraped titles ↔ canonical registry) the self-join dedup "
    "kernel can't express. EDJoin-style rare-q-gram PREFIX candidates "
    "(q·d+1 rarest grams per side under a union-wide rarity order — "
    "lossless by the two-sided prefix theorem; one edit kills ≤ q "
    "distinct grams) — length banding alone degrades to the quadratic "
    "join on same-length corpora like this probe (measured 54 s at "
    "sf0.1 banded; grams restore the blocking); short strings route "
    "through a |Δlen|-keyed band path, the union is complete. Probe "
    "corpus: 30-char lowercase prefixes joined to a copy with the 6th "
    "char replaced — 500 planted dist-1 matches plus the organic "
    "same-prefix cross-matches, all value-hashed vs the quadratic "
    "oracle",
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.dedup import fuzzy_join_editdist

    d = table(spark, sf_dir, "documents")
    l = d.select("doc_id", F.lower(F.col("text")).substr(1, 30).alias("s"))
    r = l.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("rid"),
        F.concat(
            F.col("s").substr(1, 5), F.lit("x"), F.col("s").substr(7, 24)
        ).alias("s"),
    )
    # q=5 (r14): candidate-volume lever, result-identical for ANY q (the
    # two-sided prefix theorem is q-generic and the verify is exact;
    # losslessness rests on the short-path/gram-path union being complete
    # for any q — substr(…,1,30) probes are ≤30 chars and docs under
    # lmin+d = 17 chars route to the exhaustive short-band path, r15
    # ADVICE wording fix). This corpus's 3-char grams are so
    # common that rarity ordering still met in 3.38M candidate pairs;
    # 5-grams cut that to 756k (4.5×) — interleaved A/B
    # min-of-5: 3.69 s (q=3) vs 2.01 s (q=5), q=5 better in all 5
    # rounds, result rows identical (5512) for q ∈ {3,4,5,6,7}.
    return fuzzy_join_editdist(
        l, r, "s", "s", l_id="doc_id", r_id="rid", max_dist=2, q=5,
        max_posting_docs=None,
    ).select(F.col("doc_id").alias("l_id"), F.col("rid").alias("r_id"), "dist")


@register(
    "q_text_cosine",
    "llm",
    oracle="""
    WITH tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
        FROM documents
      ) GROUP BY 1, 2
    ), qs AS (
      SELECT doc_id AS qid FROM documents WHERE doc_id % 50 = 0
    ), qp AS (
      SELECT qs.qid, tf.w, tf.tf FROM tf JOIN qs ON tf.doc_id = qs.qid
    ), n2 AS (
      SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2 FROM tf GROUP BY 1
    ), dots AS (
      SELECT qp.qid, tf.doc_id AS did, CAST(SUM(qp.tf * tf.tf) AS BIGINT) AS dot
      FROM qp JOIN tf USING (w) WHERE tf.doc_id <> qp.qid
      GROUP BY 1, 2
    ), s AS (
      SELECT dots.qid AS query_id, dots.did AS doc_id, dots.dot,
             CAST(dots.dot AS DOUBLE)
               / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS score
      FROM dots JOIN n2 q ON q.doc_id = dots.qid JOIN n2 c ON c.doc_id = dots.did
    )
    SELECT query_id, doc_id, dot, score, CAST(rn AS INTEGER) AS rn FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      FROM s
    ) WHERE rn <= 5
    """,
    notes="extension: SPARSE doc-against-doc lexical retrieval — top-5 by "
    "term-frequency cosine via an INVERTED-INDEX join "
    "(llm/textops.tf_cosine_topk): postings joined by TERM, so only "
    "documents sharing a term ever meet (cost follows posting lists, "
    "never |corpus|x|queries|); max_df caps stopword posting lists at "
    "scale (unused here — the synthetic 31-word vocabulary would drop "
    "everything; documented precondition). Exactness per the "
    "grouped_corr recipe: integer tf -> exact int64 dots and squared "
    "norms, cosine as one fixed tree of correctly-rounded IEEE ops over "
    "exact ints, shipped RAW (bit-identical cross-engine); WindowGroupLimit "
    "bounds the per-query top-k shuffle. Completes the similarity "
    "family's sparse leg beside dense exact/LSH/IVF/PQ and the "
    "fixed-bag BM25",
)
def q_text_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    queries = d.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return textops.tf_cosine_topk(d, queries, k=5).select(
        "query_id", "doc_id", "dot", "score", "rn"
    )


@register(
    "q_join_jaccard",
    "llm",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      FROM documents
    ), l AS (
      SELECT doc_id AS lid,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
                         i -> array_to_string(toks[i:i+2], ' ')))
             END AS sh
      FROM base
    ), r AS (
      SELECT doc_id + 1000000 AS rid,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks || ['zqx'], ' ')]
                  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 1),
                         i -> array_to_string((toks || ['zqx'])[i:i+2], ' ')))
             END AS sh
      FROM base
    ), pairs AS (
      SELECT l.lid AS l_id, r.rid AS r_id,
             len(list_intersect(l.sh, r.sh)) AS i,
             len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh)) AS u
      FROM l, r
    )
    SELECT l_id, r_id, CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS jaccard
    FROM pairs WHERE i * 10 >= u * 8
    """,
    notes="extension: TWO-TABLE set-similarity join — all (left, right) "
    "pairs with exact 3-gram shingle Jaccard ≥ 0.8 "
    "(llm/dedup.fuzzy_join_jaccard), the Jaccard leg of the fuzzy "
    "entity-resolution family beside the Levenshtein leg. SSJoin prefix "
    "filtering with the two-table subtlety done right: the rarity order "
    "is document frequency over the UNION of both sides' postings (a "
    "per-side order would let qualifying pairs' prefixes miss each "
    "other); size-ratio integer bound before the exact verify; "
    "max_posting_docs caps stopword grams per side. Probe corpus: "
    "documents joined to a copy with one appended word — each twin pair "
    "shares all but the final shingle (J = (s)/(s+1) ≥ 0.8 on all but "
    "the shortest docs) plus whatever organic cross-pairs qualify; the "
    "oracle is the quadratic definition, jaccard one exact-int division "
    "shipped raw",
)
def q_join_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.dedup import fuzzy_join_jaccard

    d = table(spark, sf_dir, "documents")
    l = d.select("doc_id", "text")
    r = d.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("rid"),
        F.concat(F.col("text"), F.lit(" zqx")).alias("text"),
    )
    return fuzzy_join_jaccard(
        l, r, "text", "text", l_id="doc_id", r_id="rid", n=3, threshold=0.8
    ).select(F.col("doc_id").alias("l_id"), F.col("rid").alias("r_id"), "jaccard")


@register(
    "q_text_logprob2",
    "llm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
      FROM documents
    ), uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM (
        SELECT unnest(ts) AS w FROM toks
      ) GROUP BY w
    ), n AS (SELECT CAST(SUM(cu) AS BIGINT) AS total FROM uni),
    pos AS (
      SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      FROM toks, unnest(range(1, len(ts))) AS t(i)
      WHERE len(ts) >= 2
    ), bi AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM pos GROUP BY w1, w2
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_bigrams,
           ROUND(AVG(CASE
             WHEN bi.cb IS NOT NULL
               THEN ln(CAST(bi.cb AS DOUBLE) / CAST(u1.cu AS DOUBLE))
             ELSE ln(0.4 * CAST(u2.cu AS DOUBLE)
                     / CAST((SELECT total FROM n) AS DOUBLE))
           END), 6) AS mean_logprob
    FROM pos p
    LEFT JOIN bi ON bi.w1 = p.w1 AND bi.w2 = p.w2
    JOIN uni u1 ON u1.w = p.w1
    JOIN uni u2 ON u2.w = p.w2
    GROUP BY p.doc_id
    """,
    notes="ORDER-AWARE fluency scoring (llm/textops.bigram_logprob_scores): "
    "per-doc mean bigram log-prob under the corpus's own distribution "
    "with stupid backoff (Brants et al. 2007, factor 0.4 to the unigram) "
    "— the n-gram upgrade of q_text_logprob that shuffled prose cannot "
    "fake (bag-of-words scores survive shuffling, P(w|prev) does not). "
    "Two vocabulary-sized count shuffles, broadcast joins back, per-doc "
    "mean; same ln/order 6-dp rounding discipline. Single-token docs "
    "emit no row (no bigram positions)",
)
def q_text_logprob2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return textops.bigram_logprob_scores(d, "text", "doc_id")


def _bpe_vocab_values() -> str:
    from ..llm.tokenize import FROZEN_VOCAB

    return ", ".join(f"('{t}', {i})" for t, i in FROZEN_VOCAB.items())


@register(
    "q_bpe_ids",
    "llm",
    oracle="""
    WITH RECURSIVE
    m(l, r, rk) AS (VALUES {merges}),
    ml AS (SELECT list(struct_pack(l := l, r := r, rk := rk)) AS ms FROM m),
    voc(tok, id) AS (VALUES {vocab}),
    vl AS (SELECT list(struct_pack(tok := tok, id := id)) AS vs FROM voc),
    dw AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
      FROM documents
    ),
    words AS (SELECT DISTINCT w FROM dw),
    init AS (
      SELECT w, 0 AS step,
             list_transform(range(1, length(w) + 1), i -> w[i]) AS t
      FROM words
    ),
    enc(w, step, t) AS (
      SELECT * FROM init
      UNION ALL
      SELECT w, step + 1,
             t[1:best[2]-1] || [t[best[2]] || t[best[2]+1]] || t[best[2]+2:]
      FROM (
        SELECT w, step, t,
          list_min(list_filter(
            list_transform(range(1, len(t)), j -> [
              list_min(list_transform(
                list_filter(ms, x -> x.l = t[j] AND x.r = t[j+1]),
                x -> x.rk)), j
            ]),
            p -> p[1] IS NOT NULL)) AS best
        FROM enc, ml
      ) s
      WHERE best IS NOT NULL
    ),
    final AS (
      SELECT w, t FROM (
        SELECT w, t, ROW_NUMBER() OVER (PARTITION BY w ORDER BY step DESC) AS rn
        FROM enc
      ) WHERE rn = 1
    ),
    wstats AS (
      SELECT w,
             len(t) AS n_tok,
             COALESCE(list_sum(list_transform(t, x ->
               coalesce(list_min(list_transform(
                 list_filter(vs, v -> v.tok = x), v -> v.id)), 0))), 0) AS sum_ids,
             len(list_filter(t, x ->
               len(list_filter(vs, v -> v.tok = x)) = 0)) AS n_unk
      FROM final, vl
    )
    SELECT dw.doc_id,
           CAST(SUM(ws.n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(ws.sum_ids) AS BIGINT) AS sum_ids,
           CAST(SUM(ws.n_unk) AS BIGINT) AS n_unk
    FROM dw JOIN wstats ws ON dw.w = ws.w
    GROUP BY dw.doc_id
    """.format(merges=_bpe_merge_values(), vocab=_bpe_vocab_values()),
    notes="the trainer's ACTUAL input certified: per-doc token-ID "
    "statistics under the frozen (merges, vocab) pair — GPT-2-style "
    "vocab (base alphabet then merge outputs in training order, "
    "first-occurrence-wins on duplicate strings), sum-of-ids pins every "
    "token's id through the distinct-word cache, n_unk counts tokens "
    "outside the released vocabulary (UNK policy is the caller's). "
    "Same plan as q_bpe_encode with the id map applied inside the same "
    "Arrow pass (llm/tokenize.bpe_token_ids / bpe_vocab); the oracle "
    "replays encode via the recursive CTE and the vocab as a literal "
    "struct list",
)
def q_bpe_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import tokenize

    d = table(spark, sf_dir, "documents")
    return tokenize.bpe_token_ids(
        d, tokenize.FROZEN_MERGES, tokenize.FROZEN_VOCAB
    )


@register(
    "q_split_stratified",
    "llm",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN r * 100 <= 80 * n THEN 'train'
                WHEN r * 100 <= 90 * n THEN 'val'
                ELSE 'test' END AS split
    FROM ranked
    """,
    notes="extension: STRATIFIED deterministic split with exact per-group "
    "proportions (llm/filtering.stratified_split) — the global hash "
    "split (q_split_hash) gives small sources only expected-value "
    "proportions (a 30-doc domain can land 90/10/0 by luck and vanish "
    "from eval); md5-rank within each source + integer threshold "
    "buckets (r·100 ≤ p·n — cross-multiplied, no float rounding) "
    "guarantee every source contributes ⌊p·n⌋ docs to each split. One "
    "per-group rank window (the cap_per_group shuffle), never a global "
    "sort",
)
def q_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return filtering.stratified_split(d, "source", "doc_id").select(
        "doc_id", "source", "split"
    )


@register(
    "q_retrieval_ndcg",
    "llm",
    oracle="""
    WITH base AS (
      SELECT CAST(user_id % 16 AS BIGINT) AS query,
             event_id AS doc,
             CAST(event_id % 4 AS BIGINT) AS rel,
             value AS score
      FROM events
    ),
    run AS (
      SELECT query, rel,
             row_number() OVER (PARTITION BY query ORDER BY score DESC, doc) AS p
      FROM base
    ),
    ideal AS (
      SELECT query, rel,
             row_number() OVER (PARTITION BY query ORDER BY rel DESC, doc) AS p
      FROM base
    ),
    w AS (SELECT [1000000000, 630929753, 500000000, 430676558, 386852807,
                  356207187, 333333333, 315464876, 301029995, 289064826] AS wt),
    dcg AS (
      SELECT query,
             CAST(SUM((CAST(POWER(2, rel) AS BIGINT) - 1) * wt[p]) AS BIGINT)
               AS dcg_scaled
      FROM run, w WHERE p <= 10 GROUP BY query
    ),
    idcg AS (
      SELECT query,
             CAST(SUM((CAST(POWER(2, rel) AS BIGINT) - 1) * wt[p]) AS BIGINT)
               AS idcg_scaled
      FROM ideal, w WHERE p <= 10 GROUP BY query
    )
    SELECT dcg.query, dcg_scaled, idcg_scaled,
           CAST(dcg_scaled AS DOUBLE)
             / NULLIF(CAST(idcg_scaled AS DOUBLE), 0.0) AS ndcg
    FROM dcg JOIN idcg ON dcg.query = idcg.query
    """,
    notes="extension: per-query NDCG@10 retrieval evaluation "
    "(llm/textops.ndcg_at_k) — the grading companion of "
    "q_retrieval_fusion's RRF: a graded-relevance ranking metric on the "
    "INTEGER grid. Position discounts are the precomputed "
    "floor(1e9/log2(p+1)) literals (NDCG_WEIGHTS_10) — per-engine log2 "
    "is not correctly-rounded-guaranteed, a 1-ulp disagreement inside "
    "SUM would break certification — so both DCG sums are exact int64 "
    "aggregations and nDCG is ONE IEEE division. Run and ideal rankings "
    "are total-ordered by (score DESC, doc) / (rel DESC, doc); "
    "WindowGroupLimit truncates both to k=10 per query map-side. Events "
    "stand in as a deterministic qrels fixture: query = user_id mod 16, "
    "graded rel = event_id mod 4, score = value",
)
def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 16).cast("long").alias("q"),
        F.col("event_id").alias("d"),
        (F.col("event_id") % 4).alias("r"),
        F.col("value").alias("s"),
    )
    return textops.ndcg_at_k(ev, "q", "d", F.col("r"), F.col("s"), k=10)


@register(
    "q_compaction_plan",
    "llm",
    oracle="""
    WITH m AS (
      SELECT source || '/' || lang AS f, CAST(SUM(n_chars) AS BIGINT) AS b
      FROM documents GROUP BY 1
    ),
    c AS (
      SELECT f, b, SUM(b) OVER (ORDER BY b DESC, f) - b AS strt
      FROM m
    ),
    bk AS (
      SELECT CAST(strt // 20000 AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(b) AS BIGINT) AS total_bytes
      FROM c GROUP BY 1
    )
    SELECT bucket, n_files, total_bytes,
           CAST(CASE WHEN total_bytes <= 20000 + (SELECT MAX(b) FROM m)
                     THEN 1 ELSE 0 END AS INTEGER) AS within_bound
    FROM bk
    """,
    notes="extension: small-files compaction planner (analyze."
    "compaction_plan) — q_shard_manifest prevents the small-files "
    "problem at write time; this repairs tables that already have it. "
    "Deterministic next-fit-by-size: (bytes DESC, path) order, running "
    "cumsum, bucket = cum_before DIV target (true integer division — "
    "double '/' truncation can misassign at 2^53-scale cumulative "
    "bytes). Each row self-certifies total ≤ target + max_file (a file "
    "never splits). The global cumsum window is CORRECT here because "
    "the input is the file manifest (one metadata row per file), never "
    "the data — documents' (source, lang) byte sums stand in as the "
    "manifest fixture",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import analyze

    d = table(spark, sf_dir, "documents")
    manifest = d.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("long").alias("bytes")
    ).select(
        F.concat_ws("/", "source", "lang").alias("file"), "bytes"
    )
    return analyze.compaction_plan(manifest, "file", "bytes", target_bytes=20000)


@register(
    "q_corpus_wlength",
    "llm",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text, lang, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 100000, text, lang, n_chars
      FROM documents WHERE doc_id % 10 = 0
    ),
    canon AS (
      SELECT lang, text, CAST(COUNT(*) AS BIGINT) AS w,
             CAST(MIN(n_chars) AS BIGINT) AS x
      FROM corpus GROUP BY 1, 2
    ),
    c AS (SELECT lang, x, CAST(SUM(w) AS BIGINT) AS wsum FROM canon GROUP BY 1, 2),
    cum AS (
      SELECT lang, x, wsum,
             SUM(wsum) OVER (PARTITION BY lang ORDER BY x) AS cw
      FROM c
    ),
    tot AS (SELECT lang, CAST(SUM(wsum) AS BIGINT) AS total_w FROM c GROUP BY 1)
    SELECT cum.lang, total_w,
           CAST(MIN(CASE WHEN cw * 2 >= total_w THEN x END) AS BIGINT) AS wmedian
    FROM cum JOIN tot ON cum.lang = tot.lang
    GROUP BY cum.lang, total_w
    """,
    notes="extension COMPOSITION: per-lang duplication-weighted median "
    "doc length — the q_sample_dupweight 'weight, don't delete' "
    "discipline feeding q_stats_wmedian's operator: statistics computed "
    "on the DEDUPED canonical table (one row per distinct text, weight "
    "= multiplicity) equal statistics over the raw duplicated corpus, "
    "without storing the duplicates. Planted copies (doc_id % 10 twins) "
    "make multiplicity ≥ 2 real. Plan: one digest groupBy (canonical "
    "table, fixed-width keys) then the weighted-median ladder over the "
    "distinct-length lattice; at 100 TB the stats pass costs the "
    "canonical table's size, not the corpus's",
)
def q_corpus_wlength(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import grouped_weighted_median

    d = table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    planted = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "n_chars"
    )
    corpus = d.unionByName(planted)
    canon = corpus.groupBy("lang", F.sha2(F.col("text"), 256).alias("_digest")).agg(
        F.count("*").cast("long").alias("w"),
        F.min("n_chars").cast("long").alias("x"),
    )
    return grouped_weighted_median(canon, "lang", F.col("x"), F.col("w"))


@register(
    "q_retrieval_mrr",
    "llm",
    oracle="""
    WITH base AS (
      SELECT CAST(user_id % 16 AS BIGINT) AS query,
             event_id AS doc,
             (event_id % 4 > 0) AS rel,
             value AS score
      FROM events
    ),
    ranked AS (
      SELECT query, rel,
             row_number() OVER (PARTITION BY query ORDER BY score DESC, doc) AS p
      FROM base
    ),
    agg AS (
      SELECT query,
             CAST(MIN(CASE WHEN rel THEN p END) AS BIGINT) AS first_rel_rank,
             CAST(SUM(CASE WHEN rel AND p <= 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS hits_at_k,
             CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
      FROM ranked GROUP BY query
    )
    SELECT query, first_rel_rank, hits_at_k, n_rel,
           1.0 / CAST(first_rel_rank AS DOUBLE) AS mrr,
           CAST(hits_at_k AS DOUBLE) / NULLIF(CAST(n_rel AS DOUBLE), 0.0)
             AS recall_at_k
    FROM agg
    """,
    notes="extension: per-query MRR + recall@10 (llm/textops."
    "retrieval_metrics_at_k) — the binary-relevance companions of "
    "q_retrieval_ndcg's graded metric; together the standard retrieval-"
    "eval report. Exact integer ranks and counts (min-of-rank + two "
    "conditional sums over ONE row_number window, all partial-"
    "aggregable), two final IEEE divisions; no-relevant queries NULL "
    "via NULLIF. Same deterministic qrels fixture as NDCG",
)
def q_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 16).cast("long").alias("q"),
        F.col("event_id").alias("d"),
        (F.col("event_id") % 4).alias("r"),
        F.col("value").alias("s"),
    )
    return textops.retrieval_metrics_at_k(ev, "q", "d", F.col("r"), F.col("s"), k=10)


@register(
    "q_dedup_url",
    "llm",
    oracle=r"""
    WITH u AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
        CASE WHEN doc_id % 4 = 0 THEN upper(source || '.example.com')
             ELSE source || '.example.com' END ||
        '/item/' || CAST(doc_id % 37 AS VARCHAR) ||
        CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END ||
        CASE WHEN doc_id % 4 = 2
               THEN '?UTM_Source=feed&id=' || CAST(doc_id % 37 AS VARCHAR)
             WHEN doc_id % 4 = 3
               THEN '?id=' || CAST(doc_id % 37 AS VARCHAR) || '&utm_campaign=x'
             ELSE '' END ||
        CASE WHEN doc_id % 4 = 3 THEN '#frag' ELSE '' END AS raw_url
      FROM documents
    ), t AS (
      SELECT doc_id, raw_url,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(raw_url, '#.*$', ''),
                '([?&])(?i:utm_[A-Za-z0-9_]+|ref|fbclid)=[^&]*', '\1', 'g'),
              '&&+', '&', 'g'),
            '\?&', '?'),
          '[?&]$', '') AS t4
      FROM u
    ), c AS (
      SELECT doc_id, raw_url,
        regexp_replace(
          lower(regexp_extract(t4, '^((?i:https?)://[^/?]+)', 1)) ||
            substr(t4, length(regexp_extract(t4, '^((?i:https?)://[^/?]+)', 1)) + 1),
          '/+$', '') AS canonical_url
      FROM t
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_raw_variants,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc
    FROM c GROUP BY canonical_url
    """,
    notes="extension (r11): URL-canonicalization dedup — the first step "
    "of every web-crawl pipeline (dedup by canonical URL is ~free and "
    "removes the bulk of re-crawl duplicates before any content "
    "hashing). The documents table carries no URL, so the query PLANTS "
    "deterministic variants in-plan (host-case noise, trailing slash, "
    "utm/ref tracking params, fragments — each from doc_id arithmetic "
    "both engines replay) and the canonicalizer must collapse them: "
    "strip fragment, strip tracking params preserving real ones, "
    "lowercase scheme+authority only, strip trailing slash. Pure regex "
    "chain — codegen, no UDF, one groupBy shuffle on the canonical key; "
    "at 100 TB this runs at ingest as a projection + the dedup-exact "
    "groupBy. llm/dedup.canonical_url",
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 37).cast("string")
    v = F.col("doc_id") % 4
    host = F.concat(F.col("source"), F.lit(".example.com"))
    raw = F.concat(
        F.when(v == 0, F.lit("HTTPS://")).otherwise(F.lit("https://")),
        F.when(v == 0, F.upper(host)).otherwise(host),
        F.lit("/item/"),
        k,
        F.when(v == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(v == 2, F.concat(F.lit("?UTM_Source=feed&id="), k))
        .when(v == 3, F.concat(F.lit("?id="), k, F.lit("&utm_campaign=x")))
        .otherwise(F.lit("")),
        F.when(v == 3, F.lit("#frag")).otherwise(F.lit("")),
    )
    urls = d.select(F.col("doc_id"), raw.alias("raw_url"))
    return (
        urls.withColumn("canonical_url", dedup.canonical_url(F.col("raw_url")))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("raw_url").cast("long").alias("n_raw_variants"),
            F.min("doc_id").cast("long").alias("keep_doc"),
        )
    )


@register(
    "q_text_pii",
    "llm",
    oracle=r"""
    WITH p AS (
      SELECT source,
        text ||
        CASE WHEN doc_id % 5 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
             ELSE '' END ||
        CASE WHEN doc_id % 7 = 0
               THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
             ELSE '' END AS t
      FROM documents
    ), c AS (
      SELECT source,
        CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones,
        CAST(length(t) - length(
          regexp_replace(
            regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b555-[0-9]{4}\b', '<PHONE>', 'g')) AS BIGINT) AS chars_redacted
      FROM p
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(SUM(n_emails) AS BIGINT) AS n_emails,
           CAST(SUM(n_phones) AS BIGINT) AS n_phones,
           CAST(SUM(chars_redacted) AS BIGINT) AS chars_redacted
    FROM c GROUP BY source
    """,
    notes="extension (r11): free-text PII gate — the text-side "
    "complement of the k-anonymity/l-diversity column audits: count and "
    "redact emails/phones before release. The synthetic corpus carries "
    "no PII, so the query PLANTS deterministic emails (doc_id%5) and "
    "555-prefixed phones (doc_id%7) in-plan — both engines replay the "
    "construction — then the detector must find exactly those. "
    "RE2-compatible patterns (no lookarounds) run identically as Java "
    "regex and DuckDB RE2; counts and redaction-length deltas are exact "
    "ints. All codegen (regexp_count/regexp_replace), one source-keyed "
    "groupBy — at 100 TB this is a map-side projection + 5-row summary. "
    "llm/filtering.pii_counts",
)
def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        ).otherwise(F.lit("")),
    )
    cols = filtering.pii_counts(planted)
    per = d.select(
        "source",
        cols["n_emails"].alias("n_emails"),
        cols["n_phones"].alias("n_phones"),
        (F.length(planted) - F.length(cols["redacted"])).cast("long").alias(
            "chars_redacted"
        ),
    )
    return per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("n_emails") + F.col("n_phones") > 0, 1).otherwise(0)
        )
        .cast("long")
        .alias("docs_with_pii"),
        F.sum("n_emails").cast("long").alias("n_emails"),
        F.sum("n_phones").cast("long").alias("n_phones"),
        F.sum("chars_redacted").cast("long").alias("chars_redacted"),
    )


@register(
    "q_text_classify",
    "llm",
    oracle=r"""
    WITH w(word, weight) AS (VALUES
      ('table', 5), ('query', 4), ('join', 4), ('window', 3), ('agg', 3),
      ('stream', 3), ('spark', 2), ('merge', 2), ('sort', 2), ('group', 2),
      ('slow', -3), ('small', -2), ('a', -4), ('the', -1), ('of', -2)
    ),
    toks AS (
      -- \S+ extraction, not string_split(' '): the Spark side tokenizes
      -- with regexp_extract_all(\S+), and the two only coincide on
      -- single-space text — the oracle must not depend on that corpus
      -- artifact (r12, ADVICE)
      SELECT doc_id, source,
             unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    scored AS (
      SELECT t.doc_id, CAST(SUM(w.weight) AS BIGINT) AS s
      FROM toks t JOIN w ON t.word = w.word
      GROUP BY t.doc_id
    ),
    gated AS (
      SELECT d.source,
             COALESCE(s.s, 0) - 2 AS score,
             CASE WHEN COALESCE(s.s, 0) - 2 >= 0 THEN 1 ELSE 0 END AS keep
      FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(SUM(score) AS BIGINT) AS sum_score,
           CAST(MIN(score) AS BIGINT) AS min_score,
           CAST(MAX(score) AS BIGINT) AS max_score
    FROM gated GROUP BY source
    """,
    notes="extension (r11): linear QUALITY CLASSIFIER gate — the "
    "production shape of fasttext-style corpus filtering (CCNet/Gopher/"
    "LLaMA all gate on a linear model over token features): integer "
    "word weights broadcast as a table, token explode + inner join "
    "(absent tokens ARE the +0), one id groupBy, integer threshold. "
    "Exact int64 scores so the keep decision hash-compares; the 5-row "
    "per-source summary is the release artifact. At 100 TB the shuffled "
    "frame is vocabulary-FILTERED tokens, far smaller than the corpus; "
    "a 10^6-feature hashed model broadcasts the same way. "
    "llm/filtering.classify_quality",
)
def q_text_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    gated = filtering.classify_quality(d, threshold=0)
    return (
        d.select("doc_id", "source")
        .join(gated, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.sum("score").cast("long").alias("sum_score"),
            F.min("score").cast("long").alias("min_score"),
            F.max("score").cast("long").alias("max_score"),
        )
    )


#: Shared HTML plant + extraction pipeline (DuckDB side): produces an
#: ``extracted(doc_id, source, text, n_lines, n_kept)`` CTE both the
#: q_text_extract_html row and the composed q_web_curation_e2e ladder
#: build on — ONE definition, so the extraction algebra cannot drift
#: between the unit row and the composition.
#: The plant alone (doc_id, source, html) — reused verbatim by the
#: q_scan_warc fixture oracle, which verifies WARC record/byte exactness
#: against the same synthesized pages.
_HTML_PLANT_SQL = r"""
      SELECT doc_id, source,
        '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>' ||
        CASE WHEN doc_id % 4 = 0 THEN '<style>p { color: red; }</style>' ELSE '' END ||
        CASE WHEN doc_id % 4 = 1
             THEN '<script>var x = 1; if (x < 2) { track("' || source || '"); }</script>'
             ELSE '' END ||
        '</head><body><!-- build ' || CAST(doc_id AS VARCHAR) || ' -->' ||
        '<div class="nav"><a href="/">Home</a> <a href="/about">About our team</a> <a href="/contact">Contact</a></div>' ||
        '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' ||
        '<p>' || text || '</p>' ||
        CASE WHEN doc_id % 4 = 2
             THEN '<p>Rate &amp; review &lt;today&gt;, share a <a href="/r">review link</a> with &quot;friends&quot;&nbsp;&#39;now&#39;.</p>'
             ELSE '' END ||
        CASE WHEN doc_id % 4 = 3
             THEN '<ul><li>tiny</li><li>a longer informative list item survives here</li></ul>'
             ELSE '' END ||
        '<div class="footer"><a href="/p">Privacy</a> | <a href="/t">Terms</a></div>' ||
        '</body></html>' AS html
      FROM documents
"""

_HTML_PIPE_SQL = r"""
    WITH raw AS (
""" + _HTML_PLANT_SQL + r"""
    ), s1 AS (
      SELECT doc_id, source,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
            '(?is)<title[^>]*>.*?</title>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g') AS h
      FROM raw
    ), s2 AS (
      SELECT doc_id, source,
        str_split(regexp_replace(h,
          '(?i)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|thead|tbody|section|article|header|footer|nav|aside|blockquote|pre|form|hr)\b[^>]*>',
          chr(10), 'g'), chr(10)) AS lines
      FROM s1
    ), s3 AS (
      SELECT doc_id, source,
        list_transform(lines, x -> struct_pack(
          t := trim(regexp_replace(
                 replace(replace(replace(replace(replace(replace(
                   regexp_replace(x, '(?s)<[^>]*>', ' ', 'g'),
                   '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
                 '\s+', ' ', 'g')),
          a := trim(regexp_replace(
                 replace(replace(replace(replace(replace(replace(
                   regexp_replace(COALESCE(array_to_string(
                     regexp_extract_all(x, '(?is)<a\b[^>]*>(.*?)</a>', 1), ' '), ''),
                     '(?s)<[^>]*>', ' ', 'g'),
                   '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
                 '\s+', ' ', 'g'))
        )) AS scored
      FROM s2
    ), s4 AS (
      SELECT doc_id, source, list_filter(scored, s -> s['t'] <> '') AS nonempty
      FROM s3
    ), s5 AS (
      SELECT doc_id, source, nonempty,
        list_filter(nonempty, s ->
          len(str_split(s['t'], ' ')) >= 3
          AND length(s['a']) * 2 <= length(s['t']) * 1) AS kept
      FROM s4
    ), extracted AS (
      SELECT doc_id, source,
        array_to_string(list_transform(kept, s -> s['t']), chr(10)) AS text,
        CAST(len(nonempty) AS BIGINT) AS n_lines,
        CAST(len(kept) AS BIGINT) AS n_kept
      FROM s5
    )
"""


def _planted_html(d: DataFrame) -> "F.Column":
    """Spark twin of ``_HTML_PIPE_SQL``'s raw CTE: the full HTML page
    planted around each document's text by doc_id arithmetic — shared by
    q_text_extract_html and q_web_curation_e2e (one definition, no
    drift)."""
    i = F.col("doc_id").cast("string")
    v = F.col("doc_id") % 4
    return F.concat(
        F.lit("<html><head><title>Doc "), i, F.lit("</title>"),
        F.when(v == 0, F.lit("<style>p { color: red; }</style>")).otherwise(F.lit("")),
        F.when(
            v == 1,
            F.concat(
                F.lit('<script>var x = 1; if (x < 2) { track("'),
                F.col("source"),
                F.lit('"); }</script>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body><!-- build "), i, F.lit(" -->"),
        F.lit(
            '<div class="nav"><a href="/">Home</a> <a href="/about">About our team</a>'
            ' <a href="/contact">Contact</a></div>'
        ),
        F.lit("<h1>Doc "), i, F.lit("</h1>"),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.when(
            v == 2,
            F.lit(
                "<p>Rate &amp; review &lt;today&gt;, share a "
                '<a href="/r">review link</a> with &quot;friends&quot;&nbsp;'
                "&#39;now&#39;.</p>"
            ),
        ).otherwise(F.lit("")),
        F.when(
            v == 3,
            F.lit("<ul><li>tiny</li><li>a longer informative list item survives here</li></ul>"),
        ).otherwise(F.lit("")),
        F.lit(
            '<div class="footer"><a href="/p">Privacy</a> | <a href="/t">Terms</a>'
            "</div></body></html>"
        ),
    )


@register(
    "q_text_extract_html",
    "llm",
    oracle=_HTML_PIPE_SQL
    + "SELECT doc_id, text, n_lines, n_kept FROM extracted",
    notes="extension (r12, VERDICT item 3): HTML/markup text extraction — "
    "the web-crawl front door the LLM ladder was missing (every dedup/"
    "quality gate downstream assumes already-clean text; C4/RefinedWeb "
    "both start here). The documents table carries no HTML, so the query "
    "PLANTS a full page around each doc's text by doc_id arithmetic both "
    "engines replay (the q_dedup_url discipline): title + per-variant "
    "style/script blocks (content must vanish), a comment, a link-dense "
    "nav and footer (link-density rule must drop), a 2-word heading "
    "(min-words rule must drop), the body paragraph, an entity-laden "
    "paragraph with an inline link (must decode ONCE and survive), and a "
    "tiny-vs-long list item pair. Extraction is llm/textops."
    "extract_html_text_rows (r15): pure regexp, zero UDF — lines explode "
    "to rows so the per-line scoring runs in whole-stage codegen instead "
    "of interpreted higher-order-function dispatch (2.9x measured), at "
    "the price of one doc-keyed partial-agg exchange of the extracted "
    "lines; the returned text value-hashes per doc, the strongest "
    "certificate the driver can check. Line rule: words >= 3 AND anchor_chars*2 <= "
    "chars (exact integer cross-mult of max_link_density=0.5). The "
    "plant + extraction SQL is ONE shared definition with the composed "
    "q_web_curation_e2e ladder.",
)
def q_text_extract_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # r15: the row form of the extractor (explode + codegen line scoring
    # + one doc-keyed partial agg) replaces the higher-order-function
    # projection — HOFs are CodegenFallback, and the interpreted
    # per-line dispatch was ~85% of this query's cost (interleaved A/B:
    # 2.0 → 0.70 s, output bit-identical; llm/textops.py has the
    # tradeoff notes). Same algebra, same oracle.
    return textops.extract_html_text_rows(
        d, _planted_html(d), id_cols=["doc_id"], min_words=3, max_link_density=0.5
    ).select("doc_id", "text", "n_lines", "n_kept")


@register(
    "q_web_curation_e2e",
    "llm",
    oracle=_HTML_PIPE_SQL
    + r""",
    w(word, weight) AS (VALUES
      ('table', 5), ('query', 4), ('join', 4), ('window', 3), ('agg', 3),
      ('stream', 3), ('spark', 2), ('merge', 2), ('sort', 2), ('group', 2),
      ('slow', -3), ('small', -2), ('a', -4), ('the', -1), ('of', -2)
    ),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                x -> x <> '')) AS word
      FROM extracted
    ),
    wscored AS (
      SELECT t.doc_id, CAST(SUM(w.weight) AS BIGINT) AS s
      FROM toks t JOIN w ON t.word = w.word
      GROUP BY t.doc_id
    ),
    gated AS (
      SELECT e.source, e.text, COALESCE(s.s, 0) - 2 AS score
      FROM extracted e LEFT JOIN wscored s ON e.doc_id = s.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(COUNT(DISTINCT CASE WHEN score >= 0 THEN text END) AS BIGINT)
             AS n_unique_pass,
           CAST(SUM(CASE WHEN score >= 0 THEN score END) AS BIGINT) AS sum_pass_score
    FROM gated GROUP BY source
    """,
    notes="extension (r12): the COMPOSED web front door as one "
    "value-verified query — raw HTML (planted, the shared "
    "_HTML_PIPE_SQL definition) -> extract_html_text_rows -> "
    "classify_quality linear gate ON THE EXTRACTED TEXT -> exact-text "
    "dedup among the passers — i.e. the q_curation_e2e discipline "
    "applied to the new extraction rung: what lands after extraction "
    "feeds the gate, what passes the gate dedups, per-source summary. "
    "Certifies the INTERACTION (gate tokenization over newline-joined "
    "extracted lines, dedup over extraction output equality), not just "
    "each stage alone. Plan: scan-fused extraction projection, "
    "broadcast weight join over the vocabulary-filtered token frame, "
    "two partial-aggregable shuffles; nothing corpus-sized in Python.",
)
def q_web_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # r15: row-form extractor (see q_text_extract_html) — doc_id keys the
    # rows, source rides in the group key (functionally dependent)
    extracted = textops.extract_html_text_rows(
        d, _planted_html(d), id_cols=["doc_id", "source"],
        min_words=3, max_link_density=0.5,
    ).select("doc_id", "source", F.col("text").alias("xt"))
    gated = filtering.classify_quality(
        extracted, text_col="xt", id_col="doc_id", threshold=0
    )
    joined = extracted.join(gated.select("doc_id", "score"), "doc_id")
    return joined.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("score") >= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_pass"),
        F.countDistinct(F.when(F.col("score") >= 0, F.col("xt")))
        .cast("long")
        .alias("n_unique_pass"),
        F.sum(F.when(F.col("score") >= 0, F.col("score")))
        .cast("long")
        .alias("sum_pass_score"),
    )


@register(
    "q_multimodal_video",
    "llm",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS id_a,
           CAST(doc_id + 1000000 AS BIGINT) AS id_b,
           CAST(4 AS BIGINT) AS n_frames_matched,
           CAST(0 AS INTEGER) AS max_hamming
    FROM documents
    """,
    notes="extension (r12, VERDICT item 5): VIDEO near-dup — the last "
    "multimodal kernel without an oracle row. documents → synthesized "
    "VID0 frame containers (4 real 24-bit BMP frames per doc, frame i's "
    "pixels the text bytes rolled by i — consecutive frames differ the "
    "way real video frames do) → REAL container parse + evenly-spaced "
    "frame sampling (llm/multimodal.sample_video_frames, the ffmpeg "
    "swap-point) → per-frame aHash → the SHARED quarter-blocking + "
    "exact-Hamming pipeline (fourth family on llm/dedup.hamming_pairs_64 "
    "after text simhash, image aHash, audio fingerprint; frame_idx rides "
    "inside a composite blocking id so only ALIGNED frames pair) → "
    "video pairs matching >= 3 of 4 frames. Planted-pair form: the "
    "asset table unioned with an id-shifted copy — byte-identical "
    "videos match on ALL 4 frames at hamming 0, exactly one row per "
    "doc, full value-hash oracle; perturbation locality (edit one "
    "frame, still match on the rest) pinned by pytest "
    "(llm/multimodal.near_dup_videos_framehash)",
)
def q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # the +1_000_000 plant shift assumes doc_id < 1e6 (a real id at or
    # past the shift would collide with a planted id and corrupt the
    # exactly-one-row-per-doc oracle) — enforced in-plan (r13, ADVICE)
    # by an assert coalesced into the id, never prunable; and the
    # blocking cap is escalated from silent drop to loud error, because
    # THIS caller's oracle assumes candidate completeness.
    guarded_id = F.coalesce(
        F.assert_true(
            F.col("asset_id") < F.lit(1_000_000),
            F.concat(
                F.lit("doc_id >= 1e6 collides with the planted-pair shift: "),
                F.col("asset_id").cast("string"),
            ),
        ).cast("long"),
        F.col("asset_id"),
    )
    assets = multimodal.synthesize_video_assets(d, n_frames=4).withColumn(
        "asset_id", guarded_id
    )
    planted = assets.unionByName(
        assets.withColumn("asset_id", F.col("asset_id") + F.lit(1_000_000))
    )
    pairs = multimodal.near_dup_videos_framehash(
        planted, n_frames=4, max_hamming=3, min_frames_matched=3,
        on_oversize="error",
    )
    return pairs.where(F.col("id_b") == F.col("id_a") + F.lit(1_000_000))


@register(
    "q_text_extract_md",
    "llm",
    oracle=r"""
    WITH raw AS (
      SELECT doc_id,
        '# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        chr(10) ||
        '> A quoted remark to keep' || chr(10) ||
        '- alpha item one' || chr(10) ||
        '2. beta item two' || chr(10) ||
        'See **' || source || '** notes and [project site](https://ex.com/p/'
          || CAST(doc_id AS VARCHAR) || ') for more.' || chr(10) ||
        '```' || chr(10) ||
        'secret_code(' || CAST(doc_id AS VARCHAR) || ')' || chr(10) ||
        '```' || chr(10) ||
        '---' || chr(10) ||
        'Body: *' || text || '* and `kept_code` tail ![diagram alt text](/d/'
          || CAST(doc_id AS VARCHAR) || '.png) end.' AS md
      FROM documents
    )
    SELECT doc_id,
      trim(regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(
                            regexp_replace(
                              regexp_replace(md, '(?s)```.*?```', ' ', 'g'),
                            '`([^`]*)`', '\1', 'g'),
                          '!\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
                        '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
                      '(?m)^[ \t]{0,3}#{1,6}[ \t]+', '', 'g'),
                    '(?m)^[ \t]{0,3}>[ \t]?', '', 'g'),
                  '(?m)^[ \t]{0,3}([-*+]|[0-9]+\.)[ \t]+', '', 'g'),
                '(?m)^[ \t]{0,3}(?:(?:-[ \t]*){3,}|(?:\*[ \t]*){3,}|(?:_[ \t]*){3,})$', ' ', 'g'),
              '\*\*([^*]+)\*\*', '\1', 'g'),
            '\*([^*]+)\*', '\1', 'g'),
          '__([^_]+)__', '\1', 'g'),
        '\b_([^_]+)_\b', '\1', 'g'),
      '\s+', ' ', 'g')) AS text
    FROM raw
    """,
    notes="extension (r12): MARKDOWN extraction — the sibling of "
    "q_text_extract_html for the other big crawl markup family "
    "(READMEs, forums, GitHub-sourced corpora). A full markdown "
    "document is planted around each doc's text by doc_id arithmetic "
    "(header, blockquote, bullet + numbered list items, bold + link "
    "prose, a fenced code block that must vanish WITH content, a "
    "horizontal rule, an emphasis-wrapped body, inline code that KEEPS "
    "its text, an image reduced to its alt text) and llm/textops."
    "strip_markdown must reduce it to one prose string — value-hashed "
    "per doc. Pure regexp_replace chain, RE2-compatible (explicit "
    "alternation instead of backreferences for the hr rule), codegen, "
    "zero shuffle — a scan-fused projection at 100 TB. Order pinned: "
    "fences first, images before links; edge-case pytest",
)
def q_text_extract_md(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    nl = F.lit("\n")
    md = F.concat(
        F.lit("# Doc "), i, nl,
        nl,
        F.lit("> A quoted remark to keep"), nl,
        F.lit("- alpha item one"), nl,
        F.lit("2. beta item two"), nl,
        F.lit("See **"), F.col("source"),
        F.lit("** notes and [project site](https://ex.com/p/"), i,
        F.lit(") for more."), nl,
        F.lit("```"), nl,
        F.lit("secret_code("), i, F.lit(")"), nl,
        F.lit("```"), nl,
        F.lit("---"), nl,
        F.lit("Body: *"), F.col("text"),
        F.lit("* and `kept_code` tail ![diagram alt text](/d/"), i,
        F.lit(".png) end."),
    )
    return d.select(
        F.col("doc_id"), textops.strip_markdown(md).alias("text")
    )


def _warc_fixture(spark: SparkSession, sf_dir: str) -> str:
    """The shared WARC fixture: one .warc per source, a warcinfo header +
    one HTTP response per document whose body is the planted HTML page
    (_planted_html) and whose status is 404 for doc_id%7=0 else 200.
    Written ONCE per sf_dir (marker-gated), executor-side. Used by
    q_scan_warc (record/byte exactness) and q_crawl_e2e (composition
    across the disk boundary) — one definition, no drift. Returns the
    directory and leaves the warc source registered."""
    import os as _os

    from ..sources import warcsource
    from .queries_joins import _workdir

    path = _workdir("warc", _os.path.basename(sf_dir.rstrip("/")))
    marker = _os.path.join(path, "_complete")
    if not _os.path.exists(marker):
        d = table(spark, sf_dir, "documents")
        rows = d.select(
            F.col("source").alias("file_key"),
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
            ).alias("target_uri"),
            F.lit("2026-01-01T00:00:00Z").alias("warc_date"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(404))
            .otherwise(F.lit(200))
            .cast("int")
            .alias("http_status"),
            F.lit("text/html").alias("content_type"),
            F.encode(_planted_html(d), "UTF-8").alias("body"),
            F.col("doc_id").alias("seq"),
        )
        warcsource.write_warc_files_distributed(rows, path)
        with open(marker, "w") as f:
            f.write("ok")
    warcsource.register_warc_source(spark)
    return path


@register(
    "q_scan_warc",
    "scan",
    oracle=r"""
    WITH raw AS (
    """ + _HTML_PLANT_SQL + r"""
    ), rec AS (
      SELECT source || '.warc' AS warc_file,
             'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
               AS target_uri,
             CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS http_status,
             octet_length(encode(html)) AS n_bytes
      FROM raw
    )
    SELECT warc_file,
           CAST(COUNT(*) AS BIGINT) AS n_responses,
           CAST(SUM(CASE WHEN http_status = 200 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(n_bytes) AS BIGINT) AS payload_bytes,
           CAST(COUNT(DISTINCT target_uri) AS BIGINT) AS n_uris
    FROM rec GROUP BY warc_file
    """,
    notes="extension (r12): the WARC ingest edge — the FIRST hop of the "
    "web-crawl story (CommonCrawl delivers WARC; downstream of this "
    "source the repo's pipeline is complete: canonical_url dedup -> "
    "extract_html_text_rows -> gates -> dedup ladder). Fixture: one .warc "
    "file per source (written once per sf_dir, executor-side via "
    "write_warc_files_distributed — never a driver collect), each a "
    "warcinfo record + one HTTP response record per document whose "
    "body is the SHARED planted HTML page (_HTML_PLANT_SQL / "
    "_planted_html — one definition with the extraction rows) and "
    "whose status is 200, or 404 when doc_id%7=0. The scan "
    "(sources/warcsource.py: Spark 4 Python DataSource, one "
    "InputPartition per file, Content-Length-delimited record walk — "
    "never a regex over payload bytes) must recover record counts, "
    "status split, DISTINCT URIs, and the EXACT per-payload byte "
    "lengths the oracle recomputes as octet_length of the same "
    "synthesized page — byte-exact delivery, not just file stats. "
    "Parser/writer round-trip + truncation errors pinned in "
    "tests/test_sources.py",
)
def q_scan_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _warc_fixture(spark, sf_dir)
    df = spark.read.format("warc").option("path", path).load()
    resp = df.where(F.col("warc_type") == "response")
    return resp.groupBy("warc_file").agg(
        F.count("*").cast("long").alias("n_responses"),
        F.sum(F.when(F.col("http_status") == 200, 1).otherwise(0))
        .cast("long")
        .alias("n_ok"),
        F.sum(F.length("payload")).cast("long").alias("payload_bytes"),
        F.countDistinct("target_uri").cast("long").alias("n_uris"),
    )


@register(
    "q_text_boilerplate_lines",
    "llm",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, source,
        text || chr(10) ||
        'copyright (c) ' || source || ' media group' || chr(10) ||
        CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter today'
             ELSE 'ref ' || CAST(doc_id AS VARCHAR) END AS t
      FROM documents
    ), x AS (
      SELECT doc_id, source,
             unnest(str_split(t, chr(10))) AS line,
             generate_subscripts(str_split(t, chr(10)), 1) AS pos
      FROM d
    ), freq AS (
      SELECT source, line, COUNT(DISTINCT doc_id) AS nd
      FROM x GROUP BY source, line
    ), kept AS (
      SELECT x.doc_id, x.pos, x.line
      FROM x JOIN freq ON x.source = freq.source AND x.line = freq.line
      WHERE freq.nd < 3
    ), reb AS (
      SELECT doc_id,
             array_to_string(list(line ORDER BY pos), chr(10)) AS text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, d.source,
           COALESCE(reb.text, '') AS text,
           CAST(len(str_split(d.t, chr(10))) - COALESCE(reb.n_kept, 0) AS BIGINT)
             AS n_dropped
    FROM d LEFT JOIN reb ON d.doc_id = reb.doc_id
    """,
    notes="extension (r12): cross-page COMMON-LINE boilerplate removal — "
    "the C4/RefinedWeb deduplication rule the per-page extractor cannot "
    "express (a clean-looking sentence that repeats on every page of a "
    "domain is chrome; only corpus statistics see it). Planted layout: "
    "each doc gains a per-source copyright footer (in EVERY doc of the "
    "source -> stripped), and doc_id%3=0 docs share a subscribe prompt "
    "(tens of docs per source -> stripped) while the rest carry a "
    "unique 'ref N' line (kept); the body line is the doc's own text. "
    "Group-local distinct-doc counting, count join-back, ORDER-"
    "preserving per-doc rebuild (array_sort over (pos, line) structs); "
    "fully-stripped docs stay as empty rows. Cleaned text value-hashed "
    "per doc. llm/textops.strip_common_lines; ordering/empty-doc "
    "pytest",
)
def q_text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    nl = F.lit("\n")
    planted = d.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"), nl,
            F.lit("copyright (c) "), F.col("source"), F.lit(" media group"), nl,
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("subscribe to our newsletter today"),
            ).otherwise(F.concat(F.lit("ref "), F.col("doc_id").cast("string"))),
        ).alias("text"),
    )
    return textops.strip_common_lines(
        planted, text_col="text", id_col="doc_id", group_col="source", min_docs=3
    )


@register(
    "q_crawl_e2e",
    "llm",
    oracle=_HTML_PIPE_SQL
    + r"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_lines) AS BIGINT) AS sum_lines,
           CAST(SUM(n_kept) AS BIGINT) AS sum_kept,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars
    FROM extracted WHERE doc_id % 7 <> 0 GROUP BY source
    """,
    notes="extension (r12): the PHYSICAL crawl loop as one oracle row — "
    "bytes on disk through the whole front door: the q_scan_warc "
    "fixture files (real WARC records whose HTTP bodies are the shared "
    "planted HTML) are read back via the warc DataSource, 200-status "
    "text/html responses decode to pages, extract_html_text_rows reduces "
    "them to prose, and the per-source line/kept/char totals must equal "
    "the SAME numbers the oracle computes purely in SQL from the plant "
    "algebra (filtered to the non-404 docs, doc_id%7<>0). q_scan_warc "
    "certifies record/byte exactness and q_text_extract_html the "
    "extraction algebra; this row certifies their COMPOSITION across "
    "the disk boundary — a serialization bug in the fixture writer, a "
    "parse drift, or an encode/decode mismatch all break the hash. "
    "Shares the fixture dir (written once per sf_dir) and the "
    "_HTML_PLANT_SQL definition",
)
def q_crawl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _warc_fixture(spark, sf_dir)
    pages = (
        spark.read.format("warc")
        .option("path", path)
        .load()
        .where((F.col("warc_type") == "response") & (F.col("http_status") == 200))
        .select(
            F.regexp_replace("warc_file", r"\.warc$", "").alias("source"),
            F.decode("payload", "UTF-8").alias("html"),
        )
    )
    # r15: row-form extractor (see q_text_extract_html). WARC records
    # carry no unique key (a crawl can revisit a target_uri), so the row
    # id is synthesized — safe here because the id never crosses plan
    # branches (one linear chain from scan to the final agg).
    keyed = pages.withColumn("_rid", F.monotonically_increasing_id())
    ext = textops.extract_html_text_rows(
        keyed, F.col("html"), id_cols=["_rid", "source"],
        min_words=3, max_link_density=0.5,
    )
    return ext.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_lines").cast("long").alias("sum_lines"),
        F.sum("n_kept").cast("long").alias("sum_kept"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
    )
