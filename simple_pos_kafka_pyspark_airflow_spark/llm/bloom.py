"""Broadcast-Bloom n-gram decontamination: flag corpus documents sharing
any sliding word n-gram with a probe (eval/benchmark) set — without ever
shuffling the corpus.

Reference parity: third tier of the decontamination family the reference's
pipeline motivates (see ``dedup.exact_ngram_collisions`` for the exact
join form and ``q_split_contamination`` for the LSH whole-doc form).
The exact join shuffles gram keys; at 100 TB even the hot-gram-capped
version moves one exchange of the corpus's distinct-gram sets. When the
probe side is an eval set (thousands of documents — the common
decontamination case), a Bloom filter of the probe's grams fits in a
few MB and the corpus side reduces to a broadcast lookup:

- **probe side** (``bloom_bitmap``): distinct gram positions are computed
  JVM-side (``xxhash64`` with ``k`` seeds, ``pmod m``), deduplicated with
  map-side combine (one shuffle of ≤ min(k·G, m) 8-byte longs for G probe
  grams), then bit-packed per 2^20-bit chunk executor-side
  (``applyInPandas`` on the chunk id). The driver receives the finished
  ``m/8``-byte bitmap — a few MB — never the position stream.
- **corpus side** (``bloom_flag``): grams explode executor-side; positions
  are computed JVM-side; an Arrow-vectorized membership probe reads the
  broadcast bitmap (pure numpy gather, no per-row Python); per-doc
  verdicts collapse by map-side combine so the only exchange carries one
  (doc_id, bool, count) row per document. No gram string ever crosses
  the wire, and the corpus is scanned exactly once.

Error profile: false negatives are impossible (Bloom guarantee — a gram
that is in the probe set always probes all-bits-set), so no leak escapes;
false positives occur at ≈ fill^k per gram where fill = set bits / m.
Size ``m_bits`` from the probe gram count G: ``m ≥ 32·k·G`` keeps fill
under ~3% and per-gram fp under ~1e-6 at the default k=4. A flagged doc
can always be re-checked with ``exact_ngram_collisions`` on the (tiny)
flagged subset — the standard two-phase sieve.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .textops import sliding_grams, tokens

# np/pd are module-level on purpose: pandas_udf resolves the (stringified,
# via __future__ annotations) type hints against this module's globals.

#: Bitmap chunk size for executor-side packing: 2^20 bits = 128 KiB per
#: chunk row, small enough for Arrow batches, large enough that a
#: fully-saturated 2^26-bit filter is only 64 chunk rows on the driver.
_CHUNK_BITS = 1 << 20


def _gram_rows(
    df: DataFrame, text_col: str, id_col: str, out_id: str, n: int
) -> DataFrame:
    """(out_id, _gram) rows: each document's DISTINCT sliding word
    n-grams, lowercase — the same gram definition as
    ``dedup.exact_ngram_collisions`` (textops.sliding_grams) so the Bloom
    and exact tiers can never disagree on what a gram is."""
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias(out_id), toks.alias("_toks")).where(
        F.size("_toks") >= n
    )
    return base.select(
        out_id,
        F.explode(F.array_distinct(sliding_grams(F.col("_toks"), n))).alias("_gram"),
    )


def _position_array(gram: Column, m_bits: int, n_hashes: int) -> Column:
    """k independent bit positions for one gram: xxhash64 under distinct
    integer seeds, reduced mod m — all JVM-side codegen."""
    return F.array(
        *[F.pmod(F.xxhash64(gram, F.lit(i)), F.lit(m_bits)) for i in range(n_hashes)]
    )


def bloom_key_bitmap(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 22,
    n_hashes: int = 4,
) -> np.ndarray:
    """Bloom bitmap (numpy uint8, ``m_bits/8`` bytes) of a key column —
    the one builder behind the gram bitmap (``bloom_bitmap``) and the
    join runtime filter (``operators.joins.bloom_semi_reduce``). Runs a
    Spark job: distinct k-seed positions → per-chunk bit-packing
    executor-side → the driver collects only the packed 128 KiB chunks,
    never a position stream. Size ``m_bits ≥ 32·k·|keys|`` keeps
    per-probe false positives under ~1e-6 at k=4."""
    if m_bits <= 0 or m_bits % 8:
        raise ValueError(f"m_bits must be a positive multiple of 8, got {m_bits}")
    chunk_bits = min(_CHUNK_BITS, m_bits)
    pos = (
        keys.select(F.explode(_position_array(F.col(key_col), m_bits, n_hashes)).alias("p"))
        .distinct()
        .withColumn("chunk", F.floor(F.col("p") / chunk_bits).cast("int"))
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        chunk = int(pdf["chunk"].iloc[0])
        local = np.zeros(chunk_bits >> 3, dtype=np.uint8)
        off = pdf["p"].to_numpy().astype(np.int64) - chunk * chunk_bits
        np.bitwise_or.at(local, off >> 3, (1 << (off & 7)).astype(np.uint8))
        return pd.DataFrame({"chunk": [chunk], "bits": [local.tobytes()]})

    bitmap = np.zeros(m_bits >> 3, dtype=np.uint8)
    nbytes = chunk_bits >> 3
    for row in pos.groupBy("chunk").applyInPandas(pack, "chunk int, bits binary").collect():
        c = int(row["chunk"])
        # the last chunk may be shorter when m_bits is not a multiple of
        # _CHUNK_BITS — trim the packed buffer to the remaining slice
        start = c * nbytes
        end = min(start + nbytes, bitmap.size)
        bitmap[start:end] = np.frombuffer(row["bits"], np.uint8)[: end - start]
    return bitmap


def bloom_member(
    spark: SparkSession, bitmap: np.ndarray, key: Column, n_hashes: int = 4
) -> Column:
    """Boolean membership probe of ``key`` against ``bitmap``: true iff
    all ``n_hashes`` positions are set (no false negatives — Bloom
    guarantee). Positions are computed JVM-side; the test is a
    vectorized numpy gather over a broadcast copy of the bitmap inside
    one Arrow batch per partition slice, no per-row Python."""
    from pyspark.sql.functions import pandas_udf

    bitmap = np.ascontiguousarray(np.asarray(bitmap, dtype=np.uint8))
    m_bits = int(bitmap.size) << 3
    if m_bits == 0:
        raise ValueError("bitmap is empty — build it with bloom_bitmap first")
    bc = spark.sparkContext.broadcast(bitmap)

    @pandas_udf("boolean")
    def member(pos: pd.Series) -> pd.Series:
        if pos.empty:
            return pd.Series([], dtype=bool)
        bm = bc.value
        mat = np.stack(pos.to_numpy()).astype(np.int64)  # (batch, k), fixed k
        bits = (bm[mat >> 3] >> (mat & 7).astype(np.uint8)) & 1
        return pd.Series(bits.all(axis=1))

    return member(_position_array(key, m_bits, n_hashes))


def bloom_bitmap(
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 5,
    m_bits: int = 1 << 24,
    n_hashes: int = 4,
) -> np.ndarray:
    """Build the probe set's Bloom bitmap (numpy uint8, ``m_bits/8``
    bytes) over its distinct grams (``bloom_key_bitmap``)."""
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    return bloom_key_bitmap(
        _gram_rows(probe, text_col, id_col, "_pid", n), "_gram", m_bits, n_hashes
    )


def bloom_flag(
    corpus: DataFrame,
    bitmap: np.ndarray,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 5,
    n_hashes: int = 4,
) -> DataFrame:
    """Probe every corpus document's grams against a Bloom ``bitmap``:
    one row per document with ≥ n tokens —
    ``(id_col, n_grams, n_bloom_grams, bloom_hit)``.

    The membership test is ``bloom_member``; the reduce to per-document
    rows map-side-combines before the single exchange."""
    hit = bloom_member(corpus.sparkSession, bitmap, F.col("_gram"), n_hashes)
    g = _gram_rows(corpus, text_col, id_col, id_col, n)
    return g.select(id_col, hit.alias("_hit")).groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.sum(F.col("_hit").cast("long")).alias("n_bloom_grams"),
        F.max(F.col("_hit").cast("int")).alias("bloom_hit"),
    )


def bloom_stats(bitmap: np.ndarray, n_hashes: int = 4) -> dict:
    """Sizing audit for a built bitmap: observed fill fraction and the
    implied per-gram false-positive rate (``fill^k``). Run this after
    ``bloom_bitmap`` when the probe corpus changes — fill above ~0.3
    means ``m_bits`` is undersized for the gram count and the fp rate
    is collapsing toward 1 (a saturated filter flags everything, which
    is sound but useless)."""
    bitmap = np.asarray(bitmap, dtype=np.uint8)
    set_bits = int(np.unpackbits(bitmap).sum())
    m_bits = int(bitmap.size) << 3
    fill = set_bits / m_bits if m_bits else 1.0
    return {
        "m_bits": m_bits,
        "set_bits": set_bits,
        "fill": fill,
        "fp_per_gram": fill**n_hashes,
    }


def bloom_decontaminate(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 5,
    m_bits: int = 1 << 24,
    n_hashes: int = 4,
) -> DataFrame:
    """End-to-end: build the probe bitmap, then flag the corpus against
    it. Returns ``(id_col, n_grams, n_bloom_grams, bloom_hit)`` — one row
    per corpus document with ≥ n tokens. See module docstring for the
    scale shape and the fp/fn error profile."""
    bitmap = bloom_bitmap(
        probe, text_col, id_col, n=n, m_bits=m_bits, n_hashes=n_hashes
    )
    return bloom_flag(corpus, bitmap, text_col, id_col, n=n, n_hashes=n_hashes)
