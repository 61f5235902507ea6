"""The engine's public scalar/column function surface, one namespace.

``from simple_pos_kafka_pyspark_airflow_spark import functions as EF`` is the
user-facing API: everything here is a Column-in/Column-out expression
(JVM-side unless explicitly documented otherwise), composable with any
``pyspark.sql.functions`` call. The implementations live with their operator
families; this module is the stable import path.

Reference parity: the reference registers no UDFs at all (SURVEY.md §2.10)
— its custom logic is driver-side Python. The engine keeps the same
discipline: every function below is a built-in-composed expression, and the
one vectorized-UDF path (embedding cosine in ``plans.queries_llm``) is
isolated and Arrow-batched.
"""

from __future__ import annotations

from ..llm.dedup import (
    shingles,
    simhash64,
    token_bag_key,
)
from ..llm.filtering import repetition_ratio
from ..llm.simsearch import (
    cosine,
    dequantize_embedding,
    dot,
    hyperplane_signature,
    norm,
    quantize_embedding,
)
from ..llm.textops import (
    bpe_ish_token_count,
    char_count,
    fingerprint,
    fingerprint_portable,
    lang_scores,
    predicted_lang,
    punct_ratio,
    quality_score,
    redact,
    space_count,
    stopword_ratio,
    token_count,
    tokens,
)
from ..operators.relational import case_tiers, decode_prefix

__all__ = [
    "bpe_ish_token_count",
    "case_tiers",
    "char_count",
    "cosine",
    "decode_prefix",
    "dequantize_embedding",
    "dot",
    "fingerprint",
    "fingerprint_portable",
    "hyperplane_signature",
    "lang_scores",
    "norm",
    "predicted_lang",
    "punct_ratio",
    "quality_score",
    "quantize_embedding",
    "redact",
    "repetition_ratio",
    "shingles",
    "simhash64",
    "space_count",
    "stopword_ratio",
    "token_bag_key",
    "token_count",
    "tokens",
]
