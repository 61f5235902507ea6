"""Registry of contract queries.

Each operator the engine claims (SURVEY.md §2) is declared here as a
``ContractQuery``: a Spark builder ``(spark, sf_dir) -> DataFrame`` plus,
where SQL-expressible, an equivalent DuckDB oracle query. The driver (and
our own tests, which mirror its compare) runs both and checks row count,
schema, and an order-insensitive value hash.

Determinism rules every query obeys (so hashes match across engines):

- floating-point canonicalization depends on where the value can land:
  *sums* of 2-decimal money land within ulps of exact cent multiples, far
  from the .xx5 rounding tie, so ``ROUND(x, 2)`` is stable across Spark
  (HALF_UP) and DuckDB (half-even); *per-row products* CAN land exactly on
  .xx5 midpoints where the engines' tie modes diverge, so those use
  ``FLOOR(x * 100)`` over the bit-identical IEEE product instead (exact
  same double → exact same floor on both engines). Never ROUND a per-row
  product; never FLOOR-cents a sum (sums sit AT cent boundaries, where a
  one-ulp order-of-summation difference flips the floor). Raw pass-through
  doubles are left untouched — bit-identical by construction;
- DuckDB's ``SUM(int) -> HUGEINT`` and ``COUNT -> BIGINT`` are cast to
  match Spark's LongType; window ``row_number`` cast to INT on both sides;
- any ``LIMIT``/window ordering includes a unique key as tiebreak;
- computed columns are aliased to the same name on both sides.
"""

from __future__ import annotations

import importlib
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

BuildFn = Callable[[SparkSession, str], DataFrame]

#: Modules whose import registers queries (order = SURVEY §2 order).
_QUERY_MODULES = (
    "simple_pos_kafka_pyspark_airflow_spark.plans.queries_relational",
    "simple_pos_kafka_pyspark_airflow_spark.plans.queries_joins",
    "simple_pos_kafka_pyspark_airflow_spark.plans.queries_analytics",
    "simple_pos_kafka_pyspark_airflow_spark.plans.queries_tpch",
    "simple_pos_kafka_pyspark_airflow_spark.plans.queries_llm",
)


@dataclass(frozen=True)
class ContractQuery:
    name: str
    category: str  # scan|project|filter|function|join|agg|sort|setop|window|upsert|stream|llm
    build: BuildFn
    oracle: str | None  # DuckDB SQL over registered views, or None => rows-only check
    notes: str = ""


_REGISTRY: dict[str, ContractQuery] = {}


def register(
    name: str, category: str, oracle: str | None = None, notes: str = ""
) -> Callable[[BuildFn], BuildFn]:
    """Decorator: add a query builder to the registry under ``name``."""

    def deco(fn: BuildFn) -> BuildFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate contract query {name!r}")
        _REGISTRY[name] = ContractQuery(name, category, fn, oracle, notes)
        return fn

    return deco


def load_registry() -> dict[str, ContractQuery]:
    """Import all query modules (idempotent) and return the registry."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return dict(_REGISTRY)


#: Certification ledger: ``{"synced_through": N, "queries": {name:
#: {"round": N, "sha": <oracle sha>}}}``.  An entry means "the driver
#: value-verified this query in round N, against an oracle whose text
#: hashed to ``sha``".  The sha makes oracle edits self-decertifying: if
#: the current oracle text no longer hashes to the recorded value, the
#: certification is void and the query rotates back into the driver's
#: verification window (see ``certification_state``).
_CERT_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "certified_oracles.json")

#: Driver verification-window size and the slots inside it reserved for
#: re-certifying the oldest-certified queries (see driver_ordered_registry).
_WINDOW = 50
_RECERT_SLOTS = 25


def _oracle_sha(oracle: str | None) -> str:
    """Stable fingerprint of a query's oracle text (rows-only queries get a
    sentinel so gaining an oracle later also decertifies)."""
    import hashlib

    text = oracle if oracle is not None else "<rows-only>"
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _green_rows_from_disk() -> dict[str, list[int]]:
    """name -> sorted rounds with a nonvacuous green (or clean rows-only)
    row in the repo-root ``CORRECTNESS_r*.json`` artifacts.  0-row passes
    don't certify anything (round 1 recorded vacuous greens for queries
    that were later rewritten)."""
    import glob
    import json
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    rounds: dict[str, set[int]] = {}
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for q, row in data.items():
            if not isinstance(row, dict):
                continue
            nonvacuous = (row.get("spark_rows") or 0) > 0
            if nonvacuous and (
                row.get("hash_match") is True or row.get("err") == "no_oracle"
            ):
                rounds.setdefault(q, set()).add(rnd)
    return {q: sorted(rs) for q, rs in rounds.items()}


def _load_cert_file() -> dict:
    import json

    try:
        with open(_CERT_FILE) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {"synced_through": 0, "queries": {}}
    if not isinstance(data, dict) or not isinstance(data.get("queries"), dict):
        return {"synced_through": 0, "queries": {}}
    data.setdefault("synced_through", 0)
    return data


def sync_certifications(reg: dict[str, ContractQuery] | None = None) -> int:
    """Fold new driver results into the certification ledger.

    Processes only CORRECTNESS rounds strictly newer than the ledger's
    ``synced_through`` watermark: each green row from a new round
    (re-)certifies its query at that round with the CURRENT oracle sha.
    The watermark is what makes this safe to run automatically — rows the
    ledger already judged (e.g. greens recorded against a since-rewritten
    oracle, deliberately left uncertified) are never reinterpreted against
    today's oracle text.  The residual race (oracle edited between the
    driver run and the first sync) is self-healing: a wrongly-recorded
    certification still rotates back into the window oldest-first and gets
    re-verified within a few rounds.

    Returns the number of ledger entries added/updated; best-effort writes
    (a read-only checkout just skips persisting).
    """
    import json

    reg = reg if reg is not None else load_registry()
    ledger = _load_cert_file()
    watermark = int(ledger.get("synced_through", 0))
    green = _green_rows_from_disk()
    max_round = watermark
    changed = 0
    for name, rounds in green.items():
        new_rounds = [r for r in rounds if r > watermark]
        if not new_rounds or name not in reg:
            max_round = max(max_round, *(rounds or [0]))
            continue
        rnd = max(new_rounds)
        max_round = max(max_round, rnd)
        entry = ledger["queries"].get(name)
        sha = _oracle_sha(reg[name].oracle)
        if entry is None or entry.get("round") != rnd or entry.get("sha") != sha:
            ledger["queries"][name] = {"round": rnd, "sha": sha}
            changed += 1
    # prune ledger entries for queries that no longer exist
    for stale in [n for n in ledger["queries"] if n not in reg]:
        del ledger["queries"][stale]
        changed += 1
    if changed or max_round > watermark:
        ledger["synced_through"] = max_round
        try:
            with open(_CERT_FILE, "w") as f:
                json.dump(
                    {
                        "synced_through": ledger["synced_through"],
                        "queries": {k: ledger["queries"][k] for k in sorted(ledger["queries"])},
                    },
                    f,
                    indent=1,
                )
                f.write("\n")
        except OSError:
            pass
    return changed


#: Stale-code decertification: ``{query name: last round whose cert is
#: void}``.  The oracle-sha mechanism only catches ORACLE edits; when the
#: operator CODE behind a certified query changes (guard insertions, a
#: source rewrite) the ledger's green row no longer describes the current
#: code.  Listing the query here with the round its code changed voids any
#: certification recorded at or before that round, rotating it to the head
#: of the driver window; the next driver green (a later round) re-certifies
#: it through the normal sync path and the entry becomes inert.
#:
#: r13 entries: guard edits (q_multimodal_video id-collision assert,
#: q_attribution_* micro-cent grid assert, q_text_boilerplate_lines NULL
#: text fix) and the streamed-WARC source rewrite under q_scan_warc /
#: q_crawl_e2e — all certified r12, code changed r13.
_STALE_CODE_RECERT: dict[str, int] = {
    "q_multimodal_video": 13,
    "q_attribution_linear": 13,
    "q_attribution_ushape": 13,
    "q_text_boilerplate_lines": 13,
    "q_scan_warc": 13,
    "q_crawl_e2e": 13,
}


def certification_state(reg: dict[str, ContractQuery] | None = None) -> dict[str, int]:
    """name -> round of the standing certification, for queries whose
    ledger sha still matches the current oracle text.  An oracle rewrite
    (sha mismatch) voids the certification — the query re-enters the
    driver window and only a NEW green row (via ``sync_certifications``)
    re-certifies it.  ``_STALE_CODE_RECERT`` voids certs whose operator
    code changed after the recorded round the same way."""
    reg = reg if reg is not None else load_registry()
    ledger = _load_cert_file()
    out: dict[str, int] = {}
    for name, entry in ledger["queries"].items():
        cq = reg.get(name)
        if cq is None or not isinstance(entry, dict):
            continue
        rnd = int(entry.get("round", 0))
        if rnd <= _STALE_CODE_RECERT.get(name, 0):
            continue
        if entry.get("sha") == _oracle_sha(cq.oracle):
            out[name] = rnd
    return out


def driver_ordered_registry() -> dict[str, ContractQuery]:
    """Registry ordered for the driver's 50-query verification window.

    The ordering depends on the certification ledger (itself synced from
    repo-root ``CORRECTNESS_r*.json`` artifacts) read at call time —
    deliberate (it makes the window rotation self-maintaining across
    rounds) but a hidden input, so it is made visible and escapable: a log
    line reports how many queries the ledger rotated behind the window,
    and ``SPARK_GRAFT_STABLE_ORDER=1`` disables the disk-derived component
    entirely (pure registration order), for deployments that need a
    reproducible ``queries()`` ordering independent of checkout state.

    Priority groups:
      0. uncertified oracle-checked LLM-pipeline queries (dedup ladder,
         simsearch, text ops, multimodal) — includes any query whose
         oracle was rewritten since its last green row (sha-decertified);
      1. uncertified TPC-H shapes;
      2. remaining uncertified queries — oracle-checked analytics breadth
         first, then rows-only queries (a rows-only driver row only proves
         "ran clean", so they yield window slots to value-verified ones);
      3. certified queries, OLDEST certification first — so the driver
         perpetually re-verifies the stalest rows instead of converging to
         a fixed order once everything is green.  Registration order
         breaks ties within every group.

    Re-certification tranche: the driver only runs the FIRST ~50 entries
    each round, so a round that registers 50+ new queries would starve
    group 3 and certifications would age indefinitely.  To bound staleness,
    the front of the ordering RESERVES ``_RECERT_SLOTS`` (25) positions for
    the oldest-certified queries after at most ``_WINDOW - _RECERT_SLOTS``
    (25) uncertified ones — every certified query therefore re-verifies on
    the driver every ceil(n_certified/25) ≈ 10 rounds at worst, regardless
    of how many new queries a round adds.
    """
    reg = load_registry()
    index = {name: i for i, name in enumerate(reg)}
    if os.environ.get("SPARK_GRAFT_STABLE_ORDER") == "1":
        return reg
    sync_certifications(reg)
    certified = certification_state(reg)
    if certified:
        import logging

        logging.getLogger(__name__).info(
            "driver_ordered_registry: certification ledger rotates %d "
            "certified queries behind the verification window "
            "(SPARK_GRAFT_STABLE_ORDER=1 disables)",
            len(set(certified) & set(reg)),
        )

    def group(name: str, cq: ContractQuery) -> int:
        if name in certified:
            return 3
        if cq.build.__module__.endswith("queries_llm"):
            return 0 if cq.oracle is not None else 2
        if name.startswith("q_tpch_"):
            return 1
        return 2

    def key(kv: tuple[str, ContractQuery]) -> tuple[int, int, int]:
        name, cq = kv
        g = group(name, cq)
        staleness = certified.get(name, 0) if g == 3 else 0
        return (g, staleness, index[name])

    ordered = sorted(reg.items(), key=key)
    uncert = [kv for kv in ordered if kv[0] not in certified]
    cert = [kv for kv in ordered if kv[0] in certified]
    head = _WINDOW - _RECERT_SLOTS
    spliced = uncert[:head] + cert[:_RECERT_SLOTS] + uncert[head:] + cert[_RECERT_SLOTS:]
    return dict(spliced)


if __name__ == "__main__":  # pragma: no cover - maintenance CLI
    import sys

    if len(sys.argv) > 1 and sys.argv[1] == "sync":
        n = sync_certifications()
        state = certification_state()
        print(f"synced: {n} ledger entries updated; {len(state)} queries certified")
    else:
        print("usage: python -m simple_pos_kafka_pyspark_airflow_spark.plans.contract sync")
