"""Output checks, run once per run after the timed region.

- Queries: each query's Spark result (collected in the set-up's warm pass)
  against its DuckDB ``oracle`` over the same generated tables (``simple_pos_kafka_pyspark_airflow_spark.testing
  .compare``, the repo's own tolerance compare).  The generated tables are
  directories of part files, so the DuckDB views read them by glob.
- CDC: the final orders snapshot, customer snapshot and customer SCD2
  history against a last-writer-wins replay of the same event log: DuckDB
  picks each batch's winning event per key, and the replay applies the
  winners batch by batch in plain Python.
- Corpus ingest: every landed document was offered in its batch, no two
  documents of the corpus (batch 0's landing plus batch 1's) share a text
  digest or an id, and every pass landed the same set from batch 1.
"""

from __future__ import annotations

import os
import sys
import traceback
from collections import Counter

import duckdb
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def oracle_connection(tables: str):
    """DuckDB with one view per generated table, read by glob (a table is a
    directory of part files)."""
    con = duckdb.connect()
    for t in TABLES:
        if os.path.isdir(f"{tables}/{t}.parquet"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')"
            )
    return con


class _Collected:
    """A collected result where ``compare`` expects a DataFrame."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 (DataFrame API)
        return self._pdf


def check_queries(registry, results: dict, tables: str) -> list[tuple[str, bool, str]]:
    """``results``: query name -> its collected result (or the exception
    it raised)."""
    from simple_pos_kafka_pyspark_airflow_spark.testing import compare

    out = []
    con = oracle_connection(tables)
    try:
        for name, got in results.items():
            try:
                if isinstance(got, Exception):
                    raise got
                want = con.execute(registry[name].oracle).df()
                res = compare(name, _Collected(got), want)
                out.append((name, res.ok, "; ".join(res.problems[:3])))
            except Exception as exc:  # a crash is a failed check, not an abort
                traceback.print_exc(file=sys.stderr)
                out.append((name, False, f"{type(exc).__name__}: {exc}"))
    finally:
        con.close()
    return out


def _read_rows(path: str) -> list[dict]:
    files = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    rows: list[dict] = []
    for f in files:
        rows.extend(pq.read_table(f).to_pylist())
    return rows


def _canon(v):
    """Timestamps compare as naive UTC wall clock (Spark writes them
    UTC-adjusted, the generator writes them naive)."""
    if hasattr(v, "tzinfo") and v.tzinfo is not None:
        return v.replace(tzinfo=None)
    return v


def _winners(path: str, pk: str) -> list[dict]:
    con = duckdb.connect()
    try:
        rel = con.execute(
            f"SELECT * FROM read_parquet('{path}/*.parquet') "
            f"QUALIFY row_number() OVER (PARTITION BY {pk} ORDER BY _ts DESC) = 1"
        )
        cols = [d[0] for d in rel.description]
        return [dict(zip(cols, r)) for r in rel.fetchall()]
    finally:
        con.close()


def replay(inputs: str, template: str, batches: list[int]):
    """Expected (orders, customer, history) after applying ``batches``."""
    orders = {r["o_orderkey"]: r for r in _read_rows(f"{template}/orders")}
    customer = {r["c_custkey"]: r for r in _read_rows(f"{template}/customer")}
    history = [{k: _canon(v) for k, v in r.items()} for r in _read_rows(f"{template}/history")]
    cols_c = [c for c in next(iter(customer.values()))]
    for b in batches:
        for w in _winners(f"{inputs}/cdc/orders-{b:03d}.parquet", "o_orderkey"):
            key = w["o_orderkey"]
            if w["_op"] == "delete":
                orders.pop(key, None)
            else:
                orders[key] = {c: w[c] for c in w if c not in ("_op", "_ts")}
        old = dict(customer)
        eff = {}
        for w in _winners(f"{inputs}/cdc/customer-{b:03d}.parquet", "c_custkey"):
            key = w["c_custkey"]
            eff[key] = w["_ts"]
            if w["_op"] == "delete":
                customer.pop(key, None)
            else:
                customer[key] = {c: w[c] for c in cols_c}
        # SCD2: net changes of the snapshot, stamped with the winning event
        for key in sorted(set(old) | set(customer)):
            before, after = old.get(key), customer.get(key)
            if before == after:
                continue
            for h in history:
                if h["c_custkey"] == key and h["valid_to"] is None:
                    h["valid_to"] = eff[key]
            if after is not None:
                history.append({**after, "valid_from": eff[key], "valid_to": None})
    return orders, customer, history


def _as_set(rows) -> Counter:
    return Counter(tuple(sorted((k, _canon(v)) for k, v in r.items())) for r in rows)


def check_cdc(inputs: str, template: str, live: str, batches: list[int]) -> list[tuple[str, bool, str]]:
    try:
        orders, customer, history = replay(inputs, template, batches)
    except Exception as exc:
        traceback.print_exc(file=sys.stderr)
        return [("cdc_replay", False, f"{type(exc).__name__}: {exc}")]
    out = []
    for name, want in (
        ("cdc_orders", orders.values()),
        ("cdc_customer", customer.values()),
        ("cdc_history", history),
    ):
        got = _as_set(_read_rows(f"{live}/{name.split('_')[1]}"))
        exp = _as_set(want)
        ok = got == exp
        out.append((name, ok, "" if ok else f"{sum((got - exp).values())} unexpected, {sum((exp - got).values())} missing"))
    return out


def _ids(path: str, col: str = "doc_id") -> list:
    return [r[col] for r in _read_rows(path)]


def check_ingest(batches: list[str], first: str, landed: list[str]) -> list[tuple[str, bool, str]]:
    """``batches``: the two input batches; ``first``: batch 0's landing;
    ``landed``: batch 1's landing of every pass."""
    if not landed:
        return [("ingest_landed", False, "no pass landed anything")]
    offered = [set(_ids(b)) for b in batches]
    base = _read_rows(first)
    sets = [frozenset(_ids(p)) for p in landed]
    out = [
        ("ingest_offered", set(r["doc_id"] for r in base) <= offered[0] and all(s <= offered[1] for s in sets), ""),
        ("ingest_nonempty", bool(base) and all(sets), ""),
        ("ingest_same_each_pass", len(set(sets)) == 1, f"{len(set(sets))} distinct sets over {len(sets)} passes"),
    ]
    for i, p in enumerate(landed):
        corpus = base + _read_rows(p)
        shas = [r.get("text_sha") for r in corpus]
        ids = [r["doc_id"] for r in corpus]
        ok = None not in shas and len(set(shas)) == len(shas) and len(set(ids)) == len(ids)
        out.append((f"ingest_unique_{i}", ok, f"{len(corpus)} docs, {len(set(shas))} digests, {len(set(ids))} ids"))
    return out
