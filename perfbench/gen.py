"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``; the
same seed gives byte-identical inputs.  Three kinds of input:

- ``tables/``: the POS star schema plus the corpus tables (``region nation
  customer supplier part orders lineitem events documents embeddings``),
  with the row counts (scaled by ``SCALE``) and value domains of the
  engine's sf0.1 test data (dates 1995..2001, ``NATION_0..24``,
  ``Brand#1..25``, 2-decimal money, a 30-word document vocabulary,
  unit-norm 64-d embeddings), plus planted near-duplicate documents and
  vectors.
  Every table is a *directory* ``<name>.parquet/`` of ``FILES`` part files
  with several row groups each, so a scan fans out over every core
  (a single-file, single-row-group table is always one scan task);
- ``corpus/``: the documents that have an embedding, with a URL, cut
  into micro-batches in a seeded order;
- ``cdc/``: a change-event log for ``orders`` and ``customer``: Zipf-skewed
  keys, updates, inserts and deletes, in-batch duplicate keys, events that
  arrive out of timestamp order within a batch, and late events whose
  timestamp is older than an earlier batch's.

Each workload gets only the inputs it reads.  Inputs are cached per seed,
workload and generator version under the work directory; the generator
writes nowhere else.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Part files per table (two per core on a 4-core host).
FILES = 8
#: Row groups per part file.
ROW_GROUPS = 2

#: Row counts: those of the engine's sf0.1 test data.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
N_USERS = 1_500

#: Row-count scale of the CDC snapshot: the sf0.01 size, since a micro-batch
#: rewrites the whole snapshot: on a 4-core host a run took 45 s at sf0.1 and
#: 34 s at sf0.01, with about the same batch time.
CDC_SCALE = 0.1

#: Tables the query workload reads.
POS_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
P_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

#: Corpus ingest: documents per micro-batch, the share of documents that
#: are re-crawls of an earlier document's URL, and the share of the second
#: batch that restates a first-batch document: its text verbatim (the
#: minhash tier's catch), and as many again its embedding plus small noise
#: (the ANN tier's catch).
INGEST_BATCH_DOCS = 100
INGEST_P_RECRAWL = 0.02
INGEST_P_DUP = 0.05

#: CDC log shape: batches, events per batch per stream, and op mix.
CDC_BATCHES = 6
CDC_ORDER_EVENTS = 400
CDC_CUSTOMER_EVENTS = 200
CDC_ZIPF_A = 1.3
CDC_P_INSERT = 0.15
CDC_P_DELETE = 0.15
CDC_P_LATE = 0.05
CDC_T0 = "2024-01-01T00:00:00"

ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
    "o_orderdate timestamp, o_orderpriority string"
)
CUSTOMER_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    off = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + off).astype("datetime64[us]")


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def make_tables(seed: int, scale: float = 1.0) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = {k: int(v * scale) for k, v in ROWS.items()}
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    c = n["customer"]
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(c, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    s = n["supplier"]
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(s, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(p, dtype="int64"),
            "p_name": [
                f"{COLORS[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
            "p_type": rng.choice(P_TYPES, p),
            "p_size": rng.integers(1, 51, p).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
        }
    )
    o = n["orders"]
    # every customer places at least one order (queries rely on it)
    custkeys = np.concatenate([np.arange(c), rng.integers(0, c, o - c)])
    rng.shuffle(custkeys)
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(o, dtype="int64"),
            "o_custkey": custkeys.astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, o, li).astype("int64"),
            "l_partkey": rng.integers(0, p, li).astype("int64"),
            "l_suppkey": rng.integers(0, s, li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, li).astype("int32"),
            "l_quantity": rng.integers(1, 51, li).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, li), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
        }
    )
    e = n["events"]
    gaps = rng.exponential(30 * 86400 / e, e)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype(
        "timedelta64[us]"
    )
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(e, dtype="int64"),
            "ts": ts,
            "user_id": rng.integers(0, int(N_USERS * scale), e).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts = [_text(rng, int(k)) for k in rng.integers(8, 110, d)]
    # planted near-duplicates: ~5% of docs restate an earlier doc with one
    # word changed plus a "dup" marker; ~1% are byte-identical restatements
    for i in np.flatnonzero(rng.random(d) < 0.05):
        if i == 0:
            continue
        src = texts[int(rng.integers(0, i))].split()
        src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(src) + " dup"
    for i in np.flatnonzero(rng.random(d) < 0.01):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))]
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(d, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, d, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    v = n["embeddings"]
    vecs = rng.standard_normal((v, 64)).astype("float32")
    # planted semantic near-duplicates: ~3% of vectors restate an earlier
    # one plus small noise (cosine > 0.95); the rest are near-isotropic
    for i in np.flatnonzero(rng.random(v) < 0.03):
        if i > 0:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(v, dtype="int64"),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, v).astype("int32"),
        }
    )
    return out


def _arrow(df: pd.DataFrame) -> pa.Table:
    t = pa.Table.from_pandas(df, preserve_index=False)
    if "embedding" in df.columns:
        t = t.set_column(
            t.schema.get_field_index("embedding"),
            "embedding",
            pa.array(df["embedding"].map(list).tolist(), type=pa.list_(pa.float32())),
        )
    return t


def write_table(df: pd.DataFrame | pa.Table, path: str, files: int = FILES) -> None:
    """``path`` becomes a directory of ``files`` parquet parts, each with
    ``ROW_GROUPS`` row groups (small tables get one part)."""
    os.makedirs(path, exist_ok=True)
    table = df if isinstance(df, pa.Table) else _arrow(df)
    files = files if table.num_rows >= files * 16 else 1
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(
            part,
            os.path.join(path, f"part-{i:05d}.parquet"),
            row_group_size=max(1, -(-part.num_rows // ROW_GROUPS)),
        )


def _zipf_keys(rng: np.random.Generator, keys: np.ndarray, n: int) -> np.ndarray:
    """``n`` draws from ``keys`` with Zipf-skewed popularity (a seeded
    permutation decides which keys are hot)."""
    hot = rng.permutation(keys)
    ranks = np.minimum(rng.zipf(CDC_ZIPF_A, n) - 1, len(hot) - 1)
    return hot[ranks]


def _event_values(rng: np.random.Generator, name: str, keys: np.ndarray, n_customers: int) -> dict:
    """Fresh snapshot values for ``keys`` (same domains as the tables)."""
    m = len(keys)
    if name == "orders":
        return {
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, n_customers, m).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], m),
            "o_totalprice": _money(rng, 1000.0, 500000.0, m),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", m),
            "o_orderpriority": rng.choice(PRIORITIES, m),
        }
    return {
        "c_custkey": keys,
        "c_name": np.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": rng.integers(0, 25, m).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, m),
        "c_mktsegment": rng.choice(SEGMENTS, m),
    }


def make_cdc_log(seed: int, tables: dict[str, pd.DataFrame]) -> list[dict[str, pa.Table]]:
    """``CDC_BATCHES`` micro-batches, each ``{"orders": events, "customer":
    events}``; an event row is the snapshot row plus ``_op`` (``upsert`` |
    ``delete``, value columns NULL on deletes) and the event time ``_ts``."""
    rng = np.random.default_rng(seed + 7919)
    pk = {"orders": "o_orderkey", "customer": "c_custkey"}
    per_batch = {"orders": CDC_ORDER_EVENTS, "customer": CDC_CUSTOMER_EVENTS}
    next_key = {k: int(tables[k][c].max()) + 1 for k, c in pk.items()}
    batches: list[dict[str, pa.Table]] = []
    clock = np.datetime64(CDC_T0, "us")
    for b in range(CDC_BATCHES):
        batch: dict[str, pa.Table] = {}
        for name, key in pk.items():
            m = per_batch[name]
            keys = _zipf_keys(rng, tables[name][key].to_numpy(), m).astype("int64")
            u = rng.random(m)
            ins = u < CDC_P_INSERT
            keys[ins] = np.arange(next_key[name], next_key[name] + int(ins.sum()))
            next_key[name] += int(ins.sum())
            dele = (u >= CDC_P_INSERT) & (u < CDC_P_INSERT + CDC_P_DELETE)
            values = _event_values(rng, name, keys, len(tables["customer"]))
            ref = pa.Table.from_pandas(tables[name].head(1), preserve_index=False).schema
            cols = {
                c: pa.array(
                    [None if d and c != key else x for x, d in zip(v.tolist(), dele)],
                    type=ref.field(c).type,
                )
                for c, v in values.items()
            }
            cols["_op"] = pa.array(np.where(dele, "delete", "upsert"))
            # distinct microsecond event times, shuffled so a batch arrives
            # out of order; a few are late (a day older than the batch)
            offs = rng.permutation(m).astype("int64") * 1_000_000 + rng.integers(0, 1000, m)
            if b > 0:
                offs[rng.random(m) < CDC_P_LATE] -= 86_400_000_000
            cols["_ts"] = pa.array(clock + offs.astype("timedelta64[us]"))
            batch[name] = pa.table(cols)
        clock += np.timedelta64(1, "D")
        batches.append(batch)
    return batches


def make_corpus_batches(seed: int, tables: dict[str, pd.DataFrame]) -> list[pa.Table]:
    """The documents that have an embedding, with a URL column, in a
    seeded order, cut into micro-batches of ``INGEST_BATCH_DOCS``.  A few
    URLs are re-crawls of an earlier document's URL under another
    tracking parameter, and the second batch restates some first-batch
    documents (``INGEST_P_DUP``)."""
    rng = np.random.default_rng(seed + 104729)
    emb = tables["embeddings"].rename(columns={"vec_id": "doc_id"})[["doc_id", "embedding"]]
    docs = tables["documents"].merge(emb, on="doc_id")
    docs = docs.iloc[rng.permutation(len(docs))].reset_index(drop=True)
    urls = [f"https://{s}.example.com/doc/{d}?utm_source=feed" for s, d in zip(docs["source"], docs["doc_id"])]
    for i in np.flatnonzero(rng.random(len(docs)) < INGEST_P_RECRAWL):
        if i > 0:
            urls[i] = urls[int(rng.integers(0, i))].replace("feed", "recrawl")
    docs["url"] = urls
    docs = docs[["doc_id", "source", "url", "text", "embedding"]].copy()
    step = INGEST_BATCH_DOCS
    texts, embs = docs["text"].tolist(), docs["embedding"].tolist()
    for i in range(step, min(2 * step, len(docs))):
        u, j = rng.random(), int(rng.integers(0, step))
        if u < INGEST_P_DUP:
            texts[i] = texts[j]
        elif u < 2 * INGEST_P_DUP:
            v = embs[j] + 0.02 * rng.standard_normal(len(embs[j])).astype("float32")
            embs[i] = v / np.linalg.norm(v)
    docs["text"], docs["embedding"] = texts, embs
    return [_arrow(docs.iloc[i : i + step]) for i in range(0, len(docs), step)]


def generate(root: str, seed: int, workload: str) -> str:
    """Write the inputs of ``workload`` for ``seed`` under ``root`` (once;
    later calls reuse them) and return their directory.  The directory
    name carries a hash of this file, so inputs cached by another version
    of the generator are never reused."""
    with open(__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:10]
    out = os.path.join(root, f"{workload}-{seed}-{version}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    if workload == "pos_analytics":
        tables = make_tables(seed)
        for name in POS_TABLES:
            write_table(tables[name], os.path.join(out, "tables", f"{name}.parquet"))
    else:
        tables = make_tables(seed, CDC_SCALE)
        for name in ("orders", "customer"):
            write_table(tables[name], os.path.join(out, "tables", f"{name}.parquet"))
        for b, batch in enumerate(make_cdc_log(seed, tables)):
            for name, ev in batch.items():
                write_table(ev, os.path.join(out, "cdc", f"{name}-{b:03d}.parquet"), files=1)
        for b, batch in enumerate(make_corpus_batches(seed, make_tables(seed))):
            write_table(batch, os.path.join(out, "corpus", f"batch-{b:03d}.parquet"), files=1)
    open(os.path.join(out, "DONE"), "w").close()
    return out
