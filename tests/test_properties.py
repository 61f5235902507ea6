"""Property-based tests (hypothesis) — SURVEY.md §5 item 4.

Each property replays randomized inputs against a plain-Python oracle or
an algebraic law. Example counts are small because every example builds a
Spark job; the generators are broad (duplicate keys, equal timestamps,
empty strings, single-token docs) so the few examples cover the edges that
matter.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from simple_pos_kafka_pyspark_airflow_spark.llm import dedup, filtering
from simple_pos_kafka_pyspark_airflow_spark.operators import upsert, windows
from simple_pos_kafka_pyspark_airflow_spark.streaming import cdc

SETTINGS = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)

# (key, value, op, seq) event streams with deliberate key collisions
events_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),  # key — tiny domain forces collisions
        st.integers(0, 100),  # value
        st.sampled_from(["upsert", "delete"]),
    ),
    min_size=0,
    max_size=25,
).map(lambda evs: [(k, v, op, seq) for seq, (k, v, op) in enumerate(evs)])


@given(events_strategy)
@SETTINGS
def test_cdc_replay_matches_dict_oracle(spark, events):
    oracle: dict[int, int] = {}
    for k, v, op, _ in events:
        if op == "upsert":
            oracle[k] = v
        else:
            oracle.pop(k, None)
    table = spark.createDataFrame([], "id long, val long")
    if events:
        ev = spark.createDataFrame(events, f"id long, val long, {cdc.OP_COL} string, seq long")
        table = cdc.apply_cdc_batch(table, ev, "id", "seq")
    got = {r["id"]: r["val"] for r in table.collect()}
    assert got == oracle


@given(events_strategy)
@SETTINGS
def test_merge_delta_idempotent(spark, events):
    """merge(merge(old, new), new) == merge(old, new) — replay safety, the
    property checkpoint recovery relies on."""
    rows = [(k, v) for k, v, op, _ in events if op == "upsert"]
    old = spark.createDataFrame([(0, -1), (1, -1)], "id long, val long")
    new = spark.createDataFrame(rows, "id long, val long") if rows else old.limit(0)
    new = cdc.latest_per_key(new, ["id"], "val") if rows else new
    once = upsert.merge_delta(old, new, "id")
    twice = upsert.merge_delta(once, new, "id")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2000)),  # (user, ts seconds)
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_sessionize_matches_replay(spark, points):
    gap = 300  # 5 minutes
    rows = [(uid, i, sec) for i, (uid, sec) in enumerate(points)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, sec long").withColumn(
        "ts", F.timestamp_seconds(F.col("sec"))
    )
    out = windows.sessionize(df, "user_id", "ts", "5 MINUTE", "event_id")
    got = {(r["user_id"], r["event_id"]): r["sess_id"] for r in out.collect()}
    # python replay: per user, sort by (sec, event_id), new session on gap
    oracle = {}
    per_user: dict[int, list[tuple[int, int]]] = {}
    for uid, eid, sec in rows:
        per_user.setdefault(uid, []).append((sec, eid))
    for uid, evs in per_user.items():
        sess, prev = 0, None
        for sec, eid in sorted(evs):
            if prev is None or sec - prev > gap:
                sess += 1
            oracle[(uid, eid)] = sess
            prev = sec
    assert got == oracle


@given(st.lists(st.text(alphabet="ab c", min_size=0, max_size=30), min_size=1, max_size=8))
@SETTINGS
def test_chunks_reassemble_to_token_stream(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    chunks = filtering.chunk_documents(df, max_tokens=4).collect()
    per_doc: dict[int, list[tuple[int, str]]] = {}
    for r in chunks:
        per_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_text"]))
    for i, t in enumerate(texts):
        toks = t.split()
        if not toks:
            assert i not in per_doc  # empty docs produce no chunks
            continue
        joined = " ".join(c for _, c in sorted(per_doc[i]))
        assert joined == " ".join(toks)
        assert len(per_doc[i]) == (len(toks) + 3) // 4


@given(st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]), min_size=1, max_size=12))
@SETTINGS
def test_token_bag_key_order_invariant(spark, toks):
    import random

    shuffled = toks[:]
    random.Random(7).shuffle(shuffled)
    df = spark.createDataFrame([(" ".join(toks), " ".join(shuffled))], "a string, b string")
    row = df.select(
        dedup.token_bag_key(F.col("a")).alias("ka"), dedup.token_bag_key(F.col("b")).alias("kb")
    ).first()
    assert row["ka"] == row["kb"]


snapshot_strategy = st.lists(
    st.tuples(st.integers(0, 5), st.one_of(st.none(), st.integers(0, 50))),
    min_size=0,
    max_size=12,
).map(lambda rows: list({k: (k, v) for k, v in rows}.values()))  # unique keys


@given(snapshot_strategy, snapshot_strategy)
@SETTINGS
def test_diff_then_apply_reconstructs_new_snapshot(spark, old_rows, new_rows):
    """∀ snapshots A, B: apply(A, diff(A, B)) == B — inserts, updates,
    deletes, null cells, and empty frames included."""
    old = spark.createDataFrame(old_rows, "id long, val long")
    new = spark.createDataFrame(new_rows, "id long, val long")
    events = upsert.diff_snapshots(old, new, "id").withColumn("seq", F.lit(1))
    rebuilt = cdc.apply_cdc_batch(old, events, pk="id", order_col="seq")
    assert sorted(map(tuple, rebuilt.collect())) == sorted(map(tuple, new.collect()))


@given(
    st.lists(  # batches of (key, value) updates; ts = batch index
        st.lists(st.tuples(st.integers(0, 3), st.integers(0, 9)), min_size=1, max_size=4)
        .map(lambda b: list({k: (k, v) for k, v in b}.values())),  # one update per key per batch
        min_size=1,
        max_size=4,
    )
)
@SETTINGS
def test_scd2_matches_version_replay(spark, batches):
    """Applying update batches through scd2_apply yields exactly the
    version history a sequential replay produces: each key's versions
    chain (valid_from, valid_to) with the last one open."""
    import datetime

    base_keys = [0, 1]
    t0 = datetime.datetime(1990, 1, 1)
    ts = lambda i: t0 + datetime.timedelta(days=i + 1)  # noqa: E731

    hist_rows = [(k, -1, t0, None) for k in base_keys]
    hist = spark.createDataFrame(hist_rows, "id long, val long, valid_from timestamp, valid_to timestamp")
    # oracle: per key, list of (val, from, to)
    oracle = {k: [(-1, t0, None)] for k in base_keys}
    for i, batch in enumerate(batches):
        upd = spark.createDataFrame(
            [(k, v, ts(i)) for k, v in batch], "id long, val long, eff timestamp"
        )
        hist = upsert.scd2_apply(hist, upd, "id", "eff")
        for k, v in batch:
            if k in oracle:
                val, frm, _ = oracle[k][-1]
                oracle[k][-1] = (val, frm, ts(i))  # close current
            oracle.setdefault(k, []).append((v, ts(i), None))
    got = sorted((r["id"], r["val"], r["valid_from"], r["valid_to"]) for r in hist.collect())
    want = sorted((k, v, f, t) for k, vs in oracle.items() for v, f, t in vs)
    assert got == want


# Fixed batches merged into the random ones, so every example covers each
# case by construction: keys 10-12 see an insert, an edit, a delete, a
# restated value, a re-insert after the delete and a second change that
# lands with the SAME timestamp as the version it supersedes.
SCD_SCENARIO = [
    [(10, 1, "upsert", 0), (11, 1, "upsert", 0)],
    [(10, 2, "upsert", 1), (11, None, "delete", 1), (12, 5, "upsert", 1)],
    [(11, 3, "upsert", 2), (12, 5, "upsert", 2), (10, 4, "upsert", 1)],
]

scd_batches_strategy = st.lists(  # (key, value, op, second) per event
    st.lists(
        st.tuples(
            st.integers(0, 3),
            st.one_of(st.none(), st.integers(0, 3)),
            st.sampled_from(["upsert", "delete"]),
            st.integers(0, 4),
        ),
        max_size=6,
    ),
    min_size=1,
    max_size=3,
)


def _scd_oracle_batch(snap, history, events):
    """One batch through a pure-Python last-writer-wins replay: the final
    event per key is the latest (ts, value, op) — the sink's tiebreak
    (desc, nulls last) — and only net changes version the history, with
    a content replay guard and closes at the event's timestamp."""
    final = {}
    for k, v, op, ts in events:
        rank = (ts, v is not None, v if v is not None else 0, op)
        if k not in final or rank > final[k][0]:
            final[k] = (rank, v, op, ts)
    versions = {(k, v, frm) for k, v, frm, _ in history}

    def close(k, ts):
        history[:] = [(hk, v, f, ts if hk == k and t is None else t) for hk, v, f, t in history]

    for k, (_, v, op, ts) in final.items():
        if op == "upsert" and (k not in snap or snap[k] != v):
            snap[k] = v
            if (k, v, ts) not in versions:  # replay guard: version already landed
                close(k, ts)
                history.append((k, v, ts, None))
        elif op == "delete" and k in snap:
            del snap[k]
            close(k, ts)


@given(scd_batches_strategy)
@SETTINGS
def test_scd2_sink_matches_version_replay(spark, random_batches):
    """ScdParquetCdcSink over random multi-batch event sequences (inserts,
    edits, restated values, deletes, re-inserts, same-timestamp second
    changes, and a replay of the last batch) leaves exactly the snapshot
    and full version history of a pure-Python replay."""
    import datetime
    import tempfile

    t0 = datetime.datetime(2026, 1, 1)
    n = max(len(SCD_SCENARIO), len(random_batches))
    batches = [
        (SCD_SCENARIO[i] if i < len(SCD_SCENARIO) else [])
        + (random_batches[i] if i < len(random_batches) else [])
        for i in range(n)
    ]
    batches.append(batches[-1])  # redelivery of the last batch
    ev_schema = f"id long, val long, {cdc.OP_COL} string, ts timestamp"
    snap: dict = {}
    history: list = []
    with tempfile.TemporaryDirectory() as d:
        sink = cdc.ScdParquetCdcSink(
            spark, f"{d}/snap", f"{d}/hist", pk="id", order_col="ts",
            schema="id long, val long",
        )
        for b, events in enumerate(batches):
            rows = [(k, v, op, t0 + datetime.timedelta(seconds=s)) for k, v, op, s in events]
            sink.foreach_batch(spark.createDataFrame(rows, ev_schema), b)
            _scd_oracle_batch(snap, history, rows)
        got_snap = {r["id"]: r["val"] for r in sink.read().collect()}
        got_hist = [
            (r["id"], r["val"], r["valid_from"], r["valid_to"])
            for r in sink.read_history().collect()
        ]
    assert got_snap == snap
    key = lambda r: tuple((x is None, x or 0) for x in r)  # noqa: E731  None-safe sort
    assert sorted(got_hist, key=key) == sorted(history, key=key)


@given(
    st.lists(
        st.tuples(st.integers(0, 300), st.sampled_from(["s0", "s1", "s2"])),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 6),
)
@SETTINGS
def test_cap_per_group_matches_python_oracle(spark, rows, cap):
    """cap_per_group must keep EXACTLY the python-computed md5-rank
    sample of each group — not just the right sizes. Pins both the
    deterministic selection and the WindowGroupLimit rewrite's
    semantics-preservation in one property."""
    import hashlib

    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = sorted(
        (r["source"], r["doc_id"])
        for r in filtering.cap_per_group(df, "source", cap, "doc_id").collect()
    )
    by_group: dict[str, list[int]] = {}
    for i, s in rows:
        by_group.setdefault(s, []).append(i)
    want = sorted(
        (s, i)
        for s, ids in by_group.items()
        for i in sorted(ids, key=lambda x: (hashlib.md5(str(x).encode()).hexdigest(), x))[:cap]
    )
    assert got == want


@given(
    st.lists(st.text(alphabet="ab .,!X\t\n", min_size=0, max_size=40), min_size=0, max_size=6),
    st.integers(2, 3),
)
@SETTINGS
def test_intra_doc_span_dedup_matches_python_oracle(spark, texts, span_tokens):
    """Within-doc repetition removal must equal the brute-force python
    twin: segment into fixed token windows, keep each span's first
    occurrence in order, count spans and removed repeats — including
    zero-token docs and remainder windows. Alphabet includes tab/newline
    so the regex segmentation (r8: regexp_extract_all over normalized
    text replaced the interpreted slice-HOF) is pinned equivalent to the
    token formulation on multi-whitespace runs, not just single spaces."""
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_spans"], r["n_dup_spans"])
        for r in dedup.intra_doc_span_dedup(df, "text", "doc_id", span_tokens).collect()
    }
    for i, t in enumerate(texts):
        toks = t.split()
        spans = [
            " ".join(toks[j : j + span_tokens]) for j in range(0, len(toks), span_tokens)
        ]
        seen: dict[str, int] = {}
        kept = []
        for s in spans:
            if s not in seen:
                seen[s] = 1
                kept.append(s)
        want = (" ".join(kept), len(spans), len(spans) - len(kept))
        assert got[i] == want, (i, t, got[i], want)


@given(st.lists(st.text(alphabet="aB .,!2", min_size=0, max_size=30), min_size=0, max_size=8))
@SETTINGS
def test_canonical_dedup_matches_python_oracle(spark, texts):
    """Canonical-form groups must equal the python twin's normalize-then-
    group: lower, non-alphanumerics to spaces, collapse runs, trim."""
    import re

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = sorted(
        (r["keep_id"], r["n_copies"])
        for r in dedup.canonical_dup_groups(df, "text", "doc_id").collect()
    )
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        key = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", t.lower())).strip()
        groups.setdefault(key, []).append(i)
    want = sorted((min(ids), len(ids)) for ids in groups.values())
    assert got == want


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=200, deadline=None)
def test_media_decoders_fail_closed_on_arbitrary_bytes(payload):
    """Every media decoder's error contract on untrusted bytes: raise
    ValueError (the class the Arrow UDFs catch and drop) or return a
    valid result — never IndexError/struct.error/etc., which would abort
    a whole 100 TB job on one corrupt asset. Pure Python, no Spark, so
    the example count can be high."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import multimodal as mm

    for fn in (mm.decode_bmp, mm.ahash_bmp, mm.decode_wav, mm.fingerprint_wav):
        try:
            fn(payload)
        except ValueError:
            pass


@given(st.binary(min_size=0, max_size=120))
@settings(max_examples=100, deadline=None)
def test_media_decoders_fail_closed_on_forged_headers(payload):
    """Same contract with VALID magic bytes prepended — exercises the
    header-parse paths (dimensions, chunk walks) instead of bailing at
    the magic check."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import multimodal as mm

    bmp_forged = b"BM" + payload
    wav_forged = b"RIFF" + payload[:4].ljust(4, b"\x00") + b"WAVE" + payload
    for fn, data in (
        (mm.decode_bmp, bmp_forged),
        (mm.ahash_bmp, bmp_forged),
        (mm.decode_wav, wav_forged),
        (mm.fingerprint_wav, wav_forged),
    ):
        try:
            fn(data)
        except ValueError:
            pass


@given(
    st.lists(st.text(alphabet="abc ", min_size=0, max_size=40), min_size=0, max_size=6),
    st.lists(st.text(alphabet="abc ", min_size=0, max_size=40), min_size=0, max_size=4),
    st.integers(2, 4),
)
@SETTINGS
def test_exact_ngram_collisions_matches_python_oracle(spark, corpus_texts, probe_texts, n):
    """Distinct-probe-hit counts must equal a brute-force python n-gram
    set intersection — including the edge cases (docs shorter than n on
    either side never collide; zero-collision docs are absent)."""

    def gram_set(t: str) -> set[tuple[str, ...]]:
        toks = t.lower().split()
        return {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    corpus = spark.createDataFrame(
        list(enumerate(corpus_texts)), "doc_id long, text string"
    )
    probe = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(probe_texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n_probe_hits"]
        for r in dedup.exact_ngram_collisions(corpus, probe, n=n).collect()
    }
    want: dict[int, int] = {}
    for ci, ct in enumerate(corpus_texts):
        hits = sum(1 for pt in probe_texts if gram_set(ct) & gram_set(pt))
        if hits:
            want[ci] = hits
    assert got == want


def _round_half_up(x: float, n: int) -> float:
    """Spark ROUND semantics (BigDecimal HALF_UP — ties away from zero);
    python round() is half-even, which would diverge exactly on ties."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-n)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),  # group — collisions guaranteed
            st.integers(-50, 50),  # value (ints: exact float arithmetic)
        ),
        min_size=1,
        max_size=25,
    )
)
@SETTINGS
def test_anomaly_gate_matches_python_oracle(spark, rows):
    """anomaly_gate == a plain-python z-score replay: same flagged ids,
    same 4 dp z values (constant groups drop via the sd>0 guard)."""
    import math

    from simple_pos_kafka_pyspark_airflow_spark.operators import validation

    data = [(i, g, float(v)) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "event_id long, event_type string, value double")
    got = {
        r["event_id"]: r["z"]
        for r in validation.anomaly_gate(
            df, validation.group_moments(df), z_threshold=1.0
        ).collect()
    }

    by_group: dict[str, list[tuple[int, float]]] = {}
    for i, g, v in data:
        by_group.setdefault(g, []).append((i, v))
    want = {}
    for g, members in by_group.items():
        vals = [v for _, v in members]
        mu = sum(vals) / len(vals)
        sd = math.sqrt(sum((v - mu) ** 2 for v in vals) / len(vals))
        if sd <= 0:
            continue
        for i, v in members:
            z = _round_half_up((v - mu) / sd, 4)
            if abs(z) > 1.0:
                want[i] = z
    assert set(got) == set(want)
    for i in got:
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])


@given(
    st.lists(
        st.lists(st.integers(-3, 3), min_size=4, max_size=4),
        min_size=2,
        max_size=15,
        unique_by=lambda v: tuple(v),
    ),
    st.integers(1, 4),
)
@SETTINGS
def test_batch_topk_matches_python_oracle(spark, vecs, k):
    """cosine_topk_batch == a python top-k replay under the same
    (rounded score desc, id asc) total order, for every query."""
    import math

    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    data = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    queries = df.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = [
        (r["query_id"], r["vec_id"], r["score"], r["rn"])
        for r in simsearch.cosine_topk_batch(df, queries, k=k).collect()
    ]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(y * y for y in b))
        return _round_half_up(dot / max(na * nb, 1e-12), 6)

    want = []
    for qid, qv in [(d[0], d[1]) for d in data[:2]]:
        scored = sorted(
            ((cos(v, qv), i) for i, v in data), key=lambda t: (-t[0], t[1])
        )[:k]
        want.extend((qid, i, s, rn + 1) for rn, (s, i) in enumerate(scored))
    assert sorted(got) == sorted(want)


@given(
    st.lists(st.integers(0, 20), min_size=6, max_size=6),
    st.lists(st.integers(0, 20), min_size=6, max_size=6),
)
@SETTINGS
def test_psi_drift_nonnegative_and_symmetric(spark, ref_counts, cur_counts):
    """PSI = Σ (p-q)·ln(p/q): every term is ≥ 0 (p-q and ln(p/q) share
    sign), and the sum is invariant under swapping the two sides —
    both must hold for ANY pair of histograms."""
    from simple_pos_kafka_pyspark_airflow_spark.operators import validation

    def hist_df(counts):
        total = sum(counts) or 1
        rows = [("g", b, c, c / total) for b, c in enumerate(counts)]
        return spark.createDataFrame(
            rows, "event_type string, bin int, n long, frac double"
        )

    ref, cur = hist_df(ref_counts), hist_df(cur_counts)
    fwd = validation.psi_drift(ref, cur).first()["psi"]
    rev = validation.psi_drift(cur, ref).first()["psi"]
    assert fwd >= 0.0
    assert abs(fwd - rev) < 1e-12


texts_strategy = st.lists(
    st.lists(
        st.sampled_from("alpha beta gamma delta epsilon zeta eta theta".split()),
        min_size=0,
        max_size=12,
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts_strategy, texts_strategy)
@SETTINGS
def test_bloom_soundness_matches_python_gram_oracle(spark, corpus_texts, probe_texts):
    """Bloom soundness is a deterministic guarantee, not a statistic:
    every corpus doc sharing at least one sliding 3-gram with the probe
    set (python oracle) MUST be flagged, for arbitrary corpora including
    empty/short/duplicate texts. (False positives are allowed by the
    contract — the tiny 2^16 bitmap here even makes them likely — so the
    property is one-sided, exactly as the operator documents.)"""
    from simple_pos_kafka_pyspark_airflow_spark.llm import bloom

    def gram_set(text: str, n: int = 3) -> set[str]:
        toks = [t for t in text.lower().split() if t]
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    probe_grams = set().union(*(gram_set(t) for t in probe_texts)) if probe_texts else set()
    expected_hits = {
        i for i, t in enumerate(corpus_texts) if gram_set(t) & probe_grams
    }

    corpus = spark.createDataFrame(
        list(enumerate(corpus_texts)), ["doc_id", "text"]
    )
    probe = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(probe_texts)], ["doc_id", "text"]
    )
    flagged = {
        r["doc_id"]
        for r in bloom.bloom_decontaminate(
            corpus, probe, n=3, m_bits=1 << 16
        ).collect()
        if r["bloom_hit"] == 1
    }
    assert expected_hits <= flagged, (expected_hits, flagged)


@given(
    st.lists(st.integers(1, 50), min_size=1, max_size=30),
    st.integers(4, 64),
    st.integers(1, 4),
)
@SETTINGS
def test_pack_contiguous_invariants(spark, lengths, capacity, n_streams):
    """For ANY doc-length sequence, capacity and stream count: every doc
    packed exactly once; within a stream, bins fill contiguously (a
    Python replay of the per-stream prefix-sum is the oracle); per-bin
    token sums never exceed capacity + the overflow doc's tail."""
    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["stream"], r["bin"], r["n_tokens"])
        for r in filtering.pack_docs_contiguous(
            df, capacity=capacity, n_streams=n_streams
        ).collect()
    }
    assert sorted(got) == list(range(len(lengths)))
    # sequential replay per stream
    expect = {}
    cum = {}
    for i, n in enumerate(lengths):
        s = ((i % 2**31) * 2654435761) % n_streams
        start = cum.get(s, 0)
        expect[i] = (s, start // capacity, n)
        cum[s] = start + n
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 10**6),
            st.integers(0, 10**4),
            st.floats(
                min_value=0, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
            st.integers(0, 400),  # day offset
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda r: r[0],
    )
)
@SETTINGS
def test_statefile_roundtrip_exact(spark, rows, tmp_path_factory):
    """Arbitrary (id, customer, double price, date) rows written through
    the consumer's CSV state-file layout and read back via the Python
    DataSource must round-trip EXACTLY — repr() floats recover the very
    double, dates come from filenames, nothing lost or duplicated."""
    from datetime import date, timedelta

    from simple_pos_kafka_pyspark_airflow_spark.sources import pydatasource as pds

    base = date(2020, 1, 1)
    typed = [
        (sid, cust, price, base + timedelta(days=off)) for sid, cust, price, off in rows
    ]
    out = str(tmp_path_factory.mktemp("sf_prop"))
    pds.write_state_files(iter(typed), out)
    pds.register_pos_sources(spark)
    got = sorted(
        tuple(r)
        for r in spark.read.format("pos_statefiles").option("path", out).load().collect()
    )
    assert got == sorted(typed)


def test_gapfill_locf_fills_gaps_with_last_observation(spark):
    """Dense per-key calendar over each key's own span; manufactured days
    carry the last observed value with observed=0; no leading NULLs; keys
    never bleed into each other's spans."""
    import datetime as dt

    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.operators.timeseries import gapfill_locf

    rows = [
        (1, dt.datetime(2024, 1, 1, 9), 10.0),
        (1, dt.datetime(2024, 1, 1, 17), 4.0),   # same day: max -> 10.0
        (1, dt.datetime(2024, 1, 4, 12), 7.0),   # 3-day gap before this
        (2, dt.datetime(2024, 1, 3, 1), 99.0),   # single-day key
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        (r["user_id"], r["day"].date().isoformat()): (r["day_max"], r["observed"])
        for r in gapfill_locf(df, "user_id", "ts", F.max("value"), "day_max").collect()
    }
    assert got == {
        (1, "2024-01-01"): (10.0, 1),
        (1, "2024-01-02"): (10.0, 0),
        (1, "2024-01-03"): (10.0, 0),
        (1, "2024-01-04"): (7.0, 1),
        (2, "2024-01-03"): (99.0, 1),
    }


def test_pagerank_matches_numpy_power_iteration(spark):
    """The DataFrame iteration reproduces a NumPy power iteration on the
    same normalized matrix to within the 1e-9 contribution grid; ranks of
    a symmetric graph are symmetric; total mass stays <= 1 (dangling
    leak only)."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.operators.graph import pagerank

    #   0 <-> 1 (symmetric heavy), both -> 2, 2 back to both equally
    edges = [(0, 1, 4), (1, 0, 4), (0, 2, 1), (1, 2, 1), (2, 0, 1), (2, 1, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=3).collect()}

    n, d = 3, 0.85
    p = np.zeros((n, n))
    for s, t, w in edges:
        p[s][t] = w
    p = p / p.sum(axis=1, keepdims=True)
    r = np.full(n, 1.0 / n)
    for _ in range(3):
        r = (1 - d) / n + d * (r @ p)
    for node in range(n):
        assert abs(got[node] - r[node]) < 1e-6, (node, got[node], r[node])
    assert abs(got[0] - got[1]) < 1e-6  # symmetric pair
    # grid snapping can nudge mass a few 1e-9 over exact 1
    assert sum(got.values()) <= 1.0 + 1e-6


def test_triangle_counts_k4_and_square(spark):
    """K4: every node sits in C(3,2)=3 triangles (4 triangles total,
    each counted once); a 4-cycle has none; directed duplicates and
    self-loops are canonicalized away first."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.graph import (
        triangle_counts,
        undirected_edges,
    )

    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]  # both directions
    k4 += [(0, 0)]  # self-loop must be dropped
    square = [(10, 11), (11, 12), (12, 13), (13, 10)]
    df = spark.createDataFrame(k4 + square, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(undirected_edges(df)).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}  # square nodes absent


def test_event_transitions_counts_and_row_normalization(spark):
    """Transitions follow per-key (ts, tiebreak) order; counts aggregate
    across keys; probabilities row-normalize per source state."""
    import datetime as dt

    from simple_pos_kafka_pyspark_airflow_spark.operators.windows import event_transitions

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # user 1: A -> B -> A   (same ts for the first two: event_id breaks the tie)
        (1, 10, t(0), "A"),
        (1, 11, t(0), "B"),
        (1, 12, t(5), "A"),
        # user 2: A -> C
        (2, 20, t(0), "A"),
        (2, 21, t(9), "C"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, event_type string")
    got = {
        (r["prev_state"], r["next_state"]): (r["n"], r["p"])
        for r in event_transitions(df, "user_id", "ts", "event_type", "event_id").collect()
    }
    assert got == {
        ("A", "B"): (1, 0.5),
        ("A", "C"): (1, 0.5),
        ("B", "A"): (1, 1.0),
    }


def test_grouped_corr_exact_matches_numpy(spark):
    """Exact-moment corr equals numpy's float corrcoef to 1e-12, and a
    zero-variance group yields NULL (not a crash or inf)."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import grouped_corr_exact
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    xs = rng.randint(1, 50, 200)
    ys = (xs * 2 + rng.randint(-10, 10, 200)).clip(1, None)
    rows = [("g", int(x), int(y)) for x, y in zip(xs, ys)]
    rows += [("flat", 3, int(v)) for v in rng.randint(1, 9, 20)]  # zero x-variance
    df = spark.createDataFrame(rows, "grp string, x long, y long")
    got = {
        r["grp"]: r["corr"]
        for r in grouped_corr_exact(df, "grp", F.col("x"), F.col("y")).collect()
    }
    expect = np.corrcoef(xs, ys)[0, 1]
    assert abs(got["g"] - expect) < 1e-12
    assert got["flat"] is None


def test_triangle_counts_oriented_equals_plain_and_tames_hubs(spark):
    """Degree-oriented enumeration returns bit-identical counts to the
    id-ordered join on a random graph, and generates ZERO wedges at a
    planted hub (the id-ordered form generates deg²/4 there)."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.operators.graph import (
        triangle_counts,
        triangle_counts_oriented,
        undirected_edges,
    )

    rng = random.Random(11)
    edges = {(a, b) for a, b in itertools.combinations(range(30), 2) if rng.random() < 0.2}
    # hub with a MID-RANGE id (15) wired to everything: worst case for
    # id-ordering (its wedges split across both sides), best case for
    # degree-orientation (all its edges point in)
    edges |= {(min(15, x), max(15, x)) for x in range(30) if x != 15}
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    und = undirected_edges(df)
    plain = {r["node"]: r["n_triangles"] for r in triangle_counts(und).collect()}
    orient = {r["node"]: r["n_triangles"] for r in triangle_counts_oriented(und).collect()}
    assert plain == orient

    # star K1,60 with hub id 30 (mid-range): oriented wedge count at the
    # hub must be zero — all hub edges point in (leaves have degree 1)
    star = [(min(30, i), max(30, i)) for i in range(61, 121)] + [(30, i) for i in range(61)]
    star = [(a, b) for a, b in star if a != b]
    sdf = undirected_edges(spark.createDataFrame(star, "src long, dst long"))
    assert triangle_counts_oriented(sdf).count() == 0  # a star has no triangles


def test_hll_shard_sketches_merge_to_global_estimate(spark):
    """Mergeability contract behind q_sketch_shards: the union of
    per-shard HLL sketches must estimate the GLOBAL distinct count
    within the lgConfigK=14 error bound, even when every key appears in
    several shards (so per-shard exact counts cannot simply be summed)."""
    from pyspark.sql import functions as F

    rows = [(k % 5, k % 700) for k in range(10_000)]  # 700 distinct, all shards overlap
    df = spark.createDataFrame(rows, "shard int, key int")
    sk = df.groupBy("shard").agg(F.hll_sketch_agg("key", F.lit(14)).alias("sk"))
    est = sk.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")).collect()[0]["e"]
    assert abs(est - 700) <= 0.02 * 700
    naive_sum = sk.count() * 700  # what summing per-shard exacts would give
    assert naive_sum > 700  # the overlap that makes merging non-trivial


def test_cusum_window_rewrite_equals_textbook_recursion(spark):
    """The prefix-sum-minus-running-min form must equal the sequential
    max(0, C + d) recursion exactly, per key, on integer deviations —
    including runs that dip negative (the clamp) and re-alarm."""
    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.operators.timeseries import cusum_alarms

    import random

    rng = random.Random(7)
    rows = [
        (k, i, rng.randrange(0, 200))
        for k in range(5)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "k long, i long, x long")
    out = cusum_alarms(
        df,
        "k",
        ["i"],
        F.col("x"),
        F.lit(90).cast("long"),   # target 90/1
        F.lit(1).cast("long"),
        F.lit(10).cast("long"),   # slack
        F.lit(400).cast("long"),  # threshold
    )
    got = {(r["k"], r["i"]): (r["c_scaled"], r["alarm"]) for r in out.collect()}
    per_key = {}
    for k, i, x in rows:
        c = per_key.get(k, 0)
        c = max(0, c + x - 90 - 10)
        per_key[k] = c
        assert got[(k, i)] == (c, int(c > 400)), (k, i)


@given(
    st.lists(st.integers(0, 500), min_size=1, max_size=60),
    st.lists(st.integers(0, 500), min_size=0, max_size=60),
)
@SETTINGS
def test_count_min_table_mergeable_and_never_under(spark, shard_a, shard_b):
    """The relational count-min sketch must (1) merge by union+sum —
    sketch(A) ⊎ sketch(B) row-identical to sketch(A ∪ B) for disjoint
    row sets — and (2) never underestimate any key's true count."""
    from collections import Counter

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        cms_estimate,
        count_min_table,
    )

    W = 32  # tiny width forces heavy collisions
    df_a = spark.createDataFrame([(k,) for k in shard_a], "k long")
    df_b = spark.createDataFrame([(k,) for k in shard_b], "k long") if shard_b else None
    whole = spark.createDataFrame([(k,) for k in shard_a + shard_b], "k long")

    merged = count_min_table(df_a, "k", width=W)
    if df_b is not None:
        merged = (
            merged.unionAll(count_min_table(df_b, "k", width=W))
            .groupBy("d", "bucket")
            .agg(F.sum("c").alias("c"))
        )
    direct = count_min_table(whole, "k", width=W)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))

    keys = spark.createDataFrame([(k,) for k in set(shard_a + shard_b)], "k long")
    est = {
        r["k"]: r["est_n"] for r in cms_estimate(direct, keys, "k", width=W).collect()
    }
    truth = Counter(shard_a + shard_b)
    for k, n in truth.items():
        assert est[k] >= n, (k, est[k], n)


def test_count_min_negative_keys_land_in_domain_and_never_under(spark):
    """NEGATIVE bigint keys (r8 advice): sign-following % would hash them
    into (−width, 0), halving effective width and breaking the documented
    [0, width) bucket domain — the pmod chain must keep every bucket in
    [0, width) and preserve the never-underestimate guarantee."""
    from collections import Counter

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        cms_estimate,
        count_min_table,
    )

    W = 32
    keys = [-5, -5, -5, -1_000_000_009, -1, 7, -5, -1]  # mixed signs
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    cms = count_min_table(df, "k", width=W)
    buckets = [r["bucket"] for r in cms.collect()]
    assert all(0 <= b < W for b in buckets), buckets

    probe = spark.createDataFrame([(k,) for k in set(keys)], "k long")
    est = {r["k"]: r["est_n"] for r in cms_estimate(cms, probe, "k", width=W).collect()}
    truth = Counter(keys)
    for k, n in truth.items():
        assert est[k] >= n, (k, est[k], n)


def test_cms_estimate_rejects_deeper_probe_than_build(spark):
    """Probing with more hash rows than the sketch was built with would
    left-join absent depths to 0 and silently invert the never-under
    guarantee — cms_estimate must fail fast on the depth mismatch (and
    still accept probes at ≤ the built depth, and an empty sketch)."""
    import pytest

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        cms_estimate,
        count_min_table,
    )

    df = spark.createDataFrame([(k,) for k in [1, 2, 2, 3]], "k long")
    probe = spark.createDataFrame([(1,), (2,)], "k long")
    shallow = count_min_table(df, "k", width=16, depth=2)
    with pytest.raises(ValueError, match="depth"):
        cms_estimate(shallow, probe, "k", width=16, depth=3)
    est = {r["k"]: r["est_n"] for r in cms_estimate(shallow, probe, "k", width=16, depth=2).collect()}
    assert est[1] >= 1 and est[2] >= 2, est
    empty = count_min_table(df.where(F.col("k") < 0), "k", width=16)
    est0 = {r["k"]: r["est_n"] for r in cms_estimate(empty, probe, "k", width=16).collect()}
    assert est0 == {1: 0, 2: 0}, est0


@given(st.lists(st.text(alphabet="ab X.\t\n ", min_size=0, max_size=40), min_size=1, max_size=6))
@SETTINGS
def test_tokens_kernel_matches_python_split(spark, texts):
    """The shared tokens() kernel (regexp_extract_all('\\S+'), r8 — the
    codegen replacement for the interpreted split+filter HOF) must equal
    Python's str.split() on any whitespace shape: runs, tabs, newlines,
    leading/trailing, empty strings."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import tokens

    df = spark.createDataFrame(list(enumerate(texts)), "i long, t string")
    got = {r["i"]: r["toks"] for r in df.select("i", tokens(F.col("t")).alias("toks")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == t.split(), (t, got[i])


@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6), st.sampled_from(["a", "b"])),
        min_size=1,
        max_size=25,
    )
)
@SETTINGS
def test_skyline_2d_matches_dominance_bruteforce(spark, pts):
    """The sort-scan skyline must equal the quadratic NOT-EXISTS dominance
    definition on any point set — duplicate points, full ties on one
    axis, single-point groups included."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.order import skyline_2d

    rows = [(i, x, y, g) for i, (x, y, g) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x long, y long, g string")
    got = sorted(r["id"] for r in skyline_2d(df, F.col("x"), F.col("y"), "g").collect())
    want = sorted(
        i
        for i, x, y, g in rows
        if not any(
            g2 == g and x2 >= x and y2 >= y and (x2 > x or y2 > y)
            for _, x2, y2, g2 in rows
        )
    )
    assert got == want


def test_cms_join_size_never_under_and_tight_when_wide(spark):
    """The inner-product estimate must be ≥ the true join size at ANY
    width (one-sided guarantee), equal it when the width dwarfs the key
    cardinality, and refuse mismatched depths."""
    import pytest

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        cms_join_size,
        count_min_table,
    )

    a = spark.createDataFrame([(k % 20,) for k in range(200)], "k long")
    b = spark.createDataFrame([(k % 30,) for k in range(90)], "k long")
    truth = a.join(b, "k").count()

    tight = cms_join_size(
        count_min_table(a, "k", width=4096), count_min_table(b, "k", width=4096)
    ).first()["est_join_size"]
    assert tight == truth, (tight, truth)

    noisy = cms_join_size(
        count_min_table(a, "k", width=8), count_min_table(b, "k", width=8)
    ).first()["est_join_size"]
    assert noisy >= truth

    with pytest.raises(ValueError, match="depth"):
        cms_join_size(
            count_min_table(a, "k", width=8, depth=2),
            count_min_table(b, "k", width=8, depth=3),
        )


@given(
    st.lists(st.text(alphabet="abc", min_size=0, max_size=14), min_size=1, max_size=6),
    st.lists(st.text(alphabet="abc", min_size=0, max_size=14), min_size=1, max_size=6),
)
@SETTINGS
def test_fuzzy_join_editdist_property(spark, ls, rs):
    """Gram-prefix + short-band fuzzy join equals the quadratic
    Levenshtein definition on adversarial tiny-alphabet strings (heavy
    gram collisions, lengths straddling the short/gram regime cut)."""

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    left = spark.createDataFrame(list(enumerate(ls)), "lid long, s string")
    right = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(rs)], "rid long, t string"
    )
    got = sorted(
        (r["lid"], r["rid"], r["dist"])
        for r in dedup.fuzzy_join_editdist(
            left, right, "s", "t", l_id="lid", r_id="rid",
            max_dist=2, max_posting_docs=None,
        ).collect()
    )
    want = sorted(
        (i, 100 + j, lev(a, b))
        for i, a in enumerate(ls)
        for j, b in enumerate(rs)
        if lev(a, b) <= 2
    )
    assert got == want


# tiny-vocabulary documents: shingle sets overlap heavily across docs
docs_strategy = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=1, max_size=10).map(" ".join),
    min_size=1,
    max_size=7,
)


@given(docs_strategy, docs_strategy, st.sampled_from([0.5, 0.55, 0.8]), st.sampled_from([1, 2, 3]))
@SETTINGS
def test_prefix_jaccard_joins_property(spark, ls, rs, threshold, n):
    """The prefix-filtered Jaccard joins equal the brute-force string-set
    Jaccard (exact cut, exact doubles), and the self-join equals the
    two-table join of a frame with itself restricted to l_id < r_id."""
    from fractions import Fraction

    def sh(text):
        toks = text.split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    def brute(a_docs, b_docs, keep):
        out = set()
        for i, a in a_docs:
            for j, b in b_docs:
                inter, union = len(sh(a) & sh(b)), len(sh(a) | sh(b))
                if keep(i, j) and Fraction(inter, union) >= Fraction(str(threshold)):
                    out.add((i, j, inter / union))
        return out

    l_docs = list(enumerate(ls))
    r_docs = [(100 + j, t) for j, t in enumerate(rs)]
    left = spark.createDataFrame(l_docs, "lid long, s string")
    right = spark.createDataFrame(r_docs, "rid long, t string")

    self_pairs = {
        tuple(r)
        for r in dedup.jaccard_pairs_prefix(left, "s", "lid", n=n, threshold=threshold).collect()
    }
    assert self_pairs == brute(l_docs, l_docs, lambda i, j: i < j)
    two = {
        tuple(r)
        for r in dedup.fuzzy_join_jaccard(
            left, right, "s", "t", l_id="lid", r_id="rid", n=n, threshold=threshold
        ).collect()
    }
    assert two == brute(l_docs, r_docs, lambda i, j: True)
    mirror = {
        tuple(r)
        for r in dedup.fuzzy_join_jaccard(
            left, left, "s", "s", l_id="lid", r_id="lid", n=n, threshold=threshold
        ).collect()
    }
    assert self_pairs == {p for p in mirror if p[0] < p[1]}
    spark.catalog.clearCache()


@given(
    st.lists(
        st.tuples(st.sampled_from(["g1", "g2"]), st.integers(-50, 50)),
        min_size=1,
        max_size=40,
    )
)
@SETTINGS
def test_grouped_winsorize_property(spark, rows):
    """Winsorize invariants on arbitrary integer groups: q_lo ≤ q_hi are
    group members; every clamped value lies in [q_lo, q_hi]; unclamped
    values pass through; the clamp equals the python replay of the
    ceil-rank definition."""
    import math

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        grouped_winsorize,
    )

    df = spark.createDataFrame(
        [(g, v, i) for i, (g, v) in enumerate(rows)], "g string, x long, rid long"
    )
    out = grouped_winsorize(df, "g", F.col("x")).collect()
    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)

    def q(vals, num, den):
        vals = sorted(vals)
        thr = math.ceil(num * len(vals) / den)
        return vals[thr - 1]

    for r in out:
        vals = by_g[r["g"]]
        lo, hi = q(vals, 1, 20), q(vals, 19, 20)
        assert (r["q_lo"], r["q_hi"]) == (lo, hi)
        assert r["x_w"] == max(lo, min(hi, r["x"]))


@given(
    st.lists(
        st.tuples(st.sampled_from(["s1", "s2", "s3"]), st.integers(0, 10_000)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    )
)
@SETTINGS
def test_stratified_split_property(spark, rows):
    """Per-group split counts are exact integer floors for ANY group
    sizes: n_train = floor(.8n), n_train+n_val = floor(.9n)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.filtering import stratified_split

    df = spark.createDataFrame(
        [(i, g) for g, i in rows], "doc_id long, source string"
    )
    out = stratified_split(df, "source", "doc_id").collect()
    by_g: dict = {}
    for r in out:
        by_g.setdefault(r["source"], []).append(r["split"])
    for g, splits in by_g.items():
        n = len(splits)
        assert splits.count("train") == (80 * n) // 100
        assert splits.count("train") + splits.count("val") == (90 * n) // 100


def test_grouped_linreg_exact_matches_numpy(spark):
    """Exact-moment OLS equals numpy polyfit to 1e-9, R² equals corr², and
    a zero-x-variance group yields NULL slope/intercept/r2."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import grouped_linreg_exact
    from pyspark.sql import functions as F

    rng = np.random.RandomState(11)
    xs = rng.randint(1, 50, 300)
    ys = xs * 3 + rng.randint(-20, 20, 300)
    rows = [("g", int(x), int(y)) for x, y in zip(xs, ys)]
    rows += [("flat", 5, int(v)) for v in rng.randint(1, 9, 20)]
    df = spark.createDataFrame(rows, "grp string, x long, y long")
    got = {
        r["grp"]: r
        for r in grouped_linreg_exact(df, "grp", F.col("x"), F.col("y")).collect()
    }
    slope, intercept = np.polyfit(xs.astype(float), ys.astype(float), 1)
    assert abs(got["g"]["slope"] - slope) < 1e-9
    assert abs(got["g"]["intercept"] - intercept) < 1e-9
    r = np.corrcoef(xs, ys)[0, 1]
    assert abs(got["g"]["r2"] - r * r) < 1e-9
    assert got["flat"]["slope"] is None
    assert got["flat"]["intercept"] is None
    assert got["flat"]["r2"] is None


def test_welch_ttest_matches_reference_formula(spark):
    """Welch t and df equal the textbook formulas computed in plain
    Python; a single-row cohort (undefined variance) yields NULL both."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import welch_ttest_exact
    from pyspark.sql import functions as F

    rng = np.random.RandomState(3)
    a = rng.randint(50, 150, 80)
    b = rng.randint(40, 120, 60)
    rows = [("A", int(v)) for v in a] + [("B", int(v)) for v in b]
    df = spark.createDataFrame(rows, "cohort string, x long")
    row = welch_ttest_exact(df, "cohort", "A", "B", F.col("x")).collect()[0]
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / len(a) + vb / len(b)
    t = (a.mean() - b.mean()) / se2**0.5
    wdf = se2**2 / ((va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1))
    assert abs(row["t_stat"] - t) < 1e-9
    assert abs(row["welch_df"] - wdf) < 1e-9
    tiny = spark.createDataFrame([("A", 7), ("B", 3), ("B", 9)], "cohort string, x long")
    row2 = welch_ttest_exact(tiny, "cohort", "A", "B", F.col("x")).collect()[0]
    assert row2["t_stat"] is None and row2["welch_df"] is None


def test_gapfill_interpolate_trends_between_neighbors(spark):
    """A 3-day interior gap interpolates on the straight line between its
    observed neighbors; observed rows ship their exact value."""
    import datetime as dt

    from simple_pos_kafka_pyspark_airflow_spark.operators.timeseries import gapfill_interpolate
    from pyspark.sql import functions as F

    def ts(day):
        return dt.datetime(2024, 1, day, 12, 0, 0)

    df = spark.createDataFrame(
        [(1, ts(1), 100), (1, ts(4), 400), (2, ts(2), 7)],
        "user_id int, ts timestamp, cents long",
    )
    out = {
        (r["user_id"], r["day"].day): (r["v"], r["observed"])
        for r in gapfill_interpolate(
            df, "user_id", "ts", F.max("cents").cast("long"), "v"
        ).collect()
    }
    assert out[(1, 1)] == (100.0, 1)
    assert out[(1, 2)] == (200.0, 0)
    assert out[(1, 3)] == (300.0, 0)
    assert out[(1, 4)] == (400.0, 1)
    assert out[(2, 2)] == (7.0, 1)
    assert len(out) == 5


def test_top_event_paths_counts_consecutive_triples(spark):
    """Each key with m events yields exactly max(m-2, 0) depth-3 paths;
    ties in the top-k break on path text ascending."""
    import datetime as dt

    from simple_pos_kafka_pyspark_airflow_spark.operators.timeseries import top_event_paths

    rows = []
    for i, t in enumerate(["a", "b", "c", "b", "c"]):  # key 1: abc, bcb, cbc
        rows.append((1, dt.datetime(2024, 1, 1, 0, i), t, i))
    rows.append((2, dt.datetime(2024, 1, 1), "a", 10))  # too short: no paths
    rows.append((2, dt.datetime(2024, 1, 2), "b", 11))
    df = spark.createDataFrame(rows, "k int, ts timestamp, et string, eid long")
    got = [(r["path"], r["n"]) for r in top_event_paths(df, "k", "ts", "et", "eid").collect()]
    assert got == [("a>b>c", 1), ("b>c>b", 1), ("c>b>c", 1)]


def test_ndcg_at_k_hand_ranked(spark):
    """Perfect score ordering gives nDCG 1.0 exactly (same integer grid
    top and bottom); an inverted ordering gives the hand-computed ratio;
    a query with all-zero relevance yields NULL."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import NDCG_WEIGHTS_10, ndcg_at_k
    from pyspark.sql import functions as F

    # q1: scores rank docs exactly by relevance (3,2,1,0) -> perfect.
    # q2: scores rank docs in REVERSE relevance order.
    # q3: all rel 0 -> IDCG 0 -> NULL.
    rows = []
    for d, rel in enumerate([3, 2, 1, 0]):
        rows.append(("q1", d, rel, 100.0 - d))
        rows.append(("q2", d, rel, float(d)))
    for d in range(3):
        rows.append(("q3", d, 0, float(d)))
    df = spark.createDataFrame(rows, "q string, d long, r long, s double")
    got = {r["query"]: r for r in ndcg_at_k(df, "q", "d", F.col("r"), F.col("s")).collect()}
    assert got["q1"]["ndcg"] == 1.0
    w = NDCG_WEIGHTS_10
    ideal = 7 * w[0] + 3 * w[1] + 1 * w[2]
    inv = 0 * w[0] + 1 * w[1] + 3 * w[2] + 7 * w[3]
    assert got["q2"]["dcg_scaled"] == inv
    assert got["q2"]["idcg_scaled"] == ideal
    assert got["q2"]["ndcg"] == inv / ideal
    assert got["q3"]["ndcg"] is None


def test_grouped_weighted_median_known_and_degenerate(spark):
    """Weighted median: a heavy value dominates regardless of row counts;
    equal unit weights reduce to the ordinary lower median; a single-value
    group returns that value."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        grouped_weighted_median,
    )
    from pyspark.sql import functions as F

    rows = (
        # g1: x=1 w=1, x=2 w=1, x=100 w=10 -> total 12, median where cum*2>=12 -> 100
        [("g1", 1, 1), ("g1", 2, 1), ("g1", 100, 10)]
        # g2: unit weights over 1..4 -> cum at 2 is 2, 2*2>=4 -> lower median 2
        + [("g2", x, 1) for x in (1, 2, 3, 4)]
        + [("g3", 7, 3)]
    )
    df = spark.createDataFrame(rows, "g string, x long, w long")
    got = {
        r["g"]: (r["total_w"], r["wmedian"])
        for r in grouped_weighted_median(df, "g", F.col("x"), F.col("w")).collect()
    }
    assert got == {"g1": (12, 100), "g2": (4, 2), "g3": (3, 7)}


def test_k_anonymity_audit_counts_risky_classes(spark):
    """Classes below k are counted with their row totals; a unique row
    drives min_class_size to 1 and fails the gate; a uniformly large
    table passes."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.validation import k_anonymity_audit

    rows = [("a", 1)] * 6 + [("a", 2)] * 3 + [("b", 1)] * 1
    df = spark.createDataFrame(rows, "q1 string, q2 int")
    r = k_anonymity_audit(df, ["q1", "q2"], k=5).collect()[0]
    assert (r["n_classes"], r["n_risky_classes"], r["rows_at_risk"]) == (3, 2, 4)
    assert r["min_class_size"] == 1 and r["k_anonymous"] == 0
    ok = spark.createDataFrame([("a", 1)] * 7 + [("b", 2)] * 5, "q1 string, q2 int")
    r2 = k_anonymity_audit(ok, ["q1", "q2"], k=5).collect()[0]
    assert r2["k_anonymous"] == 1 and r2["n_risky_classes"] == 0


def test_compaction_plan_bins_and_bound(spark):
    """Files bin by cumulative start DIV target in (bytes DESC, path)
    order; every bucket total is within target + max_file; totals are
    conserved; an oversized single file gets its own bucket and still
    satisfies the bound."""
    from simple_pos_kafka_pyspark_airflow_spark.analyze import compaction_plan

    rows = [("big", 250), ("m1", 90), ("m2", 90), ("s1", 40), ("s2", 40), ("s3", 10)]
    df = spark.createDataFrame(rows, "f string, b long")
    out = {r["bucket"]: r for r in compaction_plan(df, "f", "b", 100).collect()}
    # order: big(start 0), m1(250), m2(340), s1(430), s2(470), s3(510)
    # buckets: 0,2,3,4,4,5
    assert {b: out[b]["n_files"] for b in sorted(out)} == {0: 1, 2: 1, 3: 1, 4: 2, 5: 1}
    assert sum(r["total_bytes"] for r in out.values()) == 520
    assert all(r["within_bound"] == 1 for r in out.values())


def test_grouped_linreg2_exact_matches_numpy(spark):
    """Cramer-determinant two-feature OLS equals numpy lstsq to 1e-9;
    collinear features yield NULL coefficients (det M = 0), never a
    crash or a garbage division."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        grouped_linreg2_exact,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(13)
    x1 = rng.randint(1, 50, 250)
    x2 = rng.randint(0, 11, 250)
    y = 7 + 3 * x1 - 2 * x2 + rng.randint(-5, 6, 250)
    rows = [("g", int(a), int(b), int(c)) for a, b, c in zip(x1, x2, y)]
    rows += [("coll", int(a), int(2 * a), int(a + 1)) for a in x1[:40]]
    df = spark.createDataFrame(rows, "grp string, x1 long, x2 long, y long")
    got = {
        r["grp"]: r
        for r in grouped_linreg2_exact(
            df, "grp", F.col("x1"), F.col("x2"), F.col("y")
        ).collect()
    }
    A = np.column_stack([np.ones(len(x1)), x1, x2]).astype("float64")
    beta = np.linalg.lstsq(A, y.astype("float64"), rcond=None)[0]
    assert abs(got["g"]["b0"] - beta[0]) < 1e-9
    assert abs(got["g"]["b1"] - beta[1]) < 1e-9
    assert abs(got["g"]["b2"] - beta[2]) < 1e-9
    assert int(got["g"]["det_m_str"]) > 0
    assert got["coll"]["b0"] is None and got["coll"]["b1"] is None
    assert int(got["coll"]["det_m_str"]) == 0


@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(1, 20)),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_weighted_median_properties(spark, pairs):
    """(a) Unit weights reduce the weighted median to the ordinary lower
    median; (b) the weighted median is a python-oracle match on arbitrary
    positive weights; (c) scaling all weights by a constant leaves it
    unchanged."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        grouped_weighted_median,
    )
    from pyspark.sql import functions as F

    def py_wmedian(ps):
        tot = sum(w for _, w in ps)
        cum = 0
        for x, w in sorted(ps):
            cum += w
            if 2 * cum >= tot:
                return x

    df = spark.createDataFrame([("g", x, w) for x, w in pairs], "g string, x long, w long")
    got = grouped_weighted_median(df, "g", F.col("x"), F.col("w")).collect()[0]
    assert got["wmedian"] == py_wmedian(pairs)
    unit = spark.createDataFrame([("g", x, 1) for x, _ in pairs], "g string, x long, w long")
    gu = grouped_weighted_median(unit, "g", F.col("x"), F.lit(1)).collect()[0]
    assert gu["wmedian"] == py_wmedian([(x, 1) for x, _ in pairs])
    scaled = spark.createDataFrame(
        [("g", x, 7 * w) for x, w in pairs], "g string, x long, w long"
    )
    gs = grouped_weighted_median(scaled, "g", F.col("x"), F.col("w")).collect()[0]
    assert gs["wmedian"] == got["wmedian"]


@given(
    st.lists(st.integers(1, 500), min_size=1, max_size=25),
    st.integers(50, 300),
)
@SETTINGS
def test_compaction_plan_properties(spark, sizes, target):
    """Conservation (every byte lands in exactly one bucket), the
    target+max bound on every bucket, and bucket-id contiguity from 0."""
    from simple_pos_kafka_pyspark_airflow_spark.analyze import compaction_plan

    rows = [(f"f{i:03d}", b) for i, b in enumerate(sizes)]
    df = spark.createDataFrame(rows, "f string, b long")
    out = compaction_plan(df, "f", "b", target).collect()
    assert sum(r["total_bytes"] for r in out) == sum(sizes)
    assert sum(r["n_files"] for r in out) == len(sizes)
    assert all(r["within_bound"] == 1 for r in out)
    ids = sorted(r["bucket"] for r in out)
    assert ids[0] == 0 and ids == sorted(set(ids))


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[1],
    )
)
@SETTINGS
def test_ndcg_bounds_and_perfect_ranking(spark, docs):
    """nDCG ∈ (0, 1] whenever any relevance is positive (NULL otherwise),
    and ranking BY relevance itself always achieves exactly 1.0."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import ndcg_at_k
    from pyspark.sql import functions as F

    rows = [("q", d, rel, float(rel)) for rel, d in docs]
    df = spark.createDataFrame(rows, "q string, d long, r long, s double")
    got = ndcg_at_k(df, "q", "d", F.col("r"), F.col("s")).collect()[0]
    if all(rel == 0 for rel, _ in docs):
        assert got["ndcg"] is None
    else:
        # score == rel ranks the run like the ideal, except ties broken by
        # doc id on the SAME key both sides -> identical order -> ndcg 1
        assert got["ndcg"] == 1.0


def test_new_operators_null_discipline(spark):
    """NULL hardening on the r10 wave: weighted median drops NULL
    values/weights (NULL must never reach the cross-engine value
    ordering); path mining never promotes a NULL-containing fragment
    into a counted path; NDCG treats NULL relevance as unjudged
    (gain 0) instead of poisoning the query's integer sum."""
    import datetime as dt

    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import ndcg_at_k
    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        grouped_weighted_median,
    )
    from simple_pos_kafka_pyspark_airflow_spark.operators.timeseries import top_event_paths

    wm = spark.createDataFrame(
        [("g", 1, 1), ("g", None, 100), ("g", 3, None), ("g", 5, 1)],
        "g string, x long, w long",
    )
    r = grouped_weighted_median(wm, "g", F.col("x"), F.col("w")).collect()[0]
    assert (r["total_w"], r["wmedian"]) == (2, 1)  # only (1,1) and (5,1) count

    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, t0, "a", 0), (1, dt.datetime(2024, 1, 2), None, 1),
         (1, dt.datetime(2024, 1, 3), "b", 2), (1, dt.datetime(2024, 1, 4), "c", 3),
         (1, dt.datetime(2024, 1, 5), "d", 4)],
        "k int, ts timestamp, et string, eid long",
    )
    got = {r["path"] for r in top_event_paths(ev, "k", "ts", "et", "eid").collect()}
    # windows touching the NULL row ('a,NULL,b' and 'NULL,b,c') are out
    assert got == {"b>c>d"}

    nd = spark.createDataFrame(
        [("q", 1, 3, 9.0), ("q", 2, None, 8.0), ("q", 3, 1, 7.0)],
        "q string, d long, r long, s double",
    )
    row = ndcg_at_k(nd, "q", "d", F.col("r"), F.col("s")).collect()[0]
    # run: rel (3, unjudged->0, 1); ideal: (3, 1, 0) — the sums stay
    # integer (no NULL poisoning) and the metric is the exact ratio
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import NDCG_WEIGHTS_10 as W

    assert row["dcg_scaled"] == 7 * W[0] + 0 * W[1] + 1 * W[2]
    assert row["idcg_scaled"] == 7 * W[0] + 1 * W[1]
    assert row["ndcg"] == row["dcg_scaled"] / row["idcg_scaled"]


def test_retrieval_metrics_at_k_hand_ranked(spark):
    """MRR = 1/first-relevant-rank under the (score DESC, doc) order;
    recall@k counts only top-k hits; a query with no relevant docs gets
    NULL metrics; NULL relevance = not relevant."""
    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import retrieval_metrics_at_k

    rows = [
        # q1: ranks 1..4 = rel (0, 1, 0, 1): first at 2, hits 2, n_rel 2
        ("q1", 1, 0, 9.0), ("q1", 2, 1, 8.0), ("q1", 3, None, 7.0), ("q1", 4, 2, 6.0),
        # q2: nothing relevant
        ("q2", 1, 0, 5.0), ("q2", 2, None, 4.0),
    ]
    df = spark.createDataFrame(rows, "q string, d long, r long, s double")
    got = {
        r["query"]: r
        for r in retrieval_metrics_at_k(df, "q", "d", F.col("r"), F.col("s"), k=2).collect()
    }
    r1 = got["q1"]
    assert (r1["first_rel_rank"], r1["hits_at_k"], r1["n_rel"]) == (2, 1, 2)
    assert r1["mrr"] == 0.5 and r1["recall_at_k"] == 0.5
    r2 = got["q2"]
    assert r2["first_rel_rank"] is None and r2["mrr"] is None and r2["recall_at_k"] is None


def test_grouped_spearman_matches_scipy_formula(spark):
    """Exact doubled-mid-rank Spearman equals the textbook Pearson-on-
    average-ranks (computed in numpy with scipy-style tie handling) to
    1e-12; an all-tied side yields NULL; a perfect monotone relation
    scores exactly 1.0."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        grouped_spearman_exact,
    )
    from pyspark.sql import functions as F

    def avg_ranks(v):
        order = np.argsort(v, kind="stable")
        ranks = np.empty(len(v), dtype="float64")
        sv = np.array(v)[order]
        i = 0
        while i < len(sv):
            j = i
            while j < len(sv) and sv[j] == sv[i]:
                j += 1
            ranks[order[i:j]] = (i + 1 + j) / 2.0
            i = j
        return ranks

    rng = np.random.RandomState(17)
    x = rng.randint(1, 20, 200)  # heavy ties
    y = x * 3 + rng.randint(-8, 9, 200)
    rows = [("g", int(a), int(b)) for a, b in zip(x, y)]
    rows += [("mono", i, i * i) for i in range(1, 30)]  # perfect monotone
    rows += [("flat", 4, int(v)) for v in rng.randint(1, 9, 15)]  # x all tied
    df = spark.createDataFrame(rows, "grp string, x long, y long")
    got = {
        r["grp"]: r["spearman"]
        for r in grouped_spearman_exact(df, "grp", F.col("x"), F.col("y")).collect()
    }
    rx, ry = avg_ranks(x), avg_ranks(y)
    expect = np.corrcoef(rx, ry)[0, 1]
    assert abs(got["g"] - expect) < 1e-12
    assert got["mono"] == 1.0
    assert got["flat"] is None


def test_mannwhitney_matches_direct_rank_computation(spark):
    """The lattice-derived U and tie-corrected z equal an independent
    direct-rank computation (numpy mid-ranks over raw rows — a different
    algorithm than the operator's value-count window); an empty cohort
    and an all-tied pool yield NULL z."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        mannwhitney_utest_exact,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(23)
    a = rng.randint(10, 60, 70)   # heavy ties on a small lattice
    b = rng.randint(25, 80, 55)
    rows = [("A", int(v)) for v in a] + [("B", int(v)) for v in b]
    df = spark.createDataFrame(rows, "cohort string, x long")
    got = mannwhitney_utest_exact(df, "cohort", "A", "B", F.col("x")).collect()[0]

    pooled = np.concatenate([a, b]).astype("float64")
    order = np.argsort(pooled, kind="stable")
    ranks = np.empty(len(pooled))
    sp = pooled[order]
    i = 0
    while i < len(sp):
        j = i
        while j < len(sp) and sp[j] == sp[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0
        i = j
    na, nb = len(a), len(b)
    ra = ranks[:na].sum()
    u = ra - na * (na + 1) / 2.0
    _, counts = np.unique(pooled, return_counts=True)
    T = float((counts**3 - counts).sum())
    n = na + nb
    var = na * nb / 12.0 * ((n + 1) - T / (n * (n - 1)))
    z = (u - na * nb / 2.0) / var**0.5
    assert got["u2_a"] == int(round(2 * u))
    assert got["tie_cubes"] == int(T)
    assert abs(got["z_stat"] - z) < 1e-9

    empty = spark.createDataFrame([("B", 1), ("B", 5)], "cohort string, x long")
    r2 = mannwhitney_utest_exact(empty, "cohort", "A", "B", F.col("x")).collect()[0]
    assert r2["z_stat"] is None
    tied = spark.createDataFrame([("A", 7)] * 4 + [("B", 7)] * 3, "cohort string, x long")
    r3 = mannwhitney_utest_exact(tied, "cohort", "A", "B", F.col("x")).collect()[0]
    assert r3["z_stat"] is None  # zero variance: X = (t^3 - t) exhausts n^3 - n


def test_benford_audit_digits_and_exclusions(spark):
    """First digits come from the decimal string (127 -> 1, 905 -> 9);
    zeros, NULLs are excluded; negatives audit by magnitude; counts are
    conserved and deviations use the literal share grid."""
    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.operators.validation import (
        BENFORD_SHARES_E9,
        benford_audit,
    )

    df = spark.createDataFrame(
        [(127,), (905,), (1,), (19999,), (-305,), (0,), (None,)], "c long"
    )
    rows = {r["digit"]: r for r in benford_audit(df, F.col("c")).collect()}
    assert {d: rows[d]["n_d"] for d in sorted(rows)} == {1: 3, 3: 1, 9: 1}
    assert all(r["n"] == 5 for r in rows.values())
    r1 = rows[1]
    assert r1["expected_e9"] == BENFORD_SHARES_E9[0]
    assert r1["dev_e9"] == 3.0 * 1e9 / 5.0 - float(BENFORD_SHARES_E9[0])


def test_cuped_adjust_matches_formula_and_reduces_variance(spark):
    """theta and adjusted means equal the numpy textbook computation; with
    a covariate proportional to the metric's noise, the adjusted
    between-cohort difference moves toward the TRUE effect; zero
    covariate variance yields NULL (never a silent raw-mean fallback)."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import (
        cuped_adjust_exact,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(29)
    n = 400
    x = rng.randint(50, 500, n)                      # pre-period covariate
    noise = x * 2 + rng.randint(-20, 21, n)          # correlated noise
    cohort = np.array(["a", "b"])[rng.randint(0, 2, n)]
    true_effect = 37
    y = noise + np.where(cohort == "a", true_effect, 0)
    rows = [(str(c), int(a), int(b)) for c, a, b in zip(cohort, x, y)]
    df = spark.createDataFrame(rows, "cohort string, x long, y long")
    got = cuped_adjust_exact(df, "cohort", "a", "b", F.col("x"), F.col("y")).collect()[0]

    theta = np.cov(x, y, bias=True)[0, 1] / np.var(x)
    assert abs(got["theta"] - theta) < 1e-9
    ma = y[cohort == "a"].mean() - theta * (x[cohort == "a"].mean() - x.mean())
    mb = y[cohort == "b"].mean() - theta * (x[cohort == "b"].mean() - x.mean())
    assert abs(got["adj_mean_a"] - ma) < 1e-9
    assert abs(got["adj_mean_b"] - mb) < 1e-9
    raw_diff = y[cohort == "a"].mean() - y[cohort == "b"].mean()
    assert abs(got["adj_diff"] - true_effect) <= abs(raw_diff - true_effect) + 1e-9

    flat = spark.createDataFrame(
        [("a", 5, 10), ("a", 5, 12), ("b", 5, 20)], "cohort string, x long, y long"
    )
    r = cuped_adjust_exact(flat, "cohort", "a", "b", F.col("x"), F.col("y")).collect()[0]
    assert r["theta"] is None and r["adj_mean_a"] is None and r["adj_diff"] is None


def test_key_skew_report_buckets_exact(spark):
    """Keys land in the log2 bucket of their row count via the exact
    power-of-two comparison chain (1 -> b0, 2,3 -> b1, 4..7 -> b2, ...);
    totals conserve the fact rows."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.aggregates import key_skew_report

    rows = (
        [("k1", 0)] * 1 + [("k2", 0)] * 2 + [("k3", 0)] * 3
        + [("k4", 0)] * 8 + [("k5", 0)] * 100
    )
    df = spark.createDataFrame(rows, "k string, x int")
    got = {r["bucket"]: r for r in key_skew_report(df, "k").collect()}
    assert {b: (got[b]["n_keys"], got[b]["rows"]) for b in sorted(got)} == {
        0: (1, 1), 1: (2, 5), 3: (1, 8), 6: (1, 100)
    }
    assert got[6]["max_rows"] == 100
    assert sum(r["rows"] for r in got.values()) == len(rows)


def test_backtest_naive_forecasts_fair_day_set(spark):
    """Errors score only days where BOTH lags exist; a perfectly weekly
    series gives seasonal MAE 0 while naive-1 stays positive."""
    import datetime as dt

    from simple_pos_kafka_pyspark_airflow_spark.operators.timeseries import (
        backtest_naive_forecasts,
    )

    # 21 days of perfect weekly pattern: value = day-of-week * 10
    rows = [
        ("k", dt.date(2024, 1, d), ((d - 1) % 7) * 10) for d in range(1, 22)
    ]
    df = spark.createDataFrame(rows, "k string, day date, v long")
    got = backtest_naive_forecasts(df, "k", "day", "v", season=7).collect()[0]
    # days 8..21 have both d-7 and d-1: 14 scored days
    assert got["n_days"] == 14
    assert got["sae_seasonal"] == 0 and got["mae_seasonal"] == 0.0
    assert got["sae_naive1"] > 0


def test_common_neighbor_scores_known_graph(spark):
    """Path graph 1-2-3-4 plus edge 2-5: non-adjacent pairs scored by
    shared neighbors; adjacent pairs never appear; PA score = deg*deg."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.graph import (
        common_neighbor_scores,
        undirected_edges,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5)], "src int, dst int"
    )
    und = undirected_edges(edges)
    got = {(r["a"], r["b"]): (r["common"], r["pa_score"])
           for r in common_neighbor_scores(und, k=10).collect()}
    # neighbors: 1:{2} 2:{1,3,5} 3:{2,4} 4:{3} 5:{2}
    assert got[(1, 3)] == (1, 1 * 2)   # via 2
    assert got[(3, 5)] == (1, 2 * 1)   # via 2
    assert got[(1, 5)] == (1, 1 * 1)   # via 2
    assert got[(2, 4)] == (1, 3 * 1)   # via 3
    assert (1, 2) not in got and (2, 3) not in got  # adjacent pairs excluded


def test_l_diversity_audit_catches_homogeneous_class(spark):
    """A class that is large (k-anonymous) but sensitive-homogeneous
    fails l-diversity; a diverse table passes; rows_at_risk counts the
    homogeneous class's full size."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.validation import (
        l_diversity_audit,
    )

    # class A: 6 rows, all sensitive=X (k-anonymous at k=5, yet exposed)
    # class B: 4 rows over 3 sensitive values
    rows = [("A", "X")] * 6 + [("B", "X"), ("B", "Y"), ("B", "Z"), ("B", "Y")]
    df = spark.createDataFrame(rows, "q string, s string")
    r = l_diversity_audit(df, ["q"], "s", l=3).collect()[0]
    assert (r["n_classes"], r["n_low_diversity"], r["rows_at_risk"]) == (2, 1, 6)
    assert r["min_diversity"] == 1 and r["l_diverse"] == 0
    ok = spark.createDataFrame(
        [("A", s) for s in "XYZ"] + [("B", s) for s in "XYZW"], "q string, s string"
    )
    r2 = l_diversity_audit(ok, ["q"], "s", l=3).collect()[0]
    assert r2["l_diverse"] == 1 and r2["n_low_diversity"] == 0


# (key, x) frames with heavy value collisions and negatives — the rank
# operator's hard cases (tie groups straddling bucket boundaries)
rank_rows_strategy = st.lists(
    st.integers(-7, 7),  # tiny value domain forces ties
    min_size=1,
    max_size=40,
).map(lambda xs: [(i, x) for i, x in enumerate(xs)])


@given(rank_rows_strategy, st.booleans(), st.integers(1, 9))
@SETTINGS
def test_distributed_rank_matches_python_oracle(spark, rows, desc, n_buckets):
    """distributed_total_rank == a plain-Python sort, for every bucket
    count (1 bucket = everything in one range; 9 buckets on a 15-value
    domain = near-one-value-per-bucket) and both directions."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.order import (
        distributed_total_rank,
    )

    order = sorted(rows, key=lambda kv: ((-kv[1]) if desc else kv[1], kv[0]))
    want = {}
    cum = 0
    for rank0, (k, x) in enumerate(order):
        cum += x
        want[k] = (rank0 + 1, cum)
    df = spark.createDataFrame(rows, "key int, x long")
    got = distributed_total_rank(
        df, F.col("x"), F.col("key"), descending=desc, n_buckets=n_buckets
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert (r["rank"], r["cum"]) == want[r["key"]], (r, desc, n_buckets)


# (group, text) corpora for the excision twins: a tiny vocabulary so spans
# and lines repeat across documents, NULL texts and NULL groups included
excision_corpus = st.lists(
    st.tuples(
        st.sampled_from([None, "a", "b"]),
        st.one_of(st.none(), st.text(alphabet="xy z\n", min_size=0, max_size=24)),
    ),
    min_size=0,
    max_size=7,
)


def _excision_frame(spark, corpus):
    return spark.createDataFrame(
        [(i, g, t) for i, (g, t) in enumerate(corpus)],
        "doc_id long, source string, text string",
    )


def _keyed(df, text_col, n_col):
    """``{doc_id: (text, count)}`` plus the two columns' types."""
    rows = {r["doc_id"]: (r[text_col], r[n_col]) for r in df.collect()}
    types = dict(df.dtypes)
    return rows, (types[text_col], types[n_col])


@given(excision_corpus, st.sampled_from([None, "\n"]))
@SETTINGS
def test_boilerplate_span_dedup_matches_python_oracle(spark, corpus, delimiter):
    """A span (fixed 2-token window, or a non-empty ``delimiter`` piece)
    shared by ≥ 2 documents is cut from every one of them; survivors keep
    their order; a document with no spans comes back as ('', 0)."""
    df = _excision_frame(spark, corpus)
    got, _ = _keyed(
        dedup.boilerplate_span_dedup(df, "text", "doc_id", 2, 2, delimiter),
        "text_clean", "n_dropped",
    )

    def spans(t):
        if t is None:
            return []
        if delimiter is not None:
            return [s for s in t.split(delimiter) if s]
        toks = t.split()
        return [" ".join(toks[j : j + 2]) for j in range(0, len(toks), 2)]

    segs = {i: spans(t) for i, (_, t) in enumerate(corpus)}
    n_docs: dict[str, int] = {}
    for ss in segs.values():
        for s in set(ss):
            n_docs[s] = n_docs.get(s, 0) + 1
    joiner = delimiter if delimiter is not None else " "
    want = {}
    for i, ss in segs.items():
        kept = [s for s in ss if n_docs[s] < 2]
        want[i] = (joiner.join(kept), len(ss) - len(kept))
    assert got == want


@given(excision_corpus)
@SETTINGS
def test_excision_batch_operators_equal_their_indexes_first_batch(
    spark, tmp_path_factory, corpus
):
    """Each incremental excision index, fed one batch on a fresh path, is
    its batch operator over that batch: same rows and same column types,
    for the span tiers (token windows and ``delimiter`` lines), the
    common-line tiers (NULL-group documents pass through both) and the
    exact-substring tiers."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import strip_common_lines
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalLineIndex,
        IncrementalSpanIndex,
        IncrementalSubstringIndex,
    )

    df = _excision_frame(spark, corpus)
    root = tmp_path_factory.mktemp("excision_twin")
    for delimiter in (None, "\n"):
        idx = IncrementalSpanIndex(
            spark, str(root / f"span_{delimiter is None}"), span_tokens=2, min_docs=2,
            delimiter=delimiter,
        )
        batch = dedup.boilerplate_span_dedup(df, "text", "doc_id", 2, 2, delimiter)
        assert _keyed(idx.clean_batch(df, 0), "text_clean", "n_dropped") == _keyed(
            batch, "text_clean", "n_dropped"
        )

    line = IncrementalLineIndex(spark, str(root / "line"), min_docs=2)
    got = line.clean_batch(df, 0)
    want = strip_common_lines(df, min_docs=2)
    want_rows = _keyed(want, "text", "n_dropped")
    assert _keyed(got, "text_clean", "n_dropped") == want_rows
    assert {r["doc_id"]: r["source"] for r in got.collect()} == {
        r["doc_id"]: r["source"] for r in want.collect()
    }
    for i, (g, t) in enumerate(corpus):
        if g is None:
            assert want_rows[0][i] == (t or "", 0)

    sub = IncrementalSubstringIndex(spark, str(root / "substr"), min_len=2)
    assert _keyed(sub.clean_batch(df, 0), "text_clean", "n_removed") == _keyed(
        dedup.exact_substring_dedup(df, min_len=2), "text_clean", "n_removed"
    )
