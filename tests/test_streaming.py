"""Streaming layer tests (SURVEY.md §2.9, M5).

Strategy per SURVEY §5: real Structured Streaming runs over file sources
with ``Trigger.AvailableNow`` (the in-container substitute for Kafka — the
parse/merge/window plans are source-agnostic), plus direct unit tests of
the batch-equivalent transforms and the GroupState functions via
``FakeGroupState``. A property test replays random add/edit/remove
sequences against a dict oracle — mirroring the reference's 9-topic CDC
semantics (kafka_consumer.py) without its single-thread constraint.
"""

from __future__ import annotations

import datetime
import json
import os
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from simple_pos_kafka_pyspark_airflow_spark.streaming import cdc, ingest, state, windows

SALES_SCHEMA = "sale_id long, customer_id long, quantity int, price double, sale_date string"


# ---------------------------------------------------------------------------
# ingest: JSON parse (T1/S4) — batch and stream share the plan
# ---------------------------------------------------------------------------


def test_parse_json_events_typed_and_corrupt(spark):
    rows = [
        ('{"sale_id": 1, "customer_id": 7, "quantity": 2, "price": 9.5, "sale_date": "2026-01-01 10:00:00"}',),
        ("not json at all",),
    ]
    raw = spark.createDataFrame(rows, "value string")
    out = ingest.parse_json_events(raw, SALES_SCHEMA).collect()
    good = [r for r in out if r["_corrupt"] is None][0]
    bad = [r for r in out if r["_corrupt"] is not None][0]
    assert good["sale_id"] == 1 and good["price"] == 9.5
    assert bad["_corrupt"] == "not json at all" and bad["sale_id"] is None


def test_file_json_stream_available_now(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    for i in range(3):
        with open(src / f"f{i}.json", "w") as f:
            for j in range(10):
                f.write(
                    json.dumps(
                        {
                            "sale_id": i * 10 + j,
                            "customer_id": j % 3,
                            "quantity": 1,
                            "price": 2.0,
                            "sale_date": "2026-01-01 10:00:00",
                        }
                    )
                    + "\n"
                )
    stream = ingest.file_json_stream(spark, str(src), SALES_SCHEMA)
    assert stream.isStreaming
    sink = tmp_path / "sink"
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.schema(SALES_SCHEMA).parquet(str(sink))
    assert got.count() == 30
    assert set(r.sale_id for r in got.collect()) == set(range(30))


# ---------------------------------------------------------------------------
# cdc: last-write-wins batch apply + end-to-end foreachBatch (T6)
# ---------------------------------------------------------------------------


def test_apply_cdc_batch_upsert_delete_ordering(spark):
    table = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, name string, bal double"
    )
    events = spark.createDataFrame(
        [
            (1, "a2", 11.0, "upsert", 100),
            (1, "a3", 12.0, "upsert", 200),  # later event wins
            (2, None, None, "delete", 150),
            (4, "d", 40.0, "upsert", 120),
            (4, None, None, "delete", 90),  # earlier than the upsert -> upsert wins
        ],
        f"id long, name string, bal double, {cdc.OP_COL} string, seq long",
    )
    out = cdc.apply_cdc_batch(table, events, pk="id", order_col="seq")
    got = {r["id"]: (r["name"], r["bal"]) for r in out.collect()}
    assert got == {1: ("a3", 12.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_parquet_cdc_sink_stream(spark, tmp_path):
    src = tmp_path / "cdc_events"
    src.mkdir()
    schema = "id long, name string, bal double"
    ev_schema = f"id long, name string, bal double, {cdc.OP_COL} string, seq long"
    with open(src / "batch1.json", "w") as f:
        f.write(json.dumps({"id": 1, "name": "a", "bal": 1.0, cdc.OP_COL: "upsert", "seq": 1}) + "\n")
        f.write(json.dumps({"id": 2, "name": "b", "bal": 2.0, cdc.OP_COL: "upsert", "seq": 2}) + "\n")
        f.write(json.dumps({"id": 1, "name": "a2", "bal": 1.5, cdc.OP_COL: "upsert", "seq": 3}) + "\n")
        f.write(json.dumps({"id": 2, "name": None, "bal": None, cdc.OP_COL: "delete", "seq": 4}) + "\n")
    sink = cdc.ParquetCdcSink(
        spark, str(tmp_path / "warehouse"), pk="id", order_col="seq", schema=schema
    )
    q = (
        ingest.file_json_stream(spark, str(src), ev_schema)
        .writeStream.foreachBatch(sink.foreach_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["id"]: (r["name"], r["bal"]) for r in sink.read().collect()}
    assert got == {1: ("a2", 1.5)}


def test_scd2_cdc_sink_versions_history_under_stream(spark, tmp_path):
    """The streaming warehouse keeps SCD2 history: add/edit/remove events
    drained through real micro-batches produce the exact hand-computed
    version chain, a restating event opens NO new version, and replaying a
    micro-batch (crash recovery) leaves both tables unchanged."""
    src = tmp_path / "cdc_events"
    src.mkdir()
    schema = "id long, name string, bal double"
    ev_schema = f"id long, name string, bal double, {cdc.OP_COL} string, ts timestamp"

    def w(f, id, name, bal, op, ts):
        f.write(json.dumps(
            {"id": id, "name": name, "bal": bal, cdc.OP_COL: op, "ts": ts}) + "\n")

    sink = cdc.ScdParquetCdcSink(
        spark, str(tmp_path / "warehouse"), str(tmp_path / "history"),
        pk="id", order_col="ts", schema=schema,
    )

    def drain():  # one AvailableNow pass over files not yet checkpointed
        q = (
            ingest.file_json_stream(spark, str(src), ev_schema)
            .writeStream.foreachBatch(sink.foreach_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt_scd"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # sequential drains pin the batch order (a single multi-file drain may
    # group or reorder files — irrelevant in production where the version
    # clock orders events, but this test pins exact valid_from values)
    with open(src / "batch1.json", "w") as f:
        w(f, 1, "a", 1.0, "upsert", "2026-01-01T10:00:00Z")
        w(f, 2, "b", 2.0, "upsert", "2026-01-01T11:00:00Z")
    drain()
    with open(src / "batch2.json", "w") as f:
        w(f, 1, "a2", 1.5, "upsert", "2026-01-02T10:00:00Z")   # edit
        w(f, 2, None, None, "delete", "2026-01-02T11:00:00Z")  # remove
        w(f, 3, "c", 3.0, "upsert", "2026-01-02T12:00:00Z")    # add
    drain()
    with open(src / "batch3.json", "w") as f:
        w(f, 3, "c", 3.0, "upsert", "2026-01-03T10:00:00Z")    # restates current value
    drain()

    assert {r["id"]: (r["name"], r["bal"]) for r in sink.read().collect()} == {
        1: ("a2", 1.5), 3: ("c", 3.0)
    }

    def ts(s):
        import datetime
        return datetime.datetime.fromisoformat(s)

    def chain():
        return sorted(
            (
                (r["id"], r["name"], r["bal"],
                 r["valid_from"].isoformat(), r["valid_to"].isoformat() if r["valid_to"] else None)
                for r in sink.read_history().collect()
            )
        )

    expected = sorted([
        (1, "a", 1.0, ts("2026-01-01 10:00:00").isoformat(), ts("2026-01-02 10:00:00").isoformat()),
        (1, "a2", 1.5, ts("2026-01-02 10:00:00").isoformat(), None),
        (2, "b", 2.0, ts("2026-01-01 11:00:00").isoformat(), ts("2026-01-02 11:00:00").isoformat()),
        # batch 3 restated (3, c, 3.0): snapshot-diff is empty, so NO new
        # version — valid_from stays the ORIGINAL change time
        (3, "c", 3.0, ts("2026-01-02 12:00:00").isoformat(), None),
    ])
    assert chain() == expected

    # replay batch 2 (simulates foreachBatch redelivery after a crash):
    # decisions are diff-based + (pk, valid_from)-guarded, so both the
    # snapshot and the version chain are unchanged
    replay = spark.createDataFrame(
        [
            (1, "a2", 1.5, "upsert", ts("2026-01-02 10:00:00")),
            (2, None, None, "delete", ts("2026-01-02 11:00:00")),
            (3, "c", 3.0, "upsert", ts("2026-01-02 12:00:00")),
        ],
        ev_schema,
    )
    sink.foreach_batch(replay, 1)
    assert chain() == expected
    assert {r["id"] for r in sink.read().collect()} == {1, 3}


def test_cdc_property_random_replay_vs_dict_oracle(spark):
    """Random add/edit/remove sequences: engine state == dict-replay oracle
    (SURVEY §5 item 4)."""
    rng = random.Random(42)
    oracle: dict[int, float] = {}
    events = []
    for seq in range(300):
        k = rng.randrange(20)
        if rng.random() < 0.25 and k in oracle:
            events.append((k, None, "delete", seq))
            del oracle[k]
        else:
            v = round(rng.uniform(0, 100), 2)
            events.append((k, v, "upsert", seq))
            oracle[k] = v
    table = spark.createDataFrame([], "id long, bal double")
    ev = spark.createDataFrame(events, f"id long, bal double, {cdc.OP_COL} string, seq long")
    # apply in 3 chunks to exercise multi-batch convergence
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        table = cdc.apply_cdc_batch(
            table, ev.where((F.col("seq") >= lo) & (F.col("seq") < hi)), "id", "seq"
        )
    got = {r["id"]: r["bal"] for r in table.collect()}
    assert got == oracle


# ---------------------------------------------------------------------------
# state: GroupState transforms (T2/T3) via FakeGroupState
# ---------------------------------------------------------------------------


def test_update_stock_decrements_and_persists():
    st = state.FakeGroupState()
    out1 = list(
        state.update_stock(
            (7,), [pd.DataFrame({"quantity": [3.0, 2.0], "initial_stock": [50.0, None]})], st
        )
    )[0]
    assert out1["stock_level"].iloc[0] == 45.0
    out2 = list(state.update_stock((7,), [pd.DataFrame({"quantity": [5.0]})], st))[0]
    assert out2["stock_level"].iloc[0] == 40.0
    assert st.get == (40.0, True)


def test_update_stock_late_seed_applies_retroactively():
    """A key whose FIRST processed events are sales (stream started
    mid-topic, seed event in a later micro-batch) must not lose its
    initial stock: the level goes negative, then the late seed applies
    additively — and only once."""
    st = state.FakeGroupState()
    out1 = list(state.update_stock((7,), [pd.DataFrame({"quantity": [3.0]})], st))[0]
    assert out1["stock_level"].iloc[0] == -3.0
    assert st.get == (-3.0, False)
    out2 = list(
        state.update_stock(
            (7,), [pd.DataFrame({"quantity": [2.0], "initial_stock": [100.0]})], st
        )
    )[0]
    assert out2["stock_level"].iloc[0] == 95.0  # -3 + 100 - 2
    # a later (bogus/duplicate) seed is ignored once seeded
    out3 = list(
        state.update_stock(
            (7,), [pd.DataFrame({"quantity": [5.0], "initial_stock": [100.0]})], st
        )
    )[0]
    assert out3["stock_level"].iloc[0] == 90.0
    assert st.get == (90.0, True)


def test_assign_ids_dense_and_monotonic_across_batches():
    st = state.FakeGroupState()
    out1 = list(state.assign_ids(("__global__",), [pd.DataFrame({"event_key": [11, 10, 12]})], st))[0]
    assert list(out1["assigned_id"]) == [1, 2, 3]
    assert list(out1["event_key"]) == [10, 11, 12]  # deterministic order
    out2 = list(state.assign_ids(("__global__",), [pd.DataFrame({"event_key": [20]})], st))[0]
    assert list(out2["assigned_id"]) == [4]
    assert st.get == (4,)


def test_stock_stream_end_to_end(spark, tmp_path):
    """applyInPandasWithState on a real stream: per-product running stock."""
    src = tmp_path / "stock_events"
    src.mkdir()
    with open(src / "sales.json", "w") as f:
        for pid, qty, init in [(1, 3, 100.0), (1, 2, None), (2, 5, 50.0)]:
            f.write(json.dumps({"product_id": pid, "quantity": float(qty), "initial_stock": init}) + "\n")
    stream = ingest.file_json_stream(
        spark, str(src), "product_id long, quantity double, initial_stock double"
    )
    q = (
        state.stock_stream(stream.groupBy("product_id"))
        .writeStream.format("memory")
        .queryName("stock_levels")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["product_id"]: r["stock_level"] for r in spark.sql("SELECT * FROM stock_levels").collect()}
    assert got == {1: 95.0, 2: 45.0}


# ---------------------------------------------------------------------------
# windows: tumbling/sliding/session on batch (oracle-checked in contract
# suite) and dedup-with-watermark on a stream (T7)
# ---------------------------------------------------------------------------


def _ts_df(spark):
    rows = [
        (1, "2026-01-01 00:05:00", 1.0),
        (1, "2026-01-01 00:55:00", 2.0),
        (1, "2026-01-01 01:05:00", 4.0),
        (2, "2026-01-01 00:10:00", 8.0),
        (2, "2026-01-01 03:00:00", 16.0),
    ]
    return spark.createDataFrame(rows, "user_id long, ts string, v double").withColumn(
        "ts", F.to_timestamp("ts")
    )


def test_tumbling_agg_batch(spark):
    out = windows.tumbling_agg(
        _ts_df(spark), "ts", "1 hour", ["user_id"], [F.sum("v").alias("total")]
    )
    got = {(r["user_id"], str(r["window_start"])): r["total"] for r in out.collect()}
    assert got[(1, "2026-01-01 00:00:00")] == 3.0
    assert got[(1, "2026-01-01 01:00:00")] == 4.0
    assert got[(2, "2026-01-01 03:00:00")] == 16.0


def test_sliding_agg_batch(spark):
    out = windows.sliding_agg(
        _ts_df(spark), "ts", "2 hours", "1 hour", ["user_id"], [F.count("*").alias("n")]
    )
    # event at 01:05 belongs to windows starting 00:00 and 01:00
    got = {(r["user_id"], str(r["window_start"])): r["n"] for r in out.collect()}
    assert got[(1, "2026-01-01 00:00:00")] == 3
    assert got[(1, "2026-01-01 01:00:00")] == 1


def test_session_agg_batch(spark):
    out = windows.session_agg(
        _ts_df(spark), "ts", "30 minutes", ["user_id"], [F.count("*").alias("n")]
    )
    per_user = {}
    for r in out.collect():
        per_user.setdefault(r["user_id"], []).append(r["n"])
    # user 1: events at 00:05 / 00:55 / 01:05 chain into one session (gaps < 30m... 00:05->00:55 is 50m => two sessions: [00:05], [00:55,01:05])
    assert sorted(per_user[1]) == [1, 2]
    assert sorted(per_user[2]) == [1, 1]


def test_session_agg_stream_drains_merged_sessions(spark, tmp_path):
    """The NATIVE session-window operator on a real stream (T4/T8): a
    watermarked file stream drained with AvailableNow must emit exactly
    the sessions the batch form computes — merge at gap boundary, window
    end = last event + gap. This is the streaming half of the
    q_window_session_native plan-swap pair."""
    src = tmp_path / "sess_events"
    src.mkdir()
    rows = [
        (1, "2026-01-01 00:00:00"),
        (1, "2026-01-01 00:20:00"),   # merges (20m < 30m gap)
        (1, "2026-01-01 01:30:00"),   # new session (70m gap)
        (2, "2026-01-01 00:00:00"),
        # flush row: advances the watermark to 02:50, past every other
        # session's end, so append mode emits them; its OWN session stays
        # open and must be withheld — the late-data guarantee under test
        (99, "2026-01-01 03:00:00"),
    ]
    with open(src / "ev.json", "w") as f:
        for uid, ts in rows:
            f.write(json.dumps({"user_id": uid, "ts": ts}) + "\n")
    stream = ingest.file_json_stream(spark, str(src), "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = windows.session_agg(
        stream, "ts", "30 minutes", ["user_id"], [F.count("*").alias("n")],
        watermark="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["window_start"])): (str(r["window_end"]), r["n"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    assert got[(1, "2026-01-01 00:00:00")] == ("2026-01-01 00:50:00", 2)
    assert got[(1, "2026-01-01 01:30:00")] == ("2026-01-01 02:00:00", 1)
    assert got[(2, "2026-01-01 00:00:00")] == ("2026-01-01 00:30:00", 1)
    # the watermark (02:50) has not passed 03:30, so user 99's session is
    # still open: append mode must NOT have emitted it
    assert not any(uid == 99 for uid, _ in got)


def test_dedup_with_watermark_stream(spark, tmp_path):
    src = tmp_path / "dup_events"
    src.mkdir()
    with open(src / "ev.json", "w") as f:
        for sid, ts in [(1, "2026-01-01 00:00:00"), (1, "2026-01-01 00:00:00"), (2, "2026-01-01 00:01:00")]:
            f.write(json.dumps({"sale_id": sid, "ts": ts}) + "\n")
    stream = ingest.file_json_stream(spark, str(src), "sale_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    deduped = windows.dedup_with_watermark(stream, ["sale_id"], "ts", "1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sale_id FROM dedup_out").collect()
    assert sorted(r["sale_id"] for r in got) == [1, 2]


# ---------------------------------------------------------------------------
# the whole reference topology: 9 topics → routed CDC → 3-table warehouse
# ---------------------------------------------------------------------------


def test_pos_pipeline_end_to_end(spark, tmp_path):
    """All nine topics in one stream, drained with AvailableNow: final
    warehouse state must equal a per-entity dict replay."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming import pipeline

    src = tmp_path / "topics"
    src.mkdir()
    ev = [
        ("sales_add", {"sale_id": 1, "customer_id": 7, "quantity": 2, "price": 5.0}),
        ("sales_add", {"sale_id": 2, "customer_id": 8, "quantity": 1, "price": 3.0}),
        ("sales_edit", {"sale_id": 1, "customer_id": 7, "quantity": 9, "price": 5.0}),
        ("sales_remove", {"sale_id": 2}),
        ("products_add", {"product_id": 10, "category": "Drinks", "stock_level": 50}),
        ("products_edit", {"product_id": 10, "category": "Drinks", "stock_level": 41}),
        ("customers_add", {"customer_id": 7, "name": "Ann", "level": "Gold"}),
        ("customers_add", {"customer_id": 8, "name": "Bob", "level": "Bronze"}),
        ("customers_remove", {"customer_id": 8}),
        ("sales_add", None),  # corrupt payload → dead-lettered, not applied
    ]
    with open(src / "all.json", "w") as f:
        for seq, (topic, payload) in enumerate(ev):
            value = "{broken" if payload is None else json.dumps({**payload, "seq": seq})
            f.write(json.dumps({"topic": topic, "value": value, "seq": seq}) + "\n")

    raw = ingest.file_json_stream(spark, str(src), "topic string, value string, seq long")
    sinks = pipeline.build_sinks(spark, str(tmp_path / "warehouse"))
    queries = pipeline.start_pipeline(raw, sinks, str(tmp_path / "ckpt_pos"))
    for q in queries:
        q.awaitTermination(120)

    sales = {r["sale_id"]: (r["quantity"], r["price"]) for r in sinks["sales"].read().collect()}
    assert sales == {1: (9, 5.0)}
    products = {r["product_id"]: r["stock_level"] for r in sinks["products"].read().collect()}
    assert products == {10: 41}
    customers = {r["customer_id"]: r["name"] for r in sinks["customers"].read().collect()}
    assert customers == {7: "Ann"}


def test_pos_pipeline_incremental_second_drain(spark, tmp_path):
    """A second AvailableNow drain applies only the new files (checkpointed
    file tracking), converging the warehouse — the reference's hourly tick."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming import pipeline

    src = tmp_path / "topics2"
    src.mkdir()

    def write_batch(fname, events, base_seq):
        with open(src / fname, "w") as f:
            for i, (topic, payload) in enumerate(events):
                seq = base_seq + i
                f.write(json.dumps({"topic": topic, "value": json.dumps({**payload, "seq": seq}), "seq": seq}) + "\n")

    write_batch("b1.json", [("customers_add", {"customer_id": 1, "name": "A", "level": "Gold"})], 0)
    raw = ingest.file_json_stream(spark, str(src), "topic string, value string, seq long")
    sinks = pipeline.build_sinks(spark, str(tmp_path / "wh2"))
    entities = tuple(s for s in pipeline.POS_ENTITIES if s.name == "customers")
    for q in pipeline.start_pipeline(raw, sinks, str(tmp_path / "ck2"), entities):
        q.awaitTermination(120)
    assert {r["customer_id"] for r in sinks["customers"].read().collect()} == {1}

    write_batch("b2.json", [
        ("customers_add", {"customer_id": 2, "name": "B", "level": "Bronze"}),
        ("customers_remove", {"customer_id": 1}),
    ], 10)
    raw2 = ingest.file_json_stream(spark, str(src), "topic string, value string, seq long")
    for q in pipeline.start_pipeline(raw2, sinks, str(tmp_path / "ck2"), entities):
        q.awaitTermination(120)
    assert {r["customer_id"] for r in sinks["customers"].read().collect()} == {2}


def test_windowed_agg_with_watermark_stream(spark, tmp_path):
    """Watermarked tumbling agg on a real stream in append mode: windows
    emit only once the watermark passes them (T4+T8 together); a second
    drain with late data inside the lateness bound updates nothing that
    already finalized incorrectly."""
    src = tmp_path / "win_events"
    src.mkdir()
    rows = [
        (1, "2026-01-01 00:10:00", 1.0),
        (1, "2026-01-01 00:20:00", 2.0),
        (1, "2026-01-01 01:10:00", 4.0),
        (1, "2026-01-01 05:00:00", 8.0),  # advances the watermark far past hours 0-1
    ]
    with open(src / "e1.json", "w") as f:
        for uid, ts, v in rows:
            f.write(json.dumps({"user_id": uid, "ts": ts, "v": v}) + "\n")
    stream = ingest.file_json_stream(
        spark, str(src), "user_id long, ts string, v double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = windows.tumbling_agg(
        stream, "ts", "1 hour", ["user_id"], [F.sum("v").alias("total")], watermark="30 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_win"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        str(r["window_start"]): r["total"]
        for r in spark.sql("SELECT * FROM win_agg").collect()
    }
    # hours 0 and 1 are final (watermark = 05:00 - 30m); hour 5 still open
    assert got.get("2026-01-01 00:00:00") == 3.0
    assert got.get("2026-01-01 01:00:00") == 4.0
    assert "2026-01-01 05:00:00" not in got


# ---------------------------------------------------------------------------
# stream-stream interval join (extension)
# ---------------------------------------------------------------------------


def test_interval_join_batch_semantics(spark):
    """Exact row-level semantics on batch frames: matches inside
    [left_ts - lower, left_ts + upper] per key, nothing outside."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming import joins

    orders = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00"), (2, "2026-01-01 11:00:00")], "k long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    pays = spark.createDataFrame(
        [
            (1, "2026-01-01 10:05:00", 5.0),   # +5m  -> in  (upper 10m)
            (1, "2026-01-01 10:20:00", 6.0),   # +20m -> out
            (2, "2026-01-01 10:58:00", 7.0),   # -2m  -> in  (lower 5m)
            (2, "2026-01-01 10:40:00", 8.0),   # -20m -> out
            (3, "2026-01-01 11:00:00", 9.0),   # no such key
        ],
        "k long, ts string, amt double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = joins.interval_join(
        orders, pays, ["k"], "ts", "ts", lower="5 minutes", upper="10 minutes"
    )
    got = sorted((r["k"], r["amt"]) for r in out.collect())
    assert got == [(1, 5.0), (2, 7.0)]


def test_interval_join_stream_stream(spark, tmp_path):
    """Two live file streams joined with watermarks, drained AvailableNow:
    result equals the batch join of the same data."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming import joins

    osrc, psrc = tmp_path / "orders", tmp_path / "pays"
    osrc.mkdir(), psrc.mkdir()
    orders = [(i, f"2026-01-01 10:{i:02d}:00") for i in range(0, 40, 5)]
    pays = [(i, f"2026-01-01 10:{i + 2:02d}:00", float(i)) for i in range(0, 40, 10)]
    with open(osrc / "o.json", "w") as f:
        for k, ts in orders:
            f.write(json.dumps({"k": k, "ts": ts}) + "\n")
    with open(psrc / "p.json", "w") as f:
        for k, ts, amt in pays:
            f.write(json.dumps({"k": k, "ts": ts, "amt": amt}) + "\n")
    o_stream = ingest.file_json_stream(spark, str(osrc), "k long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    p_stream = ingest.file_json_stream(
        spark, str(psrc), "k long, ts string, amt double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = joins.interval_join(
        o_stream,
        p_stream,
        ["k"],
        "ts",
        "ts",
        lower="0 seconds",
        upper="5 minutes",
        left_watermark="10 minutes",
        right_watermark="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["k"], r["amt"]) for r in spark.sql("SELECT k, amt FROM ss_join").collect()
    )
    # every payment lands 2 minutes after its order -> joins exactly once
    assert got == [(k, float(k)) for k in range(0, 40, 10)]


# ---------------------------------------------------------------------------
# Kafka value-path parity (S4) without a broker: a batch DataFrame shaped
# EXACTLY like the Kafka source's output (key/value binary, topic,
# partition, offset, timestamp, timestampType) carries one payload per
# reference topic, and the shared parse stage decodes them. The payload
# dict shapes mirror the reference producer: transactions_sale
# kafka_producer.py:127-135, transactions_edit/remove :187-197/:239-249
# (adds sale_id + csv_path), products_add/edit/remove :332-341/:379-388/
# :426-435, customers_add/edit/remove :480-486/:505-511/:530-536.
# ---------------------------------------------------------------------------

KAFKA_SOURCE_DDL = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)

#: Reference payload schemas, one per topic family (types per the int()/
#: float() coercions in kafka_producer.py:128-133).
REF_TOPIC_SCHEMAS = {
    "transactions_sale": (
        "sale_date string, customer_id long, product_id long, quantity int, "
        "price double, total_price double, payment_method string"
    ),
    "transactions_edit": (
        "sale_id long, customer_id long, product_id long, quantity int, "
        "price double, total_price double, payment_method string, csv_path string"
    ),
    "products_add": (
        "product_id long, product_name string, product_description string, "
        "product_category string, product_price double, stock_level int"
    ),
    "customers_add": "customer_id long, customer_name string, customer_location string",
}
REF_TOPIC_SCHEMAS["transactions_remove"] = REF_TOPIC_SCHEMAS["transactions_edit"]
REF_TOPIC_SCHEMAS["products_edit"] = REF_TOPIC_SCHEMAS["products_add"]
REF_TOPIC_SCHEMAS["products_remove"] = REF_TOPIC_SCHEMAS["products_add"]
REF_TOPIC_SCHEMAS["customers_edit"] = REF_TOPIC_SCHEMAS["customers_add"]
REF_TOPIC_SCHEMAS["customers_remove"] = REF_TOPIC_SCHEMAS["customers_add"]

REF_PAYLOADS = {
    "transactions_sale": {
        "sale_date": "2026-08-13 10:00:00", "customer_id": 7, "product_id": 101,
        "quantity": 2, "price": 9.5, "total_price": 19.0, "payment_method": "Cash",
    },
    "transactions_edit": {
        "sale_id": 3, "customer_id": 7, "product_id": 101, "quantity": 1,
        "price": 9.5, "total_price": 9.5, "payment_method": "PayPal",
        "csv_path": "/opt/airflow/sales_data/sales_20260813.csv",
    },
    "transactions_remove": {
        "sale_id": 4, "customer_id": 8, "product_id": 102, "quantity": 1,
        "price": 5.0, "total_price": 5.0, "payment_method": "Credit Card",
        "csv_path": "/opt/airflow/sales_data/sales_20260813.csv",
    },
    "products_add": {
        "product_id": 101, "product_name": "Widget", "product_description": "A widget",
        "product_category": "Electronics", "product_price": 9.5, "stock_level": 40,
    },
    "products_edit": {
        "product_id": 101, "product_name": "Widget v2", "product_description": "Better",
        "product_category": "Electronics", "product_price": 10.5, "stock_level": 35,
    },
    "products_remove": {
        "product_id": 102, "product_name": "Gadget", "product_description": "Old",
        "product_category": "Electronics", "product_price": 5.0, "stock_level": 0,
    },
    "customers_add": {"customer_id": 7, "customer_name": "Ada", "customer_location": "Paris"},
    "customers_edit": {"customer_id": 7, "customer_name": "Ada L.", "customer_location": "Lyon"},
    "customers_remove": {"customer_id": 8, "customer_name": "Bob", "customer_location": "Nice"},
}


def _kafka_shaped_df(spark, extra_rows=()):
    import datetime

    ts = datetime.datetime(2026, 8, 13, 10, 0, 0)
    rows = [
        (
            str(p.get("customer_id", p.get("product_id", ""))).encode(),
            json.dumps(p).encode("utf-8"),
            topic,
            i % 3,
            100 + i,
            ts,
            0,
        )
        for i, (topic, p) in enumerate(sorted(REF_PAYLOADS.items()))
    ]
    return spark.createDataFrame(list(rows) + list(extra_rows), KAFKA_SOURCE_DDL)


def test_kafka_value_path_all_nine_topics(spark):
    """Every reference topic's payload decodes against its declared schema
    from the Kafka-shaped frame, with Kafka metadata carried through."""
    import datetime

    raw = _kafka_shaped_df(spark)
    for topic, payload in REF_PAYLOADS.items():
        mine = raw.where(F.col("topic") == topic)
        out = ingest.parse_json_events(
            mine, REF_TOPIC_SCHEMAS[topic], keep=["topic", "partition", "offset", "timestamp"]
        ).collect()
        assert len(out) == 1
        row = out[0]
        assert row["_corrupt"] is None, topic
        for field, want in payload.items():
            got = row[field]
            assert got == want, (topic, field, got, want)
        assert row["topic"] == topic and row["offset"] >= 100
        assert row["timestamp"] == datetime.datetime(2026, 8, 13, 10, 0, 0)


def test_kafka_value_path_corrupt_routing(spark):
    """Malformed payloads (truncated JSON, non-JSON, empty) land in
    _corrupt with the raw text preserved; well-formed rows are unaffected."""
    import datetime

    ts = datetime.datetime(2026, 8, 13, 10, 0, 0)
    bad = [
        (b"k", b'{"customer_id": 7, "customer_name":', "customers_add", 0, 900, ts, 0),
        (b"k", b"definitely not json", "customers_add", 0, 901, ts, 0),
        (b"k", b"", "customers_add", 0, 902, ts, 0),
    ]
    raw = _kafka_shaped_df(spark, extra_rows=bad).where(F.col("topic") == "customers_add")
    out = ingest.parse_json_events(
        raw, REF_TOPIC_SCHEMAS["customers_add"], keep=["offset"]
    ).collect()
    by_offset = {r["offset"]: r for r in out}
    good = [r for r in out if r["_corrupt"] is None and r["customer_id"] is not None]
    assert len(good) == 1 and good[0]["customer_name"] == "Ada"
    assert by_offset[900]["_corrupt"] == '{"customer_id": 7, "customer_name":'
    assert by_offset[901]["_corrupt"] == "definitely not json"
    # empty value: PERMISSIVE yields an all-null row (not _corrupt); a
    # dead-letter sink must also filter on the pk being null
    assert by_offset[902]["customer_id"] is None and by_offset[902]["_corrupt"] is None


def test_kafka_value_path_through_entity_routing(spark):
    """The full 9-topic frame routed through entity_events with the
    reference's topic names: suffix picks the CDC op, prefix picks the
    entity, corrupt rows are dropped."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.pipeline import EntitySpec, entity_events

    specs = [
        EntitySpec("transactions", REF_TOPIC_SCHEMAS["transactions_edit"], "sale_id"),
        EntitySpec("products", REF_TOPIC_SCHEMAS["products_add"], "product_id"),
        EntitySpec("customers", REF_TOPIC_SCHEMAS["customers_add"], "customer_id"),
    ]
    import datetime

    ts = datetime.datetime(2026, 8, 13, 10, 0, 0)
    raw = _kafka_shaped_df(
        spark, extra_rows=[(b"k", b"garbage", "products_add", 0, 903, ts, 0)]
    )
    for spec in specs:
        events = entity_events(raw, spec).collect()
        assert len(events) == 3, spec.name  # one per suffix; corrupt dropped
        ops = {}
        for r in events:
            ops[r[cdc.OP_COL]] = ops.get(r[cdc.OP_COL], 0) + 1
        assert ops[cdc.OP_DELETE] == 1, spec.name
        assert ops[cdc.OP_UPSERT] == 2, spec.name


def test_kafka_payload_encode_decode_roundtrip(spark):
    """S5→S4 inverse property: to_kafka_payload's JSON encode followed by
    parse_json_events recovers the original rows exactly — including
    nulls, unicode, embedded quotes/newlines, and negative/zero numbers."""
    from simple_pos_kafka_pyspark_airflow_spark.sources import io as sio

    schema = "sale_id long, customer_id long, quantity int, price double, note string"
    rows = [
        (1, 7, 2, 9.5, "plain"),
        (2, None, 0, -1.25, 'quote " and \\ backslash'),
        (3, 8, -4, 0.0, "unicode: héllo wörld ☃"),
        (4, 9, 1, 2.5, "line\nbreak\ttab"),
        (5, 10, 3, 1e-3, None),
    ]
    df = spark.createDataFrame(rows, schema)
    encoded = sio.to_kafka_payload(df, key_col="sale_id")
    assert encoded.columns == ["key", "value"]
    decoded = ingest.parse_json_events(encoded, schema, keep=["key"])
    got = {r["sale_id"]: r for r in decoded.collect()}
    assert len(got) == 5
    for sale_id, customer_id, quantity, price, note in rows:
        r = got[sale_id]
        assert r["_corrupt"] is None
        assert r["key"] == str(sale_id)
        assert (r["customer_id"], r["quantity"], r["note"]) == (customer_id, quantity, note)
        assert r["price"] == price


def test_parquet_cdc_sink_batch_replay_idempotent(spark, tmp_path):
    """Checkpoint-recovery semantics: foreachBatch may replay the last
    batch after a crash. Re-applying the identical batch must leave the
    table unchanged (f(f(T,E),E) == f(T,E) for last-write-wins + delete),
    which is what makes the parquet sink effectively exactly-once."""
    schema = "id long, name string, bal double"
    ev_schema = f"id long, name string, bal double, {cdc.OP_COL} string, seq long"
    sink = cdc.ParquetCdcSink(
        spark, str(tmp_path / "wh"), pk="id", order_col="seq", schema=schema
    )
    batch1 = spark.createDataFrame(
        [(1, "a", 1.0, "upsert", 1), (2, "b", 2.0, "upsert", 2)], ev_schema
    )
    sink.foreach_batch(batch1, 0)
    batch2 = spark.createDataFrame(
        [(1, "a2", 1.5, "upsert", 3), (2, None, None, "delete", 4), (3, "c", 3.0, "upsert", 5)],
        ev_schema,
    )
    sink.foreach_batch(batch2, 1)
    after_once = sorted(map(tuple, sink.read().collect()))
    assert after_once == [(1, "a2", 1.5), (3, "c", 3.0)]
    # crash-replay of batch 1: engine re-delivers the same batch id+data
    sink.foreach_batch(batch2, 1)
    assert sorted(map(tuple, sink.read().collect())) == after_once


def test_corrupt_events_dead_letter_routing(spark):
    """corrupt_events captures exactly the rows entity_events drops, with
    raw payload + source coordinates preserved."""
    import datetime

    from simple_pos_kafka_pyspark_airflow_spark.streaming.pipeline import (
        EntitySpec,
        corrupt_events,
        entity_events,
    )

    ts = datetime.datetime(2026, 8, 13, 10, 0, 0)
    spec = EntitySpec("customers", REF_TOPIC_SCHEMAS["customers_add"], "customer_id")
    bad = [
        (b"k", b"{broken", "customers_add", 1, 900, ts, 0),
        (b"k", b"<xml/>", "customers_remove", 2, 901, ts, 0),
        (b"k", b"{}", "products_add", 0, 902, ts, 0),  # other entity: ignored
    ]
    raw = _kafka_shaped_df(spark, extra_rows=bad)
    dead = corrupt_events(raw, spec).collect()
    assert sorted((r["offset"], r["_corrupt"]) for r in dead) == [
        (900, "{broken"),
        (901, "<xml/>"),
    ]
    assert all(r["topic"].startswith("customers_") and r["partition"] in (1, 2) for r in dead)
    # the good/bad split is exact: entity_events keeps the 3 well-formed
    assert len(entity_events(raw, spec).collect()) == 3


def test_corpus_ingest_stream_quality_and_dedup(spark, tmp_path):
    """Streaming corpus front door: junk rejected by the quality gate,
    exact duplicates collapsed under the watermark, survivors landed with
    quality/sha columns — end-to-end over a real stream drain."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming import corpus

    src = tmp_path / "docs"
    src.mkdir()
    good = "the quick brown fox jumps over the lazy dog near the river bank today"
    with open(src / "batch.json", "w") as f:
        rows = [
            {"doc_id": 1, "text": good, "ts": "2026-08-13 10:00:00"},
            {"doc_id": 2, "text": good, "ts": "2026-08-13 10:00:05"},  # exact dup
            {"doc_id": 3, "text": "x", "ts": "2026-08-13 10:00:10"},  # too short
            {"doc_id": 4, "text": "!!! ??? ###", "ts": "2026-08-13 10:00:15"},  # junk
            {"doc_id": 5, "text": "a completely different sentence about many other things here", "ts": "2026-08-13 10:00:20"},
        ]
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = ingest.file_json_stream(spark, str(src), "doc_id long, text string, ts string")
    stream = stream.withColumn("ts", F.to_timestamp("ts"))
    out = corpus.corpus_ingest(stream)
    sink = tmp_path / "corpus"
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(tmp_path / "ckpt_corpus"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(sink)).collect()
    ids = sorted(r["doc_id"] for r in got)
    assert ids == [1, 5] or ids == [2, 5]  # one of the dup pair survives
    assert all(r["text_sha"] is not None and r["quality"] > 0 for r in got)


def test_corpus_ingest_batch_twin(spark):
    """Same plan on a batch frame: the gate and dedup are source-agnostic."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming import corpus

    df = spark.createDataFrame(
        [
            (1, "many reasonable words in a sentence about things", "2026-08-13 10:00:00"),
            (2, "many reasonable words in a sentence about things", "2026-08-13 11:00:00"),
            (3, "@@", "2026-08-13 12:00:00"),
        ],
        "doc_id long, text string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = corpus.corpus_ingest(df).collect()
    assert len(out) == 1
    assert out[0]["doc_id"] in (1, 2)


def test_incremental_minhash_index_across_batches(spark, tmp_path):
    """Near-dup dedup at ingest with corpus-lifetime horizon: batch 2's
    near-duplicate of a batch-1 document is rejected via the landed index
    (not via any in-memory state), within-batch near-dups collapse to the
    min id, and rejected docs contribute no index rows."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalMinhashIndex

    base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square"
    near = base.replace("square", "plaza")  # last-token diff => 1 of 15 shingles differs, j=14/16
    other = "completely unrelated content about databases indexes shuffles and partitions at scale"
    # narrow signature (16 hashes / 8 bands): detection probability at the
    # test's jaccard levels is still ~1, and the aggregate-stage codegen
    # compiles in a fraction of the 64-wide production default's time
    idx = IncrementalMinhashIndex(
        spark, str(tmp_path / "lsh_index"), num_hashes=16, bands=8
    )

    b1 = spark.createDataFrame([(1, base), (2, other)], "doc_id long, text string")
    kept1 = sorted(r["doc_id"] for r in idx.dedup_batch(b1).collect())
    assert kept1 == [1, 2]

    b2 = spark.createDataFrame(
        [
            (10, near),                       # near-dup of landed doc 1 -> rejected
            (11, "fresh new words entirely distinct from anything landed so far today"),
            (12, "fresh new words entirely distinct from anything landed so far tonight"),  # near-dup of 11
        ],
        "doc_id long, text string",
    )
    kept2 = sorted(r["doc_id"] for r in idx.dedup_batch(b2).collect())
    assert kept2 == [11]

    # index holds exactly the survivors (16 band rows each), so a batch-3
    # near-dup of doc 11 is rejected purely from disk state
    landed_ids = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "lsh_index")).collect()}
    assert landed_ids == {1, 2, 11}
    b3 = spark.createDataFrame(
        [(20, "fresh new words entirely distinct from anything landed so far todays")],
        "doc_id long, text string",
    )
    assert idx.dedup_batch(b3).collect() == []


def test_incremental_index_discovery_is_filesystem_api_not_local_os(spark, tmp_path, monkeypatch):
    """Index discovery must go through the Hadoop FS API, not driver-local
    ``os`` calls: on S3/HDFS a local probe would return "no index" and
    SILENTLY skip landed-corpus dedup. Two pins: (a) a landed index
    addressed by a ``file:`` URI — where ``os.path.isdir`` is False — is
    still discovered and still rejects a near-dup; (b) no ``os.path`` /
    ``os.listdir`` call happens anywhere in discovery."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalMinhashIndex

    base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square"
    uri = "file://" + str(tmp_path / "lsh_index")
    assert not os.path.isdir(uri)  # the old local-FS probe would bail here
    idx = IncrementalMinhashIndex(spark, uri, num_hashes=16, bands=8)
    assert idx._landed() is None  # never-written path: probed via FS API, clean None

    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    assert [r["doc_id"] for r in idx.dedup_batch(b1).collect()] == [1]

    monkeypatch.setattr(os.path, "isdir", lambda p: pytest.fail("os.path.isdir in discovery"))
    monkeypatch.setattr(os, "listdir", lambda p: pytest.fail("os.listdir in discovery"))
    b2 = spark.createDataFrame(
        [(10, base.replace("square", "plaza"))], "doc_id long, text string"
    )
    assert idx.dedup_batch(b2).collect() == []  # rejected off the file:-URI index


def test_incremental_index_replay_duplicates_are_harmless_and_compactable(spark, tmp_path):
    """foreachBatch replay appends a batch's index rows twice. Decisions
    must not change (self-pairs excluded, duplicate witnesses collapsed);
    ``compact()`` restores the single-copy index via atomic swap."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalMinhashIndex

    base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square"
    path = str(tmp_path / "lsh_index")
    idx = IncrementalMinhashIndex(spark, path, num_hashes=16, bands=8)

    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    assert [r["doc_id"] for r in idx.dedup_batch(b1).collect()] == [1]
    # replay the same batch: doc 1 must survive again (it never matches
    # itself in the landed index), landing its 8 band rows a second time
    assert [r["doc_id"] for r in idx.dedup_batch(b1).collect()] == [1]
    assert spark.read.parquet(path).count() == 16

    idx.compact()
    assert spark.read.parquet(path).count() == 8
    # post-compact the index still rejects a near-dup of the landed doc
    b2 = spark.createDataFrame(
        [(10, base.replace("square", "plaza"))], "doc_id long, text string"
    )
    assert idx.dedup_batch(b2).collect() == []


def test_incremental_index_within_batch_chain_keeps_component_minimum(spark, tmp_path):
    """Within-batch policy is exact connected components: in a star
    (1~5, 2~5 but 1≁2) a greedy drop-every-id_b pass would keep both 1 and
    2 — two surviving docs from one component. The cluster-representative
    policy keeps only the component minimum."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalMinhashIndex

    hub = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    spoke_a = hub.replace("pi", "rho")        # ~ hub, and ~ spoke_b only via hub
    spoke_b = hub.replace("alpha", "sigma")   # ~ hub
    idx = IncrementalMinhashIndex(
        spark, str(tmp_path / "lsh_index"), num_hashes=16, bands=8, jaccard_threshold=0.8
    )
    batch = spark.createDataFrame(
        [(1, spoke_a), (2, spoke_b), (5, hub)], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in idx.dedup_batch(batch).collect())
    assert kept == [1]
    landed = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "lsh_index")).collect()}
    assert landed == {1}


def test_diff_then_apply_is_identity(spark):
    """diff_snapshots and apply_cdc_batch are inverses: applying the
    generated changelog to the old snapshot reproduces the new snapshot
    exactly — inserts, updates, deletes, and null-valued cells included."""
    from simple_pos_kafka_pyspark_airflow_spark.operators import upsert as u

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "id long, name string, bal double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),          # unchanged
         (2, "b2", 2.0),          # null -> value
         (3, None, 30.0),         # value -> null
         (5, "e", 50.0)],         # insert; 4 deleted
        "id long, name string, bal double",
    )
    events = u.diff_snapshots(old, new, "id").withColumn("seq", F.lit(1))
    assert sorted(r["id"] for r in events.collect()) == [2, 3, 4, 5]
    rebuilt = cdc.apply_cdc_batch(old, events, pk="id", order_col="seq")
    got = sorted(map(tuple, rebuilt.collect()))
    want = sorted(map(tuple, new.collect()))
    assert got == want


def test_scd2_time_travel(spark):
    """SCD2 history answers as-of queries with a pushable predicate."""
    from simple_pos_kafka_pyspark_airflow_spark.operators import upsert as u

    hist = spark.createDataFrame(
        [(1, "x", 10.0, "1995-01-01 00:00:00", None), (2, "y", 20.0, "1995-01-01 00:00:00", None)],
        "id long, name string, bal double, valid_from string, valid_to string",
    ).select(
        "id", "name", "bal",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    )
    upd = spark.createDataFrame([(1, "x", 99.0, "2000-06-01 00:00:00")],
                                "id long, name string, bal double, eff string")
    upd = upd.withColumn("eff", F.col("eff").cast("timestamp"))
    out = u.scd2_apply(hist, upd, "id", "eff")
    asof = lambda t: {  # noqa: E731
        r["id"]: r["bal"]
        for r in out.where(
            (F.col("valid_from") <= F.lit(t).cast("timestamp"))
            & (F.col("valid_to").isNull() | (F.lit(t).cast("timestamp") < F.col("valid_to")))
        ).collect()
    }
    assert asof("1999-01-01 00:00:00") == {1: 10.0, 2: 20.0}
    assert asof("2001-01-01 00:00:00") == {1: 99.0, 2: 20.0}


def test_full_reference_lifecycle_events_to_tiers(spark, tmp_path):
    """The whole reference, one test: 9-topic event stream → CDC warehouse
    (exactly-once parquet) → the hourly ETL's membership-tier computation
    over the warehouse — the chain POS_spark_dag.py runs across three
    processes, here as stream + one DataFrame plan."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.relational import membership_tiers
    from simple_pos_kafka_pyspark_airflow_spark.streaming import pipeline

    src = tmp_path / "topics"
    src.mkdir()
    # Ann buys 12k total (Silver); Bob's single sale is edited up to 60k
    # (Gold); Cat registers but never buys (floor tier via coalesce)
    ev = [
        ("customers_add", {"customer_id": 1, "name": "Ann", "level": ""}),
        ("customers_add", {"customer_id": 2, "name": "Bob", "level": ""}),
        ("customers_add", {"customer_id": 3, "name": "Cat", "level": ""}),
        ("sales_add", {"sale_id": 1, "customer_id": 1, "quantity": 2, "price": 5000.0}),
        ("sales_add", {"sale_id": 2, "customer_id": 1, "quantity": 1, "price": 2000.0}),
        ("sales_add", {"sale_id": 3, "customer_id": 2, "quantity": 1, "price": 500.0}),
        ("sales_edit", {"sale_id": 3, "customer_id": 2, "quantity": 1, "price": 60000.0}),
        ("sales_add", {"sale_id": 4, "customer_id": 2, "quantity": 1, "price": 100.0}),
        ("sales_remove", {"sale_id": 4}),
    ]
    with open(src / "all.json", "w") as f:
        for seq, (topic, payload) in enumerate(ev):
            f.write(json.dumps({"topic": topic, "value": json.dumps({**payload, "seq": seq}), "seq": seq}) + "\n")
    raw = ingest.file_json_stream(spark, str(src), "topic string, value string, seq long")
    sinks = pipeline.build_sinks(spark, str(tmp_path / "wh"))
    for q in pipeline.start_pipeline(raw, sinks, str(tmp_path / "ckpt")):
        q.awaitTermination(120)

    sales = sinks["sales"].read().withColumn(
        "total_price", F.col("quantity") * F.col("price")
    )
    tiers = membership_tiers(
        sinks["customers"].read(), sales, "customer_id", "customer_id", "total_price"
    )
    got = {r["name"]: (r["membership_level"], r["lifetime_spend"]) for r in tiers.collect()}
    assert got == {
        "Ann": ("Silver", 12000.0),
        "Bob": ("Gold", 60000.0),
        "Cat": ("Bronze", 0.0),
    }


def test_validate_sale_events_rules_and_reasons(spark):
    """The producer's composed gate (required fields, stock sufficiency,
    duplicate-id guard) as one annotated projection: each reference
    rejection case maps to its rule bit and first-failure reason."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.validation import validate_sale_events

    products = spark.createDataFrame(
        [(101, 5), (102, 0)], "product_id long, stock_level int"
    )
    existing = spark.createDataFrame([(1,)], "sale_id long")
    events = spark.createDataFrame(
        [
            (10, 7, 101, 2, 9.5, "Cash"),        # ok
            (11, None, 101, 1, 9.5, "Cash"),     # missing customer
            (12, 7, 999, 1, 9.5, "Cash"),        # unknown product
            (13, 7, 101, 99, 9.5, "Cash"),       # insufficient stock
            (14, 7, 102, 1, 9.5, "Cash"),        # zero stock
            (1, 7, 101, 1, 9.5, "PayPal"),       # duplicate sale_id
            (15, 7, 101, 1, None, None),         # two missing fields -> first reason
        ],
        "sale_id long, customer_id long, product_id long, quantity int, price double, payment_method string",
    )
    out = {r["sale_id"]: r for r in validate_sale_events(events, products, existing).collect()}
    assert out[10]["valid"] and out[10]["reject_reason"] is None
    assert not out[11]["valid"] and out[11]["reject_reason"] == "has_customer_id"
    assert not out[12]["valid"] and out[12]["reject_reason"] == "known_product"
    assert not out[13]["valid"] and out[13]["reject_reason"] == "in_stock"
    assert not out[14]["valid"] and out[14]["reject_reason"] == "in_stock"
    assert not out[1]["valid"] and out[1]["reject_reason"] == "fresh_sale_id"
    assert not out[15]["valid"] and out[15]["reject_reason"] == "has_price"
    # accept/quarantine split covers every event exactly once
    assert sum(1 for r in out.values() if r["valid"]) == 1


def test_incremental_span_index_cross_batch_boilerplate(spark, tmp_path):
    """A span seen once in batch 0 and again in batch 1 crosses the
    min_docs=2 threshold at batch 1: batch 1's doc lands WITHOUT it, while
    batch 0's copy (already landed) is untouched — the documented
    forward-looking semantics."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalSpanIndex

    path = str(tmp_path / "spanidx")
    idx = IncrementalSpanIndex(spark, path, span_tokens=3, min_docs=2)
    b0 = spark.createDataFrame(
        [(1, "common footer span one two three"), (2, "unrelated text here")],
        ["doc_id", "text"],
    )
    out0 = {r["doc_id"]: r for r in idx.clean_batch(b0, batch_id=0).collect()}
    # batch 0: nothing repeated yet — everything survives
    assert out0[1]["text_clean"] == "common footer span one two three"
    assert out0[1]["n_dropped"] == 0

    b1 = spark.createDataFrame(
        [(3, "common footer span four five six"), (4, "fresh content only")],
        ["doc_id", "text"],
    )
    out1 = {r["doc_id"]: r for r in idx.clean_batch(b1, batch_id=1).collect()}
    # the repeated 3-token span is excised from the new doc
    assert out1[3]["text_clean"] == "four five six"
    assert out1[3]["n_dropped"] == 1
    assert out1[4]["text_clean"] == "fresh content only"
    assert out1[4]["n_dropped"] == 0


def test_incremental_span_index_within_batch_and_replay_stability(spark, tmp_path):
    """Within-batch repeats are excised immediately; replaying a batch
    (same batch_id, crash-recovery path) appends duplicate index rows but
    the (digest, batch) collapse keeps counts — and therefore excision
    decisions — identical."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalSpanIndex

    path = str(tmp_path / "spanidx")
    idx = IncrementalSpanIndex(spark, path, span_tokens=3, min_docs=2)
    b0 = spark.createDataFrame(
        [(1, "shared span here alpha beta gamma"), (2, "shared span here delta epsilon zeta")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in idx.clean_batch(b0, batch_id=0).collect()}
    assert out[1]["text_clean"] == "alpha beta gamma" and out[1]["n_dropped"] == 1
    assert out[2]["text_clean"] == "delta epsilon zeta" and out[2]["n_dropped"] == 1

    # replay batch 0 (as after a crash between append and checkpoint
    # commit): output identical, and a singleton span in a later batch
    # must NOT be excised by phantom double-counts of itself
    out_replay = {r["doc_id"]: r for r in idx.clean_batch(b0, batch_id=0).collect()}
    assert {k: (v["text_clean"], v["n_dropped"]) for k, v in out.items()} == {
        k: (v["text_clean"], v["n_dropped"]) for k, v in out_replay.items()
    }
    b1 = spark.createDataFrame([(5, "alpha beta gamma new tail words")], ["doc_id", "text"])
    out1 = idx.clean_batch(b1, batch_id=1).collect()[0]
    # 'alpha beta gamma' appeared in doc 1's CLEANED output but as a span
    # digest it was counted once in batch 0 (doc 1) — plus doc 5 now → 2
    # distinct docs → excised. This pins cross-batch counting through the
    # replayed index: the count must be 2 (1 landed + 1 here), not 3.
    assert out1["text_clean"] == "new tail words" and out1["n_dropped"] == 1

    # compaction collapses to one row per digest and preserves decisions
    idx.compact()
    landed = spark.read.parquet(path)
    assert landed.groupBy("_dig").count().where("count > 1").count() == 0
    b2 = spark.createDataFrame([(6, "shared span here eta theta iota")], ["doc_id", "text"])
    out2 = idx.clean_batch(b2, batch_id=2).collect()[0]
    assert out2["text_clean"] == "eta theta iota" and out2["n_dropped"] == 1


def test_incremental_index_compact_works_on_file_uri(spark, tmp_path):
    """compact() must run on the same non-local path forms discovery
    supports: overwrite_atomic's directory surgery goes through the
    Hadoop FS API, so a file:-URI index (where driver-local os calls see
    nothing) compacts in place — replay-duplicated rows collapse and the
    index still rejects near-dups afterward."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalMinhashIndex

    base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square"
    uri = "file://" + str(tmp_path / "lsh_index")
    idx = IncrementalMinhashIndex(spark, uri, num_hashes=16, bands=8)
    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    assert [r["doc_id"] for r in idx.dedup_batch(b1).collect()] == [1]
    # simulate a foreachBatch replay: the same batch appends its index
    # rows a second time
    idx.dedup_batch(b1).collect()
    landed = idx._landed()
    assert landed.count() > landed.dropDuplicates(["doc_id", "band"]).count()

    idx.compact()

    landed = idx._landed()
    assert landed.count() == landed.dropDuplicates(["doc_id", "band"]).count()
    b2 = spark.createDataFrame(
        [(10, base.replace("square", "plaza"))], "doc_id long, text string"
    )
    assert idx.dedup_batch(b2).collect() == []


def test_incremental_index_uncommitted_temporary_dir_is_no_index(spark, tmp_path):
    """A crashed FIRST append can leave only parquet's _temporary dir
    behind: that is 'write never committed', not 'index unreadable' —
    discovery must return None (and the batch proceeds un-deduped, to be
    caught by compaction) rather than wedging every subsequent batch on
    an unreadable-parquet error."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalMinhashIndex

    path = str(tmp_path / "lsh_index")
    os.makedirs(os.path.join(path, "_temporary", "0"))
    idx = IncrementalMinhashIndex(spark, path, num_hashes=16, bands=8)
    assert idx._landed() is None
    base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square"
    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    assert [r["doc_id"] for r in idx.dedup_batch(b1).collect()] == [1]
    assert idx._landed() is not None  # first real append commits over the debris


def test_scd2_cdc_sink_same_timestamp_second_change_not_dropped(spark, tmp_path):
    """A legitimate SECOND change arriving with the same coarse-granularity
    timestamp as the version it supersedes (rapid updates across a batch
    boundary, second-resolution clock) must land in history: the replay
    guard identifies a replay by FULL version content, not (pk, ts) alone.
    The superseded same-ts version survives as a zero-length record and
    the open version carries the newest value."""
    src = tmp_path / "cdc_events"
    src.mkdir()
    schema = "id long, name string, bal double"
    ev_schema = f"id long, name string, bal double, {cdc.OP_COL} string, ts timestamp"
    sink = cdc.ScdParquetCdcSink(
        spark, str(tmp_path / "warehouse"), str(tmp_path / "history"),
        pk="id", order_col="ts", schema=schema,
    )

    def drain():
        q = (
            ingest.file_json_stream(spark, str(src), ev_schema)
            .writeStream.foreachBatch(sink.foreach_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    ts = "2026-01-01T10:00:00Z"
    with open(src / "b1.json", "w") as f:
        f.write(json.dumps({"id": 1, "name": "a", "bal": 1.0, cdc.OP_COL: "upsert", "ts": ts}) + "\n")
    drain()
    with open(src / "b2.json", "w") as f:  # same key, same second, new value
        f.write(json.dumps({"id": 1, "name": "a2", "bal": 2.0, cdc.OP_COL: "upsert", "ts": ts}) + "\n")
    drain()

    hist = sink.read_history().collect()
    open_rows = [r for r in hist if r["valid_to"] is None]
    assert [(r["name"], r["bal"]) for r in open_rows] == [("a2", 2.0)]
    # the superseded same-ts version is retained (zero-length lifespan)
    assert ("a", 1.0) in {(r["name"], r["bal"]) for r in hist}
    assert {r["id"]: r["bal"] for r in sink.read().collect()} == {1: 2.0}

    # replaying the identical batch changes nothing (content guard)
    sink.foreach_batch(
        spark.createDataFrame(
            [(1, "a2", 2.0, "upsert", datetime.datetime(2026, 1, 1, 10, 0, 0))],
            ev_schema,
        ),
        batch_id=99,
    )
    assert len(sink.read_history().collect()) == len(hist)


def test_scd2_close_multiple_deletes_per_key_close_at_latest(spark):
    """Raw CDC delete streams can carry several delete rows per key in one
    batch: the open version must close at the LATEST effective time
    deterministically, never at whichever row wins a shuffle."""
    from simple_pos_kafka_pyspark_airflow_spark.operators import upsert as upsert_ops

    t = datetime.datetime
    history = spark.createDataFrame(
        [(1, "a", t(2026, 1, 1), None)],
        "id long, name string, valid_from timestamp, valid_to timestamp",
    )
    deleted = spark.createDataFrame(
        [(1, t(2026, 1, 2)), (1, t(2026, 1, 3)), (1, t(2026, 1, 2, 12))],
        "id long, ts timestamp",
    )
    for _ in range(3):  # deterministic across invocations
        out = upsert_ops.scd2_close(history, deleted, "id", "ts").collect()
        assert [r["valid_to"] for r in out] == [t(2026, 1, 3)]


def test_cdc_sink_works_on_file_uri_warehouse(spark, tmp_path):
    """The CDC sink's snapshot swap must run on any Hadoop-FS path form:
    a file:-URI warehouse (where the old os/shutil surgery saw no
    directory and crashed at the staging move) applies batches and
    replays idempotently."""
    uri = "file://" + str(tmp_path / "warehouse")
    sink = cdc.ParquetCdcSink(
        spark, uri, pk="id", order_col="ts", schema="id long, name string"
    )
    t = datetime.datetime
    ev_schema = f"id long, name string, {cdc.OP_COL} string, ts timestamp"
    b1 = spark.createDataFrame(
        [(1, "a", "upsert", t(2026, 1, 1)), (2, "b", "upsert", t(2026, 1, 1))], ev_schema
    )
    sink.foreach_batch(b1, 0)
    assert {r["id"]: r["name"] for r in sink.read().collect()} == {1: "a", 2: "b"}
    b2 = spark.createDataFrame(
        [(1, "a2", "upsert", t(2026, 1, 2)), (2, None, "delete", t(2026, 1, 2))], ev_schema
    )
    sink.foreach_batch(b2, 1)
    sink.foreach_batch(b2, 1)  # replay converges
    assert {r["id"]: r["name"] for r in sink.read().collect()} == {1: "a2"}
    assert not os.path.isdir(uri)  # the URI itself is not a local path


def _file_scan_roots(df) -> list[str]:
    """Root paths of every parquet scan in ``df``'s physical plan outside
    its cached subplans (an in-memory scan is a leaf; the plan it caches
    is not among the leaves)."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    roots = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            roots.append(leaf.relation().location().rootPaths().mkString(","))
    return roots


def test_scd2_cdc_sink_history_plan_reads_each_table_at_most_twice(spark, tmp_path, monkeypatch):
    """The SCD2 sink's history staging plan reads the history directory
    at most twice and the live snapshot at most once outside its cached
    subplans: the batch's final events and its guarded changelog are
    computed once and held in memory, the changelog is a batch-sized join
    rather than a full-snapshot diff, and the close is one history pass."""
    t = datetime.datetime
    ev_schema = f"id long, name string, bal double, {cdc.OP_COL} string, ts timestamp"
    snap, hist = str(tmp_path / "warehouse"), str(tmp_path / "history")
    sink = cdc.ScdParquetCdcSink(
        spark, snap, hist, pk="id", order_col="ts", schema="id long, name string, bal double"
    )
    sink.foreach_batch(
        spark.createDataFrame(
            [(i, f"n{i}", float(i), "upsert", t(2026, 1, 1)) for i in range(20)], ev_schema
        ),
        0,
    )
    scans = {}
    write_staged = cdc.write_staged

    def spy(df, staging, *args):
        scans[staging] = _file_scan_roots(df)
        return write_staged(df, staging, *args)

    monkeypatch.setattr(cdc, "write_staged", spy)
    sink.foreach_batch(
        spark.createDataFrame(
            [
                (1, "x", 1.5, "upsert", t(2026, 1, 2)),
                (2, None, None, "delete", t(2026, 1, 2)),
                (30, "new", 3.0, "upsert", t(2026, 1, 2)),
            ],
            ev_schema,
        ),
        1,
    )
    (roots,) = [r for staging, r in scans.items() if os.path.basename(staging).startswith("history")]
    assert 1 <= sum(r.endswith(hist) for r in roots) <= 2, roots
    assert sum(r.endswith(snap) for r in roots) <= 1, roots


def test_incremental_writes_release_only_their_own_frames(spark, tmp_path):
    """The CDC sinks and the minhash, span, line, substring and ANN
    ingest tiers free exactly the frames they persisted — never a diff of
    the session's caches, which would free concurrent queries' blocks:
    after each sink batch no new RDD stays persisted, after each tier
    batch only the returned checkpoint does, after a failed append
    (digest tier included) none does, and a frame persisted beforehand
    survives it all. It asserts on its own frames only: RDDs that earlier
    tests left persisted may be freed by Spark while it runs."""
    from simple_pos_kafka_pyspark_airflow_spark.cacheutil import (
        persistent_rdd_ids,
        release_caches,
    )
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalDigestIndex,
        IncrementalLineIndex,
        IncrementalMinhashIndex,
        IncrementalSpanIndex,
        IncrementalSubstringIndex,
    )

    pre = persistent_rdd_ids(spark)
    unrelated = spark.range(50).persist()
    unrelated.count()
    before = persistent_rdd_ids(spark)
    (unrelated_id,) = before - pre

    t = datetime.datetime
    ev_schema = f"id long, name string, {cdc.OP_COL} string, ts timestamp"
    sinks = [
        cdc.ParquetCdcSink(spark, str(tmp_path / "orders"), "id", "ts", "id long, name string"),
        cdc.ScdParquetCdcSink(
            spark, str(tmp_path / "customer"), str(tmp_path / "history"), "id", "ts",
            "id long, name string",
        ),
    ]
    batches = [
        [(1, "a", "upsert", t(2026, 1, 1)), (2, "b", "upsert", t(2026, 1, 1))],
        [(1, "a2", "upsert", t(2026, 1, 2)), (2, None, "delete", t(2026, 1, 2))],
    ]
    for b, rows in enumerate(batches):
        for sink in sinks:
            sink.foreach_batch(spark.createDataFrame(rows, ev_schema), b)
            assert persistent_rdd_ids(spark) - before == set(), (type(sink).__name__, b)
            assert unrelated_id in persistent_rdd_ids(spark)

    base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square"
    fresh = "fresh new words entirely distinct from anything landed so far today"
    docs = [
        [(1, base), (2, "completely unrelated content about databases indexes and shuffles")],
        [(10, base.replace("square", "plaza")), (11, fresh), (12, fresh + " again")],
    ]
    vecs = [
        [(1, _unit(0)), (2, _unit(1))],
        [(10, _unit(0, eps=0.02, j=4)), (11, _unit(2)), (12, _unit(2, eps=0.02, j=5))],
    ]

    def texts(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    minhash = IncrementalMinhashIndex(spark, str(tmp_path / "lsh"), num_hashes=16, bands=8)
    span = IncrementalSpanIndex(spark, str(tmp_path / "span"))
    line = IncrementalLineIndex(spark, str(tmp_path / "line"), min_docs=2)
    substring = IncrementalSubstringIndex(spark, str(tmp_path / "substr"), min_len=3)
    ann = IncrementalIvfIndex(spark, str(tmp_path / "ivf"), n_cells=2)
    tiers = [  # (tier, batch rows, call)
        (minhash, docs, lambda rows, b: minhash.dedup_batch(texts(rows))),
        (span, docs, lambda rows, b: span.clean_batch(texts(rows), b)),
        (
            line,
            docs,
            lambda rows, b: line.clean_batch(texts(rows).withColumn("source", F.lit("web")), b),
        ),
        (substring, docs, lambda rows, b: substring.clean_batch(texts(rows), b)),
        (
            ann,
            vecs,
            lambda rows, b: ann.dedup_batch(
                spark.createDataFrame(rows, "vec_id long, embedding array<double>")
            ),
        ),
    ]
    for b in range(2):  # the second batch probes landed state
        for tier, batches, call in tiers:
            kept = call(batches[b], b)
            new = persistent_rdd_ids(spark) - before
            checkpoint = kept._jdf.queryExecution().logical().rdd().id()
            assert new == {checkpoint}, (type(tier).__name__, b, new, checkpoint)
            assert unrelated_id in persistent_rdd_ids(spark)
            release_caches(spark, new)  # the caller owns kept

    # a failed append (here: injected) releases the tier's intermediates
    # and the checkpoint the call never returned: nothing is left
    def refuse(*a, **k):
        raise ValueError("append refused")

    digest = IncrementalDigestIndex(spark, str(tmp_path / "digest"))
    tiers.append((digest, docs, lambda rows, b: digest.dedup_batch(texts(rows))))
    for tier, _, call in tiers:
        tier._append = refuse
        rows = [(20, _unit(3))] if tier is ann else [(20, fresh + " later")]
        with pytest.raises(ValueError, match="append refused"):
            call(rows, 2)
        assert persistent_rdd_ids(spark) - before == set(), type(tier).__name__

    assert unrelated_id in persistent_rdd_ids(spark)
    assert unrelated.storageLevel.useMemory
    unrelated.unpersist()


def _rdd_id(df) -> int:
    """Id of the RDD behind a checkpoint-backed frame."""
    return df._jdf.queryExecution().logical().rdd().id()


_BASE = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square"
_FRESH = "fresh new words entirely distinct from anything landed so far today"
_OTHER = "completely unrelated content about databases indexes and shuffles"
_FOOTER = "subscribe to our newsletter for weekly stories"


def _ladder_batches() -> list[list[tuple]]:
    """Three front-door micro-batches of (doc_id, text, source, url,
    embedding) that give every tier a reject: batch 1 holds a landed
    near-dup (10), a within-batch near-dup (12), a landed URL (13), a
    landed exact copy (14) and a landed embedding near-dup (15); batch 2
    is one exact copy that never reaches the ANN tier."""
    return [
        [
            (1, _BASE, "web", "http://a.example/1", _unit(0)),
            (2, f"{_OTHER}\n{_FOOTER}", "web", "http://a.example/2", _unit(1)),
        ],
        [
            (10, _BASE.replace("square", "plaza"), "web", "http://b.example/10", _unit(0, eps=0.02, j=4)),
            (11, _FRESH, "web", "http://b.example/11", _unit(2)),
            (12, _FRESH + " again", "web", "http://b.example/12", _unit(2, eps=0.02, j=5)),
            (13, f"a recrawl of page one with new words\n{_FOOTER}", "web", "http://a.example/1", _unit(3)),
            (14, f"{_OTHER}\n{_FOOTER}", "web", "http://b.example/14", _unit(4)),
            (15, "an essay about rivers mountains and long winter evenings", "web", "http://b.example/15",
             _unit(1, eps=0.05, j=6)),
        ],
        [(20, _BASE, "web", "http://c.example/20", _unit(5))],
    ]


def _ladder_indexes(spark, root, all_tiers: bool) -> dict:
    """``ingest_corpus_batch`` index keywords under ``root``: the minhash and
    ANN tiers, plus the URL, digest, span, line and substring tiers."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalDigestIndex,
        IncrementalLineIndex,
        IncrementalMinhashIndex,
        IncrementalSpanIndex,
        IncrementalSubstringIndex,
        IncrementalUrlIndex,
    )

    idx = {
        "minhash_index": IncrementalMinhashIndex(spark, f"{root}/lsh", num_hashes=16, bands=8),
        "ann_index": IncrementalIvfIndex(spark, f"{root}/ivf", n_cells=2, id_col="doc_id"),
    }
    if all_tiers:
        idx.update(
            url_index=IncrementalUrlIndex(spark, f"{root}/url"),
            digest_index=IncrementalDigestIndex(spark, f"{root}/digest"),
            span_index=IncrementalSpanIndex(spark, f"{root}/span"),
            line_index=IncrementalLineIndex(spark, f"{root}/line", min_docs=2),
            substring_index=IncrementalSubstringIndex(spark, f"{root}/substr", min_len=3),
        )
    return idx


def _ingest_ladder(spark, idx: dict, b: int, rows: list[tuple]):
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import ingest_corpus_batch

    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, url string, embedding array<double>"
    )
    kwargs = dict(idx)
    minhash = kwargs.pop("minhash_index")
    return ingest_corpus_batch(docs, b, minhash, min_quality=0.0, min_tokens=1, **kwargs)


@pytest.mark.parametrize("tiers", ["minhash+ann", "all"])
def test_ingest_corpus_batch_leaves_one_checkpoint(spark, tmp_path, tiers):
    """The front door frees every tier checkpoint it chains: after each
    micro-batch the only new persisted RDD is the one behind the returned
    frame, and releasing that frame frees it. Covered with the minhash and
    ANN tiers alone, and with every tier on, where the excision tiers'
    lazy join over several checkpoints is materialized once. The last
    batch is rejected before the ANN tier, which then hands back its
    input unchanged. When a late step fails (the ANN tier, the last
    excision tier, the deferred URL landing), the front door frees the
    checkpoints it held."""
    from simple_pos_kafka_pyspark_airflow_spark.cacheutil import (
        persistent_rdd_ids,
        release,
    )

    idx = _ladder_indexes(spark, tmp_path, all_tiers=tiers == "all")
    want = [{1, 2}, {11} if tiers == "all" else {11, 13}, set()]
    for b, rows in enumerate(_ladder_batches()):
        before = persistent_rdd_ids(spark)
        out = _ingest_ladder(spark, idx, b, rows)
        assert persistent_rdd_ids(spark) - before == {_rdd_id(out)}, (tiers, b)
        assert {r["doc_id"] for r in out.collect()} == want[b], (tiers, b)
        release(out)
        assert persistent_rdd_ids(spark) - before == set(), (tiers, b)

    def refuse(*a, **k):
        raise ValueError("tier refused")

    steps = (
        [("substring_index", "clean_batch"), ("url_index", "record_batch")]
        if tiers == "all"
        else [("ann_index", "dedup_batch")]
    )
    for b, (tier, method) in enumerate(steps, start=3):
        setattr(idx[tier], method, refuse)
        before = persistent_rdd_ids(spark)
        with pytest.raises(ValueError, match="tier refused"):
            _ingest_ladder(
                spark, idx, b, [(30 + b, f"{_FRESH} {b}", "web", f"http://d.example/{b}", _unit(6))]
            )
        assert persistent_rdd_ids(spark) - before == set(), (tier, method)
        del idx[tier].__dict__[method]


def test_minhash_tier_frees_the_distributed_label_checkpoint(spark, tmp_path, monkeypatch):
    """On ``dedup_clusters``' distributed path (taken when a batch has more
    than ``max_driver_edges`` near-dup edges; forced here) the components
    are backed by a label checkpoint. The minhash tier frees it once its
    index append has read it: the only new persisted RDD is the returned
    frame's."""
    from simple_pos_kafka_pyspark_airflow_spark.cacheutil import (
        persistent_rdd_ids,
        release,
    )
    from simple_pos_kafka_pyspark_airflow_spark.llm import dedup
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalMinhashIndex

    real = dedup.dedup_clusters
    calls = []

    def distributed(pairs, **kw):
        calls.append(pairs)
        return real(pairs, **{**kw, "max_driver_edges": 0})

    monkeypatch.setattr(dedup, "dedup_clusters", distributed)
    idx = IncrementalMinhashIndex(spark, str(tmp_path / "lsh"), num_hashes=16, bands=8)
    docs = spark.createDataFrame(
        [(1, _BASE), (2, _BASE.replace("square", "plaza")), (3, _FRESH)], "doc_id long, text string"
    )
    before = persistent_rdd_ids(spark)
    kept = idx.dedup_batch(docs)
    assert calls
    assert persistent_rdd_ids(spark) - before == {_rdd_id(kept)}
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]
    release(kept)
    assert persistent_rdd_ids(spark) - before == set()


def test_digest_tiers_return_their_own_checkpoint(spark, tmp_path):
    """``IncrementalDigestIndex.dedup_batch`` and the URL tier's read-only
    ``filter_batch`` return the checkpoint itself, not a projection over
    it, so releasing the result frees everything the call left."""
    from simple_pos_kafka_pyspark_airflow_spark.cacheutil import (
        persistent_rdd_ids,
        release,
    )
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalDigestIndex,
        IncrementalUrlIndex,
    )

    digest = IncrementalDigestIndex(spark, str(tmp_path / "digest"))
    url = IncrementalUrlIndex(spark, str(tmp_path / "url"))
    batches = [
        [(1, _BASE, "http://a.example/1"), (2, _BASE, "http://a.example/2"), (3, None, None)],
        [(10, _BASE, "http://a.example/1"), (11, _FRESH, "http://a.example/11")],
    ]
    want = {"dedup_batch": [{1, 3}, {11}], "filter_batch": [{1, 2, 3}, {11}]}
    for name, call in (("dedup_batch", digest.dedup_batch), ("filter_batch", url.filter_batch)):
        for b, rows in enumerate(batches):
            before = persistent_rdd_ids(spark)
            out = call(spark.createDataFrame(rows, "doc_id long, text string, url string"))
            assert "_dig" not in out.columns
            assert {r["doc_id"] for r in out.collect()} == want[name][b], (name, b)
            if name == "filter_batch":
                url.record_batch(out)  # the deferred landing the front door does
            release(out)
            assert persistent_rdd_ids(spark) - before == set(), (name, b)


def test_ingest_ladder_reliable_profile_matches_local(spark, sf_dir, tmp_path, monkeypatch):
    """The cluster profile (``spark.graft.materialize=reliable``) reaches
    every ingest tier, ``bpe_train`` and ``pq_train`` through
    ``cacheutil.materialize`` and changes no result. The whole ladder runs
    under each profile with its own index paths: the returned rows and
    the index contents are equal, and under ``reliable`` no tier leaves a
    block-manager checkpoint behind (its checkpoints are files) and,
    once each batch's returned frame is released, no checkpoint file
    either. The trainers return the same merges and codebooks, and under
    ``reliable`` they reach reliable ``checkpoint()`` and leave the
    checkpoint directory as they found it."""
    from simple_pos_kafka_pyspark_airflow_spark.cacheutil import (
        CHECKPOINT_DIR_KEY,
        MATERIALIZE_MODE_KEY,
        persistent_rdd_ids,
        release,
    )
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch, tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def checkpoint_files():
        ck = spark.sparkContext.getCheckpointDir()
        return 0 if ck is None else sum(len(f) for _, _, f in os.walk(ck.removeprefix("file:")))

    def run(root):
        idx = _ladder_indexes(spark, root, all_tiers=True)
        before = persistent_rdd_ids(spark)
        n_files = checkpoint_files()
        outs = []
        for b, batch in enumerate(_ladder_batches()[:2]):  # the landed probes run on batch 1
            out = _ingest_ladder(spark, idx, b, batch)
            outs.append(rows(out))
            release(out)
            assert checkpoint_files() == n_files, b
        leftover = persistent_rdd_ids(spark) - before
        state = {k: rows(spark.read.parquet(i.path)) for k, i in idx.items()}
        return outs, state, leftover

    local = run(tmp_path / "local")
    merges = tokenize.bpe_train(docs, n_merges=6)
    books = simsearch.pq_train(emb, m=8, ks=16)
    spark.conf.set(MATERIALIZE_MODE_KEY, "reliable")
    spark.conf.set(CHECKPOINT_DIR_KEY, str(tmp_path / "ck"))
    try:
        reliable = run(tmp_path / "reliable")
        checkpoint = type(docs).checkpoint
        calls = []

        def spy(df, *a, **k):
            calls.append(1)
            return checkpoint(df, *a, **k)

        monkeypatch.setattr(type(docs), "checkpoint", spy)
        for train, want in (
            (lambda: tokenize.bpe_train(docs, n_merges=6), merges),
            (lambda: simsearch.pq_train(emb, m=8, ks=16), books),
        ):
            n_files, n_calls = checkpoint_files(), len(calls)
            assert train() == want
            assert len(calls) > n_calls
            assert checkpoint_files() == n_files
    finally:
        spark.conf.unset(MATERIALIZE_MODE_KEY)
        spark.conf.unset(CHECKPOINT_DIR_KEY)
    assert reliable[0] == local[0]
    assert reliable[1] == local[1]
    assert reliable[2] == set()


def test_null_payload_tombstone_routes_to_dead_letter(spark):
    """A Kafka tombstone (value=NULL) parses to all-null fields with
    _corrupt ALSO null: it must neither upsert an all-null row into the
    warehouse (entity_events) nor vanish (corrupt_events catches it)."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.pipeline import (
        EntitySpec, corrupt_events, entity_events,
    )

    ts = datetime.datetime(2026, 8, 13, 10, 0, 0)
    spec = EntitySpec("products", REF_TOPIC_SCHEMAS["products_add"], "product_id")
    raw = _kafka_shaped_df(
        spark, extra_rows=[(b"k", None, "products_add", 0, 904, ts, 0)]
    )
    good = entity_events(raw, spec).collect()
    assert len(good) == 3  # the three real product events; tombstone gone
    assert all(r["product_id"] is not None for r in good)
    dead = corrupt_events(raw, spec).collect()
    assert len(dead) == 1 and dead[0]["offset"] == 904


def test_parse_kafka_frame_carries_metadata(spark):
    """kafka_stream's parse composition, broker-free: metadata survives
    the parse projection as _topic/_partition/_offset/_kafka_ts next to
    the typed payload columns (referencing the raw frame's columns AFTER
    the parse was an unresolvable-attribute error)."""
    raw = _kafka_shaped_df(spark)
    out = ingest.parse_kafka_frame(
        raw.where(F.col("topic") == "products_add"), REF_TOPIC_SCHEMAS["products_add"]
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["_topic"] == "products_add" and r["_offset"] is not None
    assert r["product_id"] == 101 and r["_corrupt"] is None


def test_parse_json_events_does_not_mutate_caller_schema(spark):
    """parse_json_events must copy the field list: a shared StructType
    constant passed twice previously gained a _corrupt field on the first
    call and made the second call throw AMBIGUOUS_REFERENCE_TO_FIELDS."""
    from pyspark.sql.types import StructType

    st = StructType.fromDDL("id long, name string")
    df = spark.createDataFrame([("{}",)], "value string")
    before = len(st.fields)
    ingest.parse_json_events(df, st).collect()
    assert len(st.fields) == before
    ingest.parse_json_events(df, st).collect()  # second call must not throw
    assert len(st.fields) == before


def test_interval_join_prefixes_all_shared_columns(spark):
    """Two streams of the same event family routinely share value column
    names: every collision must come out r_-prefixed so the joined schema
    is referenceable (a bare duplicate throws AMBIGUOUS_REFERENCE)."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming import joins as sj

    t = datetime.datetime
    left = spark.createDataFrame(
        [(1, t(2026, 1, 1, 10, 0), 5.0)], "k long, ts timestamp, amount double"
    )
    right = spark.createDataFrame(
        [(1, t(2026, 1, 1, 10, 5), 7.0)], "k long, ts timestamp, amount double"
    )
    out = sj.interval_join(left, right, ["k"], "ts", "ts", upper="15 minutes")
    assert sorted(out.columns) == ["amount", "k", "r_amount", "r_k", "r_ts", "ts"]
    row = out.collect()[0]
    assert row["amount"] == 5.0 and row["r_amount"] == 7.0


def test_dedup_with_watermark_rejects_restamped_duplicate(spark, tmp_path):
    """T7 semantics: a retried event with the same key but a regenerated
    timestamp is STILL the same sale and must be rejected — duplicates
    are identified by key alone, with watermark-bounded state on the
    streaming path (dropDuplicatesWithinWatermark)."""
    src = tmp_path / "dups"
    src.mkdir()
    with open(src / "events.json", "w") as f:
        f.write(json.dumps({"sale_id": 1, "ts": "2026-01-01T10:00:00Z"}) + "\n")
        f.write(json.dumps({"sale_id": 1, "ts": "2026-01-01T10:00:01Z"}) + "\n")
        f.write(json.dumps({"sale_id": 2, "ts": "2026-01-01T10:00:02Z"}) + "\n")
    stream = ingest.file_json_stream(spark, str(src), "sale_id long, ts timestamp")
    deduped = windows.dedup_with_watermark(stream, ["sale_id"], "ts", "10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_restamp")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sale_id FROM dedup_restamp").collect()
    assert sorted(r["sale_id"] for r in got) == [1, 2]
    # batch twin: same key-only semantics
    batch = spark.createDataFrame(
        [(1, datetime.datetime(2026, 1, 1, 10, 0)), (1, datetime.datetime(2026, 1, 1, 10, 1))],
        "sale_id long, ts timestamp",
    )
    assert windows.dedup_with_watermark(batch, ["sale_id"], "ts", "10 minutes").count() == 1


def test_incremental_ivf_ingest_probe_matches_brute_force(spark, tmp_path):
    """IncrementalIvfIndex: after two ingested batches, a probe at
    nprobe=n_cells (≡ full scan of the index) must equal the exact
    brute-force top-k over the union — same ids, same scores, same
    tiebreaks — and a new index object on the same path must answer
    identically from the persisted quantizer alone (restart survival)."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    idx = IncrementalIvfIndex(spark, path, n_cells=8, n_assign=2)
    idx.fit(e)
    idx.ingest_batch(e.where(F.col("vec_id") % 2 == 0))
    idx.ingest_batch(e.where(F.col("vec_id") % 2 == 1))

    q = [float(x) for x in e.where(F.col("vec_id") == 0).first()["embedding"]]
    want = [(r["vec_id"], r["score"]) for r in simsearch.cosine_topk(e, q, k=10).collect()]
    got = [(r["vec_id"], r["score"]) for r in idx.probe(q, k=10, nprobe=8).collect()]
    assert got == want

    # pruned probe returns a subset of the index scored exactly
    pruned = [(r["vec_id"], r["score"]) for r in idx.probe(q, k=10, nprobe=2).collect()]
    assert set(pruned) <= {
        (r["vec_id"], r["score"])
        for r in simsearch.cosine_topk(e, q, k=500).collect()
    }

    again = IncrementalIvfIndex(spark, path, n_cells=8, n_assign=2)
    assert again._centroids() == idx._centroids()
    assert [(r["vec_id"], r["score"]) for r in again.probe(q, k=10, nprobe=8).collect()] == want


def test_incremental_ivf_probe_partition_pruning(spark, tmp_path):
    """The probe's cell filter must reach the scan as a PartitionFilter —
    the index directory layout IS the ANN acceleration; a probe that
    scans every cell directory has silently become brute force."""
    import contextlib
    import io

    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    idx = IncrementalIvfIndex(spark, path, n_cells=8)
    idx.fit(e)
    idx.ingest_batch(e)
    q = [float(x) for x in e.where(F.col("vec_id") == 7).first()["embedding"]]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        idx.probe(q, k=5, nprobe=2).explain(mode="formatted")
    pf = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
    assert pf and "cell" in pf[0], buf.getvalue()


def test_incremental_ivf_replay_duplicates_harmless_and_compactable(spark, tmp_path):
    """A replayed foreachBatch append lands rows twice: probes must not
    change (id dedup before scoring), and compact() must collapse the
    index back to one row per (id, cell) under the atomic swap."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(100)
    path = str(tmp_path / "ivf_index")
    idx = IncrementalIvfIndex(spark, path, n_cells=4, n_assign=2)
    idx.fit(e)
    idx.ingest_batch(e)
    q = [float(x) for x in e.where(F.col("vec_id") == 3).first()["embedding"]]
    before = [(r["vec_id"], r["score"]) for r in idx.probe(q, k=10, nprobe=4).collect()]

    idx.ingest_batch(e)  # replay
    n_replayed = spark.read.parquet(path).count()
    assert before == [(r["vec_id"], r["score"]) for r in idx.probe(q, k=10, nprobe=4).collect()]

    idx.compact()
    n_compacted = spark.read.parquet(path).count()
    assert n_compacted == n_replayed // 2 == 200  # 100 ids × n_assign 2
    assert before == [(r["vec_id"], r["score"]) for r in idx.probe(q, k=10, nprobe=4).collect()]


def test_incremental_ivf_under_streaming_foreach_batch(spark, tmp_path):
    """IncrementalIvfIndex driven the way production drives it: a file
    stream of embedding rows drained through foreachBatch(ingest_batch)
    with AvailableNow. After the drain, a full-width probe must equal
    brute force over everything that streamed in."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    src = tmp_path / "vecs"
    e.write.parquet(str(src))

    path = str(tmp_path / "ivf_index")
    idx = IncrementalIvfIndex(spark, path, n_cells=4, n_assign=2)
    idx.fit(e)  # bootstrap quantizer from the backfill corpus

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(lambda batch, _id: idx.ingest_batch(batch))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    qv = [float(x) for x in e.where(F.col("vec_id") == 1).first()["embedding"]]
    want = [(r["vec_id"], r["score"]) for r in simsearch.cosine_topk(e, qv, k=10).collect()]
    got = [(r["vec_id"], r["score"]) for r in idx.probe(qv, k=10, nprobe=4).collect()]
    assert got == want


def test_incremental_ivf_edge_guards(spark, tmp_path):
    """Empty batches are idle-trigger business as usual (no-op, and never
    a quantizer bootstrap); probing with no quantizer or an empty index
    raises a clear error instead of a deep numpy/path traceback."""
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    empty = e.where(F.lit(False))
    path = str(tmp_path / "ivf_index")
    idx = IncrementalIvfIndex(spark, path, n_cells=4)

    idx.ingest_batch(empty)  # no quantizer yet: must not fit-from-nothing
    assert idx._centroids() is None
    with _pytest.raises(ValueError, match="non-empty bootstrap"):
        idx.fit(empty)
    q = [0.0] * len(e.first()["embedding"])
    with _pytest.raises(ValueError, match="no quantizer"):
        idx.probe(q)

    idx.fit(e)
    with _pytest.raises(ValueError, match="no index rows"):
        idx.probe(q)
    idx.ingest_batch(empty)  # quantizer exists: still a no-op
    with _pytest.raises(ValueError, match="no index rows"):
        idx.probe(q)
    idx.ingest_batch(e)
    assert idx.probe(q, k=5, nprobe=4).count() == 5


def test_incremental_ivf_quantized_index_shrinks_and_rescore_exact(spark, tmp_path):
    """store_quantized=True: the index on disk is a fraction of the float
    form (this is the whole point — probe scan I/O at 100 TB); quantized
    probing stays high-recall; and rescore_from upgrades the result to
    EXACTLY the brute-force top-k, scores included."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch
    from simple_pos_kafka_pyspark_airflow_spark.sources.io import dir_bytes
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fpath, qpath = str(tmp_path / "ivf_f"), str(tmp_path / "ivf_q")
    fidx = IncrementalIvfIndex(spark, fpath, n_cells=4)
    qidx = IncrementalIvfIndex(spark, qpath, n_cells=4, store_quantized=True)
    fidx.fit(e), qidx.fit(e)
    fidx.ingest_batch(e), qidx.ingest_batch(e)
    assert dir_bytes(spark, qpath) < 0.6 * dir_bytes(spark, fpath)

    q = [float(x) for x in e.where(F.col("vec_id") == 5).first()["embedding"]]
    exact = [(r["vec_id"], r["score"]) for r in simsearch.cosine_topk(e, q, k=10).collect()]
    approx = [r["vec_id"] for r in qidx.probe(q, k=10, nprobe=4).collect()]
    assert len(set(approx) & {i for i, _ in exact}) >= 9  # quantization noise ≤ 1 of 10

    rescored = [
        (r["vec_id"], r["score"])
        for r in qidx.probe(q, k=10, nprobe=4, rescore_from=e).collect()
    ]
    assert rescored == exact


def test_incremental_ivf_rejects_layout_mixing(spark, tmp_path):
    """Reopening a quantized index with the default (float) flag — or vice
    versa — must raise at ingest, not append the other layout: probes
    auto-detect the layout from the stored schema, so a minority layout's
    rows read as nulls and silently vanish from results."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(40)
    path = str(tmp_path / "ivf")
    qidx = IncrementalIvfIndex(spark, path, n_cells=4, store_quantized=True)
    qidx.fit(e)
    qidx.ingest_batch(e)
    n_before = spark.read.parquet(path).count()

    # reopen with the default flag (the silent-mixing bug scenario)
    fidx = IncrementalIvfIndex(spark, path, n_cells=4)
    with pytest.raises(ValueError, match="store_quantized"):
        fidx.ingest_batch(e)
    assert spark.read.parquet(path).count() == n_before  # nothing appended

    # and the mirror direction: float index, quantized writer
    fpath = str(tmp_path / "ivf_f")
    f2 = IncrementalIvfIndex(spark, fpath, n_cells=4)
    f2.fit(e)
    f2.ingest_batch(e)
    q2 = IncrementalIvfIndex(spark, fpath, n_cells=4, store_quantized=True)
    with pytest.raises(ValueError, match="store_quantized"):
        q2.ingest_batch(e)

    # the matching flag still appends fine
    qidx.ingest_batch(e)
    assert spark.read.parquet(path).count() == 2 * n_before


def test_incremental_ivf_compact_crash_between_staging_and_swap(spark, tmp_path):
    """A compact() that dies after writing the staging copy but before the
    snapshot swap must leave the live index untouched (probes read the old
    rows) and a re-run must converge — the same crash contract the minhash
    index's compact carries."""
    from simple_pos_kafka_pyspark_airflow_spark.sources import io as io_mod
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(60)
    path = str(tmp_path / "ivf")
    idx = IncrementalIvfIndex(spark, path, n_cells=4, n_assign=2)
    idx.fit(e)
    idx.ingest_batch(e)
    idx.ingest_batch(e)  # replay-duplicated rows for compact to collapse
    q = [float(x) for x in e.first()["embedding"]]
    want = [(r["vec_id"], r["score"]) for r in idx.probe(q, k=8, nprobe=4).collect()]
    n_dup = spark.read.parquet(path).count()

    real_swap = io_mod.fs_swap_in

    def crash_swap(spark_, staging, dest):
        raise RuntimeError("injected crash before swap")

    io_mod.fs_swap_in = crash_swap
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            idx.compact()
        # live index untouched: still the duplicated rows, same probe answer
        assert spark.read.parquet(path).count() == n_dup
        assert want == [
            (r["vec_id"], r["score"]) for r in idx.probe(q, k=8, nprobe=4).collect()
        ]
    finally:
        io_mod.fs_swap_in = real_swap

    idx.compact()  # re-run converges over the leftover staging dir
    assert spark.read.parquet(path).count() == 120  # 60 ids × n_assign 2
    assert want == [
        (r["vec_id"], r["score"]) for r in idx.probe(q, k=8, nprobe=4).collect()
    ]


def test_anomaly_gate_stream_matches_batch_query(spark, tmp_path):
    """The streaming data-quality monitor shape: moments computed batch-side,
    the z-score gate applied to a live stream as a stateless stream-static
    broadcast join. Streamed alerts must equal the batch q_anomaly_zscore
    rows on the same events at the same moments snapshot."""
    from simple_pos_kafka_pyspark_airflow_spark.operators import validation
    from simple_pos_kafka_pyspark_airflow_spark.plans import load_registry

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    moments = validation.group_moments(ev)

    src = tmp_path / "events_stream"
    ev.repartition(3).write.parquet(str(src))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    assert stream.isStreaming
    alerts = validation.anomaly_gate(stream, moments).select(
        "event_id", "event_type", "value", "z"
    )
    sink = tmp_path / "alerts"
    q = (
        alerts.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["event_id"], r["z"])
        for r in spark.read.schema(alerts.schema).parquet(str(sink)).collect()
    }
    want = {
        (r["event_id"], r["z"])
        for r in load_registry()["q_anomaly_zscore"].build(spark, sf).collect()
    }
    assert got == want and got


def test_ingest_corpus_batch_composes_front_door(spark, tmp_path):
    """The composed corpus front door across two micro-batches: quality
    rejects never land, a cross-batch near-dup is rejected off the
    persistent index, and a span repeated across batches is excised from
    the later batch's landed text."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalMinhashIndex,
        IncrementalSpanIndex,
        ingest_corpus_batch,
    )

    a_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    mh = IncrementalMinhashIndex(
        spark, str(tmp_path / "mh"), num_hashes=16, bands=8, jaccard_threshold=0.8
    )
    sp = IncrementalSpanIndex(spark, str(tmp_path / "sp"), span_tokens=3, min_docs=2)

    b1 = spark.createDataFrame(
        [(1, a_text), (2, "too short")], "doc_id long, text string"
    )
    landed1 = ingest_corpus_batch(b1, 0, mh, sp, min_quality=0.0, min_tokens=3)
    rows1 = {r["doc_id"]: r["text"] for r in landed1.collect()}
    assert set(rows1) == {1}  # quality gate dropped doc 2 (2 tokens)
    assert rows1[1] == a_text  # nothing boilerplate yet (all counts = 1)

    b2 = spark.createDataFrame(
        [
            (10, a_text + " extratoken"),  # near-dup of landed doc 1
            (11, "one two three four five six alpha beta gamma"),  # shares a span with doc 1
        ],
        "doc_id long, text string",
    )
    landed2 = ingest_corpus_batch(b2, 1, mh, sp, min_quality=0.0, min_tokens=3)
    rows2 = {r["doc_id"]: (r["text"], r["n_dropped"]) for r in landed2.collect()}
    assert set(rows2) == {11}  # 10 rejected off the persistent near-dup index
    text11, dropped11 = rows2[11]
    assert "alpha beta gamma" not in text11  # cross-batch boilerplate excised
    assert "one two three" in text11 and dropped11 == 1


def test_kafka_value_path_embeddings_into_ivf_index(spark, tmp_path):
    """Broker-free Kafka→ANN loop: embedding payloads decode off a
    Kafka-shaped frame (array<float> through from_json) and feed the
    incremental IVF index; a probe must return exactly the decoded
    vectors' brute-force top-k."""
    import datetime

    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch
    from simple_pos_kafka_pyspark_airflow_spark.streaming import ingest
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(64)
    ts = datetime.datetime(2026, 8, 13, 10, 0, 0)
    rows = [
        (
            str(r["vec_id"]).encode(),
            json.dumps({"vec_id": r["vec_id"], "embedding": [float(x) for x in r["embedding"]]}).encode(),
            "embeddings",
            r["vec_id"] % 3,
            100 + r["vec_id"],
            ts,
            0,
        )
        for r in e.collect()
    ]
    raw = spark.createDataFrame(rows, KAFKA_SOURCE_DDL)
    decoded = ingest.parse_kafka_frame(raw, "vec_id long, embedding array<float>")
    assert decoded.where(F.col("_corrupt").isNotNull()).count() == 0
    vecs = decoded.select("vec_id", F.col("embedding").cast("array<float>"))

    idx = IncrementalIvfIndex(spark, str(tmp_path / "ivf"), n_cells=4, n_assign=2)
    idx.fit(vecs)
    idx.ingest_batch(vecs)
    q = [float(x) for x in e.where(F.col("vec_id") == 0).first()["embedding"]]
    want = [(r["vec_id"], r["score"]) for r in simsearch.cosine_topk(e, q, k=5).collect()]
    got = [(r["vec_id"], r["score"]) for r in idx.probe(q, k=5, nprobe=4).collect()]
    assert got == want


def test_kafka_value_path_documents_into_digest_index(spark, tmp_path):
    """Broker-free Kafka→dedup loop: document payloads decode off a
    Kafka-shaped frame (from_json) and feed the incremental digest index;
    a byte-identical document arriving in a later Kafka batch is rejected
    against the landed corpus."""
    import datetime

    from simple_pos_kafka_pyspark_airflow_spark.streaming import ingest
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalDigestIndex

    ts = datetime.datetime(2026, 8, 14, 10, 0, 0)

    def kafka_frame(docs):
        rows = [
            (
                str(i).encode(),
                json.dumps({"doc_id": i, "text": t}).encode(),
                "documents",
                i % 3,
                500 + i,
                ts,
                0,
            )
            for i, t in docs
        ]
        return spark.createDataFrame(rows, KAFKA_SOURCE_DDL)

    idx = IncrementalDigestIndex(spark, str(tmp_path / "dg"))
    b1 = ingest.parse_kafka_frame(
        kafka_frame([(1, "alpha beta gamma"), (2, "delta epsilon zeta")]),
        "doc_id long, text string",
    )
    assert b1.where(F.col("_corrupt").isNotNull()).count() == 0
    assert sorted(
        r["doc_id"] for r in idx.dedup_batch(b1.select("doc_id", "text")).collect()
    ) == [1, 2]

    b2 = ingest.parse_kafka_frame(
        kafka_frame([(9, "alpha beta gamma"), (10, "fresh new content")]),
        "doc_id long, text string",
    )
    assert sorted(
        r["doc_id"] for r in idx.dedup_batch(b2.select("doc_id", "text")).collect()
    ) == [10]


def _reference_probe(idx, query_vec, k=10, nprobe=4, rescore_from=None, overfetch=4):
    """Independent single-query IVF probe, the reference ``probe_batch`` is
    pinned against: driver-side cell ranking, literal-array JVM cosine,
    JVM ``element_at`` ADC gathers on a PQ index, and an ``orderBy/limit``
    candidate cut + exact re-rank when ``rescore_from`` is given."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch

    cents = idx._centroids()
    c = np.array(cents, dtype="float64")
    c_hat = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    q = np.array(query_vec, dtype="float64")
    q_hat = q / max(float(np.linalg.norm(q)), 1e-12)
    cells = [int(x) for x in np.argsort(-(c_hat @ q_hat))[:nprobe]]
    rows = (
        idx.spark.read.parquet(idx.path)
        .where(F.col("cell").isin(cells))
        .dropDuplicates([idx.id_col])
    )
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    if "pq_code" in rows.columns:
        cb = np.array(idx._pq_codebooks(), dtype="float64")  # (m, ks, dsub)
        m, _, dsub = cb.shape
        tables = [q_hat[s * dsub : (s + 1) * dsub] @ cb[s].T for s in range(m)]
        score = None
        for s in range(m):
            t_arr = F.array(*[F.lit(float(v)) for v in tables[s]])
            term = F.element_at(t_arr, (F.element_at("pq_code", s + 1) + 1).cast("int"))
            score = term if score is None else score + term
    else:
        vec = (
            simsearch.dequantize_embedding(F.col("q_codes"), F.col("q_scale"))
            if "q_codes" in rows.columns
            else F.col(idx.vec_col)
        )
        score = F.round(simsearch.cosine(vec, qcol), 6)
    scored = rows.select(F.col(idx.id_col), score.alias("score"))
    if rescore_from is not None:
        cand_ids = (
            scored.orderBy(F.col("score").desc(), F.col(idx.id_col))
            .limit(overfetch * k)
            .select(idx.id_col)
        )
        scored = rescore_from.join(F.broadcast(cand_ids), idx.id_col).select(
            F.col(idx.id_col),
            F.round(simsearch.cosine(F.col(idx.vec_col), qcol), 6).alias("score"),
        )
    return scored.orderBy(F.col("score").desc(), F.col(idx.id_col)).limit(k)


def test_incremental_ivf_probe_batch_matches_per_query_probes(spark, tmp_path):
    """probe_batch must equal N independent single-query probes (the
    test-local reference) query-by-query — same ids, scores, and ranks —
    on both float and quantized indexes, and on the int8 index with the
    exact ``rescore_from`` re-rank as well; ``probe`` must equal the
    reference too."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in e.where(F.col("vec_id") < 3).collect()
    ]
    for quant in (False, True):
        idx = IncrementalIvfIndex(
            spark, str(tmp_path / f"ivf_{quant}"), n_cells=8, n_assign=2,
            store_quantized=quant,
        )
        idx.fit(e)
        idx.ingest_batch(e)
        for rescore in (None, e) if quant else (None,):
            batch = {}
            for r in idx.probe_batch(qs, k=6, nprobe=3, rescore_from=rescore).collect():
                batch.setdefault(r["query_id"], []).append((r["rn"], r["vec_id"], r["score"]))
            assert sorted(batch) == [0, 1, 2]
            for qid, qv in qs:
                want = [
                    (i + 1, r["vec_id"], r["score"])
                    for i, r in enumerate(
                        _reference_probe(idx, qv, k=6, nprobe=3, rescore_from=rescore).collect()
                    )
                ]
                assert sorted(batch[qid]) == want, (quant, rescore is not None, qid)
                single = idx.probe(qv, k=6, nprobe=3, rescore_from=rescore).collect()
                assert [(i, s) for _, i, s in want] == [tuple(r) for r in single]


def test_incremental_ivf_probe_batch_rejects_duplicate_query_ids(spark, tmp_path):
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    idx = IncrementalIvfIndex(spark, str(tmp_path / "ivf"), n_cells=2)
    idx.fit(e)
    idx.ingest_batch(e)
    v = [float(x) for x in e.first()["embedding"]]
    with pytest.raises(ValueError, match="duplicate query ids"):
        idx.probe_batch([(1, v), (1, v)])


def test_psi_drift_detects_shifted_distribution(spark):
    """PSI ≈ 0 between identical distributions; large for a mean-shifted
    one — and agrees with a python replay of the same histograms."""
    import math
    import random

    from simple_pos_kafka_pyspark_airflow_spark.operators import validation

    rng = random.Random(7)
    ref_rows = [("a", rng.gauss(0, 1)) for _ in range(2000)]
    same_rows = [("a", rng.gauss(0, 1)) for _ in range(2000)]
    shifted_rows = [("a", rng.gauss(3, 1)) for _ in range(2000)]
    mk = lambda rows: spark.createDataFrame(rows, "event_type string, value double")  # noqa: E731

    ref_h = validation.value_histogram(mk(ref_rows), lo=-4.0, hi=4.0, n_bins=8)
    same_h = validation.value_histogram(mk(same_rows), lo=-4.0, hi=4.0, n_bins=8)
    shift_h = validation.value_histogram(mk(shifted_rows), lo=-4.0, hi=4.0, n_bins=8)

    psi_same = validation.psi_drift(ref_h, same_h).first()["psi"]
    psi_shift = validation.psi_drift(ref_h, shift_h).first()["psi"]
    assert psi_same < 0.1 < psi_shift  # stable vs action-needed

    # python replay with the same binning and eps floor
    def hist(rows):
        counts = [0] * 8
        for _, v in rows:
            b = min(7, max(0, int((v - -4.0) / 1.0)))
            counts[b] += 1
        return [c / len(rows) for c in counts]

    p, q = hist(ref_rows), hist(shifted_rows)
    want = sum(
        (max(a, 1e-4) - max(b, 1e-4)) * math.log(max(a, 1e-4) / max(b, 1e-4))
        for a, b in zip(p, q)
    )
    assert abs(psi_shift - want) < 1e-9


def test_incremental_ivf_compact_idempotent(spark, tmp_path):
    """compact∘compact == compact: a second pass finds nothing to collapse
    and probes are unchanged throughout."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(60)
    idx = IncrementalIvfIndex(spark, str(tmp_path / "ivf"), n_cells=4, n_assign=2)
    idx.fit(e)
    idx.ingest_batch(e)
    idx.ingest_batch(e)  # replay
    q = [float(x) for x in e.first()["embedding"]]
    want = [(r["vec_id"], r["score"]) for r in idx.probe(q, k=8, nprobe=4).collect()]

    idx.compact()
    n1 = spark.read.parquet(str(tmp_path / "ivf")).count()
    idx.compact()
    n2 = spark.read.parquet(str(tmp_path / "ivf")).count()
    assert n1 == n2 == 120  # 60 ids × n_assign 2
    assert want == [(r["vec_id"], r["score"]) for r in idx.probe(q, k=8, nprobe=4).collect()]


def test_ingest_corpus_batch_under_streaming_drain(spark, tmp_path):
    """The composed front door under a real AvailableNow drain, one file
    per micro-batch: later batches must dedup against EARLIER batches'
    landed state through the persistent indexes."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalMinhashIndex,
        IncrementalSpanIndex,
        ingest_corpus_batch,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    src = tmp_path / "docs"
    src.mkdir()
    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(10, base + " extratoken"), (11, "one two three four five six alpha beta gamma")],
        "doc_id long, text string",
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    mh = IncrementalMinhashIndex(
        spark, str(tmp_path / "mh"), num_hashes=16, bands=8, jaccard_threshold=0.8
    )
    sp = IncrementalSpanIndex(spark, str(tmp_path / "sp"), span_tokens=3, min_docs=2)
    sink = str(tmp_path / "landed")

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, bid: ingest_corpus_batch(
                batch, bid, mh, sp, min_quality=0.0, min_tokens=3
            )
            .write.mode("append")
            .parquet(sink)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    landed = {r["doc_id"]: r["text"] for r in spark.read.parquet(sink).collect()}
    assert 1 in landed and 10 not in landed  # cross-batch near-dup rejected
    if 11 in landed:  # batch order is file order; doc 11 lands span-cleaned
        assert "alpha beta gamma" not in landed[11]
    assert set(landed) == {1, 11}


def test_schema_and_null_rate_drift(spark):
    """Schema drift reports adds/removes/type changes without running a
    job; null-rate drift flags the column whose null fraction jumped."""
    from simple_pos_kafka_pyspark_airflow_spark.operators import validation

    ref = spark.createDataFrame(
        [(1, "x", 1.0)], "id long, name string, score double"
    )
    from decimal import Decimal

    cur = spark.createDataFrame(
        [(1, Decimal("2.00"), "extra")], "id long, score decimal(10,2), note string"
    )
    drift = validation.schema_drift(ref, cur)
    assert drift["added"] == ["note"]
    assert drift["removed"] == ["name"]
    assert drift["type_changed"] == ["score: double -> decimal(10,2)"]

    ref2 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, v string")
    cur2 = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, "d")], "id long, v string"
    )
    rates = {r["column"]: r for r in validation.null_rate_drift(ref2, cur2).collect()}
    assert rates["v"]["ref_rate"] == 0.0 and rates["v"]["cur_rate"] == 0.75
    assert abs(rates["v"]["delta"] - 0.75) < 1e-12 and rates["id"]["delta"] == 0.0


def test_incremental_digest_index_cross_batch_exact_dedup(spark, tmp_path):
    """IncrementalDigestIndex: batch 2's byte-identical copy of a landed
    doc is rejected; within-batch copies keep the min id; replaying a
    batch neither rejects its own docs nor changes decisions; compact
    collapses the replayed rows; probe is read-only."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalDigestIndex

    path = str(tmp_path / "digest")
    idx = IncrementalDigestIndex(spark, path)
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta"), (3, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    got1 = sorted(r["doc_id"] for r in idx.dedup_batch(b1).collect())
    assert got1 == [1, 2]  # within-batch copy (3) dropped, min id kept

    b2 = spark.createDataFrame(
        [(10, "alpha beta gamma"), (11, "brand new content")], ["doc_id", "text"]
    )
    hits = {(r["doc_id"], r["old_id"]) for r in idx.probe(b2).collect()}
    assert hits == {(10, 1)}
    n_index_before = spark.read.parquet(path).count()
    assert n_index_before == 2  # probe appended nothing
    got2 = sorted(r["doc_id"] for r in idx.dedup_batch(b2).collect())
    assert got2 == [11]  # landed copy rejected

    # replay batch 2 (foreachBatch redelivery): same survivors — the
    # replayed doc must NOT be rejected against its own landed row
    replay = sorted(r["doc_id"] for r in idx.dedup_batch(b2).collect())
    assert replay == [11]
    idx.compact()
    landed = spark.read.parquet(path)
    assert landed.count() == 3  # 1, 2, 11 — replay duplicate collapsed
    assert sorted(r["doc_id"] for r in landed.collect()) == [1, 2, 11]


def test_incremental_digest_index_canonical_mode(spark, tmp_path):
    """canonical=True keys the index on the normalized form: a landed
    doc's case/punctuation variant is rejected cross-batch, while the
    default byte-exact index admits it."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalDigestIndex

    b1 = spark.createDataFrame([(1, "Hello, World!")], ["doc_id", "text"])
    b2 = spark.createDataFrame([(2, "hello world")], ["doc_id", "text"])

    canon = IncrementalDigestIndex(spark, str(tmp_path / "canon"), canonical=True)
    canon.dedup_batch(b1)
    assert canon.dedup_batch(b2).count() == 0  # variant rejected

    raw = IncrementalDigestIndex(spark, str(tmp_path / "raw"))
    raw.dedup_batch(b1)
    assert sorted(r["doc_id"] for r in raw.dedup_batch(b2).collect()) == [2]


def test_ingest_corpus_batch_with_digest_prefilter(spark, tmp_path):
    """The composed front door with the digest pre-filter: a byte-exact
    landed copy is rejected by the cheap digest join before the minhash
    stage, and the minhash index never records its rows."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalDigestIndex,
        IncrementalMinhashIndex,
        ingest_corpus_batch,
    )

    ts = datetime.datetime(2026, 8, 14, 12, 0, 0)
    mh = IncrementalMinhashIndex(spark, str(tmp_path / "mh"))
    dg = IncrementalDigestIndex(spark, str(tmp_path / "dg"))
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today", ts)],
        ["doc_id", "text", "ts"],
    )
    out1 = ingest_corpus_batch(b1, 0, mh, digest_index=dg)
    assert [r["doc_id"] for r in out1.collect()] == [1]
    b2 = spark.createDataFrame(
        [(5, "the quick brown fox jumps over the lazy dog today", ts),
         (6, "entirely different words compose this second document here", ts)],
        ["doc_id", "text", "ts"],
    )
    out2 = ingest_corpus_batch(b2, 1, mh, digest_index=dg)
    assert [r["doc_id"] for r in out2.collect()] == [6]
    # the exact copy never reached the minhash index
    assert spark.read.parquet(str(tmp_path / "mh")).where("doc_id = 5").count() == 0


def test_digest_index_under_streaming_drain(spark, tmp_path):
    """The digest pre-filter under a real AvailableNow drain, one file per
    micro-batch: batch 2's byte-identical copy of batch 1's landed doc is
    rejected through the PERSISTENT index (not watermark state), and the
    composed front door lands exactly the distinct survivors."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalDigestIndex,
        IncrementalMinhashIndex,
        ingest_corpus_batch,
    )

    ts = datetime.datetime(2026, 8, 14, 12, 0, 0)
    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_b = "completely different second document with its own tokens here"
    src = tmp_path / "docs"
    src.mkdir()
    schema = "doc_id long, text string, ts timestamp"
    spark.createDataFrame([(1, text_a, ts)], schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(
        [(10, text_a, ts), (11, text_b, ts)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))

    mh = IncrementalMinhashIndex(spark, str(tmp_path / "mh"), num_hashes=16, bands=8)
    dg = IncrementalDigestIndex(spark, str(tmp_path / "dg"))
    sink = str(tmp_path / "landed")

    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(src / "f1")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, bid: ingest_corpus_batch(
                batch, bid, mh, min_quality=0.0, min_tokens=3, digest_index=dg
            )
            .write.mode("append")
            .parquet(sink)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    landed = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert landed == [1, 11]  # the cross-batch exact copy (10) never landed
    # and the digest index recorded exactly the survivors
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "dg")).collect()
    ) == [1, 11]


def test_validation_degenerate_inputs_fail_loudly(spark):
    """The monitoring family's edge guards: deriving histogram edges from
    an empty/all-null frame, and null-rate drift over disjoint or
    one-sided column sets, must raise a clear error instead of the former
    opaque crashes (float(None) / agg of zero columns)."""
    from simple_pos_kafka_pyspark_airflow_spark.operators import validation

    empty = spark.createDataFrame([], "event_type string, value double")
    with pytest.raises(ValueError, match="bin edges"):
        validation.value_histogram(empty)
    all_null = spark.createDataFrame(
        [("a", None), ("b", None)], "event_type string, value double"
    )
    with pytest.raises(ValueError, match="bin edges"):
        validation.value_histogram(all_null)
    # explicit edges make the empty frame well-defined: empty histogram
    assert validation.value_histogram(empty, lo=0.0, hi=1.0).count() == 0

    ref = spark.createDataFrame([(1,)], "a long")
    cur = spark.createDataFrame([(1,)], "b long")
    with pytest.raises(ValueError, match="no columns to compare"):
        validation.null_rate_drift(ref, cur)
    with pytest.raises(ValueError, match="absent from one side"):
        validation.null_rate_drift(ref, cur, cols=["a"])


def test_embedding_drift_detects_planted_shift(spark):
    """A constant shift planted in one dimension shows up as exactly that
    dimension's shift value; undrifted dimensions report 0.0."""
    from simple_pos_kafka_pyspark_airflow_spark.operators import validation

    ref = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    cur = spark.createDataFrame(
        [(i, [1.0, 2.5, 3.0]) for i in range(8)],  # dim 1 shifted by +0.5
        "vec_id long, embedding array<float>",
    )
    rows = {r["pos"]: r for r in validation.embedding_drift(ref, cur).collect()}
    assert rows[0]["shift"] == 0.0 and rows[2]["shift"] == 0.0
    assert rows[1]["shift"] == 0.5
    assert rows[1]["mu_ref"] == 2.0 and rows[1]["mu_cur"] == 2.5


def test_minhash_index_probe_is_read_only(spark, tmp_path):
    """probe() answers the decontamination question against the landed
    corpus — reports the near-dup pair with its exact Jaccard — without
    appending index rows; empty-index probes return an empty frame."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalMinhashIndex

    base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square"
    idx = IncrementalMinhashIndex(
        spark, str(tmp_path / "mh"), num_hashes=16, bands=8, jaccard_threshold=0.8
    )
    b0 = spark.createDataFrame([(5, base)], "doc_id long, text string")
    assert idx.probe(b0).collect() == []  # nothing landed yet

    idx.dedup_batch(b0)
    n_rows = spark.read.parquet(str(tmp_path / "mh")).count()

    probe_docs = spark.createDataFrame(
        [(9, base.replace("square", "plaza")), (10, "entirely different text about nothing")],
        "doc_id long, text string",
    )
    hits = idx.probe(probe_docs).collect()
    assert [(r["doc_id"], r["old_id"]) for r in hits] == [(9, 5)]
    assert hits[0]["jaccard"] >= 0.8
    assert spark.read.parquet(str(tmp_path / "mh")).count() == n_rows  # unchanged

    # the probe did not affect later ingest decisions
    assert idx.dedup_batch(probe_docs).select("doc_id").collect()[0]["doc_id"] == 10


# ---------------------------------------------------------------------------
# PersistentBloomGate (ingest-time decontamination)
# ---------------------------------------------------------------------------


def _gate_frames(spark):
    evalset = spark.createDataFrame(
        [(900, "the canary benchmark answer is purple giraffe today")],
        ["doc_id", "text"],
    )
    batch1 = spark.createDataFrame(
        [
            (1, "clean document about procedural terrain generation methods here"),
            (2, "leaky doc quoting the canary benchmark answer is purple giraffe"),
        ],
        ["doc_id", "text"],
    )
    batch2 = spark.createDataFrame(
        [
            (3, "another clean document with entirely unrelated subject matter words"),
            (4, "second leak repeating canary benchmark answer is purple giraffe verbatim"),
            (5, "tiny"),  # sub-5-token doc: cannot carry a leak, must pass
        ],
        ["doc_id", "text"],
    )
    return evalset, batch1, batch2


def test_bloom_gate_persists_across_reopen(spark, tmp_path):
    """fit() once; a FRESH gate object over the same path (a new driver
    process after restart) must flag the same leaks from the stored
    bitmap, across multiple batches."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import PersistentBloomGate

    evalset, batch1, batch2 = _gate_frames(spark)
    path = str(tmp_path / "gate")
    PersistentBloomGate(spark, path).fit(evalset, m_bits=1 << 20)

    reopened = PersistentBloomGate(spark, path)
    kept1 = {r["doc_id"] for r in reopened.clean_batch(batch1).collect()}
    kept2 = {r["doc_id"] for r in reopened.clean_batch(batch2).collect()}
    assert kept1 == {1}
    assert kept2 == {3, 5}, "short docs pass; the leak is rejected"


def test_bloom_gate_unfit_raises_not_passes(spark, tmp_path):
    """A never-fit gate must refuse loudly — silently flagging nothing
    would wave contamination into the corpus."""
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import PersistentBloomGate

    _, batch1, _ = _gate_frames(spark)
    gate = PersistentBloomGate(spark, str(tmp_path / "missing"))
    with _pytest.raises(ValueError, match="fit"):
        gate.clean_batch(batch1).collect()


def test_bloom_gate_empty_evalset_is_valid_and_flags_nothing(spark, tmp_path):
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import PersistentBloomGate

    evalset, batch1, _ = _gate_frames(spark)
    path = str(tmp_path / "gate0")
    PersistentBloomGate(spark, path).fit(evalset.where(F.lit(False)), m_bits=1 << 20)
    reopened = PersistentBloomGate(spark, path)
    assert reopened.clean_batch(batch1).count() == batch1.count()


def test_ingest_front_door_rejects_contaminated_before_indexing(spark, tmp_path):
    """ingest_corpus_batch with a bloom_gate: the contaminated document
    must neither land NOR leave index rows behind (the gate runs ahead of
    every persistent index), and a replay of the same batch converges."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalMinhashIndex,
        PersistentBloomGate,
        ingest_corpus_batch,
    )

    evalset, batch1, _ = _gate_frames(spark)
    gate_path = str(tmp_path / "gate")
    PersistentBloomGate(spark, gate_path).fit(evalset, m_bits=1 << 20)
    gate = PersistentBloomGate(spark, gate_path)
    mh = IncrementalMinhashIndex(spark, str(tmp_path / "mh"))

    landed = ingest_corpus_batch(
        batch1, 0, mh, min_quality=0.0, min_tokens=1, bloom_gate=gate
    )
    assert {r["doc_id"] for r in landed.collect()} == {1}
    idx_ids = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "mh")).collect()}
    assert 2 not in idx_ids, "contaminated doc must not leave index rows"


def test_full_front_door_with_bloom_gate_under_streaming_drain(spark, tmp_path):
    """The complete front door — Bloom decontamination gate + digest +
    minhash indexes — under a real AvailableNow drain, one file per
    micro-batch: the contaminated document is rejected in ITS batch, the
    later byte-identical copy of a landed doc is rejected by the digest
    index, and the near-dup by the minhash index."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalDigestIndex,
        IncrementalMinhashIndex,
        PersistentBloomGate,
        ingest_corpus_batch,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    leak = "the canary benchmark answer is purple giraffe exactly as published"
    evalset = spark.createDataFrame(
        [(900, "canary benchmark answer is purple giraffe")], "doc_id long, text string"
    )
    src = tmp_path / "docs"
    src.mkdir()
    spark.createDataFrame(
        [(1, base), (2, leak)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(10, base), (11, base + " extratoken"), (12, "one two three four five unrelated")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "f2"))

    gate_path = str(tmp_path / "gate")
    PersistentBloomGate(spark, gate_path).fit(evalset, m_bits=1 << 20)
    gate = PersistentBloomGate(spark, gate_path)
    dg = IncrementalDigestIndex(spark, str(tmp_path / "dg"))
    mh = IncrementalMinhashIndex(
        spark, str(tmp_path / "mh"), num_hashes=16, bands=8, jaccard_threshold=0.8
    )
    sink = str(tmp_path / "landed")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, bid: ingest_corpus_batch(
                batch,
                bid,
                mh,
                min_quality=0.0,
                min_tokens=3,
                digest_index=dg,
                bloom_gate=gate,
            )
            .write.mode("append")
            .parquet(sink)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    landed = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    # 2 contaminated (bloom); 10 exact copy (digest); 11 near-dup (minhash)
    assert landed == {1, 12}, landed
    # and the rejected docs left no index rows behind
    mh_ids = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "mh")).collect()}
    assert 2 not in mh_ids and 10 not in mh_ids


def test_cusum_fold_incremental_equals_batch_operator(spark):
    """Two sequential _fold_cusum calls (micro-batch split) must produce
    the same per-row statistics as the BATCH cusum_alarms window rewrite
    over the union with the same frozen target — state carries C across
    the split exactly."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.timeseries import cusum_alarms
    from simple_pos_kafka_pyspark_airflow_spark.streaming.state import _fold_cusum

    import pandas as pd

    # dev = x - 100 (target 90/1, slack 10), threshold 400 — mirrors the
    # property test's parameters
    xs = [150, 30, 220, 10, 300, 290, 5, 180]
    devs = [x - 100 for x in xs]
    b1 = pd.DataFrame({"order_key": range(4), "dev": devs[:4]})
    b2 = pd.DataFrame({"order_key": range(4, 8), "dev": devs[4:]})
    c1, out1 = _fold_cusum(0, [b1], 400)
    c2, out2 = _fold_cusum(c1, [b2], 400)
    stream_rows = pd.concat([out1, out2]).set_index("order_key")

    df = spark.createDataFrame(
        [(1, i, x) for i, x in enumerate(xs)], "k long, i long, x long"
    )
    batch = cusum_alarms(
        df, "k", ["i"], F.col("x"),
        F.lit(90).cast("long"), F.lit(1).cast("long"),
        F.lit(10).cast("long"), F.lit(400).cast("long"),
    ).collect()
    for r in batch:
        assert stream_rows.loc[r["i"], "c_scaled"] == r["c_scaled"]
        assert stream_rows.loc[r["i"], "alarm"] == r["alarm"]


def test_cusum_stream_carries_state_across_microbatches(spark, tmp_path):
    """Real stream: two files drained one per micro-batch through
    cusum_stream must emit the same statistics as the batch operator on
    the union — the checkpointed C survives the batch boundary."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.timeseries import cusum_alarms
    from simple_pos_kafka_pyspark_airflow_spark.streaming.state import cusum_stream

    xs = {1: [150, 220, 300, 10, 250], 2: [50, 40, 400, 390, 20]}
    rows = [
        (k, i, x, x - 100)  # dev = x - target(90) - slack(10)
        for k, seq in xs.items()
        for i, x in enumerate(seq)
    ]
    src = tmp_path / "cusum_src"
    src.mkdir()
    df = spark.createDataFrame(rows, "key long, order_key long, x long, dev long")
    # file 0: order_key < 3, file 1: the rest — forces cross-batch state
    df.where("order_key < 3").coalesce(1).write.parquet(str(src / "f0"))
    df.where("order_key >= 3").coalesce(1).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = cusum_stream(stream.groupBy("key"), threshold_scaled=400)
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_cusum"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["key"], r["order_key"]): (r["c_scaled"], r["alarm"])
        for r in spark.sql("SELECT * FROM cusum_out").collect()
    }

    batch = cusum_alarms(
        df, "key", ["order_key"], F.col("x"),
        F.lit(90).cast("long"), F.lit(1).cast("long"),
        F.lit(10).cast("long"), F.lit(400).cast("long"),
    ).collect()
    assert len(got) == len(batch) == len(rows)
    for r in batch:
        assert got[(r["key"], r["order_key"])] == (r["c_scaled"], r["alarm"]), r


def test_ohlc_stream_matches_batch_operator(spark, tmp_path):
    """The streaming OHLC twin must produce bar-for-bar the batch
    operator's output when drained AvailableNow — including open/close
    determinism under out-of-order arrival (rows land in two files in
    scrambled order; min_by/max_by against the total order key must not
    care which micro-batch saw them first)."""
    from simple_pos_kafka_pyspark_airflow_spark.operators import timeseries

    src = tmp_path / "ohlc_events"
    src.mkdir()
    rows = [  # (event_id, user, ts, cents) — two users, two days, ties on ts
        (1, 1, "2026-01-01 09:00:00", 500),
        (2, 1, "2026-01-01 09:00:00", 300),  # same ts as 1: id breaks the tie
        (3, 1, "2026-01-01 17:00:00", 900),
        (4, 2, "2026-01-01 12:00:00", 100),
        (5, 1, "2026-01-02 08:00:00", 700),
        (6, 1, "2026-01-02 18:00:00", 200),
    ]
    # scrambled across two files -> two different arrival orders
    for fname, chunk in (("b1.json", rows[3:]), ("b2.json", rows[:3])):
        with open(src / fname, "w") as f:
            for eid, uid, ts, c in chunk:
                f.write(json.dumps({"event_id": eid, "user_id": uid, "ts": ts, "c": c}) + "\n")

    ord_key = F.col("event_id")  # unique ints: a valid total order for the test
    cents = F.col("c").cast("long")

    batch = spark.read.json(str(src), schema="event_id long, user_id long, ts string, c long").withColumn(
        "ts", F.to_timestamp("ts")
    )
    want = sorted(
        map(tuple, timeseries.ohlc(batch, "user_id", "ts", cents, ord_key, "day").collect())
    )

    stream = ingest.file_json_stream(
        spark, str(src), "event_id long, user_id long, ts string, c long"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = windows.ohlc_stream(
        stream, "user_id", "ts", cents, ord_key, "1 day", watermark="1 hour"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ohlc_bars")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_ohlc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["bucket_ts"], r["open_cents"], r["high_cents"],
         r["low_cents"], r["close_cents"], r["volume_cents"], r["n"])
        for r in spark.sql("SELECT * FROM ohlc_bars").collect()
    )
    want_cmp = sorted(
        (u, b, o, h, lo, c, v, n) for (u, b, o, h, lo, c, v, n) in want
    )
    assert got == want_cmp


def test_incremental_cms_index_merge_replay_and_guarantee(spark, tmp_path):
    """The persistent count-min index: per-batch appends must merge to the
    sketch of the union (append IS merge for counter matrices), a
    replayed batch append must change no estimate (batch-keyed rows
    collapse on read), and every estimate must be >= the key's true
    landed count (the sketch's hard guarantee). compact() preserves all
    estimates in <= depth*width rows."""
    from collections import Counter

    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalCmsIndex

    path = str(tmp_path / "cms_idx")
    idx = IncrementalCmsIndex(spark, path, key_col="k", width=32)

    b1 = [5, 5, 7, 9, 9, 9]
    b2 = [5, 11, 11, 13]
    truth = Counter(b1 + b2)
    keys = spark.createDataFrame([(k,) for k in truth], "k long")

    # empty index: estimates are 0, not an error
    assert {r["k"]: r["est_n"] for r in idx.estimate(keys).collect()} == {
        k: 0 for k in truth
    }

    idx.update_batch(spark.createDataFrame([(k,) for k in b1], "k long"), batch_id=1)
    idx.update_batch(spark.createDataFrame([(k,) for k in b2], "k long"), batch_id=2)
    est = {r["k"]: r["est_n"] for r in idx.estimate(keys).collect()}
    for k, n in truth.items():
        assert est[k] >= n, (k, est[k], n)

    # replay batch 2: byte-identical rows, estimates unchanged
    idx.update_batch(spark.createDataFrame([(k,) for k in b2], "k long"), batch_id=2)
    assert {r["k"]: r["est_n"] for r in idx.estimate(keys).collect()} == est

    # compact folds to one snapshot with identical estimates
    idx.compact()
    assert {r["k"]: r["est_n"] for r in idx.estimate(keys).collect()} == est
    assert spark.read.parquet(path).count() <= 4 * 32


def test_ks_drift_counts_equals_flagged_form(spark):
    """The frozen-reference KS form (pre-aggregated per-value counts)
    must be row-identical to ks_drift over the flagged union of the
    same data — including values present on only one side."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.validation import (
        ks_drift,
        ks_drift_counts,
    )

    ref_rows = [("a", v) for v in [1, 1, 2, 3, 5, 8]] + [("b", v) for v in [2, 2, 4]]
    live_rows = [("a", v) for v in [1, 4, 4, 9]] + [("b", v) for v in [2, 7]]
    ref = spark.createDataFrame(ref_rows, "g string, v long")
    live = spark.createDataFrame(live_rows, "g string, v long")

    flagged = ref.withColumn("_is_ref", F.lit(1)).unionByName(
        live.withColumn("_is_ref", F.lit(0))
    )
    want = {
        r["g"]: (r["n_ref"], r["n_live"], r["ks_num"], r["ks_den"], r["ks"])
        for r in ks_drift(flagged, "g", F.col("v"), F.col("_is_ref")).collect()
    }
    rc = ref.groupBy("g", F.col("v").alias("value")).agg(F.count("*").alias("n"))
    lc = live.groupBy("g", F.col("v").alias("value")).agg(F.count("*").alias("n"))
    got = {
        r["g"]: (r["n_ref"], r["n_live"], r["ks_num"], r["ks_den"], r["ks"])
        for r in ks_drift_counts(rc, lc, "g").collect()
    }
    assert got == want, (got, want)


def test_corpus_drift_monitor_stream_drain_matches_batch_operators(spark, tmp_path):
    """r8-verdict task: the ingest-time drift gate under a REAL
    AvailableNow drain (one file per micro-batch, through
    ingest_corpus_batch) must report exactly what the batch operators
    compute on the same data — KS and PSI per batch vs the frozen
    reference, and the trailing-window distinct estimate over the
    drained batches' union."""
    from simple_pos_kafka_pyspark_airflow_spark.operators.validation import (
        ks_drift,
        psi_drift,
        value_histogram,
    )
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        CorpusDriftMonitor,
        IncrementalMinhashIndex,
        corpus_ingest,
        ingest_corpus_batch,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]

    def doc(i: int, n: int) -> str:
        return " ".join(words[(i + j) % len(words)] for j in range(n))

    # frozen reference: one source, token counts 4..9
    ref = spark.createDataFrame(
        [(i, doc(i, 4 + i % 6), "s1") for i in range(30)],
        "doc_id long, text string, source string",
    )
    mon = CorpusDriftMonitor(
        spark, str(tmp_path / "drift"), n_bins=4, window_batches=7, lg_k=12
    )
    gated_ref = corpus_ingest(ref, min_quality=0.0, min_tokens=1)
    mon.freeze(gated_ref)

    # two micro-batches: batch 1 in-distribution, batch 2 drifted longer
    b1 = spark.createDataFrame(
        [(100 + i, doc(i + 1, 4 + i % 6), "s1") for i in range(8)],
        "doc_id long, text string, source string",
    )
    b2 = spark.createDataFrame(
        [(200 + i, doc(i, 14 + i), "s1") for i in range(6)],
        "doc_id long, text string, source string",
    )
    src = tmp_path / "docs"
    src.mkdir()
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    mh = IncrementalMinhashIndex(
        spark, str(tmp_path / "mh"), num_hashes=16, bands=8, jaccard_threshold=0.9
    )
    sink = str(tmp_path / "landed")
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, bid: ingest_corpus_batch(
                batch, bid, mh, min_quality=0.0, min_tokens=1, drift_monitor=mon
            )
            .write.mode("append")
            .parquet(sink)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    reports = spark.read.parquet(str(tmp_path / "drift" / "reports"))
    assert reports.count() == 2  # one row per (batch, group)

    # batch-operator twins on the same data (file order = batch order)
    batches = {0: b1, 1: b2}
    lo, hi = mon._frozen_meta()
    for bid, bdf in batches.items():
        gated = corpus_ingest(bdf, min_quality=0.0, min_tokens=1)
        got = reports.where(F.col("_batch") == bid).first()
        flagged = gated_ref.select("source", "n_tokens").withColumn(
            "_r", F.lit(1)
        ).unionByName(gated.select("source", "n_tokens").withColumn("_r", F.lit(0)))
        want_ks = ks_drift(flagged, "source", F.col("n_tokens"), F.col("_r")).first()
        assert (got["n_ref"], got["n_live"]) == (want_ks["n_ref"], want_ks["n_live"])
        assert got["ks"] == want_ks["ks"], (bid, got["ks"], want_ks["ks"])
        want_psi = psi_drift(
            value_histogram(gated_ref, "n_tokens", "source", 4, lo=lo, hi=hi),
            value_histogram(gated, "n_tokens", "source", 4, lo=lo, hi=hi),
            "source",
        ).first()
        assert got["psi"] == want_psi["psi"], (bid, got["psi"], want_psi["psi"])

    # trailing distinct estimate at the last batch == one-shot HLL over
    # both batches' gated union (same lg_k, deterministic sketch bytes)
    gated_all = corpus_ingest(
        b1.unionByName(b2), min_quality=0.0, min_tokens=1
    )
    want_uniq = (
        gated_all.groupBy("source")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("text_sha", F.lit(12))
            ).alias("u")
        )
        .first()["u"]
    )
    last = reports.where(F.col("_batch") == 1).first()
    assert last["uniq_trailing_est"] == want_uniq
    # drifted batch reads as more drifted than the in-distribution one
    r0 = reports.where(F.col("_batch") == 0).first()
    assert last["ks"] > r0["ks"] and last["psi"] > r0["psi"]


def test_incremental_substring_index_cross_batch_excision(spark, tmp_path):
    """ExactSubstr at ingest: batch 2's copy of a ≥L-token span already
    landed in batch 1 is excised AT ANY OFFSET (the case the fixed-grid
    span index misses); within-batch duplicated spans are excised on
    first sight; replaying a batch reproduces its original decisions
    (self-exclusion); compact preserves probe results."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalSubstringIndex,
    )

    shared = " ".join(f"s{i}" for i in range(6))
    path = str(tmp_path / "substr")
    idx = IncrementalSubstringIndex(spark, path, min_len=6)

    b1 = spark.createDataFrame(
        [(1, "a0 a1 " + shared + " a2"), (2, "b0 b1 b2 b3 b4 b5 b6")],
        "doc_id long, text string",
    )
    out1 = {r["doc_id"]: (r["text_clean"], r["n_removed"]) for r in idx.clean_batch(b1, 0).collect()}
    # batch 1: the span appears ONCE corpus-wide — nothing excised yet
    assert out1[1] == ("a0 a1 " + shared + " a2", 0)
    assert out1[2][1] == 0

    # batch 2: same span at a DIFFERENT offset → excised against history
    b2 = spark.createDataFrame(
        [(10, shared + " c0 c1"), (11, "d0 d1 d2 d3 d4 d5")],
        "doc_id long, text string",
    )
    out2 = {r["doc_id"]: (r["text_clean"], r["n_removed"]) for r in idx.clean_batch(b2, 1).collect()}
    assert out2[10] == ("c0 c1", 6), out2
    assert out2[11][1] == 0

    # replay batch 2: self-exclusion → identical decisions
    replay = {r["doc_id"]: (r["text_clean"], r["n_removed"]) for r in idx.clean_batch(b2, 1).collect()}
    assert replay == out2

    # compact, then a fresh batch still sees the accumulated history
    idx.compact()
    b3 = spark.createDataFrame([(20, "e0 " + shared)], "doc_id long, text string")
    out3 = {r["doc_id"]: (r["text_clean"], r["n_removed"]) for r in idx.clean_batch(b3, 2).collect()}
    assert out3[20] == ("e0", 6), out3


def test_ivf_occupancy_drift_flags_shifted_embeddings(spark, tmp_path):
    """The ANN front door's drift alarm: a batch drawn from the ingest
    distribution reads a small PSI against the landed occupancy; a batch
    from a SHIFTED encoder (constant offset) concentrates in different
    cells and reads large; an unfit/empty index refuses."""
    import numpy as np
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import (
        IncrementalIvfIndex,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(400, 8)

    def frame(mat, start):
        rows = [(start + i, [float(x) for x in mat[i]]) for i in range(len(mat))]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    idx = IncrementalIvfIndex(spark, str(tmp_path / "ivf"), n_cells=8)
    with _pytest.raises(ValueError, match="fitted"):
        idx.occupancy_drift(frame(base[:50], 0))
    idx.fit(frame(base, 0))
    idx.ingest_batch(frame(base, 0))

    same = idx.occupancy_drift(frame(rng.randn(200, 8), 1000)).first()
    shifted = idx.occupancy_drift(
        frame(rng.randn(200, 8) * 0.1 + np.array([5.0] * 8), 2000)
    ).first()
    assert shifted["psi"] > 0.25, (same["psi"], shifted["psi"])
    assert shifted["psi"] > 5 * same["psi"]
    assert same["n_bins_compared"] <= 8 * 2


def test_ivf_rebuild_clears_drift_and_recall_holds(spark, tmp_path):
    """r14 (VERDICT task 4): occupancy_drift gets its remediation. An
    ENCODER SWAP makes new batches flag (>0.25 PSI — the existing alarm);
    ``rebuild(vectors=)`` with the corpus re-embedded under the new
    encoder re-fits the quantizer and migrates the index atomically;
    afterwards (a) a fresh new-encoder batch reads calm (<0.1), and (b)
    probe recall holds on a planted query set — every planted landed
    vector probes back at rank 1 / cosine 1.0, and a fresh index object
    (restart) sees the swapped state identically."""
    import numpy as np

    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import (
        IncrementalIvfIndex,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(400, 8)
    offset = np.array([6.0] * 8)

    def frame(mat, start):
        rows = [(start + i, [float(x) for x in mat[i]]) for i in range(len(mat))]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    idx = IncrementalIvfIndex(spark, str(tmp_path / "ivf"), n_cells=8)
    idx.fit(frame(base, 0))
    idx.ingest_batch(frame(base, 0))

    # the encoder swaps: new batches concentrate and FLAG
    before = idx.occupancy_drift(frame(rng.randn(200, 8) * 0.1 + offset, 0)).first()
    assert before["psi"] > 0.25

    # remediation: the corpus re-embedded under the new encoder (same
    # ids, new geometry) rebuilds quantizer + rows wholesale
    shifted_corpus = base * 0.1 + offset
    idx.rebuild(vectors=frame(shifted_corpus, 0))

    # (a) drift CLEARS for the new encoder's distribution
    after = idx.occupancy_drift(frame(rng.randn(200, 8) * 0.1 + offset, 0)).first()
    assert after["psi"] < 0.1 and after["psi"] < before["psi"], (
        before["psi"], after["psi"],
    )

    # (b) planted-query recall: each planted query IS a landed vector —
    # its cell is by construction the query's nearest cell, so rank 1 at
    # cosine 1.0 must survive the migration; restart sees the same state
    again = IncrementalIvfIndex(spark, str(tmp_path / "ivf"), n_cells=8)
    for vid in (3, 77, 201, 399):
        top = again.probe([float(x) for x in shifted_corpus[vid]], k=3, nprobe=2).first()
        assert top["vec_id"] == vid and top["score"] == 1.0


def test_ivf_rebuild_migrates_int8_in_place_and_pq_refuses(spark, tmp_path):
    """r14: rebuild's no-vectors mode (corpus-content drift). The int8
    tier migrates rows under a re-fit quantizer KEEPING each row's
    original (scale, codes) — payload untouched, only the cell moves —
    and planted self-queries still probe back at rank 1. A PQ index
    (rank-only codes, no stored vectors) refuses the no-vectors mode
    loudly and names the fix."""
    import numpy as np
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import (
        IncrementalIvfIndex,
    )

    rng = np.random.RandomState(23)

    def frame(mat, start):
        rows = [(start + i, [float(x) for x in mat[i]]) for i in range(len(mat))]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # quantizer fit on a tight first slice, then a far-away second mode
    # lands — the content-drift shape a no-vectors rebuild remediates
    mode_a = rng.randn(150, 8) * 0.1
    mode_b = rng.randn(150, 8) * 0.1 + np.array([4.0] * 8)
    q8 = IncrementalIvfIndex(
        spark, str(tmp_path / "i8"), n_cells=6, store_quantized=True
    )
    q8.fit(frame(mode_a, 0))
    q8.ingest_batch(frame(mode_a, 0))
    q8.ingest_batch(frame(mode_b, 150))
    codes_before = {
        r["vec_id"]: (r["q_scale"], list(r["q_codes"]))
        for r in spark.read.parquet(str(tmp_path / "i8")).collect()
    }

    q8.rebuild()  # no vectors: migrate from the dequantized landed form

    landed = spark.read.parquet(str(tmp_path / "i8")).collect()
    codes_after = {r["vec_id"]: (r["q_scale"], list(r["q_codes"])) for r in landed}
    assert codes_after == codes_before  # payload untouched, cells moved
    # both modes now probe back: planted self-queries at rank 1
    for vid, mat, start in ((10, mode_a, 0), (160, mode_b, 150)):
        top = q8.probe([float(x) for x in mat[vid - start]], k=3, nprobe=2).first()
        assert top["vec_id"] == vid

    pq = IncrementalIvfIndex(
        spark, str(tmp_path / "pq"), n_cells=4, store_pq=True, pq_m=8, pq_ks=16
    )
    pq.fit(frame(mode_a, 0))
    pq.ingest_batch(frame(mode_a, 0))
    with _pytest.raises(ValueError, match="vectors="):
        pq.rebuild()


def test_incremental_ivf_pq_index_tier(spark, tmp_path):
    """store_pq=True: (a) the PQ index on disk is far smaller than BOTH
    the float and int8 tiers; (b) codebooks persist — a fresh index
    object (restart) probes identically; (c) PQ probes REQUIRE
    rescore_from and then return high-recall exact-scored results, with
    the planted self-query at rank 1 / cosine 1.0; (d) probe_batch
    matches per-query reference probes; (e) layout mixing refuses at
    ingest."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch
    from simple_pos_kafka_pyspark_airflow_spark.sources.io import dir_bytes
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fpath, qpath, ppath = (
        str(tmp_path / "ivf_f"), str(tmp_path / "ivf_i8"), str(tmp_path / "ivf_pq"),
    )
    fidx = IncrementalIvfIndex(spark, fpath, n_cells=4)
    qidx = IncrementalIvfIndex(spark, qpath, n_cells=4, store_quantized=True)
    pidx = IncrementalIvfIndex(spark, ppath, n_cells=4, store_pq=True, pq_m=8, pq_ks=16)
    for idx in (fidx, qidx, pidx):
        idx.fit(e)
        idx.ingest_batch(e)
    assert dir_bytes(spark, ppath) < dir_bytes(spark, qpath) < dir_bytes(spark, fpath)

    q = [float(x) for x in e.where(F.col("vec_id") == 5).first()["embedding"]]
    # ADC is rank-only: a PQ probe without the exact re-rank must refuse
    with pytest.raises(ValueError, match="rescore_from"):
        pidx.probe(q, k=10, nprobe=4)

    exact = [(r["vec_id"], r["score"]) for r in simsearch.cosine_topk(e, q, k=10).collect()]
    got = [
        (r["vec_id"], r["score"])
        for r in pidx.probe(q, k=10, nprobe=4, rescore_from=e, overfetch=15).collect()
    ]
    # self-query: rank 1 is the vector itself at exactly 1.0
    assert got[0] == (5, 1.0)
    # scores of common ids are the exact cosines; recall >= 9/10 on the
    # near-isotropic worst-case corpus at overfetch 15 (150 candidates)
    assert len({i for i, _ in got} & {i for i, _ in exact}) >= 9, (got, exact)
    assert all(s == dict(exact)[i] for i, s in got if i in dict(exact))

    # restart: a FRESH object reads the persisted codebooks bit-for-bit
    again = IncrementalIvfIndex(spark, ppath, n_cells=4, store_pq=True)
    assert again._pq_codebooks() == pidx._pq_codebooks()
    got2 = [
        (r["vec_id"], r["score"])
        for r in again.probe(q, k=10, nprobe=4, rescore_from=e, overfetch=15).collect()
    ]
    assert got2 == got

    # probe_batch: equals per-query probes, and refuses without rescore
    queries = [(5, q), (7, [float(x) for x in e.where(F.col("vec_id") == 7).first()["embedding"]])]
    with pytest.raises(ValueError, match="rescore_from"):
        pidx.probe_batch(queries, k=5, nprobe=4)
    batch = pidx.probe_batch(queries, k=5, nprobe=4, rescore_from=e, overfetch=15)
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(r["query_id"], []).append((r["rn"], r["vec_id"], r["score"]))
    for qid, qv in queries:
        single = [
            (i + 1, r["vec_id"], r["score"])
            for i, r in enumerate(
                _reference_probe(pidx, qv, k=5, nprobe=4, rescore_from=e, overfetch=15).collect()
            )
        ]
        assert sorted(by_q[qid]) == single, qid

    # layout mixing: float writer on the PQ index refuses before append
    n_before = spark.read.parquet(ppath).count()
    with pytest.raises(ValueError, match="layout"):
        IncrementalIvfIndex(spark, ppath, n_cells=4).ingest_batch(e)
    assert spark.read.parquet(ppath).count() == n_before
    # and the two quantized tiers are mutually exclusive at construction
    with pytest.raises(ValueError, match="exclusive"):
        IncrementalIvfIndex(spark, ppath, store_quantized=True, store_pq=True)


def test_tokenizer_fertility_monitor(spark, tmp_path):
    """Fertility drift gate: an in-distribution batch doesn't flag; a
    vowel-rotated batch (the frozen merges stop applying -> fertility
    jumps) flags; an unseen source flags by construction; a restart
    reads the persisted merge table and reproduces the report."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import tokenize as tk
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        TokenizerFertilityMonitor,
    )

    ref = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", "text"
    )
    mon = TokenizerFertilityMonitor(spark, str(tmp_path / "fert"))
    import pytest as _pt

    with _pt.raises(ValueError, match="freeze"):
        mon.check_batch(ref)
    mon.freeze(ref, tk.FROZEN_MERGES)

    # in-distribution: the reference itself re-checked — zero drift rows
    calm = mon.check_batch(ref)
    assert calm.where("drifted = 1").count() == 0
    assert calm.count() > 0

    # manufactured drift (the documented recipe — the synthetic corpus
    # shares one vocabulary, so REAL linguistic drift must be injected):
    # vowel rotation breaks every frozen merge, fertility jumps
    shifted = ref.withColumn("text", F.translate("text", "aeiou", "xyzwv"))
    loud = mon.check_batch(shifted)
    flagged = {r["source"] for r in loud.where("drifted = 1").collect()}
    assert flagged == {r["source"] for r in loud.collect()}  # every group flags
    row = loud.first()
    assert row["fertility"] > row["ref_fertility"]

    # unseen source flags by construction
    new_src = ref.limit(5).withColumn("source", F.lit("brand_new_src"))
    assert mon.check_batch(new_src).where(
        "source = 'brand_new_src' AND drifted = 1"
    ).count() == 1

    # restart: a fresh monitor object reproduces the calm report
    again = TokenizerFertilityMonitor(spark, str(tmp_path / "fert"))
    calm2 = again.check_batch(ref)
    a = {(r["source"], r["n_tokens"], r["drifted"]) for r in calm.collect()}
    b = {(r["source"], r["n_tokens"], r["drifted"]) for r in calm2.collect()}
    assert a == b


def test_failed_refreeze_leaves_previous_release_readable(spark, sf_dir, tmp_path):
    """A re-freeze whose reference fails mid-write (an ``assert_true``
    poison, the staged-write crash pattern) must leave the first release
    whole: both monitors' ``check_batch`` still answer exactly as they
    did before the failed attempt. Before the first freeze, both refuse
    with the same "freeze() first" ValueError."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import tokenize as tk
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        CorpusDriftMonitor,
        TokenizerFertilityMonitor,
        corpus_ingest,
    )

    ref = corpus_ingest(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source", "text"),
        min_quality=0.0,
        min_tokens=1,
    )
    batch = ref.where(F.col("doc_id") % 3 == 0)
    # poison the columns the freezes read, so pruning cannot skip it
    boom = F.assert_true(F.col("doc_id") < 0)
    poison = ref.withColumn("text", F.coalesce(boom.cast("string"), "text")).withColumn(
        "n_tokens", F.coalesce(boom.cast("int"), "n_tokens")
    )

    def report(df):
        return sorted(tuple(r) for r in df.collect())

    drift = CorpusDriftMonitor(spark, str(tmp_path / "drift"), n_bins=4)
    fert = TokenizerFertilityMonitor(spark, str(tmp_path / "fert"))
    for check in (lambda: drift.check_batch(batch, 0), lambda: fert.check_batch(batch)):
        with pytest.raises(ValueError, match=r"freeze\(\) first"):
            check()
    drift.freeze(ref)
    want = report(drift.check_batch(batch, 0))
    with pytest.raises(Exception):
        drift.freeze(poison)
    assert report(drift.check_batch(batch, 0)) == want

    fert.freeze(ref, tk.FROZEN_MERGES)
    want = report(fert.check_batch(batch))
    with pytest.raises(Exception):
        fert.freeze(poison, tk.FROZEN_MERGES[:5])
    assert report(fert.check_batch(batch)) == want


def test_fertility_alarm_retrain_refreeze_loop(spark, tmp_path):
    """r14 (VERDICT task 3): the tokenizer loop CLOSES — calm batches
    pass, a drifted corpus flags, ``remediate`` retrains from the landed
    word counts (no corpus rescan) and refreezes the monitor, and the
    SAME batches that flagged now read back in band. The un-actionable
    alarm becomes a runbook with a tested fix."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import tokenize as tk
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalWordCountIndex,
        TokenizerFertilityMonitor,
    )

    ref = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", "text"
    )
    mon = TokenizerFertilityMonitor(spark, str(tmp_path / "fert"))
    mon.freeze(ref, tk.FROZEN_MERGES)

    # phase 1 — calm: in-distribution batches don't flag
    assert mon.check_batch(ref).where("drifted = 1").count() == 0

    # phase 2 — the corpus moves (documented drift recipe: vowel rotation
    # breaks every frozen merge): the drifted batches FLAG
    drifted = ref.withColumn("text", F.translate("text", "aeiou", "xyzwv"))
    b0 = drifted.where(F.col("doc_id") % 2 == 0)
    b1 = drifted.where(F.col("doc_id") % 2 == 1)
    loud0, loud1 = mon.check_batch(b0), mon.check_batch(b1)
    assert loud0.where("drifted = 1").count() == loud0.count() > 0
    assert loud1.where("drifted = 1").count() == loud1.count() > 0
    old_fert = {r["source"]: r["fertility"] for r in loud0.collect()}

    # the drifted batches LAND through the word-count index tap — the
    # feedstock remediate retrains from, with no corpus rescan
    wc = IncrementalWordCountIndex(spark, str(tmp_path / "wc"))
    wc.update_batch(b0, 0)
    wc.update_batch(b1, 1)

    # phase 3 — remediate at a quiesced point: retrain + refreeze
    # against the landed drifted slice
    new_merges = mon.remediate(wc, drifted, n_merges=len(tk.FROZEN_MERGES))
    assert new_merges and new_merges != tk.FROZEN_MERGES

    # phase 4 — the SAME batches that flagged now pass, with fertility
    # strictly improved (the new merges apply to the shifted vocabulary)
    calm0, calm1 = mon.check_batch(b0), mon.check_batch(b1)
    assert calm0.where("drifted = 1").count() == 0
    assert calm1.where("drifted = 1").count() == 0
    for r in calm0.collect():
        assert r["fertility"] < old_fert[r["source"]]

    # and the original (pre-drift) corpus now reads as the outlier —
    # the reference really moved, it wasn't just widened
    assert mon.check_batch(ref).where("drifted = 1").count() > 0


def test_incremental_wordcount_index_retrains_bpe(spark, tmp_path):
    """Word counts are sufficient statistics for BPE: training from the
    index's merged counts after two ingested batches must equal training
    directly on the unioned corpus; a replayed batch changes nothing;
    compact folds to one row per word and preserves the merges."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import tokenize as tk
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalWordCountIndex,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b1 = docs.where("doc_id % 2 = 0")
    b2 = docs.where("doc_id % 2 = 1")
    idx = IncrementalWordCountIndex(spark, str(tmp_path / "wc"))
    import pytest as _pt

    with _pt.raises(ValueError, match="ingest"):
        idx.train()
    idx.update_batch(b1, batch_id=1)
    idx.update_batch(b2, batch_id=2)

    direct = tk.bpe_train(docs, n_merges=12)
    assert idx.train(n_merges=12) == direct

    # replay of batch 2: identical rows land again, reads collapse them
    idx.update_batch(b2, batch_id=2)
    wc = {r["word"]: r["count"] for r in idx.counts().collect()}
    truth = {
        r["word"]: r["count"] for r in tk.word_count_table(docs).collect()
    }
    assert wc == truth
    assert idx.train(n_merges=12) == direct

    # compact: one row per word, same counts and merges
    idx.compact()
    landed = spark.read.parquet(str(tmp_path / "wc"))
    assert landed.count() == len(truth)
    assert idx.train(n_merges=12) == direct


def test_incremental_qid_index_matches_batch_audit(spark, tmp_path):
    """The ingest-time k-anonymity audit equals the batch operator over
    the union of ingested batches (k-anonymity is anti-monotone under
    union — per-batch audits CANNOT certify the merged table, which is
    why the index exists); a replayed batch changes nothing; compact
    folds to one row per class and preserves the audit; the gate flips
    when a later batch lands a unique QID row."""
    import pytest as _pt

    from simple_pos_kafka_pyspark_airflow_spark.operators.validation import (
        k_anonymity_audit,
    )
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalQidIndex,
    )

    # two batches that are each k=3-anonymous alone, but whose union has
    # a size-4 class at ("b", 2): the per-batch leak scenario
    b1 = spark.createDataFrame([("a", 1)] * 3 + [("b", 2)] * 3, "q1 string, q2 int")
    b2 = spark.createDataFrame([("a", 1)] * 3 + [("b", 2)] * 1 + [("c", 3)] * 3,
                               "q1 string, q2 int")
    idx = IncrementalQidIndex(spark, str(tmp_path / "qid"), ["q1", "q2"])
    with _pt.raises(ValueError, match="ingest"):
        idx.audit()
    idx.update_batch(b1, batch_id=1)
    idx.update_batch(b2, batch_id=2)

    def row(df):
        r = df.collect()[0]
        return tuple(r[c] for c in ("n_classes", "n_risky_classes", "rows_at_risk",
                                    "min_class_size", "k_anonymous"))

    union = b1.unionAll(b2)
    for k in (3, 5):
        assert row(idx.audit(k=k)) == row(k_anonymity_audit(union, ["q1", "q2"], k=k))
    # merged classes: (a,1)=6, (b,2)=4, (c,3)=3 — min 3, so the gate
    # passes at k=3 and fails at k=4 (even though each BATCH was fine)
    assert row(idx.audit(k=3))[4] == 1
    assert row(idx.audit(k=4))[4] == 0

    # replay of batch 2 collapses: audit unchanged
    idx.update_batch(b2, batch_id=2)
    assert row(idx.audit(k=3)) == row(k_anonymity_audit(union, ["q1", "q2"], k=3))

    # compact: one landed row per class, audit preserved
    idx.compact()
    landed = spark.read.parquet(str(tmp_path / "qid"))
    assert landed.count() == 3
    assert row(idx.audit(k=3)) == row(k_anonymity_audit(union, ["q1", "q2"], k=3))

    # a unique row lands later: the k=3 gate flips to failing
    idx.update_batch(spark.createDataFrame([("z", 9)], "q1 string, q2 int"), batch_id=3)
    r = idx.audit(k=3).collect()[0]
    assert r["k_anonymous"] == 0 and r["min_class_size"] == 1


# ---------------------------------------------------------------------------
# the FULL loop in one artifact (r11): ingest → id/stock state → 9-topic
# CDC → membership tiers, stream result pinned to a from-scratch batch replay
# ---------------------------------------------------------------------------


def test_pos_full_loop_ingest_state_cdc_tiers(spark, tmp_path):
    """The reference's entire topology as ONE test: raw ID-LESS sale
    events (the producer shape) → dense monotonic id state (T2) →
    per-product running stock state (T3) → all NINE topic shapes drained
    through Trigger.AvailableNow CDC streams (T5/T6) → the hourly ETL's
    membership-tier computation over the warehouse — and the final
    warehouse + tiers asserted equal to a from-scratch BATCH replay of
    the same events (the q_upsert_semantics / q_case_tiers algebra on
    plain frames). kafka_producer.py + kafka_consumer.py +
    POS_spark_dag.py, one artifact."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from simple_pos_kafka_pyspark_airflow_spark.operators.relational import (
        membership_tiers,
    )
    from simple_pos_kafka_pyspark_airflow_spark.streaming import pipeline

    # ---- stage 1: id-less raw sales; seeds for the stock state --------
    raw_sales = [  # (event_key, customer_id, product_id, quantity, price)
        (11, 1, 10, 2, 5000.0),
        (12, 1, 10, 1, 2000.0),
        (13, 2, 20, 1, 500.0),
        (14, 2, 10, 1, 100.0),
    ]
    src1 = tmp_path / "raw_sales"
    src1.mkdir()
    with open(src1 / "s.json", "w") as f:
        for seed in [(10, 50.0), (20, 30.0)]:  # product stock seeds
            f.write(
                json.dumps(
                    {"event_key": None, "customer_id": None, "product_id": seed[0],
                     "quantity": 0, "price": None, "initial_stock": seed[1]}
                ) + "\n"
            )
        for ek, cid, pid, qty, price in raw_sales:
            f.write(
                json.dumps(
                    {"event_key": ek, "customer_id": cid, "product_id": pid,
                     "quantity": qty, "price": price, "initial_stock": None}
                ) + "\n"
            )
    raw_schema = (
        "event_key long, customer_id long, product_id long, quantity int, "
        "price double, initial_stock double"
    )

    # T2: dense id assignment under the single reference tracker key
    ids_q = (
        ingest.file_json_stream(spark, str(src1), raw_schema)
        .where(F.col("event_key").isNotNull())
        .select(F.lit("__global__").alias("k"), "event_key")
        .groupBy("k")
        .applyInPandasWithState(
            state.assign_ids,
            outputStructType=state.SEQ_OUTPUT_SCHEMA,
            stateStructType=state.SEQ_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.format("memory")
        .queryName("loop_ids")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_ids"))
        .trigger(availableNow=True)
        .start()
    )
    # T3: running stock (seeds + decrements) on the same raw stream
    stock_q = (
        state.stock_stream(
            ingest.file_json_stream(spark, str(src1), raw_schema)
            .select("product_id", F.col("quantity").cast("double").alias("quantity"), "initial_stock")
            .groupBy("product_id")
        )
        .writeStream.format("memory")
        .queryName("loop_stock")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_stock"))
        .trigger(availableNow=True)
        .start()
    )
    ids_q.awaitTermination(120)
    stock_q.awaitTermination(120)
    assigned = {
        r["event_key"]: r["assigned_id"]
        for r in spark.sql("SELECT * FROM loop_ids").collect()
    }
    assert assigned == {11: 1, 12: 2, 13: 3, 14: 4}  # dense, seq-ordered
    stock = {
        r["product_id"]: r["stock_level"]
        for r in spark.sql("SELECT * FROM loop_stock").collect()
    }
    assert stock == {10: 46.0, 20: 29.0}

    # ---- stage 2: all NINE topic shapes into the CDC warehouse --------
    # sales carry the STATE-assigned ids; products carry the STATE stock
    ev = [
        ("customers_add", {"customer_id": 1, "name": "Ann", "level": ""}),
        ("customers_add", {"customer_id": 2, "name": "Bob", "level": ""}),
        ("customers_add", {"customer_id": 3, "name": "Cat", "level": ""}),
        ("customers_edit", {"customer_id": 3, "name": "Cathy", "level": ""}),
        ("customers_add", {"customer_id": 4, "name": "Dan", "level": ""}),
        ("customers_remove", {"customer_id": 4}),
        *[
            ("sales_add",
             {"sale_id": assigned[ek], "customer_id": cid, "quantity": qty, "price": price})
            for ek, cid, pid, qty, price in raw_sales
        ],
        # Bob's sale edited up to Gold spend, Bob's other sale removed
        ("sales_edit", {"sale_id": 3, "customer_id": 2, "quantity": 1, "price": 60000.0}),
        ("sales_remove", {"sale_id": 4}),
        ("products_add", {"product_id": 10, "category": "Drinks", "stock_level": int(stock[10])}),
        ("products_add", {"product_id": 20, "category": "Food", "stock_level": int(stock[20])}),
        ("products_edit", {"product_id": 20, "category": "Snacks", "stock_level": int(stock[20])}),
        ("products_remove", {"product_id": 999}),  # delete of absent key: no-op
    ]
    src2 = tmp_path / "topics"
    src2.mkdir()
    with open(src2 / "all.json", "w") as f:
        for seq, (topic, payload) in enumerate(ev):
            f.write(
                json.dumps(
                    {"topic": topic, "value": json.dumps({**payload, "seq": seq}), "seq": seq}
                ) + "\n"
            )
    assert len({t for t, _ in ev}) == 9  # every topic shape exercised
    raw = ingest.file_json_stream(
        spark, str(src2), "topic string, value string, seq long"
    )
    sinks = pipeline.build_sinks(spark, str(tmp_path / "wh"))
    for q in pipeline.start_pipeline(raw, sinks, str(tmp_path / "ck_cdc")):
        q.awaitTermination(120)

    # exactly-once: a SECOND AvailableNow drain over the same checkpoint
    # (the reference's next hourly tick with no new events) must be a
    # no-op — the warehouse is unchanged, not double-applied
    before = {
        name: sorted(map(tuple, sinks[name].read().collect()))
        for name in ("sales", "products", "customers")
    }
    raw_again = ingest.file_json_stream(
        spark, str(src2), "topic string, value string, seq long"
    )
    for q in pipeline.start_pipeline(raw_again, sinks, str(tmp_path / "ck_cdc")):
        q.awaitTermination(120)
    for name, rows_before in before.items():
        assert sorted(map(tuple, sinks[name].read().collect())) == rows_before, name

    # ---- stage 3: tiers over the warehouse ----------------------------
    sales = sinks["sales"].read().withColumn(
        "total_price", F.col("quantity") * F.col("price")
    )
    tiers = membership_tiers(
        sinks["customers"].read(), sales, "customer_id", "customer_id", "total_price"
    )
    got = {
        r["name"]: (r["membership_level"], r["lifetime_spend"])
        for r in tiers.collect()
    }

    # ---- batch replay oracle: same events, plain-frame CDC + tiers ----
    def replay(prefix):
        snap = {}
        for seq, (topic, payload) in enumerate(ev):
            if not topic.startswith(prefix):
                continue
            pk = payload[next(iter(payload))]  # first field is the pk
            if topic.endswith("_remove"):
                snap.pop(pk, None)
            else:
                snap[pk] = payload
        return snap

    want_sales = replay("sales_")
    want_customers = replay("customers_")
    want_products = replay("products_")
    assert {
        r["sale_id"]: (r["quantity"], r["price"])
        for r in sinks["sales"].read().collect()
    } == {k: (v["quantity"], v["price"]) for k, v in want_sales.items()}
    assert {
        r["product_id"]: (r["category"], r["stock_level"])
        for r in sinks["products"].read().collect()
    } == {k: (v["category"], v["stock_level"]) for k, v in want_products.items()}
    assert {r["customer_id"]: r["name"] for r in sinks["customers"].read().collect()} == {
        k: v["name"] for k, v in want_customers.items()
    }
    spend = {}
    for v in want_sales.values():
        spend[v["customer_id"]] = spend.get(v["customer_id"], 0.0) + v["quantity"] * v["price"]
    def tier(s):
        return "Gold" if s >= 50000 else ("Silver" if s >= 10000 else "Bronze")
    want_tiers = {
        v["name"]: (tier(spend.get(k, 0.0)), spend.get(k, 0.0))
        for k, v in want_customers.items()
    }
    assert got == want_tiers


def test_ingest_corpus_batch_html_front_door(spark, tmp_path):
    """html_input=True extracts visible text BEFORE any gate: landing an
    HTML-wrapped corpus equals landing the pre-extracted text through a
    twin index — same survivors, same landed text — and the quality gate
    judges prose, never script bodies or nav chrome."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalMinhashIndex,
        ingest_corpus_batch,
    )

    prose = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"

    def wrap(text):
        return (
            '<html><head><title>T</title><script>var junk = "spam spam '
            'spam spam spam spam spam spam";</script></head><body>'
            '<div><a href="/">Home</a> <a href="/a">About page link</a></div>'
            f"<p>{text}</p><!-- note --></body></html>"
        )

    rows = [(1, prose), (2, "too short")]
    html_b = spark.createDataFrame(
        [(i, wrap(t)) for i, t in rows], "doc_id long, text string"
    )
    plain_b = spark.createDataFrame(rows, "doc_id long, text string")

    mh_html = IncrementalMinhashIndex(
        spark, str(tmp_path / "mh_html"), num_hashes=16, bands=8, jaccard_threshold=0.8
    )
    mh_plain = IncrementalMinhashIndex(
        spark, str(tmp_path / "mh_plain"), num_hashes=16, bands=8, jaccard_threshold=0.8
    )
    landed_html = ingest_corpus_batch(
        html_b, 0, mh_html, min_quality=0.0, min_tokens=3, html_input=True
    )
    landed_plain = ingest_corpus_batch(
        plain_b, 0, mh_plain, min_quality=0.0, min_tokens=3
    )
    got_html = {r["doc_id"]: r["text"] for r in landed_html.collect()}
    got_plain = {r["doc_id"]: r["text"] for r in landed_plain.collect()}
    assert got_html == got_plain == {1: prose}

    # a second HTML batch that near-dups doc 1 must be rejected off the
    # index built from EXTRACTED text (chrome differences don't hide it)
    b2 = spark.createDataFrame(
        [(10, wrap(prose + " extratoken"))], "doc_id long, text string"
    )
    landed2 = ingest_corpus_batch(
        b2, 1, mh_html, min_quality=0.0, min_tokens=3, html_input=True
    )
    assert landed2.count() == 0


def test_crawl_full_loop_warc_stream_extract_ingest(spark, tmp_path):
    """The COMPLETE crawl front door as one stream: .warc files arrive →
    binaryFile stream (exactly-once per file) → warc_records_from_binary
    expands records executor-side → 200/text-html responses become docs →
    ingest_corpus_batch(html_input=True) extracts visible text and runs
    the persistent gates — a later batch's near-duplicate PAGE (same
    prose, different chrome) must be rejected off the index built from
    batch 1's EXTRACTED text."""
    from pyspark.sql import functions as F

    from simple_pos_kafka_pyspark_airflow_spark.sources import warcsource as w
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalMinhashIndex,
        ingest_corpus_batch,
    )

    prose = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"

    def page(text, chrome):
        return (
            f"<html><head><title>T</title><script>var x{chrome} = 1;</script>"
            f'</head><body><div><a href="/">Home</a> <a href="/{chrome}">Nav '
            f"entry {chrome}</a></div><p>{text}</p></body></html>"
        ).encode()

    src = tmp_path / "crawl"
    src.mkdir()
    date = "2026-01-01T00:00:00Z"
    (src / "b1.warc").write_bytes(
        w.build_warc_record("warcinfo", None, date, b"software: t\r\n")
        + w.build_warc_record("response", "https://a/1", date, page(prose, "one"),
                              http_status=200, content_type="text/html")
        + w.build_warc_record("response", "https://a/2", date, b"gone",
                              http_status=404, content_type="text/html")
    )
    (src / "b2.warc").write_bytes(
        # same prose re-crawled under different chrome + a fresh doc
        w.build_warc_record("response", "https://b/1", date,
                            page(prose + " extratoken", "two"),
                            http_status=200, content_type="text/html")
        + w.build_warc_record("response", "https://b/2", date,
                              page("one two three four five six seven", "two"),
                              http_status=200, content_type="text/html")
    )

    mh = IncrementalMinhashIndex(
        spark, str(tmp_path / "mh"), num_hashes=16, bands=8, jaccard_threshold=0.8
    )
    out_dir = str(tmp_path / "landed")

    def handle(batch, bid):
        recs = w.warc_records_from_binary(batch)
        docs = (
            recs.where(
                (F.col("warc_type") == "response")
                & (F.col("http_status") == 200)
                & F.col("content_type").startswith("text/html")
            )
            .select(
                F.xxhash64("target_uri").alias("doc_id"),
                F.decode("payload", "UTF-8").alias("text"),
                F.col("target_uri"),
            )
        )
        landed = ingest_corpus_batch(
            docs, bid, mh, min_quality=0.0, min_tokens=3, html_input=True
        )
        landed.write.mode("append").parquet(out_dir)

    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)

    landed = {r["target_uri"]: r["text"] for r in spark.read.parquet(out_dir).collect()}
    # 404 never became a doc; whichever crawl of the prose page arrived
    # FIRST landed and the other was rejected off the persistent index
    # (binaryFile stream order between same-mtime files is not
    # contractual — the dedup outcome is); chrome never reached the
    # corpus in either case
    dup_crawls = {"https://a/1", "https://b/1"}
    assert len(dup_crawls & set(landed)) == 1, landed
    assert set(landed) - dup_crawls == {"https://b/2"}, landed
    kept_dup = (dup_crawls & set(landed)).pop()
    assert landed[kept_dup].startswith(prose)
    assert all("Nav entry" not in t and "<" not in t for t in landed.values())


def test_incremental_line_index_cross_batch_footer_and_batch_twin(spark, tmp_path):
    """r13 (VERDICT item 4): the streaming twin of strip_common_lines.
    (a) One-batch form on a fresh index is row-identical to the batch
    operator, including the NULL-text ('', 0) contract and group-local
    counting. (b) A footer planted ACROSS micro-batches — invisible to
    the batch operator per batch — is excised as soon as its corpus-
    lifetime count reaches min_docs, forward-looking."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.textops import strip_common_lines
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalLineIndex

    footer = "copyright acme inc"
    rows = [
        (1, "a", f"zeta body one\n{footer}\nalpha tail one"),
        (2, "a", f"body two\n{footer}"),
        (3, "a", f"{footer}\nbody three"),
        (4, "a", footer),
        (5, "a", "echo\necho"),
        (6, "b", f"other body\n{footer}"),  # other group: survives
        (7, "a", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    batch_out = {
        r["doc_id"]: (r["text"], r["n_dropped"])
        for r in strip_common_lines(df, min_docs=3).collect()
    }
    idx = IncrementalLineIndex(spark, str(tmp_path / "li_twin"), min_docs=3)
    stream_out = {
        r["doc_id"]: (r["text_clean"], r["n_dropped"])
        for r in idx.clean_batch(df, batch_id=0).collect()
    }
    assert stream_out == batch_out
    assert stream_out[7] == ("", 0)

    # (b) cross-batch: one footer copy per micro-batch, threshold 3
    idx2 = IncrementalLineIndex(spark, str(tmp_path / "li_cross"), min_docs=3)
    outs = {}
    for bid, (i, body) in enumerate(
        [(11, "first body here"), (12, "second body here"), (13, "third body here")]
    ):
        b = spark.createDataFrame(
            [(i, "a", f"{body}\n{footer}")], "doc_id long, source string, text string"
        )
        outs[i] = idx2.clean_batch(b, batch_id=bid).collect()[0]
    # batches 0 and 1: lifetime count 1 then 2 — footer survives
    assert outs[11]["text_clean"] == f"first body here\n{footer}"
    assert outs[12]["n_dropped"] == 0
    # batch 2 crosses min_docs=3: excised from batch 2's doc onward
    assert outs[13]["text_clean"] == "third body here"
    assert outs[13]["n_dropped"] == 1


def test_incremental_line_index_replay_and_compaction_stability(spark, tmp_path):
    """Replaying a batch (same batch_id, crash-recovery path) appends
    duplicate index rows but the (group, digest, batch) collapse plus
    self-batch exclusion keep decisions identical; compaction collapses
    to one row per (group, digest) and preserves decisions."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalLineIndex

    footer = "subscribe to our newsletter"
    path = str(tmp_path / "li_replay")
    idx = IncrementalLineIndex(spark, path, min_docs=2)
    b0 = spark.createDataFrame(
        [(1, "a", f"body one\n{footer}"), (2, "a", f"body two\n{footer}")],
        "doc_id long, source string, text string",
    )
    out = {
        r["doc_id"]: (r["text_clean"], r["n_dropped"])
        for r in idx.clean_batch(b0, batch_id=0).collect()
    }
    # within-batch: 2 distinct docs carry the footer -> excised at once
    assert out[1] == ("body one", 1) and out[2] == ("body two", 1)

    out_replay = {
        r["doc_id"]: (r["text_clean"], r["n_dropped"])
        for r in idx.clean_batch(b0, batch_id=0).collect()
    }
    assert out_replay == out

    # a singleton line in a later batch must NOT be excised by phantom
    # double-counts from the replayed rows
    b1 = spark.createDataFrame(
        [(3, "a", "body one\nfresh unique line")],
        "doc_id long, source string, text string",
    )
    out1 = idx.clean_batch(b1, batch_id=1).collect()[0]
    # 'body one' was landed once (doc 1) + here (doc 3) -> 2 >= min_docs
    assert out1["text_clean"] == "fresh unique line" and out1["n_dropped"] == 1

    idx.compact()
    landed = spark.read.parquet(path)
    assert landed.groupBy("_grp", "_dig").count().where("count > 1").count() == 0
    b2 = spark.createDataFrame(
        [(4, "a", f"post compact body\n{footer}")],
        "doc_id long, source string, text string",
    )
    out2 = idx.clean_batch(b2, batch_id=2).collect()[0]
    assert out2["text_clean"] == "post compact body" and out2["n_dropped"] == 1


def test_ingest_corpus_batch_line_index_under_streaming_drain(spark, tmp_path):
    """The composed front door with the line index under a real
    AvailableNow drain: a footer planted one-copy-per-micro-batch is
    excised the moment its corpus-lifetime count reaches min_docs —
    exactly what the batch operator cannot catch at ingest."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalLineIndex,
        IncrementalMinhashIndex,
        ingest_corpus_batch,
    )

    footer = "all rights reserved by acme"
    src = tmp_path / "docs"
    src.mkdir()
    bodies = [
        "alpha beta gamma delta epsilon zeta eta",
        "one two three four five six seven",
        "red orange yellow green blue indigo violet",
    ]
    for i, body in enumerate(bodies):
        spark.createDataFrame(
            [(100 + i, "a", f"{body}\n{footer}")],
            "doc_id long, source string, text string",
        ).coalesce(1).write.parquet(str(src / f"f{i}"))

    mh = IncrementalMinhashIndex(
        spark, str(tmp_path / "mh"), num_hashes=16, bands=8, jaccard_threshold=0.8
    )
    li = IncrementalLineIndex(spark, str(tmp_path / "li"), min_docs=3)
    sink = str(tmp_path / "landed")
    schema = "doc_id long, source string, text string"

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, bid: ingest_corpus_batch(
                batch, bid, mh, min_quality=0.0, min_tokens=3, line_index=li
            )
            .write.mode("append")
            .parquet(sink)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    landed = spark.read.parquet(sink).collect()
    assert len(landed) == 3  # distinct bodies — nothing near-dup rejected
    with_footer = [r for r in landed if footer in r["text"]]
    without = [r for r in landed if footer not in r["text"]]
    # forward-looking: the first two batches keep the footer (lifetime
    # count 1 and 2), the third crosses min_docs=3 and lands cleaned
    assert len(with_footer) == 2 and len(without) == 1
    assert without[0]["n_lines_dropped"] == 1
    assert all(r["n_lines_dropped"] == 0 for r in with_footer)


def test_ingest_corpus_batch_substring_index_under_streaming_drain(spark, tmp_path):
    """r14 (VERDICT task 2): the composed front door reaches the
    exact-substring tier — the one persistent dedup tier that previously
    required hand-composition. Under a real AvailableNow drain, a
    ≥L-token span landed in micro-batch 0 is excised from micro-batch
    2's copy AT A DIFFERENT OFFSET (the case the fixed-grid span index
    misses), with the drop count under ``n_substr_removed``. The cleaned
    text is pinned to the batch operator's exact excision
    (llm.dedup.excise_spans reassembly) on the same span."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalMinhashIndex,
        IncrementalSubstringIndex,
        ingest_corpus_batch,
    )

    shared = " ".join(f"s{i}" for i in range(6))
    src = tmp_path / "docs"
    src.mkdir()
    batches = [
        # batch 0 plants the span mid-document
        (100, f"alpha beta {shared} gamma delta epsilon"),
        # batch 1: unrelated — history count stays 1
        (101, "one two three four five six seven eight"),
        # batch 2 repeats the span at offset 0 -> count 2 >= min_count
        (102, f"{shared} red orange yellow green blue"),
    ]
    for i, (doc_id, text) in enumerate(batches):
        spark.createDataFrame(
            [(doc_id, "a", text)], "doc_id long, source string, text string"
        ).coalesce(1).write.parquet(str(src / f"f{i}"))

    mh = IncrementalMinhashIndex(
        spark, str(tmp_path / "mh"), num_hashes=16, bands=8, jaccard_threshold=0.8
    )
    si = IncrementalSubstringIndex(spark, str(tmp_path / "si"), min_len=6)
    sink = str(tmp_path / "landed")
    schema = "doc_id long, source string, text string"

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, bid: ingest_corpus_batch(
                batch, bid, mh, min_quality=0.0, min_tokens=3, substring_index=si
            )
            .write.mode("append")
            .parquet(sink)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    landed = {r["doc_id"]: r for r in spark.read.parquet(sink).collect()}
    assert sorted(landed) == [100, 101, 102]
    # forward-looking: the first copy lands intact, the second excised
    assert landed[100]["text"] == f"alpha beta {shared} gamma delta epsilon"
    assert landed[100]["n_substr_removed"] == 0
    assert landed[101]["n_substr_removed"] == 0
    assert landed[102]["text"] == "red orange yellow green blue"
    assert landed[102]["n_substr_removed"] == 6


def test_incremental_url_index_cross_batch_recrawl_gate(spark, tmp_path):
    """r13: corpus-lifetime canonical-URL dedup at ingest. A page
    re-crawled in a later batch — same canonical URL, different tracking
    params AND different text (rotated ads) — is rejected by the URL
    gate alone; a genuinely new URL with identical text passes (this
    index keys on the URL, not the content). Replaying a batch must not
    reject its own rows against their landed copies."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalUrlIndex

    idx = IncrementalUrlIndex(spark, str(tmp_path / "urlidx"))
    b0 = spark.createDataFrame(
        [
            (1, "https://Site.example.com/a?utm_source=feed&q=1", "body v1"),
            # within-batch canonical dup (fragment + tracking differ): min id kept
            (2, "https://site.example.com/a?q=1#frag", "body v1 again"),
        ],
        "doc_id long, url string, text string",
    )
    out0 = sorted(r["doc_id"] for r in idx.dedup_batch(b0).collect())
    assert out0 == [1]

    # replay (crash between append and checkpoint commit): same decisions
    out_replay = sorted(r["doc_id"] for r in idx.dedup_batch(b0).collect())
    assert out_replay == [1]

    b1 = spark.createDataFrame(
        [
            # re-crawl of the landed page: new tracking param, new text
            (10, "https://site.example.com/a?q=1&fbclid=xyz", "body v2 rotated ad"),
            # new URL, byte-identical text to doc 1: URL gate passes it
            (11, "https://site.example.com/b?utm_source=z", "body v1"),
        ],
        "doc_id long, url string, text string",
    )
    out1 = sorted(r["doc_id"] for r in idx.dedup_batch(b1).collect())
    assert out1 == [11]

    idx.compact()
    landed = spark.read.parquet(str(tmp_path / "urlidx"))
    assert landed.count() == landed.dropDuplicates(["_dig", "doc_id"]).count()
    # post-compaction the gate still holds
    b2 = spark.createDataFrame(
        [(20, "HTTPS://SITE.example.com/b/", "anything")],
        "doc_id long, url string, text string",
    )
    # trailing-slash/caps/scheme-case variants of landed /b are rejected
    assert idx.dedup_batch(b2).count() == 0


def test_ingest_corpus_batch_url_gate_runs_first(spark, tmp_path):
    """The composed front door with url_index=: a cross-batch re-crawl
    (same canonical URL, perturbed text that the exact text digest would
    NOT catch) is rejected before any text gate, while a new page with
    near-identical chrome still lands."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalMinhashIndex,
        IncrementalUrlIndex,
        ingest_corpus_batch,
    )

    mh = IncrementalMinhashIndex(
        spark, str(tmp_path / "mh"), num_hashes=16, bands=8, jaccard_threshold=0.95
    )
    ui = IncrementalUrlIndex(spark, str(tmp_path / "ui"))
    b0 = spark.createDataFrame(
        [(1, "https://ex.com/page?utm_campaign=a", "alpha beta gamma delta epsilon zeta")],
        "doc_id long, url string, text string",
    )
    out0 = ingest_corpus_batch(b0, 0, mh, min_quality=0.0, min_tokens=3, url_index=ui)
    assert [r["doc_id"] for r in out0.collect()] == [1]

    b1 = spark.createDataFrame(
        [
            # re-crawl: canonical URL matches batch 0, one word changed —
            # the URL gate must reject it (a text digest would not)
            (2, "https://ex.com/page", "alpha beta gamma delta epsilon TWEAK"),
            # different URL, sufficiently different text: lands
            (3, "https://ex.com/other", "one two three four five six seven"),
        ],
        "doc_id long, url string, text string",
    )
    out1 = ingest_corpus_batch(b1, 1, mh, min_quality=0.0, min_tokens=3, url_index=ui)
    assert [r["doc_id"] for r in out1.collect()] == [3]


def test_incremental_url_index_null_urls_pass_through(spark, tmp_path):
    """r14 (ADVICE): NULL/missing URLs are a NORMAL input at the URL tier
    (WARC records without a target URI) and must pass through the gate
    untouched — the equi-join can never match a NULL digest, so routing
    them through the keep/anti joins silently dropped every one. They
    also must not land index rows (a NULL key can't reject anything)."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import IncrementalUrlIndex

    idx = IncrementalUrlIndex(spark, str(tmp_path / "urlidx"))
    b0 = spark.createDataFrame(
        [
            (1, "https://ex.com/a", "body a"),
            (2, None, "no target uri"),
            (3, None, "another bare record"),
        ],
        "doc_id long, url string, text string",
    )
    out0 = sorted(r["doc_id"] for r in idx.dedup_batch(b0).collect())
    assert out0 == [1, 2, 3]  # both NULL-url rows pass, neither deduped
    landed = spark.read.parquet(str(tmp_path / "urlidx"))
    assert landed.where(F.col("_dig").isNull()).count() == 0
    assert landed.count() == 1  # only doc 1 claimed its URL

    # NULL rows never gate later batches, and the keyed gate still holds
    b1 = spark.createDataFrame(
        [(10, None, "third bare record"), (11, "https://ex.com/a?utm_source=x", "recrawl")],
        "doc_id long, url string, text string",
    )
    assert sorted(r["doc_id"] for r in idx.dedup_batch(b1).collect()) == [10]


def test_ingest_corpus_batch_rejected_doc_does_not_claim_url(spark, tmp_path):
    """r14 (ADVICE): the front door probes the URL index READ-ONLY and
    lands (digest, id) rows only for FULL-ladder survivors. A document
    rejected by a downstream gate (here: quality) must not claim its
    canonical URL — a later recrawl with better content ingests."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalMinhashIndex,
        IncrementalUrlIndex,
        ingest_corpus_batch,
    )

    mh = IncrementalMinhashIndex(
        spark, str(tmp_path / "mh"), num_hashes=16, bands=8, jaccard_threshold=0.95
    )
    ui = IncrementalUrlIndex(spark, str(tmp_path / "ui"))
    b0 = spark.createDataFrame(
        # fails min_tokens=3: rejected AFTER the URL probe
        [(1, "https://ex.com/page", "short")],
        "doc_id long, url string, text string",
    )
    out0 = ingest_corpus_batch(b0, 0, mh, min_quality=0.0, min_tokens=3, url_index=ui)
    assert out0.count() == 0
    from simple_pos_kafka_pyspark_airflow_spark.sources.io import fs_dir_has_data

    assert not fs_dir_has_data(spark, str(tmp_path / "ui"))  # URL unclaimed

    # recrawl of the SAME canonical URL with real content now lands...
    b1 = spark.createDataFrame(
        [(2, "https://ex.com/page?utm_source=x", "alpha beta gamma delta epsilon zeta")],
        "doc_id long, url string, text string",
    )
    out1 = ingest_corpus_batch(b1, 1, mh, min_quality=0.0, min_tokens=3, url_index=ui)
    assert [r["doc_id"] for r in out1.collect()] == [2]
    # ...and only the SURVIVOR's URL row landed
    landed = spark.read.parquet(str(tmp_path / "ui"))
    assert [r["doc_id"] for r in landed.collect()] == [2]

    # the survivor's claim gates the next recrawl as before
    b2 = spark.createDataFrame(
        [(3, "https://EX.com/page", "totally different words here now friend")],
        "doc_id long, url string, text string",
    )
    out2 = ingest_corpus_batch(b2, 2, mh, min_quality=0.0, min_tokens=3, url_index=ui)
    assert out2.count() == 0


def _unit(i, d=8, eps=0.0, j=None):
    v = [0.0] * d
    v[i] = 1.0
    if j is not None:
        v[j] = eps
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v]


def test_ivf_dedup_batch_one_batch_matches_semdedup_prune(spark, tmp_path):
    """r13: the ingest-time semantic dedup tier. On a single batch with a
    fresh index the keep/drop set must equal the batch operator's
    (llm.simsearch.semdedup_prune) — same quantizer (ivf_centroids on
    the same frame), same threshold, same within-cell lower-id-kept
    rule. Also pins within-batch rejection and that survivors LAND."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    rows = []
    # three tight clusters of 3 (two near-dups per cluster) + 3 loners
    for g in range(3):
        rows.append((g * 10 + 1, _unit(g)))
        rows.append((g * 10 + 2, _unit(g, eps=0.02, j=(g + 3))))  # cos ~0.9998
        rows.append((g * 10 + 3, _unit(g, eps=0.03, j=(g + 4))))
    for k in range(3):
        rows.append((100 + k, _unit(5 + k)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    want_kept = sorted(
        r["vec_id"]
        for r in simsearch.semdedup_prune(
            df, n_cells=4, threshold=0.95, max_cell=1000
        ).collect()
        if r["kept"] == 1
    )
    idx = IncrementalIvfIndex(spark, str(tmp_path / "ivf"), n_cells=4)
    got_kept = sorted(
        r["vec_id"] for r in idx.dedup_batch(df, threshold=0.95, max_cell=1000).collect()
    )
    assert got_kept == want_kept
    landed = sorted(
        r["vec_id"] for r in spark.read.parquet(str(tmp_path / "ivf")).collect()
    )
    assert landed == want_kept  # survivors (and only they) were ingested


def test_ivf_dedup_batch_cross_batch_replay_and_int8(spark, tmp_path):
    """Cross-batch semantic rejection against the LANDED index, replay
    stability via same-id exclusion, and the int8 tier scoring through
    the dequantized form — plus the PQ refusal (ADC is not a cosine)."""
    import pytest as _pytest

    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex

    for quantized in (False, True):
        path = str(tmp_path / f"ivf_q{int(quantized)}")
        idx = IncrementalIvfIndex(
            spark, path, n_cells=2, store_quantized=quantized
        )
        b0 = spark.createDataFrame(
            [(1, _unit(0)), (2, _unit(1))], "vec_id long, embedding array<double>"
        )
        assert sorted(
            r["vec_id"] for r in idx.dedup_batch(b0, threshold=0.95).collect()
        ) == [1, 2]

        b1 = spark.createDataFrame(
            [
                (10, _unit(0, eps=0.02, j=4)),  # paraphrase of landed 1
                (11, _unit(2)),                 # genuinely new direction
            ],
            "vec_id long, embedding array<double>",
        )
        out1 = sorted(r["vec_id"] for r in idx.dedup_batch(b1, threshold=0.95).collect())
        assert out1 == [11], (quantized, out1)

        # replay of b1: its own landed copy (same id) must not reject it
        out_replay = sorted(
            r["vec_id"] for r in idx.dedup_batch(b1, threshold=0.95).collect()
        )
        assert out_replay == [11], (quantized, out_replay)

    pq = IncrementalIvfIndex(spark, str(tmp_path / "ivf_pq"), store_pq=True)
    b = spark.createDataFrame([(1, _unit(0))], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="ADC"):
        pq.dedup_batch(b)


def test_ingest_corpus_batch_semantic_tier(spark, tmp_path):
    """The composed front door with ann_index=: a cross-batch PARAPHRASE
    (different text — every lexical tier passes it — but near-identical
    embedding) is rejected by the semantic tier, and the ANN store stays
    row-aligned with the landed corpus rows."""
    from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalMinhashIndex,
        ingest_corpus_batch,
    )

    mh = IncrementalMinhashIndex(
        spark, str(tmp_path / "mh"), num_hashes=16, bands=8, jaccard_threshold=0.9
    )
    ann = IncrementalIvfIndex(
        spark, str(tmp_path / "ann"), n_cells=2, id_col="doc_id"
    )
    b0 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", _unit(0)),
            (2, "one two three four five six", _unit(1)),
        ],
        "doc_id long, text string, embedding array<double>",
    )
    out0 = ingest_corpus_batch(
        b0, 0, mh, min_quality=0.0, min_tokens=3, ann_index=ann
    )
    assert sorted(r["doc_id"] for r in out0.collect()) == [1, 2]

    b1 = spark.createDataFrame(
        [
            # paraphrase of doc 1: zero lexical overlap, cosine ~0.9998
            (10, "wholly different wording same meaning here", _unit(0, eps=0.02, j=4)),
            # genuinely new doc in a new direction
            (11, "fresh content pointing elsewhere entirely", _unit(2)),
        ],
        "doc_id long, text string, embedding array<double>",
    )
    out1 = ingest_corpus_batch(
        b1, 1, mh, min_quality=0.0, min_tokens=3, ann_index=ann
    )
    assert sorted(r["doc_id"] for r in out1.collect()) == [11]
    ann_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "ann")).collect()
    )
    assert ann_ids == [1, 2, 11]  # ANN store aligned with landed corpus


def test_ingest_corpus_batch_fertility_monitor_tap(spark, tmp_path):
    """The composed front door with fertility_monitor= (r13): each batch
    appends a per-group fertility report beside the monitor's state —
    an in-distribution batch records drifted=0, a vowel-rotated batch
    (frozen merges stop applying) records drifted=1 — and the landed
    rows themselves are untouched by the monitor."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import tokenize as tk
    from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
        IncrementalMinhashIndex,
        TokenizerFertilityMonitor,
        ingest_corpus_batch,
    )

    ref = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", "text"
    )
    mon = TokenizerFertilityMonitor(spark, str(tmp_path / "fert"))
    mh = IncrementalMinhashIndex(spark, str(tmp_path / "mh"))

    # freeze on the calm batch itself: a 40-doc subset's per-group
    # fertility organically deviates >10% from the full-corpus reference
    # (small-sample mix), which is real drift by the gate's definition —
    # the no-flag case needs reference-distribution data
    calm_batch = ref.limit(40)
    mon.freeze(calm_batch, tk.FROZEN_MERGES)
    out0 = ingest_corpus_batch(
        calm_batch, 0, mh, min_quality=0.0, min_tokens=1, fertility_monitor=mon
    )
    n0 = out0.count()
    assert n0 > 0

    drifted_batch = (
        ref.where(~F.col("doc_id").isin([r["doc_id"] for r in calm_batch.collect()]))
        .limit(40)
        .withColumn("text", F.translate("text", "aeiou", "xyzwv"))
    )
    ingest_corpus_batch(
        drifted_batch, 1, mh, min_quality=0.0, min_tokens=1, fertility_monitor=mon
    ).count()

    reports = spark.read.parquet(str(tmp_path / "fert" / "reports"))
    by_batch = {
        r["_batch"]: r["n"]
        for r in reports.groupBy("_batch")
        .agg(F.sum(F.col("drifted")).alias("n"))
        .collect()
    }
    assert by_batch[0] == 0          # in-distribution: no group flags
    assert by_batch[1] > 0           # rotated batch: flags
