"""Keyed streaming state: id sequences and running stock levels.

Reference behaviors re-expressed (SURVEY.md §2.9 T2/T3):

- **T2** — monotonic ``sale_id`` kept in a tracker file and incremented per
  message by a single consumer thread (``kafka_consumer.py:56-68,74-79``).
- **T3** — per-product ``stock_level`` decremented in the products CSV on
  every sale (``kafka_consumer.py:111-117``).

Both become ``applyInPandasWithState`` (GroupState, Arrow-batched): state
lives in Spark's checkpointed state store, sharded by key across
executors — restart-safe without any tracker file, parallel without the
reference's single-thread constraint.

The transform functions are written to work under
``df.groupBy(...).applyInPandasWithState`` on a stream AND to be directly
unit-testable by feeding pandas groups through a fake state object — the
tests exercise the exact code the stream runs.

Scale: state store size is O(#distinct keys), partitioned with the
shuffle; stock state for 10^8 products is a few GB spread over the
cluster. Id-sequencing is the one operator that fundamentally serializes —
we keep the reference's semantics available (dense global ids, single
``__global__`` state key) but document per-partition ids
(``monotonically_increasing_id``) as the 100 TB alternative.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql.streaming.state import GroupStateTimeout

STOCK_STATE_SCHEMA = "stock_level double, seeded boolean"
STOCK_OUTPUT_SCHEMA = "product_id long, stock_level double"
SEQ_STATE_SCHEMA = "last_id long"
SEQ_OUTPUT_SCHEMA = "event_key long, assigned_id long"


def update_stock(
    key: tuple[Any, ...], batches: Iterable[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """Running stock per product: state = (remaining stock, seeded flag),
    events carry ``quantity`` (sales decrement; negative quantity =
    restock). Emits the post-batch level per product — the reference's
    CSV ``stock_level`` column as streaming state
    (``kafka_consumer.py:111-117``).

    Initial stock arrives as an ``initial_stock`` column on the seeding
    event (NULL on the rest). Seeding is tracked with an explicit
    ``seeded`` flag, NOT "level is set": a key whose first processed
    events are sales (stream started mid-topic, seed event landing in a
    later micro-batch) accumulates a negative level, and the late seed is
    then applied ADDITIVELY — retroactively correct — instead of being
    silently ignored forever. Several distinct seed values in one batch
    resolve to the maximum (deterministic under shuffle row order;
    duplicates from at-least-once delivery agree anyway).
    """
    (product_id,) = key
    level, seeded = (0.0, False)
    if state.exists:
        level, seeded = state.get[0], bool(state.get[1])
    sold = 0.0
    seed = None
    for pdf in batches:
        if not seeded and "initial_stock" in pdf.columns:
            init = pdf["initial_stock"].dropna()
            if len(init):
                m = float(init.max())
                seed = m if seed is None else max(seed, m)
        sold += float(pdf["quantity"].sum())
    if seed is not None:
        level += seed
        seeded = True
    level -= sold
    state.update((level, seeded))
    yield pd.DataFrame({"product_id": [product_id], "stock_level": [level]})


def assign_ids(
    key: tuple[Any, ...], batches: Iterable[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """Dense monotonic id assignment (reference tracker file,
    ``kafka_consumer.py:56-79``). Grouped under a single constant key so
    ids are globally dense, exactly like the reference — the documented
    serialization point. Events carry a unique ``event_key``; output maps
    each to its assigned id, ordered by ``event_key`` for determinism."""
    last = state.get[0] if state.exists else 0
    frames = [pdf for pdf in batches if len(pdf)]
    if not frames:
        state.update((last,))
        yield pd.DataFrame({"event_key": [], "assigned_id": []}).astype("int64")
        return
    events = pd.concat(frames).sort_values("event_key").reset_index(drop=True)
    ids = range(last + 1, last + 1 + len(events))
    state.update((last + len(events),))
    yield pd.DataFrame({"event_key": events["event_key"], "assigned_id": list(ids)})


def stock_stream(grouped_events: Any) -> Any:
    """Wire ``update_stock`` onto ``df.groupBy('product_id')`` of a stream."""
    return grouped_events.applyInPandasWithState(
        update_stock,
        outputStructType=STOCK_OUTPUT_SCHEMA,
        stateStructType=STOCK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class FakeGroupState:
    """Minimal GroupState stand-in so the transform functions above are
    unit-testable without running a stream (mirrors the subset of the
    pyspark GroupState API they use)."""

    def __init__(self, value: tuple | None = None) -> None:
        self._value = value

    @property
    def exists(self) -> bool:
        return self._value is not None

    @property
    def get(self) -> tuple:
        if self._value is None:
            raise ValueError("state does not exist")
        return self._value

    def update(self, value: tuple) -> None:
        self._value = value


# ---------------------------------------------------------------------------
# streaming CUSUM (the sequential monitor from operators/timeseries)
# ---------------------------------------------------------------------------

CUSUM_STATE_SCHEMA = "c long"
CUSUM_OUTPUT_SCHEMA = "key long, order_key long, c_scaled long, alarm int"


def _fold_cusum(
    prior: int, batches: Iterable[pd.DataFrame], threshold_scaled: int
) -> tuple[int, pd.DataFrame]:
    """The per-key CUSUM batch fold: rows carry a precomputed integer
    ``dev`` (den·x − num − den·slack, the cross-multiplied deviation from
    ``operators/timeseries.cusum_alarms``) and a unique integer
    ``order_key``; the fold sorts by ``order_key`` and runs the textbook
    ``C = max(0, C + dev)`` recursion from the prior state. Returns the
    final C and the per-row (order_key, c_scaled, alarm) frame.

    Pure pandas, unit-testable without a stream, and the ONLY place the
    recursion lives — the streaming wrapper and tests call this same
    function."""
    frames = [pdf for pdf in batches if len(pdf)]
    if not frames:
        empty = pd.DataFrame({"order_key": [], "c_scaled": [], "alarm": []})
        return prior, empty
    rows = pd.concat(frames).sort_values("order_key").reset_index(drop=True)
    c = prior
    cs = []
    for dev in rows["dev"].astype("int64"):
        c = max(0, c + int(dev))
        cs.append(c)
    return c, pd.DataFrame(
        {
            "order_key": rows["order_key"].astype("int64"),
            "c_scaled": pd.Series(cs, dtype="int64"),
            "alarm": pd.Series(
                [1 if v > threshold_scaled else 0 for v in cs], dtype="int32"
            ),
        }
    )


def make_cusum_update(threshold_scaled: int):
    """Build the ``applyInPandasWithState`` transform for streaming CUSUM.

    Unlike the batch form (which may derive its target from the data),
    the stream monitors against a FROZEN reference target baked into the
    per-row ``dev`` column — the same frozen-baseline discipline as PSI
    drift (a target that drifts with the stream would absorb exactly the
    shift being monitored). State is ONE long per key (the current CUSUM
    statistic): restart-safe via the checkpointed state store, O(keys)
    total. Emits every row's statistic + alarm bit in update mode;
    downstream alerting filters alarm = 1."""

    def cusum_update(
        key: tuple[Any, ...], batches: Iterable[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        prior = int(state.get[0]) if state.exists else 0
        c, out = _fold_cusum(prior, batches, threshold_scaled)
        state.update((c,))
        out.insert(0, "key", int(key[0]))
        yield out

    return cusum_update


def cusum_stream(grouped: Any, threshold_scaled: int) -> Any:
    """Wire streaming CUSUM onto ``df.groupBy(<key>)`` of a stream whose
    rows carry integer ``dev`` and ``order_key`` columns."""
    return grouped.applyInPandasWithState(
        make_cusum_update(threshold_scaled),
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
