"""A crash inside a tombstone swap, for every owner of swapped parquet state.

``sources.io.fs_swap_in`` renames the live directory to a tombstone, then
the staging copy into place. A crash between those two renames leaves the
previous state only under the tombstone. Each owner's next read must find
it there (``sources.io.read_committed``) and its next write must heal the
swap (``append_parquet``, ``overwrite_atomic``). An operation that commits
a release of several tables commits them with one swap, so a crash at its
LAST staging rename must leave the previous release whole too, never a mix
of old and new tables.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass
from typing import Any, Callable

import pytest
from pyspark.sql import functions as F

from simple_pos_kafka_pyspark_airflow_spark.llm import tokenize as tk
from simple_pos_kafka_pyspark_airflow_spark.sources import io as io_mod
from simple_pos_kafka_pyspark_airflow_spark.streaming import cdc
from simple_pos_kafka_pyspark_airflow_spark.streaming.ann import IncrementalIvfIndex
from simple_pos_kafka_pyspark_airflow_spark.streaming.corpus import (
    CorpusDriftMonitor,
    IncrementalMinhashIndex,
    PersistentBloomGate,
    TokenizerFertilityMonitor,
    corpus_ingest,
)


@dataclass
class Arm:
    """One state owner: ``open`` builds it over a root directory (a fresh
    object, as a restarted driver would), ``setup`` commits its first
    state, ``op`` is the operation the crash hits (a release ``op``
    commits different state from ``setup``'s, so a mix of the two shows),
    and ``next_op`` is the owner's next operation, returning what it
    decided. Where ``op`` is redone after a crash (``foreachBatch``
    re-delivers a batch; ``rebuild`` is re-run), ``next_op`` redoes it."""

    open: Callable[[str], Any]
    setup: Callable[[Any], None]
    op: Callable[[Any], None]
    next_op: Callable[[Any], Any]


def _sorted_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _minhash(spark, sf_dir) -> Arm:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(F.col("doc_id") < 6)
    docs = docs.select("doc_id", "text")
    restated = docs.withColumn("doc_id", F.col("doc_id") + 200)

    def next_op(idx):
        kept = sorted(r["doc_id"] for r in idx.dedup_batch(restated).collect())
        idx.compact()
        landed = sorted({r["doc_id"] for r in spark.read.parquet(idx.path).collect()})
        return kept, landed

    return Arm(
        open=lambda root: IncrementalMinhashIndex(spark, f"{root}/lsh", num_hashes=16, bands=8),
        setup=lambda idx: idx.dedup_batch(docs).collect(),
        op=lambda idx: idx.compact(),
        next_op=next_op,
    )


def _ivf(spark, sf_dir, op: str, store_pq: bool = False) -> Arm:
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    landed = e.where(F.col("vec_id") < 60)
    refit = e.where(F.col("vec_id").between(100, 199))
    batch = landed.where(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + 1000
    ).unionByName(e.where(F.col("vec_id").between(60, 64)))

    def setup(idx):
        # fit on a slice, so that rebuild's refit over every landed row moves cells
        idx.fit(landed.where(F.col("vec_id") < 20))
        idx.ingest_batch(landed)

    def next_op(idx):
        if op == "rebuild":
            idx.rebuild()
        if store_pq:
            return idx._centroids(), idx._pq_codebooks()
        kept = sorted(r["vec_id"] for r in idx.dedup_batch(batch).collect())
        return kept, idx._centroids()

    return Arm(
        open=lambda root: IncrementalIvfIndex(
            spark, f"{root}/ivf", n_cells=4, store_pq=store_pq, pq_m=4, pq_ks=4
        ),
        setup=setup,
        op=(lambda idx: idx.rebuild()) if op == "rebuild" else (lambda idx: idx.fit(refit)),
        next_op=next_op,
    )


def _bloom(spark, sf_dir) -> Arm:
    def evalset(answer):
        return spark.createDataFrame(
            [(900, f"the canary benchmark answer is {answer} today")], "doc_id long, text string"
        )

    batch = spark.createDataFrame(
        [
            (1, "clean document about procedural terrain generation methods here"),
            (2, "leaky doc quoting the canary benchmark answer is purple giraffe"),
            (3, "leaky doc quoting the canary benchmark answer is green walrus"),
        ],
        "doc_id long, text string",
    )

    return Arm(
        open=lambda root: PersistentBloomGate(spark, f"{root}/gate"),
        setup=lambda gate: gate.fit(evalset("purple giraffe"), m_bits=1 << 20),
        op=lambda gate: gate.fit(evalset("green walrus"), m_bits=1 << 20),
        next_op=lambda gate: _sorted_rows(gate.flag_batch(batch)),
    )


def _gated_reference(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source", "text")
    return corpus_ingest(docs, min_quality=0.0, min_tokens=1)


def _fertility(spark, sf_dir) -> Arm:
    ref = _gated_reference(spark, sf_dir)
    batch = ref.where(F.col("doc_id") % 3 == 0)
    merges = tk.FROZEN_MERGES

    return Arm(
        open=lambda root: TokenizerFertilityMonitor(spark, f"{root}/fert"),
        setup=lambda mon: mon.freeze(ref, merges),
        op=lambda mon: mon.freeze(ref.where(F.col("doc_id") % 2 == 0), merges[: len(merges) // 4]),
        next_op=lambda mon: _sorted_rows(mon.check_batch(batch)),
    )


def _drift(spark, sf_dir) -> Arm:
    ref = _gated_reference(spark, sf_dir)
    batch = ref.where(F.col("doc_id") % 3 == 0)
    median = ref.approxQuantile("n_tokens", [0.5], 0.0)[0]

    return Arm(
        open=lambda root: CorpusDriftMonitor(spark, f"{root}/drift", n_bins=4),
        setup=lambda mon: mon.freeze(ref),
        op=lambda mon: mon.freeze(ref.where(F.col("n_tokens") <= median)),
        next_op=lambda mon: _sorted_rows(mon.check_batch(batch, 0)),
    )


def _cdc(spark, sf_dir, scd2: bool = False) -> Arm:
    t = datetime.datetime
    ev_schema = f"id long, name string, {cdc.OP_COL} string, ts timestamp"
    b0 = spark.createDataFrame(
        [(i, f"n{i}", "upsert", t(2026, 1, 1)) for i in range(6)], ev_schema
    )
    b1 = spark.createDataFrame(
        [(1, "x", "upsert", t(2026, 1, 2)), (2, None, "delete", t(2026, 1, 2)),
         (9, "new", "upsert", t(2026, 1, 2))],
        ev_schema,
    )

    def open_sink(root):
        if scd2:
            return cdc.ScdParquetCdcSink(
                spark, f"{root}/warehouse", f"{root}/history", pk="id", order_col="ts",
                schema="id long, name string",
            )
        return cdc.ParquetCdcSink(
            spark, f"{root}/warehouse", pk="id", order_col="ts", schema="id long, name string"
        )

    def next_op(sink):
        sink.foreach_batch(b1, 1)  # foreachBatch re-delivers the uncommitted batch
        history = _sorted_rows(sink.read_history()) if scd2 else None
        return _sorted_rows(sink.read()), history

    return Arm(
        open=open_sink,
        setup=lambda sink: sink.foreach_batch(b0, 0),
        op=lambda sink: sink.foreach_batch(b1, 1),
        next_op=next_op,
    )


ARMS = {
    "minhash-compact": _minhash,
    "ivf-rebuild": lambda spark, sf_dir: _ivf(spark, sf_dir, "rebuild"),
    "ivf-fit": lambda spark, sf_dir: _ivf(spark, sf_dir, "fit"),
    "ivf-pq-fit": lambda spark, sf_dir: _ivf(spark, sf_dir, "fit", store_pq=True),
    "bloom-refit": _bloom,
    "fertility-freeze": _fertility,
    "drift-freeze": _drift,
    "cdc-batch": _cdc,
    "scd2-batch": lambda spark, sf_dir: _cdc(spark, sf_dir, scd2=True),
}


def _run_op(a: Arm, owner, monkeypatch, crash_at: int | None = None) -> list[str]:
    """Run ``a.op`` and return the live directory of each staging rename
    it reached, raising at the ``crash_at``-th (1-based) when given."""
    real = io_mod._fs_rename
    lives: list[str] = []

    def rename(fs, src, dst):
        if "__staging__" in src.getName():
            lives.append(dst.toUri().getPath())
            if len(lives) == crash_at:
                raise RuntimeError("injected crash at a staging rename")
        return real(fs, src, dst)

    monkeypatch.setattr(io_mod, "_fs_rename", rename)
    try:
        if crash_at is None:
            a.op(owner)
        else:
            with pytest.raises(RuntimeError, match="injected crash"):
                a.op(owner)
    finally:
        monkeypatch.setattr(io_mod, "_fs_rename", real)
    return lives


@pytest.mark.parametrize("arm", list(ARMS))
def test_crash_at_a_staging_rename_leaves_the_previous_state(
    spark, sf_dir, tmp_path, monkeypatch, arm
):
    """Crash ``op`` at its first and at its last staging rename (live
    already tombstoned, staging not yet moved in) and reopen the owner:
    its next operation must decide exactly as after ``setup`` alone. A
    crashed release commits none of its tables; a crashed batch or
    rebuild is redone by ``next_op``."""
    a = ARMS[arm](spark, sf_dir)

    def committed(name: str):
        owner = a.open(str(tmp_path / name))
        a.setup(owner)
        return owner

    committed("before")
    want = a.next_op(a.open(str(tmp_path / "before")))
    n_swaps = len(_run_op(a, committed("counted"), monkeypatch))
    assert n_swaps >= 1

    for crash_at in sorted({1, n_swaps}):
        name = f"crashed-at-{crash_at}"
        live = _run_op(a, committed(name), monkeypatch, crash_at)[-1]
        # the crash landed inside a swap: only the tombstone holds that state
        assert not os.path.exists(live) and os.path.isdir(live + ".__tombstone__")
        assert a.next_op(a.open(str(tmp_path / name))) == want, f"crash at swap {crash_at}"
