"""Library code frees the caches it creates by the frame's own handle
(``cacheutil.release``), never by a diff of the session's persisted RDDs:
a diff also frees whatever a concurrent query persisted in the same
window, and concurrent streaming queries share one session."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from simple_pos_kafka_pyspark_airflow_spark import cacheutil
from simple_pos_kafka_pyspark_airflow_spark.cacheutil import (
    persistent_rdd_ids,
    release_caches,
)

PACKAGE = pathlib.Path(cacheutil.__file__).parent
SESSION_WIDE = {"persistent_rdd_ids", "release_caches", "scoped_caches"}


def test_library_never_diffs_the_session_caches():
    """No library module but cacheutil imports or calls the session-wide
    tools; they are for single-tenant callers and tests. Docstrings may
    still name them (string constants are not names)."""
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "cacheutil.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            else:
                continue
            hits += [
                f"{path.relative_to(PACKAGE)}:{node.lineno} {n}"
                for n in names
                if n in SESSION_WIDE
            ]
    assert not hits, hits


STATE_IO = {"_fs_for", "fs_dir_has_data", "fs_recover_tombstone"}


def test_only_sources_io_touches_committed_state():
    """``sources/io.py`` owns committed parquet state: no other library
    module imports or reaches (``io._fs_for``) its FileSystem probes, so
    every state read goes through ``read_committed``, which finds a
    crashed swap's tombstone, and no streaming module scans parquet with
    ``spark.read.parquet`` or ``spark.read.schema`` directly."""
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "sources" / "io.py":
            continue
        streaming = path.parent.name == "streaming"
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.ImportFrom):
                hits += [
                    f"{path.relative_to(PACKAGE)}:{node.lineno} {a.name}"
                    for a in node.names
                    if a.name in STATE_IO
                ]
            elif isinstance(node, ast.Attribute) and node.attr in STATE_IO:
                hits.append(f"{path.relative_to(PACKAGE)}:{node.lineno} .{node.attr}")
            elif (
                streaming
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in {"parquet", "schema"}
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "read"
            ):
                hits.append(f"{path.relative_to(PACKAGE)}:{node.lineno} read.{node.func.attr}")
    assert not hits, hits


def test_only_cacheutil_checkpoints():
    """Every eager checkpoint goes through ``cacheutil.materialize``, the
    one switch the cluster profile (``spark.graft.materialize=reliable``)
    acts on: no other library module calls ``localCheckpoint`` or
    ``checkpoint``."""
    hits = [
        f"{path.relative_to(PACKAGE)}:{node.lineno} {node.func.attr}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "cacheutil.py"
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in {"localCheckpoint", "checkpoint"}
    ]
    assert not hits, hits


def _called(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, (ast.Attribute, ast.Name))
        and (node.func.attr if isinstance(node.func, ast.Attribute) else node.func.id) == name
    )


def test_ordered_rebuild_is_written_once():
    """Rebuilding a document from ordered piece rows
    (``array_sort(collect_list(...))``) is written in exactly one library
    function, ``llm.textops._ordered_text``; every line, span, token and
    HTML-line reassembly calls it. Query plans (``plans/``) may compose
    their own."""
    owners = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE)
        if rel.parts[0] == "plans":
            continue

        def visit(node, owner):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                owner = node.name
            if _called(node, "array_sort") and node.args and _called(node.args[0], "collect_list"):
                owners.add((str(rel), owner))
            for child in ast.iter_child_nodes(node):
                visit(child, owner)

        visit(ast.parse(path.read_text(encoding="utf-8")), None)
    assert owners == {("llm/textops.py", "_ordered_text")}, owners


def _cotenant(spark, monkeypatch, tag: str) -> set[int]:
    """Make the first ``cacheutil.materialize`` call also persist an
    unrelated frame, as a concurrent query sharing the session would
    while the operator runs. Returns that frame's RDD ids (filled in on
    the first call)."""
    real = cacheutil.materialize
    ids: set[int] = set()

    def materialize(df, eager=True):
        if not ids:
            pre = persistent_rdd_ids(spark)
            other = spark.range(13).withColumn("cotenant", F.lit(tag)).persist()
            other.count()
            ids.update(persistent_rdd_ids(spark) - pre)
        return real(df, eager)

    monkeypatch.setattr(cacheutil, "materialize", materialize)
    return ids


@pytest.mark.parametrize("op", ["dedup_clusters", "pagerank"])
def test_iterative_operators_keep_cotenant_caches(spark, monkeypatch, op):
    """A frame persisted by another query while ``dedup_clusters`` (the
    distributed path) or ``pagerank`` runs is still persisted afterwards;
    the operator leaves only its own result's checkpoint behind."""
    from simple_pos_kafka_pyspark_airflow_spark.llm.dedup import dedup_clusters
    from simple_pos_kafka_pyspark_airflow_spark.operators.graph import pagerank

    before = persistent_rdd_ids(spark)
    other = _cotenant(spark, monkeypatch, op)
    if op == "dedup_clusters":
        pairs = spark.createDataFrame([(i, i + 1) for i in range(5)], "id_a long, id_b long")
        rows = dedup_clusters(pairs, max_driver_edges=0).collect()
        assert {r["cluster_id"] for r in rows} == {0}
    else:
        edges = spark.createDataFrame(
            [(1, 2, 1), (2, 3, 2), (3, 1, 1), (3, 4, 1)], "src long, dst long, w long"
        )
        rows = pagerank(edges, iters=3).collect()
        assert len(rows) == 4
    assert other, "the co-tenant frame was never persisted"
    after = persistent_rdd_ids(spark)
    assert other <= after, (op, other, after)
    leftover = after - before - other
    assert len(leftover) <= 1, leftover  # only the returned frame's checkpoint
    release_caches(spark, leftover | other)


def test_bpe_train_leaves_no_persisted_rdd(spark, sf_dir):
    """The trainer returns a driver-side merge list, so every per-round
    vocabulary checkpoint is its own to free."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import tokenize as tk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    before = persistent_rdd_ids(spark)
    assert len(tk.bpe_train(docs, n_merges=6)) == 6
    assert persistent_rdd_ids(spark) - before == set()


def test_pq_train_leaves_no_persisted_rdd(spark, sf_dir):
    """``pq_train`` returns codebooks (driver lists); its normalized-vector
    checkpoint is freed before it returns."""
    from simple_pos_kafka_pyspark_airflow_spark.llm import simsearch as ss

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    before = persistent_rdd_ids(spark)
    assert len(ss.pq_train(e, m=8, ks=16)) == 8
    assert persistent_rdd_ids(spark) - before == set()
