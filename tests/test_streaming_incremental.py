"""Incremental ingestion: two micro-batched drops of docs files must parse
exactly once each (checkpointed), and re-ingesting a duplicate file must
still yield exactly-once graph facts after the idempotent dedup."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cpg_spark.streaming.incremental import incremental_parse, read_cpg_raw
from cpg_spark.synth import fixture_docs


def test_incremental_two_batches(spark, tmp_path):
    docs_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "raw")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(docs_dir)

    all_docs = fixture_docs(spark, langs=("python",)).collect()
    half = len(all_docs) // 2
    batch1 = spark.createDataFrame(all_docs[:half], fixture_docs(spark).schema)
    batch2 = spark.createDataFrame(all_docs[half:], fixture_docs(spark).schema)

    batch1.coalesce(1).write.mode("append").parquet(docs_dir)
    incremental_parse(spark, docs_dir, out_dir, ckpt)
    n1 = read_cpg_raw(spark, out_dir).count()
    assert n1 > 0
    docs1 = {
        r["doc_id"] for r in read_cpg_raw(spark, out_dir)
        .select("doc_id").distinct().collect()
    }
    assert docs1 == {r["doc_id"] for r in all_docs[:half]}

    # second drop: only the new files are processed (checkpoint)
    batch2.coalesce(1).write.mode("append").parquet(docs_dir)
    incremental_parse(spark, docs_dir, out_dir, ckpt)
    raw = read_cpg_raw(spark, out_dir)
    n2 = raw.count()
    assert n2 > n1
    # doc-scoped node rows appear exactly once per node id (no
    # reprocessing of batch1); Type/inferred nodes legitimately share
    # content-hash ids across documents
    nodes = raw.filter(F.col("row_kind") == "node").filter(
        (F.col("label") != "Type") & (F.col("is_inferred") != True)  # noqa: E712
    )
    assert nodes.count() == nodes.select("node_id").distinct().count()


def test_reingest_is_idempotent_after_dedup(spark, tmp_path):
    """At-least-once file delivery (same doc written twice) -> content-hash
    ids collapse under the materialize dedup."""
    docs_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "raw")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(docs_dir)

    one = fixture_docs(spark, langs=("python",)).limit(3)
    # two distinct files with identical content
    one.coalesce(1).write.mode("append").parquet(docs_dir)
    one.coalesce(1).write.mode("append").parquet(docs_dir)
    incremental_parse(spark, docs_dir, out_dir, ckpt)

    from cpg_spark.pipeline import CpgGraph

    raw = read_cpg_raw(spark, out_dir)
    nodes = raw.filter(F.col("row_kind") == "node")
    single = CpgGraph(one).nodes
    n_single = single.count()
    d_single = single.select("node_id").distinct().count()
    total = nodes.count()
    distinct = nodes.select("node_id").distinct().count()
    assert total == 2 * n_single       # both copies parsed...
    assert distinct == d_single        # ...same id universe...
    # ...and the dedup that materialize applies collapses them
    assert nodes.dropDuplicates(["node_id"]).count() == d_single
