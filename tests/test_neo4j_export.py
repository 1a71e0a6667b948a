"""Neo4j bulk-import export parity: the reference pushes the final graph
to Neo4j via an OGM session (cpg-neo4j Application.kt:223-245); the
Spark-native equivalent is a distributed write in `neo4j-admin database
import` CSV layout (separate one-line header files + headerless part
files, ids typed, labels/relationship types in :LABEL/:TYPE columns)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cpg_spark.pipeline import CpgGraph
from cpg_spark.sinks import write_neo4j_bulk
from cpg_spark.synth import code_docs

SRC = """
def caller():
    return callee(1)

def callee(x):
    return x
"""


@pytest.fixture(scope="module")
def exported(spark, tmp_path_factory):
    g = CpgGraph(code_docs(spark, [("py/m/0001", "code/python", SRC)]))
    outdir = str(tmp_path_factory.mktemp("neo4j"))
    cmd = write_neo4j_bulk(g.nodes, g.edges, outdir)
    return spark, g.nodes, g.edges, outdir, cmd


def test_layout_and_headers(exported):
    _, _, _, outdir, cmd = exported
    node_hdr = open(os.path.join(outdir, "nodes", "headers.csv")).read()
    rel_hdr = open(os.path.join(outdir, "relationships",
                                "headers.csv")).read()
    assert node_hdr.startswith("nodeId:ID,") and ":LABEL" in node_hdr
    assert rel_hdr.startswith(":START_ID,") and ":TYPE" in rel_hdr
    assert os.path.exists(cmd)
    body = open(cmd).read()
    assert "neo4j-admin database import" in body
    # distributed data files exist and are headerless
    parts = [f for f in os.listdir(os.path.join(outdir, "nodes"))
             if f.startswith("part-") and f.endswith(".csv")]
    assert parts


def test_roundtrip_counts_and_columns(exported):
    spark, nodes, edges, outdir, _ = exported
    node_hdr = open(os.path.join(outdir, "nodes",
                                 "headers.csv")).read().strip()
    ncols = len(node_hdr.split(","))
    back = spark.read.csv(os.path.join(outdir, "nodes", "part-*.csv"),
                          header=False, inferSchema=True, multiLine=True)
    assert back.count() == nodes.count()
    assert len(back.columns) == ncols
    # last column is the label set; first is the int64 id
    labels = {r[f"_c{ncols - 1}"] for r in back.collect()}
    assert "FunctionDeclaration" in labels
    ids = {r["_c0"] for r in back.collect()}
    assert ids == {r["node_id"] for r in nodes.collect()}

    rels = spark.read.csv(
        os.path.join(outdir, "relationships", "part-*.csv"),
        header=False, inferSchema=True, multiLine=True)
    assert rels.count() == edges.count()
    # every relationship endpoint refers to an exported node id
    start_ids = {r["_c0"] for r in rels.collect()}
    assert start_ids <= ids


def test_relationship_types_survive(exported):
    spark, _, edges, outdir, _ = exported
    rels = spark.read.csv(
        os.path.join(outdir, "relationships", "part-*.csv"),
        header=False, inferSchema=True, multiLine=True)
    types_csv = {r["_c4"] for r in rels.collect()}
    types_df = {r["pred"] for r in edges.select("pred").distinct().collect()}
    assert types_csv == types_df
    assert "CALLS" in types_csv and "AST" in types_csv
