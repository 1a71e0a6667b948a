"""End-to-end Spark tests: parse operator, linking joins, pipeline
checkpoint/resume determinism and lineage."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from cpg_spark.operators import link
from cpg_spark.operators.link import link_combined, split_linked
from cpg_spark.pipeline import CpgGraph, run_cpg_pipeline, triples
from cpg_spark.synth import fixture_docs, generated_docs


@pytest.fixture(scope="module")
def docs(spark):
    return fixture_docs(spark).union(generated_docs(spark, 30, n_hubs=2))


@pytest.fixture(scope="module")
def graph(docs):
    return CpgGraph(docs)


def test_parse_matches_pure_python(graph):
    """The distributed parse must emit exactly the rows the frontend emits
    standalone (determinism across partitioning)."""
    from cpg_spark.fixtures_py import PY_FIXTURES
    from cpg_spark.frontends.python_frontend import parse_python_document

    doc_id = "py/function/0001"
    expected = parse_python_document(doc_id, 1, PY_FIXTURES["function"], "function")
    got_nodes = graph.nodes.filter(F.col("doc_id") == doc_id).count()
    # span offset differs (interleaved docs put code at offset 1) but the
    # row COUNT is partition-invariant
    assert got_nodes == len(expected.nodes)


def test_cross_document_call_linking(graph):
    """Generated modules call util_helper_<h> defined in hub docs — the
    linking join must connect them across documents."""
    edges, nodes = graph.linked, graph.nodes
    calls = (
        edges.filter(F.col("pred") == "CALLS")
        .join(nodes.select(F.col("node_id").alias("obj"),
                           F.col("name").alias("callee"),
                           F.col("doc_id").alias("callee_doc")), "obj")
        .join(nodes.select(F.col("node_id").alias("subj"),
                           F.col("doc_id").alias("caller_doc")), "subj")
    )
    cross = calls.filter(
        F.col("callee").startswith("util_helper_")
        & (F.col("caller_doc") != F.col("callee_doc"))
    )
    assert cross.count() > 0
    # every cross-doc util_helper call resolved to a hub doc declaration
    assert cross.filter(~F.col("callee_doc").startswith("py/hub")).count() == 0


def test_inferred_functions_deterministic(graph):
    pdf = graph.inferred.select("node_id", "name").toPandas()
    # print is unresolvable -> inferred, and all same-name/arity misses
    # collapse into one deterministic node
    assert "print" in set(pdf["name"])
    assert pdf["node_id"].is_unique


def test_salted_equals_broadcast(graph, monkeypatch):
    """A dimension above ``BROADCAST_MAX_ROWS`` takes the salted join; it
    links exactly what the broadcast join links."""
    legs = []
    for max_rows, strategy in ((link.BROADCAST_MAX_ROWS, "broadcast"),
                               (0, "salted")):
        monkeypatch.setattr(link, "BROADCAST_MAX_ROWS", max_rows)
        combined, stats = link_combined(graph.mentions, graph.symbols,
                                        graph.nodes, graph.edges)
        assert stats["strategy"] == strategy
        legs.append({tuple(r) for r in split_linked(combined)[0].select(
            "subj", "pred", "obj").collect()})
    a, b = legs
    assert a == b and len(a) > 0


def test_pipeline_checkpoint_resume(spark, tmp_path_factory):
    """Kill-and-resume: rerunning with the same run_id must skip committed
    stages and produce identical triples (content-hash id stability)."""
    wd = str(tmp_path_factory.mktemp("cpgwd"))
    docs = fixture_docs(spark)
    p1 = run_cpg_pipeline(spark, docs, wd, run_id="r1")
    t1 = {
        tuple(r)
        for r in triples(
            spark.read.parquet(p1.results[-1].outputs["edges"])
        ).collect()
    }
    # wipe the last stage to simulate a crash mid-run, then resume
    shutil.rmtree(p1.results[-1].outputs["edges"].rsplit("/", 1)[0])
    p2 = run_cpg_pipeline(spark, docs, wd, run_id="r1", resume=True)
    resumed = [r.name for r in p2.results if r.resumed]
    assert "parse" in resumed and "link" in resumed
    t2 = {
        tuple(r)
        for r in triples(
            spark.read.parquet(p2.results[-1].outputs["edges"])
        ).collect()
    }
    assert t1 == t2 and len(t1) > 100


def test_ingest_passthrough_commits_by_reference(spark, tmp_path_factory):
    """A file-backed input table must NOT be re-written by ingest: the
    stage commits by reference (pipeline.Passthrough), resume reloads from
    the recorded source URI, and the triples are identical to the
    synthesized-input run."""
    import os

    wd = str(tmp_path_factory.mktemp("cpgwd3"))
    docs_uri = os.path.join(wd, "input_docs")
    fixture_docs(spark).write.parquet(docs_uri)
    docs_scan = spark.read.parquet(docs_uri)

    p1 = run_cpg_pipeline(spark, docs_scan, wd, run_id="pt")
    ingest = p1.results[0]
    assert ingest.name == "ingest"
    # committed by reference: output URI is the input table itself and no
    # copy exists under the stage dir
    assert ingest.outputs["docs"] == docs_uri
    assert not os.path.exists(os.path.join(wd, "pt", "ingest", "docs"))
    t1 = {tuple(r) for r in triples(
        spark.read.parquet(p1.results[-1].outputs["edges"])).collect()}

    # resume must reload the passthrough source from the commit marker
    shutil.rmtree(p1.results[-1].outputs["edges"].rsplit("/", 1)[0])
    p2 = run_cpg_pipeline(spark, docs_scan, wd, run_id="pt", resume=True)
    assert p2.results[0].resumed
    t2 = {tuple(r) for r in triples(
        spark.read.parquet(p2.results[-1].outputs["edges"])).collect()}
    assert t1 == t2 and len(t1) > 100

    # an in-flight (non-scan) input still gets a real checkpoint write
    p3 = run_cpg_pipeline(spark, fixture_docs(spark), wd, run_id="pt2")
    assert os.path.exists(os.path.join(p3.results[0].outputs["docs"],
                                       "_SUCCESS"))
    t3 = {tuple(r) for r in triples(
        spark.read.parquet(p3.results[-1].outputs["edges"])).collect()}
    assert t1 == t3


@pytest.fixture(scope="module")
def fixture_run(spark, tmp_path_factory):
    """(workdir, pipeline) of one pipeline run over the fixture corpus."""
    wd = str(tmp_path_factory.mktemp("cpgwd2"))
    return wd, run_cpg_pipeline(spark, fixture_docs(spark), wd, run_id="r2")


def test_final_tables_unique_ids(spark, fixture_run):
    _, p = fixture_run
    nodes = spark.read.parquet(p.results[-1].outputs["nodes"])
    assert nodes.count() == nodes.select("node_id").distinct().count()
    edges = spark.read.parquet(p.results[-1].outputs["edges"])
    assert edges.count() == edges.select("subj", "pred", "obj").distinct().count()


def test_link_stats_in_lineage(spark, fixture_run):
    """The link stage's lineage row carries the probe's answers: the
    join strategy and dim size, whether the supertype closure was built,
    and which function-pointer walk rows exist.  Every stage's summary
    row records the settings in force, as the session's conf holds
    them."""
    import json
    import os

    wd, p = fixture_run

    def summary(stage):
        with open(os.path.join(wd, "r2", "_lineage", f"{stage}.jsonl")) as fh:
            return [json.loads(ln) for ln in fh][-1]

    link_row = summary("link")
    assert link_row["partition_id"] == -1
    stats = link_row["metrics"]
    assert stats == [r.metrics for r in p.results if r.name == "link"][0]
    assert stats["strategy"] == "broadcast" and stats["dim_rows"] > 0
    # the fixtures include python class hierarchies, so the closure runs
    assert stats["closure"] == "built"
    assert set(stats["fnptr_kinds"]) <= {"hit", "term"}

    conf = spark.conf.getAll
    expected = {k: conf.get(k) for k in
                ("spark.master", "spark.driver.memory", "spark.local.dir")}
    expected.update({k: v for k, v in conf.items()
                     if k.startswith("spark.cpg.")})
    for r in p.results:
        config = summary(r.name)["config"]
        assert {k: v for k, v in config.items() if v is not None} == {
            k: v for k, v in expected.items() if v is not None}

