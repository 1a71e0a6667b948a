"""IdentifierPass parity: dense sequential ids in a deterministic total
order, assigned WITHOUT a single-partition global window
(``cpg-analysis/.../passes/IdentifierPass.kt:33-56``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cpg_spark.operators.identifiers import identify_nodes, sequential_ids


def test_sequential_ids_match_row_number(spark):
    # 10k rows over 8 partitions: ids must equal the single-window oracle
    df = spark.range(10_000).select(
        (F.col("id") * 2654435761 % 100_000).alias("k"),
        F.col("id").alias("orig"),
    )
    got = sequential_ids(df, order_by=["k", "orig"], id_col="seq")
    rows = got.orderBy("seq").collect()
    assert [r["seq"] for r in rows] == list(range(10_000))
    # dense ids follow the (k, orig) total order exactly
    keys = [(r["k"], r["orig"]) for r in rows]
    assert keys == sorted(keys)


def test_sequential_ids_start_offset(spark):
    df = spark.range(100).select(F.col("id").alias("k"))
    got = sequential_ids(df, order_by=["k"], id_col="seq", start=1000)
    assert got.agg(F.min("seq"), F.max("seq")).first() == (1000, 1099)


def test_sequential_ids_deterministic(spark):
    df = spark.range(5_000).select(
        (F.col("id") * 48271 % 7919).alias("k"), F.col("id").alias("orig")
    )
    a = sequential_ids(df, ["k", "orig"], "seq").select("orig", "seq")
    b = sequential_ids(df, ["k", "orig"], "seq").select("orig", "seq")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_identify_nodes_preorder(spark):
    """Ids over parsed fixture nodes are dense, and doc-major: every node
    of doc A gets a smaller id than every node of doc B > A — the
    reference's TU-then-walk order (IdentifierPass.kt:40-50)."""
    from cpg_spark.pipeline import CpgGraph
    from cpg_spark.synth import code_docs

    src = "def f(x):\n    y = x + 1\n    return y\n"
    nodes = CpgGraph(code_docs(spark, [(f"py/mod{i}/0001", "code/python", src)
                                       for i in range(4)])).nodes
    got = identify_nodes(nodes).select("doc_id", "seq_id").collect()
    n = len(got)
    assert sorted(r["seq_id"] for r in got) == list(range(n))
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r["seq_id"])
    docs_sorted = sorted(by_doc)
    for a, b in zip(docs_sorted, docs_sorted[1:]):
        assert max(by_doc[a]) < min(by_doc[b])


def test_no_single_partition_stage(spark):
    """The physical plan must contain no global-sort Exchange into one
    partition (the naive Window.orderBy shape)."""
    df = spark.range(1_000).select(F.col("id").alias("k"))
    got = sequential_ids(df, ["k"], "seq")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
