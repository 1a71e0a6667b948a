"""Incremental (delta) linking — round 5, VERDICT item 5.

A new micro-batch's mentions join the COMMITTED global symbol table and
only affected docs re-link:

* forward: a NEW doc's call into a previously-committed declaration
  resolves in the delta without touching other committed docs;
* backward: a committed doc's dangling call resolves once the callee's
  doc arrives, selected by the gained-name semi-join (not a corpus scan).

The delta equals what a full re-link would emit for those mentions
(linking is a pure function of mentions x symbols), asserted by
comparing against the full batch link of the union corpus.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from cpg_spark.operators.link import link_combined, split_linked
from cpg_spark.operators.parse import parse_docs, split_parse_output
from cpg_spark.streaming.incremental import incremental_link
from cpg_spark.synth import code_docs


def _docs(spark, rows):
    return code_docs(spark, [(d, "code/python", src) for d, src in rows])


BATCH1 = [
    ("py/util/0001", "def shared_util(x):\n    return x\n"),
    # dangling cross-batch call: later_fn's doc arrives in batch 2
    ("py/caller/0001",
     "from provider import later_fn\nres = later_fn(3)\n"),
    # already-resolved committed mention (must NOT re-link in the delta)
    ("py/other/0001",
     "from util import shared_util\nq = shared_util(1)\n"),
]
BATCH2 = [
    ("py/newdoc/0001",
     "from util import shared_util\ny = shared_util(5)\n"),
    ("py/provider/0001", "def later_fn(a):\n    return a\n"),
]


def _call_facts(edges_df, nodes_df):
    """(caller_doc, callee_name, callee_doc, inferred) per CALLS edge."""
    return {
        (r["doc_id"], r["name"], r["target_doc"], bool(r["is_inferred"]))
        for r in (
            edges_df.filter(F.col("pred") == "CALLS")
            .join(nodes_df.select(F.col("node_id").alias("obj"),
                                  "name", "is_inferred",
                                  F.col("doc_id").alias("target_doc")),
                  "obj")
            .collect())
    }


def test_cross_batch_call_resolves_without_full_relink(spark):
    raw1 = parse_docs(_docs(spark, BATCH1)).persist()
    raw2 = parse_docs(_docs(spark, BATCH2)).persist()
    n1, e1, m1, s1 = split_parse_output(raw1)

    # batch-1 link: shared_util resolves, later_fn gets an inferred target
    combined1, _ = link_combined(m1, s1, n1, e1)
    linked1, inferred1 = split_linked(combined1)
    resolved1 = (
        linked1.filter(F.col("pred") == "CALLS")
        .join(inferred1.select(F.col("node_id").alias("obj")),
              "obj", "left_anti")
        .select(F.col("subj").alias("mention_id"))
    )
    facts1 = _call_facts(linked1, n1.unionByName(inferred1))
    assert ("py/other/0001", "shared_util", "py/util/0001", False) in facts1
    # dangling call got an inferred placeholder (doc-independent id)
    assert ("py/caller/0001", "later_fn", None, True) in facts1

    # delta link of batch 2 against the committed corpus
    combined, _ = incremental_link(raw1, raw2,
                                   resolved_mention_ids=resolved1)
    d_edges = combined.filter(F.col("row_kind") == "edge").select(
        "subj", "pred", "obj", "doc_id")
    d_nodes = combined.filter(F.col("row_kind") == "node")
    all_nodes = (n1.unionByName(split_parse_output(raw2)[0])
                 .unionByName(d_nodes.select(*n1.columns)))
    delta = _call_facts(d_edges, all_nodes)

    # forward: new doc -> committed declaration
    assert ("py/newdoc/0001", "shared_util", "py/util/0001", False) in delta
    # backward: committed dangling call -> new declaration (REAL target)
    assert ("py/caller/0001", "later_fn", "py/provider/0001", False) in delta
    # only affected docs re-linked: the already-resolved py/other mention
    # is NOT in the delta (its name gained no symbol AND it is resolved)
    assert not any(d == "py/other/0001" for d, _, _, _ in delta)

    # the delta rows equal the full union re-link's rows for those docs
    # (content-hash ids -> identical edges)
    raw_all = raw1.unionByName(raw2)
    na, ea, ma, sa = split_parse_output(raw_all)
    combined_full, _ = link_combined(ma, sa, na, ea)
    linked_full, inferred_full = split_linked(combined_full)
    full = _call_facts(linked_full, na.unionByName(inferred_full))
    assert delta <= full
    raw1.unpersist()
    raw2.unpersist()


def _broadcast_subtrees(plan: str) -> list[str]:
    """The text of every BroadcastExchange subtree in a plan string."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        sub = [line]
        for nxt in lines[i + 1:]:
            if depth(nxt) <= depth(line):
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def test_committed_resolved_ids_are_not_broadcast(spark):
    """The caller's resolved-id set is sized by the committed corpus; the
    delta link semi-joins it to the gained-name mentions and forces no
    broadcast of it.  With size-based broadcasting off, no
    BroadcastExchange may hold the id set (its checkpointed one-column
    ``mention_id`` scan)."""
    raw1 = parse_docs(_docs(spark, BATCH1)).persist()
    raw2 = parse_docs(_docs(spark, BATCH2)).persist()
    committed_ids = split_parse_output(raw1)[2].select("mention_id")
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        combined, _ = incremental_link(raw1, raw2,
                                       resolved_mention_ids=committed_ids)
        plan = combined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    ids_scan = re.compile(r"Scan ExistingRDD\[mention_id#\d+L?\]")
    assert ids_scan.search(plan), "resolved-id scan not found in the plan"
    assert not [b for b in _broadcast_subtrees(plan) if ids_scan.search(b)]
    raw1.unpersist()
    raw2.unpersist()
