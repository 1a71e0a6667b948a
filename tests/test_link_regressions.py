"""Regressions for linking-join edge cases found by review:

* module-name string-prefix leaks ('mod1' vs 'mod149') in the winner
  ranking and in the standalone visibility gate — the segment-exact
  :func:`cpg_spark.operators.link._same_module` predicate;
* a function-pointer terminal whose name matches only wrong-arity
  declarations must still emit a CALLS edge to the inferred
  (name, arity) node instead of vanishing from the output.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs


def test_local_module_outranks_prefix_named_import(spark):
    """mod149 imports mod1; BOTH define f.  The call in mod149 must bind
    the same-module (cross-document) f, not mod1's — a raw startswith
    ranked 'mod1' as same-module for scope 'mod149.*' and the d_fqn
    tiebreak then picked the wrong winner."""
    g = CpgGraph(code_docs(spark, [
        ("py/mod1/0001", "code/python", "def f():\n    return 1\n"),
        ("py/mod149/0002", "code/python", "def f():\n    return 2\n"),
        ("py/mod149/0001", "code/python",
         "import mod1\n\ndef main():\n    return f()\n"),
    ]))
    callee_mods = {
        r["callee_mod"]
        for r in g.linked.filter(F.col("pred") == "CALLS")
        .join(g.symbols.select(F.col("decl_id").alias("obj"),
                             F.col("module").alias("callee_mod"),
                             F.col("name").alias("callee")), "obj")
        .filter(F.col("callee") == "f")
        .collect()
    }
    assert callee_mods == {"mod149"}


def test_unimported_prefix_module_is_invisible(spark):
    """mod149 calls g() WITHOUT importing mod1; mod1's g must not be
    visible just because 'mod149'.startswith('mod1') — the miss path
    mints an inferred declaration instead."""
    g = CpgGraph(code_docs(spark, [
        ("py/mod1/0001", "code/python", "def g():\n    return 1\n"),
        ("py/mod149/0001", "code/python", "def main():\n    return g()\n"),
    ]))
    resolved = (
        g.linked.filter(F.col("pred") == "CALLS")
        .join(g.symbols.select(F.col("decl_id").alias("obj"),
                             F.col("name").alias("callee")), "obj")
        .filter(F.col("callee") == "g").count()
    )
    assert resolved == 0
    assert g.inferred.filter(F.col("name") == "g").count() == 1


FNPTR_LIB = r"""
void fun(int x) {}
"""

FNPTR_USE = r"""
int main() {
  void (*two_param)(int, int) = &fun;
  two_param(1, 2);
}
"""


def test_fnptr_terminal_wrong_arity_still_infers(spark):
    """The pointer's unresolved terminal name 'fun' exists in the symbol
    dim but only with arity 1 (foreign module, not imported — the ref
    stays unresolved); the arity-2 call must resolve to an inferred
    FunctionDeclaration (fun, 2) — dropping the arity-mismatched rows
    used to erase the call entirely (no CALLS edge AND no inferred
    node)."""
    g = CpgGraph(code_docs(spark, [
        ("cpp/liba/0001", "code/cpp", FNPTR_LIB),
        ("cpp/main/0001", "code/cpp", FNPTR_USE),
    ]))
    call_ids = [r["mention_id"] for r in g.mentions.filter(
        (F.col("kind") == "call") & (F.col("name") == "two_param")
    ).collect()]
    assert call_ids, "fixture must produce the pointer call mention"
    edges_for_call = (
        g.linked.filter(F.col("pred") == "CALLS")
        .filter(F.col("subj").isin(call_ids)).collect()
    )
    assert edges_for_call, "pointer call lost its CALLS edge entirely"
    inf = g.inferred.filter((F.col("name") == "fun")
                          & (F.col("label") == "FunctionDeclaration")
                          ).collect()
    arities = {r["props"]["arity"] for r in inf}
    assert "2" in arities
    objs = {e["obj"] for e in edges_for_call}
    assert objs <= {r["node_id"] for r in inf}
