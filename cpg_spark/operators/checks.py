"""Graph-wide safety checks (the reference's console analyses).

Re-derivations of the two shipped example analyses in the reference's
console module, recast as distributed whole-corpus queries instead of
per-translation-unit AST visitors:

* ``NullPointerCheck`` (``cpg-console/.../analysis/NullPointerCheck.kt:
  53-147``): for every node with a *base* (member access, member call,
  array subscript), evaluate each incoming DFG branch of the base; if
  any branch resolves to the null constant, report a finding.
* ``OutOfBoundsCheck`` (``cpg-console/.../analysis/OutOfBoundsCheck.kt:
  56-122``): for every array subscript whose index is a compile-time
  integer constant, when the subscripted reference resolves to a
  declaration initialized with an ArrayCreationExpression of known
  capacity (``EvaluateExtensions.kt:40-43`` — the evaluated first
  dimension), report accesses with ``index >= capacity``.

Spark shape: both are pure joins over the nodes/edges tables.  The
null analysis seeds from null literals and fixpoints a *may-null* set
forward along DFG edges through value-carrying labels — the
distributed equivalent of the reference evaluating every incoming DFG
branch independently (one branch resolving to null suffices).  The
bounds analysis reuses :func:`cpg_spark.operators.value_eval.
evaluate_constants` for both the subscript index and the array
capacity, so a computed dimension (``new int[2 + 2]``) works exactly
like a literal one.  No UDFs, no driver collects; the fixpoint is the
same bounded driver-loop pattern as the supertype closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpg_spark.operators.value_eval import _VALUE_LABELS

# null-constant spellings across the four frontends
_NULL_NAMES = ("null", "nullptr", "None", "nil")

# node labels that carry a base (HasBase in the reference; the console
# check visits member calls, plain calls, member accesses and subscripts
# — NullPointerCheck.kt:57-73)
_HAS_BASE_LABELS = (
    "MemberCallExpression", "MemberExpression",
    "ArraySubscriptionExpression", "CallExpression",
)


def may_null_values(nodes: DataFrame, edges: DataFrame,
                    max_iters: int = 8) -> DataFrame:
    """(node_id) for every node that MAY evaluate to the null constant:
    null literals, plus everything reachable from one along DFG edges
    through value-carrying labels (references, declarations, casts ...).

    Any-path semantics: the reference's check walks each incoming DFG
    branch of a base separately and fires when ONE of them evaluates to
    null (NullPointerCheck.kt:79-90), so propagation must not require
    all inputs to agree (unlike the single-value constant evaluator)."""
    seeds = nodes.filter(
        (F.col("label") == "Literal") & F.col("name").isin(*_NULL_NAMES)
    ).select("node_id")
    carriers = nodes.filter(F.col("label").isin(*_VALUE_LABELS)).select(
        F.col("node_id").alias("tgt"))
    # loop-invariant: materialized once so the rounds do not re-run a
    # lazy input (a fresh parse)
    dfg = (
        edges.filter(F.col("pred") == "DFG")
        .select(F.col("subj").alias("src"), F.col("obj").alias("tgt"))
        .join(carriers, "tgt")
        .localCheckpoint(eager=True)
    )
    known = seeds.localCheckpoint(eager=True)
    for _ in range(max_iters):
        new = (
            dfg.join(known.select(F.col("node_id").alias("src")), "src")
            .select(F.col("tgt").alias("node_id")).distinct()
            .join(known, "node_id", "left_anti")
        )
        if new.limit(1).count() == 0:
            break
        known = known.unionByName(new).localCheckpoint(eager=True)
    return known


def _base_pairs(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(node_id, label, base) for every HasBase node: the base child is
    the AST BASE field (member access / member call) or the subscripted
    ARRAY_EXPRESSION (NullPointerCheck treats both as a base)."""
    fld = F.col("props").getItem("field")
    base_edges = edges.filter(
        (F.col("pred") == "AST") & fld.isin("BASE", "ARRAY_EXPRESSION")
    ).select(F.col("subj").alias("node_id"), F.col("obj").alias("base"))
    owners = nodes.filter(F.col("label").isin(*_HAS_BASE_LABELS)).select(
        "node_id", "label", "doc_id",
        F.col("loc").getField("start_line").alias("line"))
    return owners.join(base_edges, "node_id")


def null_pointer_findings(nodes: DataFrame, edges: DataFrame,
                          max_iters: int = 8) -> DataFrame:
    """One row per (doc_id, label, base_name, line) where a base's
    incoming DFG branch may resolve to null — the distributed
    NullPointerCheck (NullPointerCheck.kt:78-90: iterate ``base.prevDFG``,
    evaluate each, fire on a null result)."""
    pairs = _base_pairs(nodes, edges)
    prev_dfg = edges.filter(F.col("pred") == "DFG").select(
        F.col("subj").alias("dfg_src"), F.col("obj").alias("base"))
    nullable = may_null_values(nodes, edges, max_iters=max_iters).select(
        F.col("node_id").alias("dfg_src"))
    base_names = nodes.select(F.col("node_id").alias("base"),
                              F.col("name").alias("base_name"))
    return (
        pairs
        .join(prev_dfg, "base")
        .join(nullable, "dfg_src", "left_semi")
        .join(base_names, "base")
        .select("doc_id", "label", "base_name", "line")
        .distinct()
    )


def out_of_bounds_findings(nodes: DataFrame, edges: DataFrame,
                           vals: DataFrame | None = None) -> DataFrame:
    """One row per (doc_id, array_name, index, capacity, line) where a
    constant-index subscript exceeds the subscripted array's known
    capacity (OutOfBoundsCheck.kt:60-79: constant index, reference →
    VariableDeclaration → ArrayCreationExpression initializer, fire on
    ``index >= capacity``).

    Capacity comes from the evaluated first DIMENSIONS child
    (EvaluateExtensions.kt:40-43); additionally a declaration
    initialized with an InitializerListExpression has capacity = its
    element count (the Python/PowerShell array-literal shape)."""
    from cpg_spark.operators.value_eval import evaluate_constants

    if vals is None:
        vals = evaluate_constants(nodes, edges)
    ivals = vals.filter(
        F.col("value").isNotNull() & (F.col("value") == F.floor("value"))
        & ~F.col("is_bool"))

    fld = F.col("props").getItem("field")
    ast = edges.filter(F.col("pred") == "AST")
    subs = (
        nodes.filter(F.col("label") == "ArraySubscriptionExpression")
        .select("node_id", "doc_id",
                F.col("loc").getField("start_line").alias("line"))
        .join(ast.filter(fld == "ARRAY_EXPRESSION")
              .select(F.col("subj").alias("node_id"),
                      F.col("obj").alias("a_child")), "node_id")
        .join(ast.filter(fld == "SUBSCRIPT_EXPRESSION")
              .select(F.col("subj").alias("node_id"),
                      F.col("obj").alias("i_child")), "node_id")
        .join(ivals.select(F.col("node_id").alias("i_child"),
                           F.col("value").cast("bigint").alias("index")),
              "i_child")
    )
    # reference -> declaration -> initializer
    refs = edges.filter(F.col("pred") == "REFERS_TO").select(
        F.col("subj").alias("a_child"), F.col("obj").alias("decl"))
    decl_names = nodes.filter(
        F.col("label").isin("VariableDeclaration", "FieldDeclaration",
                            "ParamVariableDeclaration")
    ).select(F.col("node_id").alias("decl"),
             F.col("name").alias("array_name"))
    inits = ast.filter(fld == "INITIALIZER").select(
        F.col("subj").alias("decl"), F.col("obj").alias("init"))

    # capacity arm 1: ArrayCreationExpression with an evaluated first
    # dimension
    dim0 = ast.filter((fld == "DIMENSIONS")
                      & (F.col("props").getItem("index") == "0")).select(
        F.col("subj").alias("init"), F.col("obj").alias("dim"))
    cap_new = (
        nodes.filter(F.col("label") == "ArrayCreationExpression")
        .select(F.col("node_id").alias("init"))
        .join(dim0, "init")
        .join(ivals.select(F.col("node_id").alias("dim"),
                           F.col("value").cast("bigint").alias("capacity")),
              "dim")
        .select("init", "capacity")
    )
    # capacity arm 2: InitializerListExpression element count
    cap_ile = (
        nodes.filter(F.col("label") == "InitializerListExpression")
        .select(F.col("node_id").alias("init"))
        .join(ast.filter(fld == "INITIALIZERS")
              .select(F.col("subj").alias("init")), "init")
        .groupBy("init").agg(F.count("*").alias("capacity"))
    )
    caps = cap_new.unionByName(cap_ile)

    return (
        subs
        .join(refs, "a_child")
        .join(decl_names, "decl")
        .join(inits, "decl")
        .join(caps, "init")
        .filter(F.col("index") >= F.col("capacity"))
        .select("doc_id", "array_name", "index", "capacity", "line")
        .distinct()
    )
