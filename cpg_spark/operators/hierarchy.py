"""Type-hierarchy enrichment: supertype closure + OVERRIDES edges
(SURVEY.md J5).

Re-derivation of the reference's TypeHierarchyResolver
(``core/passes/TypeHierarchyResolver.java:69-139``): record supertype
names resolve to RecordDeclarations, the transitive closure is walked,
and methods whose (name) matches a method of an ancestor record get
``OVERRIDES`` edges (candidate check :117-139).

Spark shape: record dimension is tiny relative to the corpus →
broadcast joins throughout; the closure is the iterative-join fixpoint
from cpg_spark.operators.cc (hierarchies are shallow).  Signature
matching is by name + parameter count — the reference's
signature-compatibility ladder (implicit casts etc.) lives in
CallResolver and is documented out of subset scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpg_spark.operators.cc import transitive_closure
from cpg_spark.operators.external_hierarchy import probe_supertypes


def record_super_pairs(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(sub_record_id, sub_name, super_name) from SUPER_TYPE edges whose
    subject is a RecordDeclaration (the object is a Type node carrying
    the supertype's spelled name)."""
    records = nodes.filter(F.col("label") == "RecordDeclaration").select(
        F.col("node_id").alias("rec_id"), F.col("name").alias("rec_name")
    )
    types = nodes.filter(F.col("label") == "Type").select(
        F.col("node_id").alias("type_id"), F.col("name").alias("type_name")
    )
    return (
        edges.filter(F.col("pred") == "SUPER_TYPE")
        .join(records.withColumnRenamed("rec_id", "subj"), "subj")
        .join(types.withColumnRenamed("type_id", "obj"), "obj")
        .select(F.col("subj").alias("sub_id"),
                F.col("rec_name").alias("sub_name"),
                F.col("type_name").alias("super_name"))
        .distinct()
    )


def supertype_record_closure(nodes: DataFrame, edges: DataFrame,
                             any_resolved: bool,
                             with_depth: bool = False) -> DataFrame:
    """(descendant_record_name, ancestor_record_name[, depth]) transitive
    pairs, restricted to supertype names that actually resolve to a known
    RecordDeclaration (the reference drops unresolved names too).
    ``any_resolved`` says whether any such name resolves — the first
    answer of :func:`cpg_spark.operators.external_hierarchy.probe_supertypes`;
    when False (a flat corpus) the closure driver loop is skipped.
    ``with_depth`` carries the minimal ancestry distance — the
    innermost-ancestor ranking key for inherited member-call resolution."""
    if not any_resolved:
        schema = ("descendant string, ancestor string"
                  + (", depth int" if with_depth else ""))
        return nodes.sparkSession.createDataFrame([], schema)
    pairs = record_super_pairs(nodes, edges)
    records = nodes.filter(F.col("label") == "RecordDeclaration").select(
        F.col("name").alias("super_name")
    ).distinct()
    # cached: the closure loop's unions over the uncached plan fail in
    # the optimizer's constraint propagation (key not found: ancestor)
    resolved = pairs.join(F.broadcast(records), "super_name").select(
        F.col("sub_name").alias("child"), F.col("super_name").alias("parent")
    ).persist()
    return transitive_closure(resolved, with_depth=with_depth)


def overrides_edges(nodes: DataFrame, edges: DataFrame,
                    symbols: DataFrame,
                    closure: DataFrame | None = None) -> DataFrame:
    """(sub_method_id, OVERRIDES, super_method_id) edge rows.

    A method overrides an ancestor-record method of the same name and
    arity (TypeHierarchyResolver candidate check).

    Scale shape: ONLY the supertype closure is broadcast (records with
    ancestry — a sliver of the corpus); the two method sides meet in a
    regular shuffle join on (m_name, parent).  Broadcasting the full method
    dimension would OOM at corpus scale since methods grow linearly with
    documents (round-1 verdict "What's wrong" #6)."""
    if closure is None:
        any_resolved, _ = probe_supertypes(nodes, edges)
        closure = supertype_record_closure(nodes, edges, any_resolved)
    closure = closure.select(
        F.col("descendant").alias("child"), F.col("ancestor").alias("parent")
    )
    methods = symbols.filter(F.col("kind") == "method").select(
        F.col("decl_id"), F.col("name").alias("m_name"),
        F.col("record"), F.col("n_params"), "doc_id",
    )
    subs = methods.select(
        F.col("decl_id").alias("sub_m"), F.col("m_name"),
        F.col("record").alias("child"), F.col("n_params").alias("sub_np"),
        "doc_id",
    )
    # pre-filter the ancestor side to records that actually appear as
    # ancestors (broadcast semi-join against the tiny closure) — the
    # shuffle then only moves methods of parent records
    sups = methods.join(
        F.broadcast(closure.select("parent").distinct()),
        methods["record"] == F.col("parent"), "left_semi",
    ).select(
        F.col("decl_id").alias("sup_m"), F.col("m_name"),
        F.col("record").alias("parent"), F.col("n_params").alias("sup_np"),
    )
    return (
        subs.join(F.broadcast(closure), "child")
        .join(sups, ["m_name", "parent"])
        .filter(
            F.col("sub_np").eqNullSafe(F.col("sup_np"))
            | F.col("sub_np").isNull() | F.col("sup_np").isNull()
        )
        .select(
            F.col("sub_m").alias("subj"),
            F.lit("OVERRIDES").alias("pred"),
            F.col("sup_m").alias("obj"),
            "doc_id",
        )
        .dropDuplicates(["subj", "obj"])
        .withColumn("props", F.create_map().cast("map<string,string>"))
        .select("subj", "pred", "obj", "props", "doc_id")
    )
