"""External (JDK) type-hierarchy resolution.

Re-derivation of the reference's ``JavaExternalTypeHierarchyResolver``
(``core/passes/JavaExternalTypeHierarchyResolver.java:44-80``): for every
record supertype name that does not resolve to a source RecordDeclaration,
the reference reflectively loads the JDK class and walks
``getSuperclass()``/``getInterfaces()`` transitively, attaching the
discovered ancestry to the type.  There is no JVM classpath to reflect
over in a Python pipeline, so the equivalent knowledge ships as a small
static dimension table of the common ``java.lang``/``java.util``/
``java.io`` hierarchy (simple names — the source-level supertype
spellings our Java frontend records).

Spark shape: the only Spark work is the trigger probe
(:func:`probe_supertypes`), ONE aggregation job that also answers the
supertype closure's "does anything resolve" question (and, for link,
sizes the symbol dimension), so a corpus with no trigger pays nothing
extra.  The table has ≤ ~50 names, so the rows
for the triggered subset are built on the driver.  Triggered JDK types
materialize as
*implicit* RecordDeclarations (``is_inferred=True`` so cross-document
copies collapse at materialize, like link-stage inference) whose
record→Type ``SUPER_TYPE`` edges feed the existing
:func:`cpg_spark.operators.hierarchy.supertype_record_closure`
unchanged — ``class A extends ArrayList`` then closes over
AbstractList/AbstractCollection/List/Collection/Iterable/Object exactly
like an in-source hierarchy.  Type→Type SUPER_TYPE is deliberately NOT
used here: in this engine that edge shape means *typedef alias* and is
merged by the canonicalization CC (cpg_spark/operators/canonicalize.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cpg_spark.ids import inferred_id, type_id
from cpg_spark.schemas import EDGES_SCHEMA, NODES_SCHEMA

# direct supertypes (superclass + interfaces), simple names — the subset
# of the JDK the reference's reflection walk most commonly surfaces in
# its own tests/corpora.  Order within a list: superclass first.
JDK_DIRECT_SUPERS: dict[str, list[str]] = {
    "Object": [],
    "Throwable": ["Object"],
    "Exception": ["Throwable"],
    "RuntimeException": ["Exception"],
    "IllegalArgumentException": ["RuntimeException"],
    "IllegalStateException": ["RuntimeException"],
    "NullPointerException": ["RuntimeException"],
    "IndexOutOfBoundsException": ["RuntimeException"],
    "UnsupportedOperationException": ["RuntimeException"],
    "IOException": ["Exception"],
    "FileNotFoundException": ["IOException"],
    "Error": ["Throwable"],
    "AssertionError": ["Error"],
    "Number": ["Object"],
    "Integer": ["Number", "Comparable"],
    "Long": ["Number", "Comparable"],
    "Double": ["Number", "Comparable"],
    "Float": ["Number", "Comparable"],
    "Short": ["Number", "Comparable"],
    "Byte": ["Number", "Comparable"],
    "Boolean": ["Object", "Comparable"],
    "Character": ["Object", "Comparable"],
    "String": ["Object", "CharSequence", "Comparable"],
    "StringBuilder": ["Object", "CharSequence"],
    "Comparable": [],
    "CharSequence": [],
    "Runnable": [],
    "Iterable": [],
    "Collection": ["Iterable"],
    "List": ["Collection"],
    "Set": ["Collection"],
    "Queue": ["Collection"],
    "Deque": ["Queue"],
    "Map": [],
    "AbstractCollection": ["Object", "Collection"],
    "AbstractList": ["AbstractCollection", "List"],
    "ArrayList": ["AbstractList", "List"],
    "LinkedList": ["AbstractList", "List", "Deque"],
    "AbstractSet": ["AbstractCollection", "Set"],
    "HashSet": ["AbstractSet", "Set"],
    "TreeSet": ["AbstractSet", "Set"],
    "AbstractMap": ["Object", "Map"],
    "HashMap": ["AbstractMap", "Map"],
    "TreeMap": ["AbstractMap", "Map"],
    "Thread": ["Object", "Runnable"],
}


def _ancestors(name: str) -> set[str]:
    out: set[str] = set()
    stack = list(JDK_DIRECT_SUPERS.get(name, ()))
    while stack:
        n = stack.pop()
        if n in out:
            continue
        out.add(n)
        stack.extend(JDK_DIRECT_SUPERS.get(n, ()))
    return out


def _rec_id(name: str) -> int:
    return inferred_id("RecordDeclaration", name, container="jdk")


def probe_supertypes(nodes: DataFrame, edges: DataFrame,
                     dim: DataFrame | None = None):
    """(any_resolved, triggers) from ONE aggregation job over the record
    supertype names: ``any_resolved`` says whether some supertype names a
    source RecordDeclaration (the closure's emptiness probe);
    ``triggers`` are the sorted names that resolve to no source record
    but are in the static JDK table (the in-source case belongs to
    TypeHierarchyResolver / supertype_record_closure).

    With ``dim`` (link's symbol dimension) the same job also counts the
    dimension's rows, returned as a third value ``dim_rows``: the dim
    rows ride the supertype aggregation as a tagged union branch, so the
    link stage sizes its join and probes its hierarchy in one action."""
    from cpg_spark.operators.hierarchy import record_super_pairs

    declared = nodes.filter(F.col("label") == "RecordDeclaration").select(
        F.col("name").alias("super_name"),
        F.lit(True).alias("_declared")).distinct()
    supers = (record_super_pairs(nodes, edges).select("super_name")
              .join(F.broadcast(declared), "super_name", "left"))
    aggs = [F.max(F.col("_declared").isNotNull()).alias("any_resolved"),
            F.collect_set(F.when(
                F.col("_declared").isNull()
                & F.col("super_name").isin(*JDK_DIRECT_SUPERS),
                F.col("super_name"))).alias("triggers")]
    if dim is not None:
        # a dim row has no supertype: it adds False to any_resolved and
        # nothing to triggers
        supers = supers.withColumn("_dim", F.lit(None).cast("int")).unionByName(
            dim.select(F.lit(None).cast("string").alias("super_name"),
                       F.lit(None).cast("boolean").alias("_declared"),
                       F.lit(1).alias("_dim")))
        aggs.append(F.count("_dim").alias("dim_rows"))
    row = supers.agg(*aggs).first()
    probe = (bool(row["any_resolved"]), sorted(row["triggers"]))
    return probe if dim is None else (*probe, row["dim_rows"])


def external_jdk_hierarchy(spark: SparkSession, triggers):
    """(implicit_nodes, implicit_edges) extending record SUPER_TYPE edges
    whose target is a triggered JDK type (see :func:`probe_supertypes`)
    with that type's full JDK ancestry, or None when the triggers reach
    no JDK edge.

    Everything reachable from a trigger (incl. the trigger — the set the
    reflection walk would have visited) materializes: implicit
    RecordDeclaration nodes, Type nodes for their supertype spellings,
    and record→Type SUPER_TYPE edges."""
    reach = set()
    for t in triggers:
        reach |= _ancestors(t) | {t}
    links = [(sub, sup) for sub in sorted(reach)
             for sup in JDK_DIRECT_SUPERS.get(sub, ())]
    if not links:
        return None
    # both sides of every link become implicit records — roots with no
    # supertypes of their own (Object, bare interfaces) appear only on
    # the sup side, and the closure's "supertype resolves to a known
    # record" gate must pass for them too
    rec_names = sorted({n for link in links for n in link})
    sup_names = sorted({sup for _, sup in links})
    node_rows = (
        [(_rec_id(n), "RecordDeclaration", n, None, None, None, None,
          True, True, None, {"kind": "class", "origin": "jdk"})
         for n in rec_names]
        + [(type_id(n), "Type", n, n, None, None, None, True, True, None, {})
           for n in sup_names]
    )
    edge_rows = [(_rec_id(sub), "SUPER_TYPE", type_id(sup), {}, None)
                 for sub, sup in links]
    return (spark.createDataFrame(node_rows, NODES_SCHEMA),
            spark.createDataFrame(edge_rows, EDGES_SCHEMA))
