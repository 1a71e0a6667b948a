"""Record inference (``InferenceConfiguration.inferRecords``).

The reference resolves a member access whose base names NO known record by
*inferring* the record itself (``VariableUsageResolver.java:415-452`` +
``inferRecordDeclaration`` ``:503-``): a new ``RecordDeclaration`` with
``kind="struct"`` (upgraded to ``"class"`` when a member *call* is
discovered — the ``record_ptr.cpp`` case of InferenceTest), plus inferred
``FieldDeclaration``s whose type is the member expression's propagated
type, and inferred ``MethodDeclaration``s for member calls
(``handleUnknownClassMethod``, ``:454-``).

Spark shape — pure joins over the parse output, no UDF:

* misses  = member mentions whose ``base_type`` matches no
  ``RecordDeclaration`` anywhere in the corpus (global anti-join, the
  distributed recordMap lookup);
* field type = the mention's DFG predecessor's EVAL_TYPE object (the
  write ``node.value = 42`` flows ``Literal:int -> member``, exactly what
  the reference's TypeListener propagation hands ``handleUnknownField``) —
  the type NODE id is reused directly, no re-minting;
* inferred ids are content hashes of (kind, name, signature, container)
  with the record scoped by the mention's MODULE — the reference's
  records are translation-unit-scoped, so an unknown ``T`` in two
  unrelated modules stays two records (their kinds may differ), while
  the same miss repeated across a module's documents collapses to ONE
  node at materialize.

Off by default like the reference (``InferenceConfiguration.kt:44``):
the pipeline does not run it; call it directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _empty_props():
    # built lazily: Column construction needs an active session
    return F.create_map().cast("map<string,string>")


def _node_row(id_col, label: str, name_col, props_col=None):
    null_loc = F.lit(None).cast(
        "struct<start_line:int,start_col:int,end_line:int,end_col:int>")
    return [
        id_col.alias("node_id"), F.lit(label).alias("label"),
        name_col.alias("name"), F.lit(None).cast("string").alias("code"),
        F.lit(None).cast("string").alias("doc_id"),
        F.lit(None).cast("int").alias("span_offset"), null_loc.alias("loc"),
        F.lit(True).alias("is_inferred"), F.lit(False).alias("is_implicit"),
        F.lit(None).cast("int").alias("argument_index"),
        (props_col if props_col is not None else _empty_props()).alias("props"),
    ]


def infer_records(mentions: DataFrame, nodes: DataFrame,
                  edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Returns ``(inferred_nodes, inferred_edges)`` for member accesses on
    unknown records.  Edges: REFERS_TO mention->field, CALLS
    mention->method, FIELDS/METHODS record->member, EVAL_TYPE
    field->type."""
    from cpg_spark.operators.link import _inferred_id_col

    module = F.split(F.col("scope_path"), r"\.").getItem(0)
    mm = (
        mentions.filter(
            F.col("kind").isin("member_ref", "member_call")
            & F.col("base_type").isNotNull()
            # constructor-shaped mentions (name == base, the deferred
            # ConstructExpression resolution) create the RECORD, not a
            # method member — the reference infers constructors outside
            # the record-member walk (InferenceTest pins T's members)
            & (F.col("name") != F.col("base_type")))
        .select("mention_id", "kind", "name", "base_type", "doc_id",
                "n_args", module.alias("module"))
    )
    known = (
        nodes.filter(F.col("label") == "RecordDeclaration")
        .select(F.col("name").alias("base_type")).distinct()
    )
    miss = mm.join(known, "base_type", "left_anti")
    rec_id = _inferred_id_col("RecordDeclaration", F.col("base_type"),
                              F.lit(""), F.col("module"))
    member_container = F.concat_ws(".", "module", "base_type")

    # ---- records: struct until a member call is seen (InferenceTest)
    recs = (
        miss.groupBy("module", "base_type")
        .agg(F.max(F.when(F.col("kind") == "member_call", 1).otherwise(0))
             .alias("_has_call"))
    )
    rec_nodes = recs.select(*_node_row(
        _inferred_id_col("RecordDeclaration", F.col("base_type"), F.lit(""),
                         F.col("module")),
        "RecordDeclaration", F.col("base_type"),
        F.create_map(F.lit("kind"),
                     F.when(F.col("_has_call") == 1, F.lit("class"))
                     .otherwise(F.lit("struct"))),
    ))

    # ---- fields: type = DFG predecessor's EVAL_TYPE object (min for
    # determinism when several writes disagree)
    dfg_in = edges.filter(F.col("pred") == "DFG").select(
        F.col("subj").alias("_src"), F.col("obj").alias("mention_id"))
    et = edges.filter(F.col("pred") == "EVAL_TYPE").select(
        F.col("subj").alias("_src"), F.col("obj").alias("_type_id"))
    frefs = (
        miss.filter(F.col("kind") == "member_ref")
        .withColumn("field_id",
                    _inferred_id_col("FieldDeclaration", F.col("name"),
                                     F.lit(""), member_container))
    )
    fields = (
        frefs.join(dfg_in, "mention_id", "left").join(et, "_src", "left")
        .groupBy("module", "base_type", "name", "field_id")
        .agg(F.min("_type_id").alias("_type_id"))
    )
    field_nodes = fields.select(*_node_row(
        F.col("field_id"), "FieldDeclaration", F.col("name")))
    field_eval_type = fields.filter(F.col("_type_id").isNotNull()).select(
        F.col("field_id").alias("subj"), F.lit("EVAL_TYPE").alias("pred"),
        F.col("_type_id").alias("obj"), _empty_props().alias("props"),
        F.lit(None).cast("string").alias("doc_id"))
    fields_edges = fields.select(
        rec_id.alias("subj"), F.lit("FIELDS").alias("pred"),
        F.col("field_id").alias("obj"), _empty_props().alias("props"),
        F.lit(None).cast("string").alias("doc_id"))
    refers = frefs.select(
        F.col("mention_id").alias("subj"), F.lit("REFERS_TO").alias("pred"),
        F.col("field_id").alias("obj"), _empty_props().alias("props"),
        "doc_id")

    # ---- methods (handleUnknownClassMethod): signature = arity, like the
    # link stage's inferred FunctionDeclarations
    mcalls = (
        miss.filter(F.col("kind") == "member_call")
        .withColumn("method_id", _inferred_id_col(
            "MethodDeclaration", F.col("name"),
            F.coalesce(F.col("n_args"), F.lit(0)), member_container))
    )
    method_nodes = mcalls.select(*_node_row(
        F.col("method_id"), "MethodDeclaration", F.col("name"))).dropDuplicates(
        ["node_id"])
    methods_edges = mcalls.select(
        rec_id.alias("subj"), F.lit("METHODS").alias("pred"),
        F.col("method_id").alias("obj"), _empty_props().alias("props"),
        F.lit(None).cast("string").alias("doc_id")).dropDuplicates(
        ["subj", "obj"])
    calls = mcalls.select(
        F.col("mention_id").alias("subj"), F.lit("CALLS").alias("pred"),
        F.col("method_id").alias("obj"), _empty_props().alias("props"),
        "doc_id")

    inf_nodes = rec_nodes.unionByName(field_nodes).unionByName(method_nodes)
    inf_edges = (
        fields_edges.unionByName(field_eval_type).unionByName(refers)
        .unionByName(methods_edges).unionByName(calls)
    )
    return inf_nodes, inf_edges
