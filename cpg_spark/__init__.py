"""cpg_spark — a from-scratch PySpark-native code-knowledge-graph pipeline.

Re-derives the Code Property Graph semantics of the reference library
(Fraunhofer-AISEC-style ``cpg``, snapshot at /root/reference) as
``(subj, pred, obj)`` triples over an Iceberg-style table of interleaved
text+media documents:

    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)

Architecture (idiomatic Spark, NOT a port of the reference's single-JVM
mutable-object engine):

* per-document work (parsing, AST building, EOG, function-local DFG, local
  scope resolution) runs in vectorized Arrow batches via ``mapInArrow`` —
  zero shuffle;
* cross-document work (REFERS_TO / CALLS entity linking, supertype closure,
  alias canonicalization) is pure DataFrame joins — broadcast for small
  dimension tables, salted hash joins for skewed name keys;
* every stage reads committed tables and writes a committed table plus
  per-partition lineage rows, so the pipeline is resumable from checkpoint
  after any stage.

See SURVEY.md for the full mapping from reference operators to Spark
primitives, with reference file:line citations.
"""

__version__ = "0.1.0"
