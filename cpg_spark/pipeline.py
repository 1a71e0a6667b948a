"""Staged, checkpointed, resumable pipeline runner.

The reference runs a fixed ordered pass list over one mutable in-heap graph
(``TranslationManager.kt:100-108``; order contract
``TranslationConfiguration.java:445-465``).  Here each stage is a pure
function from committed tables to new tables; a stage commit = table files +
``_SUCCESS`` + lineage rows.  Resume = skip every stage whose outputs are
committed for this ``run_id`` (north_rule: "resumable from checkpoint after
any stage") — correctness of resume rests on content-hash node ids
(cpg_spark.ids), which make re-computation idempotent.

Stage graph for the flagship CPG job (SURVEY.md §7.1):

    ingest -> parse -> link -> dfg_refine -> materialize

with EOG / provisional DFG / local REFERS_TO folded into parse (per-doc,
zero shuffle) and linking joins in link (the only wide stage).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from functools import cached_property
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cpg_spark import sinks
from cpg_spark.operators.parse import parse_docs, split_parse_output
from cpg_spark.session import settings_in_force


@dataclass
class Passthrough:
    """Stage output that is ALREADY a committed table: record its source
    URI in the commit marker / lineage instead of re-writing the data.

    The motivating case is ingest over an existing input table (the
    north_rule input is an Iceberg table that is durable before the job
    starts): stage-1 re-writing the whole corpus would double the I/O of
    the entire job at 100 TB for zero resume value."""

    df: DataFrame
    source: str


@dataclass
class StageResult:
    name: str
    outputs: dict[str, str]  # table name -> uri
    wall_ms: int
    resumed: bool
    metrics: dict = field(default_factory=dict)


@dataclass
class Stage:
    name: str
    # fn(spark, ctx: dict[str, DataFrame]) -> (outputs: dict[str, DataFrame],
    #                                          metrics: dict,
    #                                          partition_by: dict[str, list])
    fn: Callable


class Pipeline:
    def __init__(self, spark: SparkSession, workdir: str, run_id: str | None = None):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.results: list[StageResult] = []

    # ------------------------------------------------------------------
    def _lineage(self, stage: str, outputs: dict[str, str], wall_ms: int,
                 resumed: bool, metrics: dict) -> None:
        """Per-partition lineage: rows-per-partition of every output table,
        appended under the run directory (north_rule lineage requirement).

        Row counts come from the parquet file footers (pyarrow metadata) —
        one part file per write partition — so lineage costs zero Spark
        jobs and no table re-scan.  On an Iceberg catalog the same counts
        come from the snapshot manifests.  The stage's summary row also
        records the settings in force
        (:func:`cpg_spark.session.settings_in_force`)."""
        rows = []
        for name, uri in outputs.items():
            try:
                per_part = sinks.partition_row_counts(uri)
            except Exception:
                per_part = []
            for pid, cnt in per_part:
                rows.append({
                    "run_id": self.run_id, "stage": f"{stage}/{name}",
                    "partition_id": pid,
                    "input_rows": None, "output_rows": cnt,
                    "wall_ms": wall_ms,
                })
        path = os.path.join(self.workdir, self.run_id, "_lineage")
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, f"{stage}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
            fh.write(json.dumps({
                "run_id": self.run_id, "stage": stage, "partition_id": -1,
                "resumed": resumed, "wall_ms": wall_ms, "metrics": metrics,
                "config": settings_in_force(self.spark),
            }) + "\n")

    # ------------------------------------------------------------------
    def run_stage(self, stage: Stage, ctx: dict[str, DataFrame],
                  resume: bool = True) -> dict[str, DataFrame]:
        t0 = time.time()
        probe = sinks.table_uri(self.workdir, self.run_id, stage.name, "_stage_done")
        if resume and sinks.is_committed(self.spark, probe):
            # all outputs of this stage are committed: reload them.  The
            # commit marker records the output URIs (incl. passthrough
            # sources outside the stage dir).
            outputs = sinks.committed_outputs(probe)
            dfs = {n: sinks.read_table(self.spark, u) for n, u in outputs.items()}
            self.results.append(StageResult(stage.name, outputs, 0, True))
            return dfs

        out_dfs, metrics, partition_by = stage.fn(self.spark, ctx)
        outputs = {}
        returned: dict[str, DataFrame] = {}
        to_write: list[tuple[str, DataFrame]] = []
        for name, df in out_dfs.items():
            if isinstance(df, Passthrough):
                # already durable: commit by reference, zero write I/O
                outputs[name] = df.source
                returned[name] = df.df
                continue
            uri = sinks.table_uri(self.workdir, self.run_id, stage.name, name)
            outputs[name] = uri
            to_write.append((name, df))
        if len(to_write) > 1:
            # concurrent output writes: a stage with several big outputs
            # (materialize: nodes + edges) overlaps one table's commit
            # I/O with the other's compute — same rationale as the
            # concurrent link/dfg_refine stage group; Spark job
            # submission is thread-safe and the jobs share the executor
            # pool fairly
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(to_write)) as ex:
                futs = [
                    ex.submit(sinks.write_table, df, outputs[name],
                              partition_by.get(name))
                    for name, df in to_write
                ]
                for f in futs:
                    f.result()
        elif to_write:
            name, df = to_write[0]
            sinks.write_table(df, outputs[name], partition_by.get(name))
        # commit marker for the whole stage: a JSON file with an atomic
        # rename (an Iceberg catalog commit gives true atomicity on a
        # cluster); zero Spark jobs
        sinks.write_commit_marker(probe, {"run_id": self.run_id,
                                          "stage": stage.name,
                                          "outputs": outputs})
        wall_ms = int((time.time() - t0) * 1000)
        self._lineage(stage.name, outputs, wall_ms, False, metrics)
        self.results.append(StageResult(stage.name, outputs, wall_ms, False,
                                        metrics))
        # hand back re-read frames so downstream stages consume the committed
        # checkpoint (cuts lineage, enables pushdown on the parquet scan);
        # passthrough outputs are already scans of committed tables
        return {
            n: returned.get(n) or sinks.read_table(self.spark, u)
            for n, u in outputs.items()
        }


# ---------------------------------------------------------------------------
# the flagship CPG stages
# ---------------------------------------------------------------------------

def _scan_source(df: DataFrame) -> str | None:
    """Return the source directory when ``df`` is a bare table/parquet scan
    (no transformations on top), else None.  Only a bare scan is safe to
    commit by reference — any projection/filter/UDF on top must be
    materialized for downstream resume to see the same rows."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        lines = [ln for ln in plan.splitlines() if ln.strip()]
        if len(lines) != 1 or not lines[0].lstrip().startswith("Relation"):
            return None
        files = df.inputFiles()
        if not files:
            return None
        common = os.path.commonpath([os.path.dirname(f.replace("file:", ""))
                                     for f in files])
        return common if os.path.isdir(common) else None
    except Exception:
        return None


def _ingest(spark, ctx):
    # If the input is already a committed table (the production shape: the
    # north_rule input Iceberg table exists and is durable before the job
    # starts), commit stage-1 BY REFERENCE — re-writing the corpus here
    # would double the whole job's I/O at 100 TB for zero resume value.
    # Synthesized / in-flight inputs still get a real checkpoint write so
    # resume has a stable snapshot.  The span invariant is validated by
    # _parse in-UDF either way.
    docs = ctx["docs"]
    src = _scan_source(docs)
    if src:
        return {"docs": Passthrough(docs, src)}, {"input_source": src}, {}
    return {"docs": docs}, {}, {}


def _parse(spark, ctx):
    # the span-sequence invariant is enforced inside the parse UDF
    # (ValueError fails the stage) — no separate validation scan.
    raw = parse_docs(ctx["docs"])
    return {"cpg_raw": raw}, {}, {"cpg_raw": ["row_kind"]}


def _link(spark, ctx):
    from cpg_spark.operators.link import link_combined

    nodes, edges, mentions, symbols = split_parse_output(ctx["cpg_raw"])
    combined, stats = link_combined(mentions, symbols, nodes, edges)
    return {"linked": combined}, stats, {}


def _dfg_refine(spark, ctx):
    from cpg_spark.operators.dfg_refine import refine_dfg_delta

    nodes, edges, _, _ = split_parse_output(ctx["cpg_raw"])
    # ONE output table carrying the action column — writing adds/removes
    # separately would execute the cogroup kernel twice
    return {"dfg_delta": refine_dfg_delta(nodes, edges)}, {}, {}


def _materialize(spark, ctx):
    from cpg_spark.operators.canonicalize import remap_types, type_components
    from cpg_spark.operators.dfg_refine import apply_refinement

    nodes, edges, _, _ = split_parse_output(ctx["cpg_raw"])
    # doc-scoped node ids are globally unique by construction (the content
    # hash includes doc_id); only Type nodes (canonical shared ids) and
    # inferred nodes can collide across documents — dedup just those, and
    # skip the full-corpus shuffle for the rest
    from cpg_spark.operators.link import split_linked

    edges_linked, nodes_inferred = split_linked(ctx["linked"])
    shared_mask = (F.col("label") == "Type") | (F.col("is_inferred") == True)  # noqa: E712
    all_nodes = (
        nodes.filter(~shared_mask)
        .unionByName(
            nodes.filter(shared_mask)
            .unionByName(nodes_inferred)
            .dropDuplicates(["node_id"])
        )
    )
    # alias canonicalization (SURVEY A1): the component map is computed
    # from the committed tables FIRST (pred-pushdown scan + CC driver
    # loop), so the probe never re-executes the refinement/union plan
    comp = type_components(nodes, edges)
    delta = ctx["dfg_delta"]
    adds = delta.filter(F.col("action") == "add").drop("action")
    removes = delta.filter(F.col("action") == "remove").drop("action")
    refined = apply_refinement(edges, adds, removes)
    all_edges = refined.unionByName(edges_linked)
    # comp is either persisted CC output or a local empty relation — the
    # isEmpty probe is free either way, and skipping the remap saves two
    # joins over the full edge set on alias-free corpora
    if not comp.isEmpty():
        all_nodes, all_edges = remap_types(all_nodes, all_edges, comp)
    # edges are per-doc deduped at parse time; only SUPER_TYPE (type-node
    # subjects are shared across docs) still needs a global dedup.  The
    # split below consumes all_edges TWICE; without a persist each branch
    # re-executes the whole refine/link/remap upstream (measured 41 s vs
    # 7 s at 24k docs).  MEMORY_AND_DISK so a 100 TB run spills instead
    # of recomputing.
    all_edges = all_edges.persist()
    st = all_edges.filter(F.col("pred") == "SUPER_TYPE").dropDuplicates(
        ["subj", "pred", "obj"])
    all_edges = all_edges.filter(F.col("pred") != "SUPER_TYPE").unionByName(st)
    return (
        {"nodes": all_nodes, "edges": all_edges,
         "type_components": comp},
        {},
        # pred-partitioning keeps per-predicate scans (triple view queries)
        # pruned; doc_id bucketing is the Iceberg-side refinement on cluster
        {"edges": ["pred"]},
    )


# Stage graph: inner lists are independent stages (no data dependency)
# that run CONCURRENTLY — link (shuffle-join heavy, has serial phases:
# dim sizing, broadcast build) and dfg_refine (pure Arrow cogroup kernel)
# both read only the committed parse output, so overlapping them keeps
# executor slots full while either stage is in a low-parallelism phase
# and overlaps their stage-commit I/O with the other's compute.  Each
# still commits + resumes independently (north_rule: resumable after any
# stage).
CPG_STAGES = [
    Stage("ingest", _ingest),
    Stage("parse", _parse),
    [Stage("link", _link), Stage("dfg_refine", _dfg_refine)],
    Stage("materialize", _materialize),
]


def run_cpg_pipeline(spark: SparkSession, docs: DataFrame, workdir: str,
                     run_id: str | None = None, resume: bool = True) -> Pipeline:
    from concurrent.futures import ThreadPoolExecutor

    p = Pipeline(spark, workdir, run_id)
    ctx: dict[str, DataFrame] = {"docs": docs}
    for step in CPG_STAGES:
        group = step if isinstance(step, list) else [step]
        if len(group) == 1:
            for stage in group:
                ctx.update(p.run_stage(stage, ctx, resume=resume))
            continue
        # concurrent job submission is thread-safe in Spark; stages in a
        # group share the immutable ctx and merge their outputs after the
        # barrier
        with ThreadPoolExecutor(max_workers=len(group)) as ex:
            futs = [ex.submit(p.run_stage, s, dict(ctx), resume) for s in group]
            for f in futs:
                ctx.update(f.result())
    return p


def triples(edges: DataFrame) -> DataFrame:
    """The deliverable (subj, pred, obj) projection."""
    return edges.select("subj", "pred", "obj")


class CpgGraph:
    """The parse and link output of ``docs``, built in the pipeline's
    stage order with its stage functions, for driver queries and tests.

    Construction runs ``parse_docs`` and checkpoints its output once, as
    the pipeline commits ``cpg_raw``; ``nodes``, ``edges``, ``mentions``
    and ``symbols`` are ``split_parse_output``'s views of it.  The first
    read of ``linked``, ``inferred`` or ``link_stats`` runs
    ``link_combined`` and checkpoints its combined table once, as the
    pipeline commits ``linked``, so parse-only callers never pay link.
    Every exposed frame's plan is a scan of a checkpoint, with no Python
    stage and no shuffle: a driver loop over these frames never re-runs
    parse or link."""

    def __init__(self, docs: DataFrame):
        raw = parse_docs(docs).localCheckpoint(eager=True)
        self.nodes, self.edges, self.mentions, self.symbols = (
            split_parse_output(raw))

    @cached_property
    def _link(self):
        from cpg_spark.operators.link import link_combined, split_linked

        combined, stats = link_combined(self.mentions, self.symbols,
                                        self.nodes, self.edges)
        return (*split_linked(combined.localCheckpoint(eager=True)), stats)

    @cached_property
    def linked(self) -> DataFrame:
        """Cross-document edges (CALLS, REFERS_TO, ...) from link."""
        return self._link[0]

    @cached_property
    def inferred(self) -> DataFrame:
        """Nodes link inferred for unresolved targets."""
        return self._link[1]

    @cached_property
    def link_stats(self) -> dict:
        return self._link[2]
