#!/usr/bin/env python3
"""Code-property-graph construction benchmark.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Each run starts a fresh
``local[<usable cores>]`` Spark session in this process, times the
program's public entry points on seeded inputs, checks the outputs, and
prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.  The line before it
holds the run's record: machine context, input properties, phase times,
check results and the per-predicate triple digest.

Workloads (BENCHMARK.json says why each exists):

* ``lifecycle``: one cold ``run_cpg_pipeline`` build over a hub/spoke
  python corpus with vendored duplicate spans, then a few checked Cypher
  reads.  Its length is set by the build, not by ``--seconds``.
* ``stream_ingest``: ``incremental_parse`` drains distinct mixed
  python/go/java docs from parquet files with the availableNow trigger,
  each drain into a fresh sink and checkpoint.  The first drain starts
  the Python workers and is not timed; the following ones repeat until
  ``--seconds`` have passed, and the median sets ``docs_per_s``.

``--trace 1`` runs the same phases with each layer under its own Spark
job group and reports per-layer metrics read back from Spark's status
store (sparktrace.py).  It adds the phases only it measures: on
``lifecycle`` the update (``parse_docs`` on a delta batch, then
``incremental_link`` against the build, then a write), timed Cypher
reads (``execute_cypher(...).count()``) over the graph just built or
drained, and a single-core frontend microbenchmark (frontbench.py).
Every run writes its record under ``.perfbench_work/results/``;
``perfbench/report.py`` summarizes them.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import procstat  # noqa: E402

LIFECYCLE_DOCS = 200
LIFECYCLE_FILES = 8
DELTA_DOCS = LIFECYCLE_DOCS // 20
STREAM_DOCS = 960
STREAM_FILES = 24
MIN_DRAINS = 3          # timed drains, after one untimed
CHECKED_QUERIES = 5     # untraced runs: one per template, not timed
WARMUP_QUERIES = 2      # run and checked, not timed
MIN_QUERIES = 10        # timed, in traced runs: two per template
FRONTEND_SAMPLE = 30    # spans per language in the microbenchmark
FRONTENDS_SEED = 0
# fits a 15 GB machine shared with other jobs; build_session's own
# default (48g) assumes a large host
DRIVER_MEM = "4g"
SPARK_LAYERS = ["parse", "link", "dfg_refine", "materialize",
                "incremental.parse", "incremental.link", "cypher"]


class Ops:
    """Attempted/failed operations and what each check found."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, object] = {}

    def check(self, name: str, ok: bool, found=None) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        if found is not None or not ok:
            self.checks[name] = {"ok": bool(ok), "found": found}


# ---------------------------------------------------------------- setup
def _cores() -> int:
    return len(os.sched_getaffinity(0))


def setup(work: str, stage):
    """Start the session cold, in a new JVM as ``spark-submit`` pays it,
    and open the staged inputs.  Once per run: a second start in this
    process would reuse the JVM.  Returns (spark, staged, setup seconds,
    session start seconds)."""
    from cpg_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", cpus=_cores(),
                          extra_conf=conf)
    t1 = time.perf_counter()
    staged = stage(spark)
    return spark, staged, time.perf_counter() - t0, t1 - t0


def stop_spark(spark) -> None:
    """Stop the context and the gateway JVM, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------- checks
def graph_checks(nodes, edges, ops: Ops, doc_scoped) -> dict:
    """Node ids of ``doc_scoped`` are unique, every edge endpoint is an
    emitted node; returns the per-predicate triple counts and digest."""
    from pyspark.sql import functions as F

    dup = (doc_scoped.groupBy("node_id").count()
           .filter(F.col("count") > 1).count())
    ops.check("node_ids_unique", dup == 0, dup or None)
    ends = (edges.select(F.col("subj").alias("node_id"))
            .union(edges.select(F.col("obj").alias("node_id"))).distinct())
    dangling = ends.join(nodes.select("node_id"), "node_id",
                         "left_anti").count()
    ops.check("edge_endpoints_exist", dangling == 0, dangling or None)
    counts = {r["pred"]: r["count"]
              for r in edges.groupBy("pred").count().collect()}
    blob = json.dumps(sorted(counts.items())).encode()
    return {"triple_digest": hashlib.sha256(blob).hexdigest()[:16],
            "triples_by_pred": counts}


# ---------------------------------------------------------------- reads
def query(q: str, expected: int, nodes, edges, ops: Ops):
    """One read checked against its generator-derived answer.  Returns
    (plan seconds, execution seconds)."""
    from cpg_spark.query.cypher import execute_cypher

    t0 = time.perf_counter()
    df = execute_cypher(q, nodes, edges)
    t1 = time.perf_counter()
    n = df.count()
    t2 = time.perf_counter()
    ops.check("query", n == expected)
    if n != expected:
        wrong = ops.checks.setdefault("query_answers",
                                      {"ok": False, "found": []})
        wrong["found"].append(f"{q} -> {n}, expected {expected}")
    return t1 - t0, t2 - t1


def check_reads(queries, nodes, edges, ops: Ops) -> None:
    """Untraced runs: CHECKED_QUERIES reads, one per template, untimed."""
    for q, expected in queries[:CHECKED_QUERIES]:
        query(q, expected, nodes, edges, ops)


def reads(queries, nodes, edges, ops: Ops, tracer) -> dict:
    """Closed loop, one client: WARMUP_QUERIES untimed, then MIN_QUERIES
    timed, each checked."""
    plan, exe = [], []
    for i in range(WARMUP_QUERIES + MIN_QUERIES):
        q, expected = queries[i % len(queries)]
        with tracer.span("cypher"):
            p, e = query(q, expected, nodes, edges, ops)
        if i >= WARMUP_QUERIES:
            plan.append(1000 * p)
            exe.append(1000 * e)
    lat = [p + e for p, e in zip(plan, exe)]
    return {"cypher.query_p50_ms": statistics.median(lat),
            "cypher.plan_ms": statistics.median(plan),
            "cypher.exec_ms": statistics.median(exe)}


# ------------------------------------------------------------ lifecycle
def run_lifecycle(work, seed, seconds, trace, ops, out) -> dict:
    gen = corpus.Lifecycle(seed, LIFECYCLE_DOCS, DELTA_DOCS)
    out["inputs"] = corpus.input_properties(gen.docs, gen.code_spans)
    out["inputs"]["delta_docs"] = len(gen.batch)
    docs_dir = os.path.join(work, "inputs")
    corpus.write_docs(gen.docs, docs_dir, LIFECYCLE_FILES)
    batch_dir = os.path.join(work, "batch")
    corpus.write_docs(gen.batch, batch_dir, 1)

    def stage(spark):
        docs = spark.read.parquet(docs_dir)
        ops.check("staged_docs", len(docs.inputFiles()) == LIFECYCLE_FILES)
        return docs

    spark, docs, setup_s, start_s = setup(work, stage)
    try:
        tracer = None
        if trace:
            from sparktrace import Tracer

            tracer = Tracer(spark, cpu_layer="parse")
            tracer.install_pipeline_hooks()
        build_s, stages = _build(spark, gen, docs, work, ops, out)
        out["phase_s"] = {"setup": setup_s, "session_start": start_s,
                          "build": build_s}
        if not trace:
            nodes = spark.read.parquet(stages["materialize"]["nodes"])
            edges = spark.read.parquet(stages["materialize"]["edges"])
            check_reads(gen.queries, nodes, edges, ops)
            return {"setup_s": setup_s,
                    "docs_per_s": len(gen.docs) / build_s}
        tracer.uninstall()
        return _lifecycle_layers(spark, gen, docs, stages, batch_dir, work,
                                 tracer, ops, out, start_s, build_s)
    finally:
        stop_spark(spark)


def _build(spark, gen, docs, work, ops, out):
    """The cold batch build, timed through a count of the committed edges,
    then the output checks (untimed)."""
    from pyspark.sql import functions as F

    from cpg_spark.pipeline import run_cpg_pipeline

    t0 = time.perf_counter()
    p = run_cpg_pipeline(spark, docs, os.path.join(work, "cpg"),
                         run_id="bench", resume=False)
    stages = {r.name: r.outputs for r in p.results}
    edges = spark.read.parquet(stages["materialize"]["edges"])
    n_edges = edges.count()
    build_s = time.perf_counter() - t0
    ops.check("build", n_edges > 0)
    out["stage_wall_ms"] = {r.name: r.wall_ms for r in p.results}

    nodes = spark.read.parquet(stages["materialize"]["nodes"])
    out.update(graph_checks(nodes, edges, ops, nodes))
    hub_nodes = nodes.filter(F.col("doc_id").startswith("py/hub")).select(
        F.col("node_id").alias("obj"), F.col("doc_id").alias("obj_doc"))
    cross = (edges.filter(F.col("pred") == "CALLS").join(hub_nodes, "obj")
             .filter(F.col("doc_id") != F.col("obj_doc")).count())
    ops.check("cross_doc_calls_into_hubs", cross == gen.n_spokes,
              {"calls": cross, "expected": gen.n_spokes})
    return build_s, stages


def _update(spark, gen, stages, batch_dir, work, ops, out, tracer) -> dict:
    """The delta: parse the batch into its own cpg_raw table, link it
    against the committed build with ``incremental_link`` and write the
    result.  Then check (untimed) that the batch's calls into the
    committed hubs, and the committed calls of the names the batch
    defines, now have CALLS edges."""
    from pyspark.sql import functions as F

    from cpg_spark.operators.link import split_linked
    from cpg_spark.operators.parse import parse_docs, split_parse_output
    from cpg_spark.sinks import write_table
    from cpg_spark.streaming.incremental import incremental_link, read_cpg_raw

    raw_dir = os.path.join(work, "delta", "cpg_raw")
    linked_dir = os.path.join(work, "delta", "linked")
    t0 = time.perf_counter()
    with tracer.span("incremental.parse"):
        write_table(parse_docs(spark.read.parquet(batch_dir)), raw_dir,
                    ["row_kind"])
    with tracer.span("incremental.link"):
        committed = read_cpg_raw(spark, stages["parse"]["cpg_raw"])
        combined, _ = incremental_link(committed,
                                       read_cpg_raw(spark, raw_dir))
        write_table(combined, linked_dir)
    delta_s = time.perf_counter() - t0
    out["phase_s"]["delta"] = delta_s

    calls = split_linked(spark.read.parquet(linked_dir))[0].filter(
        F.col("pred") == "CALLS")

    def targets(nodes, prefix):
        return nodes.filter(F.col("doc_id").startswith(prefix)).select(
            F.col("node_id").alias("obj"))

    batch_nodes = split_parse_output(read_cpg_raw(spark, raw_dir))[0]
    committed_nodes = split_parse_output(committed)[0]
    into_hubs = (calls.filter(F.col("doc_id").startswith("py/ext/"))
                 .join(targets(committed_nodes, "py/hub"), "obj").count())
    ops.check("delta_calls_into_hubs", into_hubs == len(gen.batch),
              {"calls": into_hubs, "expected": len(gen.batch)})
    backward = (calls.filter(F.col("doc_id").startswith("py/mod"))
                .join(targets(batch_nodes, "py/ext/"), "obj").count())
    expected = sum(gen.zipf_callers[n] for n in gen.batch_defines)
    ops.check("committed_calls_into_delta", backward == expected,
              {"calls": backward, "expected": expected})
    return {"incremental.delta_s": delta_s}


def _lifecycle_layers(spark, gen, docs, stages, batch_dir, work, tracer,
                      ops, out, start_s, build_s) -> dict:
    """Traced-only phases (update, reads, frontends) and the readout."""
    m = _update(spark, gen, stages, batch_dir, work, ops, out, tracer)
    raw = spark.read.parquet(stages["parse"]["cpg_raw"])
    nodes = spark.read.parquet(stages["materialize"]["nodes"])
    edges = spark.read.parquet(stages["materialize"]["edges"])
    m.update(reads(gen.queries, nodes, edges, ops, tracer))
    m.update(_leaf(out, tracer, raw.count(), gen.code_spans,
                   _dedup_parses(docs)))
    jobs = tracer.jobs()
    m.update(_layers(tracer, jobs, start_s))
    link_jobs = [j for j in jobs if j["group"] == "link"]
    m["link.async_jobs"] = sum(j["async"] for j in link_jobs)
    m["link.broadcast_jobs"] = sum(j["broadcast"] for j in link_jobs)
    m.update(_leaf_split(out, tracer, m["parse.cpu_s"], len(gen.docs)))
    m["trace.docs_per_s"] = len(gen.docs) / build_s
    out["spans"] = tracer.spans
    return m


# -------------------------------------------------------- stream_ingest
def run_stream(work, seed, seconds, trace, ops, out) -> dict:
    gen = corpus.StreamIngest(seed, STREAM_DOCS)
    out["inputs"] = corpus.input_properties(gen.docs, gen.code_spans)
    docs_dir = os.path.join(work, "inputs")
    corpus.write_docs(gen.docs, docs_dir, STREAM_FILES)

    def stage(spark):
        files = spark.read.parquet(docs_dir).inputFiles()
        ops.check("staged_docs", len(files) == STREAM_FILES)
        return docs_dir

    spark, docs_dir, setup_s, start_s = setup(work, stage)
    try:
        tracer = None
        if trace:
            from sparktrace import Tracer

            tracer = Tracer(spark, cpu_layer="incremental.parse")
        drains, raw_dir, run_ids = _drains(spark, gen, docs_dir, work,
                                           seconds, ops, tracer)
        drain_s = statistics.median(drains[1:])
        out["phase_s"] = {"setup": setup_s, "session_start": start_s,
                          "drains": drains}
        raw, nodes, edges = _stream_checks(spark, gen, raw_dir, ops, out)
        if not trace:
            check_reads(gen.queries, nodes, edges, ops)
            return {"setup_s": setup_s,
                    "docs_per_s": len(gen.docs) / drain_s}
        m = reads(gen.queries, nodes, edges, ops, tracer)
        # the streaming path parses every span (no span dedup)
        parses = Counter(k for k, _ in gen.code_spans * len(drains))
        m.update(_leaf(out, tracer, raw.count(), gen.code_spans, parses))
        jobs = tracer.jobs()
        # the streaming engine runs each query's batches under a job group
        # named after the query's run id
        for j in jobs:
            if j["group"] in run_ids:
                j["group"] = "incremental.parse"
        m.update(_layers(tracer, jobs, start_s))
        m["incremental.delta_s"] = 0.0
        m["link.async_jobs"] = m["link.broadcast_jobs"] = 0
        m.update(_leaf_split(out, tracer, m["incremental.parse.cpu_s"],
                             len(gen.docs) * len(drains)))
        m["trace.docs_per_s"] = len(gen.docs) / drain_s
        out["spans"] = tracer.spans
        return m
    finally:
        stop_spark(spark)


def _drains(spark, gen, docs_dir, work, seconds, ops, tracer):
    """Drain the docs into fresh sinks: once untimed, then until
    ``seconds`` have passed and at least MIN_DRAINS times.  Returns (drain
    walls, the first one included; first sink; the streaming queries' run
    ids)."""
    from contextlib import nullcontext

    from cpg_spark.streaming.incremental import incremental_parse

    walls, run_ids = [], set()
    t_start = None
    while (len(walls) <= MIN_DRAINS
           or time.perf_counter() - t_start < seconds):
        if len(walls) == 1:
            t_start = time.perf_counter()
        d = os.path.join(work, "stream", str(len(walls)))
        with tracer.span("incremental.parse") if tracer else nullcontext():
            t0 = time.perf_counter()
            q = incremental_parse(spark, docs_dir, os.path.join(d, "raw"),
                                  os.path.join(d, "checkpoint"))
            walls.append(time.perf_counter() - t0)
        run_ids.add(str(q.runId))
        rows = sum(pr["numInputRows"] for pr in q.recentProgress)
        ops.check("drain", q.exception() is None and rows == len(gen.docs),
                  None if rows == len(gen.docs) else {"rows": rows})
    return walls, os.path.join(work, "stream", "0", "raw"), run_ids


def _stream_checks(spark, gen, raw_dir, ops, out):
    from pyspark.sql import functions as F

    from cpg_spark.operators.parse import split_parse_output
    from cpg_spark.streaming.incremental import read_cpg_raw

    raw = read_cpg_raw(spark, raw_dir)
    nodes, edges, _, _ = split_parse_output(raw)
    covered = raw.select("doc_id").distinct().count()
    ops.check("docs_covered", covered == len(gen.docs),
              {"docs": covered, "expected": len(gen.docs)})
    # Type nodes carry shared canonical ids (deduped at materialize time)
    doc_scoped = nodes.filter(F.col("label") != "Type")
    out.update(graph_checks(nodes, edges, ops, doc_scoped))
    return raw, nodes, edges


# ------------------------------------------------------ per-layer metrics
def _layers(tracer, jobs, start_s) -> dict:
    m = {"session.start_s": start_s}
    for layer in SPARK_LAYERS:
        m.update(tracer.layer(layer, jobs, _cores()))
    m["trace.hook_s"] = tracer.hook_s
    return m


def _dedup_parses(docs) -> Counter:
    """Parses per span kind on the pipeline's span-dedup path, counted
    from its partitioning: the span stream is hashed on its content and a
    salted doc id into 2 x parallelism partitions (the expression is
    mirrored from ``cpg_spark.operators.parse._parse_docs_dedup``), and
    each partition's two-sighting cache parses a span once when first
    seen and once more (the relocatable template) when seen again."""
    from pyspark.sql import functions as F

    from cpg_spark.frontends import FRONTENDS

    parts = 2 * docs.sparkSession.sparkContext.defaultParallelism
    spans = (docs.select("doc_id", F.explode("spans").alias("s"))
             .select("doc_id", "s.kind", "s.text")
             .filter(F.col("kind").isin(*FRONTENDS)
                     & F.col("text").isNotNull())
             .repartition(parts, F.xxhash64("kind", "text"),
                          F.pmod(F.xxhash64("doc_id"), F.lit(8)))
             .withColumn("part", F.spark_partition_id()))
    out: Counter = Counter()
    for r in spans.groupBy("kind", "text", "part").count().collect():
        out[r["kind"]] += min(r["count"], 2)
    return out


def _leaf(out, tracer, n_rows, code_spans, parses) -> dict:
    """Single-core frontend microbenchmark, and the frontend + EOG CPU it
    implies for the spans the leaf parsed (kept in ``out`` for
    :func:`_leaf_split`)."""
    import frontbench

    fb = frontbench.run(frontbench.sample(code_spans, FRONTENDS_SEED,
                                          FRONTEND_SAMPLE))
    out["frontends"] = fb
    fe_s = 0.0
    for kind, n in parses.items():
        per = fb["per_lang"][kind.split("/", 1)[1]]
        fe_s += n * (per["frontend_ms"] + per["eog_ms"]) / 1000
    start_s = tracer.workers_started * procstat.worker_import_cpu_s(
        os.path.dirname(HERE))
    out["parse_leaf"] = {"parses": parses, "frontend_eog_cpu_s": fe_s,
                         "worker_start_cpu_s": start_s,
                         "workers_started": tracer.workers_started}
    # a language the workload has no spans of reports 0, as a layer
    # that does not run does
    m = {f"frontends.{lang}_ms":
         fb["per_lang"].get(lang, {}).get("frontend_ms", 0.0)
         for lang in frontbench.LANGS}
    m.update({"frontends.eog_ms": fb["eog_ms"],
              "frontends.nodes": fb["nodes"],
              "frontends.edges": fb["edges"],
              "parse.rows": n_rows,
              "parse.dup_span_share": out["inputs"]["dup_span_share"]})
    return m


def _leaf_split(out, tracer, jvm_cpu_s, n_docs) -> dict:
    """The parse leaf's CPU is the JVM task time plus the Python workers'
    CPU over the parse spans.  Frontend and EOG time is the
    microbenchmark's per-span cost times the spans parsed; worker start-up
    is the import cost of a fresh worker times the workers started; the
    rest is row building, pandas and Arrow."""
    leaf = out["parse_leaf"]
    leaf_s = jvm_cpu_s + tracer.worker_cpu_s
    leaf.update(jvm_cpu_s=jvm_cpu_s, leaf_cpu_s=leaf_s)
    start_s = leaf["worker_start_cpu_s"]
    return {
        "parse.cpu_ms_per_doc": 1000 * leaf_s / n_docs,
        "parse.worker_start_share": start_s / leaf_s,
        "parse.leaf_other_share":
            1 - (leaf["frontend_eog_cpu_s"] + start_s) / leaf_s,
    }


# ----------------------------------------------------------------- main
WORKLOADS = {"lifecycle": run_lifecycle, "stream_ingest": run_stream}


def _units(section: str) -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    if not os.path.isfile(os.path.join(root, "cpg_spark", "pipeline.py")):
        print(f"no cpg_spark package under {root}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-"
                              f"t{args.trace}-{os.getpid()}")
    os.makedirs(work)
    # the run's configuration is fixed here, not inherited from the caller
    for k in [k for k in os.environ if k.startswith("CPG_SPARK_")]:
        del os.environ[k]
    local_dir = os.path.join(work, "spark-local")
    os.environ.update({
        "CPG_SPARK_DRIVER_MEM": DRIVER_MEM,
        "CPG_SPARK_LOCAL_DIR": local_dir,
        "CPG_SPARK_SCRATCH_DIR": os.path.join(work, "scratch"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    ops = Ops()
    out: dict = {"workload": args.workload, "seed": args.seed,
                 "trace": args.trace,
                 "context": procstat.machine_context(work, local_dir)}
    try:
        with procstat.PeakRss() as rss:
            metrics = WORKLOADS[args.workload](
                work, args.seed, args.seconds, args.trace, ops, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out["peak_rss_mb"] = rss.peak / 2**20
    if args.trace:
        metrics["process.peak_rss_mb"] = out["peak_rss_mb"]
    out["context"]["loadavg_end"] = os.getloadavg()
    out["checks"] = ops.checks
    out["error_rate"] = ops.failed / ops.attempted
    units = _units("per_layer" if args.trace else "end_to_end")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    name = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
            f"{time.time_ns()}.json")
    with open(os.path.join(results, name), "w") as fh:
        json.dump({**out, "metrics": metrics}, fh, indent=1)
    out.pop("spans", None)
    print(json.dumps(out))
    print(json.dumps({"correct": ops.failed == 0, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
