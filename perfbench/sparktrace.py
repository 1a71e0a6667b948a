"""Per-layer Spark readout for the traced run.

Spans are recorded here, in the benchmark, around the calls into each
layer; nothing inside the program is changed.  Every span runs its Spark
jobs under a job group named after the layer, and after the run the
groups are read back from Spark's status store: job group -> job ids ->
stage ids -> ``lastStageAttempt`` fields.

The pipeline's stages are tagged by wrapping ``Pipeline.run_stage`` (each
stage, on whichever thread the pipeline runs it, so link and dfg_refine
keep their production concurrency) and ``sinks.write_table`` (the
materialize stage writes its outputs from its own thread pool; the stage
is read from the table URI ``<workdir>/<run_id>/<stage>/<table>``).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from procstat import python_workers

_GROUP = "spark.jobGroup.id"


class Tracer:
    """Spans and job groups of one traced run.

    ``cpu_layer``: a layer that runs alone, whose spans also accumulate
    the CPU time of the Python workers into ``worker_cpu_s`` and count
    the workers started into ``workers_started`` (Spark's executor CPU
    time counts JVM task threads only, not the forked Python workers that
    run the parse leaf)."""

    def __init__(self, spark, cpu_layer: str | None = None):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []
        self.hook_s = 0.0  # time spent inside the tracing hooks
        self.cpu_layer = cpu_layer
        self.worker_cpu_s = 0.0
        self.workers_started = 0
        self._undo: list = []

    # ------------------------------------------------------------ spans
    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty(_GROUP, None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, layer: str):
        """Record ``layer``'s wall interval; its jobs (on this thread)
        go to job group ``layer``."""
        h0 = time.perf_counter()
        prev = self.sc.getLocalProperty(_GROUP)
        self._set_group(layer)
        before = python_workers() if layer == self.cpu_layer else None
        t0 = time.time()
        self.hook_s += time.perf_counter() - h0
        try:
            yield
        finally:
            t1 = time.time()
            h0 = time.perf_counter()
            self.spans.append((layer, t0, t1))
            if before is not None:
                after = python_workers()
                self.worker_cpu_s += (sum(after.values())
                                      - sum(before.values()))
                self.workers_started += len(after.keys() - before.keys())
            self._set_group(prev)
            self.hook_s += time.perf_counter() - h0

    def install_pipeline_hooks(self) -> None:
        from cpg_spark import pipeline, sinks

        tracer = self
        run_stage = pipeline.Pipeline.run_stage
        write_table = sinks.write_table

        def traced_run_stage(self, stage, ctx, resume=True):
            with tracer.span(stage.name):
                return run_stage(self, stage, ctx, resume)

        def traced_write_table(df, uri, partition_by=None):
            h0 = time.perf_counter()
            stage = os.path.basename(os.path.dirname(uri))
            prev = tracer.sc.getLocalProperty(_GROUP)
            tracer._set_group(stage)
            tracer.hook_s += time.perf_counter() - h0
            try:
                return write_table(df, uri, partition_by)
            finally:
                tracer._set_group(prev)

        pipeline.Pipeline.run_stage = traced_run_stage
        sinks.write_table = traced_write_table
        self._undo = [(pipeline.Pipeline, "run_stage", run_stage),
                      (sinks, "write_table", write_table)]

    def uninstall(self) -> None:
        for owner, name, fn in self._undo:
            setattr(owner, name, fn)
        self._undo = []

    # ---------------------------------------------------------- readout
    def jobs(self) -> list[dict]:
        """Every job in the status store, with the fields the readout
        uses.  Waits for the listener bus so late job-end events land."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        seq = store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            grp, sub, comp = j.jobGroup(), j.submissionTime(), j.completionTime()
            tags = j.jobTags()
            sids = j.stageIds()
            out.append({
                "group": grp.get() if grp.isDefined() else None,
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1000 if comp.isDefined() else None,
                # submitted from Spark's own threads: AQE query stages
                # and broadcast exchanges, not the caller's action
                "async": "withThreadLocalCaptured" in j.name(),
                "broadcast": "broadcast exchange" in tags.mkString("|"),
                "stage_ids": [sids.apply(k) for k in range(sids.size())],
            })
        return out

    def _stage(self, store, sid: int) -> dict | None:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # py4j wraps NoSuchElementException
            return None
        if str(sd.status()) == "SKIPPED":
            return None
        return {
            "tasks": sd.numCompleteTasks() + sd.numFailedTasks()
            + sd.numKilledTasks(),
            "failed_tasks": sd.numFailedTasks(),
            "cpu_ns": sd.executorCpuTime(),
            "run_ms": sd.executorRunTime(),
            "shuffle_write": sd.shuffleWriteBytes(),
            "output": sd.outputBytes(),
            "spill": sd.diskBytesSpilled(),
        }

    def layer(self, layer: str, jobs: list[dict], cores: int) -> dict:
        """Status-store metrics of one layer: its spans' wall time and the
        jobs of its job group."""
        spans = _merge([(a, b) for n, a, b in self.spans if n == layer])
        wall = sum(b - a for a, b in spans)
        mine = [j for j in jobs if j["group"] == layer]
        store = self.sc._jsc.sc().statusStore()
        agg = dict(tasks=0, failed_tasks=0, cpu_ns=0, run_ms=0,
                   shuffle_write=0, output=0, spill=0)
        for sid in sorted({s for j in mine for s in j["stage_ids"]}):
            st = self._stage(store, sid)
            for k, v in (st or {}).items():
                agg[k] += v
        busy = _merge([(j["start"], j["end"]) for j in mine
                       if j["start"] is not None and j["end"] is not None])
        covered = sum(_overlap(a, b, spans) for a, b in busy)
        mb = 1024 * 1024
        return {
            f"{layer}.wall_s": wall,
            f"{layer}.jobs": len(mine),
            f"{layer}.tasks": agg["tasks"],
            f"{layer}.failed_tasks": agg["failed_tasks"],
            f"{layer}.cpu_s": agg["cpu_ns"] / 1e9,
            f"{layer}.slot_busy":
                agg["run_ms"] / 1000 / (wall * cores) if wall else 0.0,
            f"{layer}.driver_gap_s": max(wall - covered, 0.0),
            f"{layer}.shuffle_write_mb": agg["shuffle_write"] / mb,
            f"{layer}.output_mb": agg["output"] / mb,
            f"{layer}.spill_mb": agg["spill"] / mb,
        }


def _merge(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _overlap(a: float, b: float, spans: list[tuple[float, float]]) -> float:
    return sum(max(0.0, min(b, d) - max(a, c)) for c, d in spans)
