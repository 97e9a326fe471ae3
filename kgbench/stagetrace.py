"""Benchmark-side tracing of one KG build: a span per `run_stage` call, a
Spark job group per stage, and the per-group stage metrics that Spark's
status store keeps (readable with `spark.ui.enabled=false`).

Nothing here changes library code: `StageTracer.installed` swaps
`kgspark.pipeline.run_stage` for a wrapper for the duration of one op and
restores it afterwards. Spans live in memory until the run ends.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

import kgspark.pipeline as pipeline
from kgspark.checkpoint import Manifest

# run_stage name -> layer (module) it exercises
STAGE_LAYER = {
    "documents": "html",
    "concepts": "openie",
    "triples_concepts": "edges.concept",
    "triples_canonical": "canon",
    "entities": "pipeline.entities",
    "chunks": "chunk",
    "chunk_embeddings": "embed",
    "topics": "topics",
    "triples": "edges.doc_topic",
    "nodes": "pipeline.nodes",
}
OTHER = "pipeline"  # job group for work outside any run_stage call


@dataclass
class Span:
    op: str
    name: str
    start: float
    end: float

    @property
    def s(self) -> float:
        return self.end - self.start


@dataclass
class GroupMetrics:
    cpu_s: float = 0.0
    run_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0
    rescan_s: float = 0.0  # the row-count job run_stage makes after a write


class StageTracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    def _group(self, op: str, name: str) -> None:
        g = f"{op}:{name}"
        self.sc.setJobGroup(g, g)

    @contextmanager
    def installed(self, op: str):
        """Trace every run_stage call made while the context is open; jobs
        outside a stage fall into the `<op>:pipeline` group."""
        orig = pipeline.run_stage

        def traced(spark, manifest, stage, fingerprint, build):
            self._group(op, stage)
            t0 = time.perf_counter()
            try:
                return orig(spark, manifest, stage, fingerprint, build)
            finally:
                self.spans.append(Span(op, stage, t0, time.perf_counter()))
                self._group(op, OTHER)

        pipeline.run_stage = traced
        self._group(op, OTHER)
        try:
            yield
        finally:
            pipeline.run_stage = orig
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def op_spans(self, op: str) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def group_metrics(self) -> dict[str, GroupMetrics]:
        """Status-store metrics of every job group, summed over its jobs'
        stages (each stage attempt counted once, skipped stages have none)."""
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        stage_group: dict[int, str] = {}
        out: dict[str, GroupMetrics] = {}
        for i in range(jobs.length()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined():
                continue
            gm = out.setdefault(g.get(), GroupMetrics())
            ids = j.stageIds()
            for k in range(ids.length()):
                stage_group.setdefault(int(ids.apply(k)), g.get())
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined() and comp.isDefined():
                dur = (comp.get().getTime() - sub.get().getTime()) / 1000.0
                # pyspark names a job after its Python call site
                if j.name().startswith("collect at") and "checkpoint.py" in j.name():
                    gm.rescan_s += dur
        gw = self.sc._gateway
        stages = store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None
        )
        for i in range(stages.length()):
            st = stages.apply(i)
            gm = out.get(stage_group.get(int(st.stageId()), ""))
            if gm is None:
                continue
            gm.cpu_s += st.executorCpuTime() / 1e9
            gm.run_s += st.executorRunTime() / 1e3
            gm.shuffle_mb += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
            gm.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
            gm.failed_tasks += int(st.numFailedTasks())
        return out


def manifest_stats(run_dir: str, stage: str) -> tuple[int, float]:
    """(rows, skew) of a completed stage; skew = max partition rows / mean."""
    rec = Manifest(run_dir).load(stage) or {}
    parts = [p["rows"] for p in rec.get("partitions") or []]
    rows = int(rec.get("rows") or 0)
    skew = max(parts) / (rows / len(parts)) if parts and rows else 0.0
    return rows, skew


def dir_mb(path: str) -> float:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total / 2**20


def fit_line(n1: float, t1: float, n2: float, t2: float) -> tuple[float, float]:
    """t = a + b*n through two points -> (a, b)."""
    b = (t2 - t1) / (n2 - n1)
    return t1 - b * n1, b
