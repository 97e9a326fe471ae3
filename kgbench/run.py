#!/usr/bin/env python3
"""End-to-end benchmark of kgspark's knowledge-graph build.

    python3 kgbench/run.py --workload warc_full --seed 1 --seconds 10 --trace 0

Run from the root of a kgspark checkout. Every op is one public call,
`kgspark.pipeline.build_kg_from_warc` or `kgspark.pipeline.build_kg`, with
the library's default arguments; its output is checked against the
generator's golden triples and against the first op's digest. With
`--trace 0` the last stdout line is a JSON object with the end-to-end
metrics; with `--trace 1` it carries the per-layer metrics of a separately
traced op (see kgbench/README.md). Human-readable lines before it start
with '#'. Scratch files go under `.kgbench_work/` in the checkout and are
removed on exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import dataclasses
from dataclasses import dataclass

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


@dataclass(frozen=True)
class Workload:
    pages: int
    source: str  # "warc" or "table"
    with_topics: bool
    timed_ops: int


# Every run does the same sequence: one untimed cold build (counted in
# setup_s), then the workload's timed warm ones, so each timed op sits at the
# same point of JVM warm-up. Sizes and op counts fit the benchmark's run
# budget on a 4-CPU box (kgbench/README.md).
WORKLOADS = {
    # headline front door: WARC files -> every layer, topics on
    "warc_full": Workload(250, "warc", True, 2),
    # parquet pages, topics off: extraction layers do almost all the work
    "table_concepts": Workload(500, "table", False, 1),
}
WARMUP_OPS = 1
RECORDS_PER_WARC = 500
CORE_PREDS = {"is_a", "has", "related_to", "has_instance", "belongs_to"}
MIN_PRECISION = MIN_RECALL = 0.95
K_TOPICS, SIM_THRESHOLD = 8, 0.3  # build_kg's defaults
MIN_COVERAGE = 0.9  # of the traced op's wall, by stage spans + fingerprint


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def median_split(xs: list[float]) -> tuple[float, float]:
    h = max(1, len(xs) // 2)
    return statistics.median(xs[:h]), statistics.median(xs[h:] or xs[:h])


def tail(xs: list[float]) -> float:
    """Value at the highest percentile with >= 10 samples beyond it; the
    max when there are fewer than 11 samples."""
    s = sorted(xs)
    return s[-11] if len(s) > 10 else s[-1]


@dataclass
class Op:
    t0: float  # perf_counter at the call
    wall: float
    cpu: float  # process-tree CPU seconds (0 without a sampler)


@dataclass
class Inputs:
    n: int
    pages_path: str
    warc_dir: str
    golden: set
    digest: tuple | None = None  # reference digest of the `triples` output


class Bench:
    def __init__(self, name: str, seed: int, work: str, pages: int | None = None):
        self.name, self.seed, self.work = name, seed, work
        self.wl = WORKLOADS[name]
        if pages:
            self.wl = dataclasses.replace(self.wl, pages=pages)
        self.nproc = len(os.sched_getaffinity(0))
        self.attempted = self.failed = 0
        self.spark = None
        self.session_s = 0.0

    # -- setup -------------------------------------------------------------

    def start_session(self) -> None:
        from kgspark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "kgbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        conf = self.spark.sparkContext.getConf()
        log(f"master={conf.get('spark.master')} "
            f"shuffle_partitions={self.spark.conf.get('spark.sql.shuffle.partitions')} "
            f"nproc={self.nproc} session_start_s={self.session_s:.3f}")

    def make_inputs(self, n: int, tag: str) -> Inputs:
        from kgspark.synth import generate_pages, golden_triples, write_pages_parquet
        from kgspark.warc import write_warc

        d = os.path.join(self.work, f"in_{tag}")
        os.makedirs(d)
        pages_path = os.path.join(d, "pages.parquet")
        write_pages_parquet(pages_path, n, self.seed)
        _, golden = generate_pages(n, self.seed)
        warc_dir = os.path.join(d, "warc")
        if self.wl.source == "warc":
            write_warc(self.spark.read.parquet(pages_path), warc_dir,
                       records_per_file=RECORDS_PER_WARC)
        return Inputs(n, pages_path, warc_dir, golden_triples(golden))

    # -- one op ------------------------------------------------------------

    def build(self, inp: Inputs, run_dir: str) -> dict:
        from kgspark.pipeline import build_kg, build_kg_from_warc

        if self.wl.source == "warc":
            return build_kg_from_warc(self.spark, inp.warc_dir, run_dir,
                                      with_topics=self.wl.with_topics)
        return build_kg(self.spark, self.spark.read.parquet(inp.pages_path),
                        run_dir, with_topics=self.wl.with_topics)

    def prepare(self, run_dir: str) -> None:
        """Untimed: reset the run dir and let the JVM drop the blocks that
        earlier ops' materialize()/localCheckpoint() left behind."""
        shutil.rmtree(run_dir, ignore_errors=True)
        gc.collect()
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def check(self, out: dict, inp: Inputs, run_dir: str) -> bool:
        """Golden P/R of the concept triples, the topic part of the graph,
        and an order-independent digest of the whole `triples` output equal
        to the reference (first) op's on the same input."""
        from pyspark.sql import functions as F

        got = {
            (r[0], r[1], r[2])
            for r in out["triples_concepts"].select("subj", "pred", "obj")
            .distinct().collect()
            if r[1] in CORE_PREDS
        }
        tp = len(got & inp.golden)
        precision = tp / len(got) if got else 0.0
        recall = tp / len(inp.golden) if inp.golden else 0.0
        t = out["triples"]
        # ANSI mode: a plain sum of xxhash64 overflows bigint
        row = t.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*t.columns).cast("decimal(38,0)")),
        ).first()
        digest = (int(row[0]), str(row[1]))
        if inp.digest is None:
            inp.digest = digest
        topics_err = self.check_topics(out, run_dir) if self.wl.with_topics else ""
        ok = (precision >= MIN_PRECISION and recall >= MIN_RECALL
              and digest == inp.digest and not topics_err)
        if not ok:
            log(f"CHECK FAILED p={precision:.4f} r={recall:.4f} "
                f"digest={digest} want={inp.digest} topics={topics_err or 'ok'}")
        return ok

    def check_topics(self, out: dict, run_dir: str) -> str:
        """The topic part of the graph; -> "" or what is wrong with it."""
        from pyspark.sql import functions as F

        topics = {r[0] for r in out["topics"].select("topic_name").collect()}
        docs = out["documents"].select(F.col("filename").alias("subj"))
        edges = (out["triples"].where(F.col("pred") == "belongs_to")
                 .join(docs, "subj").select("obj", "weight").collect())
        emb = self.spark.read.parquet(os.path.join(run_dir, "chunk_embeddings.parquet"))
        n_emb = emb.where(F.size("embedding") > 0).count()
        n_chunks = out["chunks"].count()
        if not 0 < len(topics) <= K_TOPICS:
            return f"{len(topics)} topics"
        if n_emb != n_chunks:
            return f"{n_emb} embedded of {n_chunks} chunks"
        if not edges:
            return "no doc->topic edges"
        if not all(o in topics and SIM_THRESHOLD < w <= 1.0 + 1e-9
                   for o, w in edges):
            return "doc->topic edge to an unknown topic or below the threshold"
        return ""

    def op(self, inp: Inputs, run_dir: str, sampler=None, reset: bool = True) -> Op:
        """One checked op; a raised exception or a failed check is a failure.
        `reset=False` keeps the run dir as the last op left it."""
        if reset:
            self.prepare(run_dir)
        self.attempted += 1
        out = None
        if sampler:
            sampler.arm(True)
            c0 = sampler.cpu_s()
        t0 = time.perf_counter()
        try:
            out = self.build(inp, run_dir)
        except Exception:
            traceback.print_exc()
        wall = time.perf_counter() - t0
        cpu = 0.0
        if sampler:
            cpu = sampler.cpu_s() - c0
            sampler.arm(False)
        try:
            ok = out is not None and self.check(out, inp, run_dir)
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
        return Op(t0, wall, cpu)

    def warm(self, inp: Inputs, run_dir: str, n_ops: int) -> None:
        for _ in range(n_ops):
            self.op(inp, run_dir)

    # -- runs --------------------------------------------------------------

    def run_timed(self, seconds: float) -> dict:
        from proctree import TreeSampler, host_steal_s

        t_setup = time.perf_counter()
        self.start_session()
        inp = self.make_inputs(self.wl.pages, "n")
        t_inputs = time.perf_counter()
        run_dir = os.path.join(self.work, "run")
        self.warm(inp, run_dir, WARMUP_OPS)
        setup_s = time.perf_counter() - t_setup
        log(f"setup: session {self.session_s:.3f} s, inputs "
            f"{t_inputs - t_setup - self.session_s:.3f} s, warm-up ops "
            f"{time.perf_counter() - t_inputs:.3f} s")

        walls, cpus = [], []
        steal0 = host_steal_s()
        with TreeSampler() as sampler:
            while len(walls) < self.wl.timed_ops or sum(walls) < seconds:
                op = self.op(inp, run_dir, sampler)
                walls.append(op.wall)
                cpus.append(op.cpu)
            peak = sampler.peak_rss_mb
            log("peak rss by command: " + ", ".join(
                f"{c}={mb:.0f}MB" for c, mb in sorted(sampler.peak_by_comm.items())))
        steal = (host_steal_s() - steal0) / (self.nproc * sum(walls))
        h1, h2 = median_split(walls)
        log(f"workload={self.name} pages={self.wl.pages} seed={self.seed} "
            f"warmup_ops={WARMUP_OPS} timed_ops={len(walls)}")
        log("op_s=" + ",".join(f"{w:.3f}" for w in walls))
        log(f"host steal during the timed ops: {steal:.1%} of {self.nproc} CPUs")
        log(f"drift: first-half median {h1:.3f} s, second-half median {h2:.3f} s")
        log(f"failed_op_ratio={self.failed}/{self.attempted}="
            f"{self.failed / self.attempted:.4f}")
        return {
            "pages_per_s": (self.wl.pages / statistics.median(walls), "pages/s"),
            "op_s_tail": (tail(walls), "s"),
            "cpu_s_per_kpage": (1000 * statistics.median(cpus) / self.wl.pages, "s"),
            "peak_rss_mb": (peak, "MB"),
            "setup_s": (setup_s, "s"),
        }

    def run_traced(self) -> dict:
        from layers import traced_metrics

        self.start_session()
        inp = self.make_inputs(self.wl.pages, "n")
        inq = self.make_inputs(self.wl.pages // 4, "q")
        run_dir = os.path.join(self.work, "run")
        self.warm(inq, run_dir, WARMUP_OPS)
        metrics, coverage, spans = traced_metrics(self, inp, inq, run_dir)
        t0 = min(s.start for s in spans)
        for s in spans:
            log(f"span op={s.op} stage={s.name} start_s={s.start - t0:.3f} s={s.s:.3f}")
        log(f"stage spans + fingerprint cover {coverage:.1%} of the traced op")
        if coverage < MIN_COVERAGE:
            log(f"CHECK FAILED coverage {coverage:.1%} < {MIN_COVERAGE:.0%}")
            self.failed += 1
        return metrics

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:  # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def reap_children() -> None:
    """Stop any process this run started that is still alive."""
    from proctree import tree_pids

    me = os.getpid()
    left = [p for p in tree_pids(me) if p != me]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 30
    while left and time.time() < deadline:
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="override the workload's page count (smoke tests)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kgspark", "pipeline.py")):
        print("kgbench: run from the root of a kgspark checkout "
              "(kgspark/pipeline.py not found)", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import kgspark from the checkout; every scratch file
    # the JVM or pyspark writes stays inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # also reaches the launcher JVM that spark-submit runs first
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path.insert(0, ROOT)

    bench = Bench(args.workload, args.seed, work, args.pages)
    try:
        if args.trace:
            metrics = bench.run_traced()
        else:
            metrics = bench.run_timed(args.seconds)
    finally:
        try:
            bench.stop()
        finally:
            reap_children()
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    for k, (v, unit) in metrics.items():
        log(f"{k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
