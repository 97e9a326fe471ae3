#!/usr/bin/env python
"""Benchmark runner — prints ONE JSON line.

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...},
   "query_compiles": {...per-query Janino compiles...}, "sf": <sf>,
   "throughput_docs_per_sec": <extraction throughput>, "cpus": N}

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] cores (default 32)
  KGSPARK_BENCH_REPL  corpus replication factor for the throughput leg
                      (default 10 -> sf0.1 gives ~200k docs)

Each query is materialized with the noop sink (full execution, no driver
collect cost). The throughput leg replicates the `part`-derived SVO corpus
REPL× and runs the extraction+edge-generation pipeline over it — the
CPU-bound leg used for the N-vs-4N scaling-efficiency evidence
(BENCH/BASELINE.md)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def throughput_leg(spark, sf_dir: str, repl: int) -> tuple[float, int]:
    """Extraction+edges over a replicated corpus; returns (sec, n_docs).

    Corpus generation is lazy and fully parallel: an even `range` partition
    layout broadcast-joined to the small parts table (a ~3 MB broadcast) —
    no driver-side materialization, no cache/disk bottleneck in the timed
    region (see BENCH/run_scaling.py for the rationale)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from kgspark.edges import concept_edges
    from kgspark.openie import extract_concepts_udf

    pages = E._parts_pages(spark, sf_dir)
    n_parts = pages.count()
    n_docs = n_parts * repl
    cpus = spark.sparkContext.defaultParallelism
    rng = spark.range(0, n_docs, 1, 8 * cpus)
    big = rng.join(
        F.broadcast(pages),
        (F.col("id") % n_parts + 1) == F.col("doc_key"),
    )

    concepts = big.select(
        "ts", "source", "confidence",
        F.explode(extract_concepts_udf(F.col("content"))).alias("c"),
    ).select(
        "ts", "source", "confidence",
        F.col("c.name").alias("name"),
        F.col("c.parents").alias("parents"),
        F.col("c.children").alias("children"),
        F.col("c.related").alias("related"),
    )
    triples = concept_edges(concepts)
    t0 = time.time()
    _materialize(triples)
    return time.time() - t0, n_docs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repl = int(os.environ.get("KGSPARK_BENCH_REPL", "10"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from kgspark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(
        "kgspark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(32, 2 * cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def _compiles() -> int:
        # one compilation-time update per Janino compile in this JVM
        return codegen.METRIC_COMPILATION_TIME().getCount()

    # warmup: JIT/codegen + parquet footer caches
    _materialize(qs["rel_pricing_summary"](spark, sf_dir))

    def _drop_blocks() -> None:
        # materialize()/localCheckpoint blocks persist for the session; 48
        # queries' worth squeezes executor storage memory and slows the tail
        # of the suite (kg_dbscan_topics measured 2x slower late-suite).
        # Freeing between queries keeps each timing independent.
        for _rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
            rdd.unpersist()

    times: dict[str, float] = {}
    compiles: dict[str, int] = {}
    # every registered query, in the registry's declaration order
    for name in qs:
        c0, t0 = _compiles(), time.time()
        _materialize(qs[name](spark, sf_dir))
        times[name] = round(time.time() - t0, 3)
        compiles[name] = _compiles() - c0
        _drop_blocks()

    c0 = _compiles()
    tp_sec, n_docs = throughput_leg(spark, sf_dir, repl)
    times["throughput_leg"] = round(tp_sec, 3)
    compiles["throughput_leg"] = _compiles() - c0

    # end-to-end pipeline (synth pages -> extract -> link -> canonicalize ->
    # entities/nodes, all through checkpoint-manifest writes)
    import tempfile

    from kgspark.pipeline import build_kg
    from kgspark.synth import pages_df

    pages = pages_df(spark, 1000, seed=42)
    c0, t0 = _compiles(), time.time()
    out = build_kg(spark, pages, tempfile.mkdtemp(), with_topics=False)
    n_triples = out["triples"].count()
    times["pipeline_e2e_1k_pages"] = round(time.time() - t0, 3)
    compiles["pipeline_e2e_1k_pages"] = _compiles() - c0

    total = round(sum(times.values()), 3)
    line = json.dumps(
        {
            "metric": "kgspark bench suite (KG construct + curation ops)",
            "value": total,
            "unit": "sec",
            "queries": times,
            "query_compiles": compiles,
            "sf": sf,
            "cpus": cpus,
            "throughput_docs_per_sec": round(n_docs / tp_sec, 1),
            "throughput_docs": n_docs,
            "pipeline_e2e_triples": n_triples,
        }
    )
    # stdout (single line, flushed) AND a durable copy: the r3 driver record
    # was lost to tail-capture overflow, so the JSON is also written to disk.
    print(line, flush=True)
    try:
        os.makedirs(os.path.join(os.path.dirname(__file__), "BENCH"), exist_ok=True)
        with open(
            os.path.join(os.path.dirname(__file__), "BENCH",
                         f"bench_latest_sf{sf:g}.json"), "w"
        ) as f:
            f.write(line + "\n")
    except OSError:
        pass
    spark.stop()


if __name__ == "__main__":
    main()
