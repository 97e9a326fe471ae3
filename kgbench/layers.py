"""The traced run: per-layer metrics of one KG build (`--trace 1`).

Order, after the session and inputs (the workload's page count `n` and a
quarter of it, `q`) and one untimed warm-up op at `q`:
  1. untraced, traced and untraced again at `q`: the mean of the two
     untraced walls is the base of `trace.overhead_s`;
  2. one traced op at `n`, so each stage's spans at `q` and `n` fit
     `t = a + b*pages` (fixed vs marginal cost);
  3. a re-run over the complete run dir: every stage is read back, which
     times `checkpoint.readback_s`;
  4. forced calls (noop sink) into the functions that run inside a stage.
Every op is output-checked like a timed op.
"""

from __future__ import annotations

import os
import time

from stagetrace import STAGE_LAYER, StageTracer, dir_mb, fit_line, manifest_stats

STAGE_UNITS = {
    "s": "s", "cpu_s": "s", "py_wait_s": "s", "shuffle_mb": "MB",
    "spill_mb": "MB", "rows_out": "rows", "skew": "ratio",
    "failed_tasks": "count", "fixed_s": "s", "marginal_ms_per_kpage": "ms/kpage",
}


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _forced_calls(bench, inp, run_dir: str) -> dict:
    """Time the library functions that a stage span hides, on the traced
    op's own stage outputs."""
    from pyspark.sql import functions as F

    from kgspark.canon import canonical_map
    from kgspark.pipeline import doc_embeddings
    from kgspark.topics import cluster_chunks, tfidf_scores
    from kgspark.warc import warc_pages, warc_records

    spark = bench.spark
    spark.sparkContext.setJobGroup("forced", "forced")
    m = {k: 0.0 for k in ("warc.s", "warc.useful_ratio",
                          "pipeline.doc_embeddings_s", "topics.cluster_s",
                          "topics.tfidf_s")}
    if bench.wl.source == "warc":
        m["warc.s"] = _noop(warc_pages(spark, inp.warc_dir))
        m["warc.useful_ratio"] = (warc_pages(spark, inp.warc_dir).count()
                                  / warc_records(spark, inp.warc_dir).count())
    if bench.wl.with_topics:
        emb = spark.read.parquet(os.path.join(run_dir, "chunk_embeddings.parquet"))
        m["pipeline.doc_embeddings_s"] = _noop(doc_embeddings(emb))
        chunks = emb.withColumn("chunk_uid", F.concat_ws("#", "filename", "chunk_id"))
        t0 = time.perf_counter()
        clustered, _ = cluster_chunks(chunks, k=8)  # build_kg's k_topics
        clustered.write.format("noop").mode("overwrite").save()
        m["topics.cluster_s"] = time.perf_counter() - t0
        m["topics.tfidf_s"] = _noop(tfidf_scores(chunks))
    tc = spark.read.parquet(os.path.join(run_dir, "triples_concepts.parquet"))
    surfaces = (tc.select(F.col("subj").alias("name"))
                .union(tc.select(F.col("obj").alias("name"))).distinct())
    t0 = time.perf_counter()
    cmap = canonical_map(surfaces).cache()
    n_all = cmap.count()
    m["canon.map_s"] = time.perf_counter() - t0
    n_merged = cmap.where(F.col("name") != F.col("canonical")).count()
    cmap.unpersist()
    m["canon.merge_ratio"] = n_merged / n_all if n_all else 0.0
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return m


def traced_metrics(bench, inp, inq, run_dir: str) -> tuple[dict, float, list]:
    """-> ({metric: (value, unit)} for every per-layer metric, share of the
    traced op's wall covered by stage spans + fingerprint, all spans)."""
    tracer = StageTracer(bench.spark)
    untraced = [bench.op(inq, run_dir).wall]
    ops = {}
    for tag, src in (("q", inq), ("n", inp)):
        with tracer.installed(tag):
            ops[tag] = bench.op(src, f"{run_dir}_{tag}")
        if tag == "q":  # bracket the traced op: ops still speed up as the JIT warms
            untraced.append(bench.op(inq, run_dir).wall)
    rd_n = f"{run_dir}_n"
    with tracer.installed("rb"):  # every stage of rd_n is complete: read back
        bench.op(inp, rd_n, reset=False)

    groups = tracer.group_metrics()
    spans = {tag: {s.name: s for s in tracer.op_spans(tag)} for tag in ("n", "q", "rb")}
    m: dict[str, tuple[float, str]] = {}
    for stage, layer in STAGE_LAYER.items():
        sp_n, sp_q = spans["n"].get(stage), spans["q"].get(stage)
        g = groups.get(f"n:{stage}")
        rows, skew = manifest_stats(rd_n, stage)
        vals = dict.fromkeys(STAGE_UNITS, 0.0)
        if sp_n and g:
            vals.update(
                s=sp_n.s, cpu_s=g.cpu_s, py_wait_s=g.run_s - g.cpu_s,
                shuffle_mb=g.shuffle_mb, spill_mb=g.spill_mb, rows_out=rows,
                skew=skew, failed_tasks=g.failed_tasks,
            )
        if sp_n and sp_q:
            a, b = fit_line(inq.n, sp_q.s, inp.n, sp_n.s)
            vals.update(fixed_s=a, marginal_ms_per_kpage=b * 1e6)
        for k, unit in STAGE_UNITS.items():
            m[f"{layer}.{k}"] = (float(vals[k]), unit)

    n_spans = sorted(spans["n"].values(), key=lambda s: s.start)
    fingerprint_s = n_spans[0].start - ops["n"].t0 if n_spans else 0.0
    covered = fingerprint_s + sum(s.s for s in n_spans)

    forced = _forced_calls(bench, inp, rd_n)
    m.update({
        "pipeline.fingerprint_s": (fingerprint_s, "s"),
        "pipeline.unattributed_s": (ops["n"].wall - covered, "s"),
        "checkpoint.rescan_s": (
            sum(g.rescan_s for k, g in groups.items() if k.startswith("n:")), "s"),
        "checkpoint.write_mb": (sum(
            dir_mb(os.path.join(rd_n, f"{st}.parquet")) for st in spans["n"]), "MB"),
        "checkpoint.readback_s": (sum(s.s for s in spans["rb"].values()), "s"),
        "openie.concepts_per_doc": (
            manifest_stats(rd_n, "concepts")[0]
            / max(1, manifest_stats(rd_n, "documents")[0]), "ratio"),
        "session.start_s": (bench.session_s, "s"),
        "trace.overhead_s": (ops["q"].wall - sum(untraced) / 2, "s"),
    })
    units = {"warc.useful_ratio": "ratio", "canon.merge_ratio": "ratio"}
    for k, v in forced.items():
        m[k] = (v, units.get(k, "s"))
    return m, covered / ops["n"].wall, tracer.spans
