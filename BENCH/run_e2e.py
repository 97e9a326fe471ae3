"""E2E front-door bench record (round-5 verdict item 7): exercise
build_kg_from_warc at sf0.1 page scale with per-stage checkpoint
counters, then reproduce the mid-run-kill resume semantics and record
both in BENCH/e2e_report.json.

What it proves, in one artifact:
  - the Common-Crawl-style ingestion path (WARC files -> warc_pages ->
    build_kg) runs at bench scale with the stage manifest recording
    per-stage rows / partitions / elapsed (the resumability north
    rule, BASELINE.md);
  - deleting the manifests of every stage after `concepts` (= a crash
    mid-run: later stages never published) and re-running the SAME
    input resumes the completed prefix from parquet and
    recomputes only the tail — resumed stages keep their original
    manifest timestamps;
  - the fused curate() verdict over the sf0.1 documents table.

Run on an otherwise-idle box: timings are absolute wall-clock.
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("KGSPARK_E2E_PAGES", "5000"))
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "e2e_report.json")


def main():
    from kgspark.session import get_spark

    spark = get_spark("e2e-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    from kgspark.checkpoint import Manifest, run_report
    from kgspark.curate import curate
    from kgspark.io_tables import read_testdata
    from kgspark.pipeline import build_kg_from_warc
    from kgspark.synth import pages_df
    from kgspark.warc import write_warc

    work = tempfile.mkdtemp(prefix="kg_e2e_")
    warc_dir = os.path.join(work, "warc")
    run_dir = os.path.join(work, "run")
    report = {"n_pages": N_PAGES, "cpus": CPUS, "sf_dir": SF_DIR}

    t0 = time.time()
    pages = pages_df(spark, N_PAGES, 42)
    write_warc(pages, warc_dir, records_per_file=500)
    report["warc_write_sec"] = round(time.time() - t0, 3)

    t0 = time.time()
    build_kg_from_warc(spark, warc_dir, run_dir)
    report["t_cold_sec"] = round(time.time() - t0, 3)
    stages = [r.asDict() for r in run_report(spark, run_dir).collect()]
    report["stages_cold"] = stages

    # -- mid-run-kill simulation: stages after `concepts` never published
    m = Manifest(run_dir)
    prefix = {"documents", "concepts"}
    killed = []
    kept_stamps = {}
    for st in stages:
        name = st["stage"]
        if name in prefix:
            kept_stamps[name] = os.path.getmtime(
                os.path.join(m.mdir, f"{name}.json")
            )
            continue
        killed.append(name)
        p = os.path.join(m.mdir, f"{name}.json")
        if os.path.exists(p):
            os.remove(p)
        outp = os.path.join(run_dir, f"{name}.parquet")
        if os.path.isdir(outp):
            shutil.rmtree(outp)
    t0 = time.time()
    build_kg_from_warc(spark, warc_dir, run_dir)
    report["t_resume_sec"] = round(time.time() - t0, 3)
    report["killed_stages"] = killed
    resumed_ok = all(
        os.path.getmtime(os.path.join(m.mdir, f"{name}.json")) == stamp
        for name, stamp in kept_stamps.items()
    )
    report["resumed_prefix_untouched"] = bool(resumed_ok)
    report["stages_after_resume"] = [
        r.asDict() for r in run_report(spark, run_dir).collect()
    ]

    # -- fused curate() over the sf0.1 documents table
    docs = read_testdata(spark, SF_DIR, "documents")
    t0 = time.time()
    verdicts = curate(docs).groupBy("keep").count().collect()
    report["curate_sec"] = round(time.time() - t0, 3)
    report["curate_keep_counts"] = {
        str(r["keep"]): r["count"] for r in verdicts
    }

    shutil.rmtree(work, ignore_errors=True)
    with open(OUT, "w") as f:
        json.dump(report, f, indent=2, default=str)
    print(json.dumps({k: v for k, v in report.items()
                      if k not in ("stages_cold", "stages_after_resume")},
                     default=str))
    spark.stop()


if __name__ == "__main__":
    main()
