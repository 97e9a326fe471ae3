"""Checkpoint read-back: the footer schema, the jobs a resume runs, the
Janino compiles a warm rebuild pays, and lost part files."""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import functions as F

import kgspark.pipeline as pipeline
from kgspark.checkpoint import Manifest, run_stage
from kgspark.pipeline import build_kg
from kgspark.synth import pages_df

STAGES = {"documents", "concepts", "triples_concepts", "entities",
          "chunk_embeddings", "topics", "triples", "nodes"}


@contextlib.contextmanager
def job_group(sc, name):
    """Jobs started inside the block; yields the list, filled on exit."""
    jobs = []
    sc.setJobGroup(name, name)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(name))


def compiles(spark):
    """Janino compiles so far in this JVM (one timer update per compile)."""
    jvm = spark.sparkContext._jvm
    cm = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def build_schemas(spark, monkeypatch, pages, run_dir):
    """build_kg with topics; -> {stage: schema of the DataFrame run_stage
    returned}."""
    seen = {}

    def recording(spark_, manifest, stage, fingerprint, build):
        df = run_stage(spark_, manifest, stage, fingerprint, build)
        seen[stage] = df.schema
        return df

    with monkeypatch.context() as m:
        m.setattr(pipeline, "run_stage", recording)
        build_kg(spark, pages, run_dir, k_topics=4)
    return seen


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One cold build of 60 synth pages with topics; the tests build the
    same pages again."""
    pages = pages_df(spark, 60, seed=3)
    run_dir = str(tmp_path_factory.mktemp("ckpt") / "run")
    mp = pytest.MonkeyPatch()
    try:
        fresh = build_schemas(spark, mp, pages, run_dir)
    finally:
        mp.undo()
    return pages, run_dir, fresh


def inferred(spark, run_dir, stage):
    return spark.read.parquet(os.path.join(run_dir, f"{stage}.parquet")).schema


def test_fresh_read_back_uses_footer_schema(spark, built):
    _, run_dir, fresh = built
    assert set(fresh) == STAGES
    for stage, schema in fresh.items():
        assert schema == inferred(spark, run_dir, stage), stage


def test_resume_reads_footer_schema_and_runs_only_fingerprint_jobs(
        spark, built, monkeypatch):
    """A resume over a complete run_dir reads every stage back with the
    inferred schema and runs no job beyond the fingerprint aggregate."""
    pages, run_dir, _ = built
    sc = spark.sparkContext
    with job_group(sc, "test-resume") as resume_jobs:
        resumed = build_schemas(spark, monkeypatch, pages, run_dir)
    with job_group(sc, "test-fingerprint") as fp_jobs:
        pages.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*pages.columns).cast("decimal(38,0)")),
        ).first()
    assert set(resumed) == STAGES
    for stage, schema in resumed.items():
        assert schema == inferred(spark, run_dir, stage), stage
    assert 0 < len(resume_jobs) == len(fp_jobs), (resume_jobs, fp_jobs)


def test_warm_rebuild_compiles_almost_nothing(spark, built, tmp_path):
    """A second build of the same pages into a fresh run_dir finds its
    generated classes in Spark's codegen cache."""
    pages, _, _ = built
    c0 = compiles(spark)
    build_kg(spark, pages, str(tmp_path / "run"), k_topics=4)
    assert compiles(spark) - c0 <= 5


def test_empty_stage_reads_back_its_schema(spark, tmp_path):
    """An empty stage output still has one part file with a footer; fresh
    and resumed read-backs keep nested, decimal and timestamp types."""
    m = Manifest(str(tmp_path))

    def build():
        return spark.range(0).selectExpr(
            "id", "cast(id as decimal(38,0)) AS d", "current_timestamp() AS ts",
            "array(cast(id as float)) AS v", "map('k', id) AS m",
            "named_struct('a', cast(id as string), 'b', array(id)) AS s",
        )

    fresh = run_stage(spark, m, "empty", "fp", build)
    resumed = run_stage(spark, m, "empty", "fp", lambda: pytest.fail("re-ran"))
    want = inferred(spark, str(tmp_path), "empty")
    assert fresh.schema == resumed.schema == want
    assert m.load("empty")["rows"] == 0 and resumed.count() == 0


def test_lost_part_file_reruns_stage(spark, tmp_path):
    """A stage whose manifest lists a file that is gone re-runs instead of
    reading back the files that are left."""
    run_dir = str(tmp_path / "run")
    pages = pages_df(spark, 200, seed=3).repartition(4)
    build_kg(spark, pages, run_dir, with_topics=False)
    entry = Manifest(run_dir).load("concepts")
    assert len(entry["partitions"]) > 1
    os.remove(os.path.join(run_dir, "concepts.parquet",
                           entry["partitions"][0]["file"]))

    out = build_kg(spark, pages, run_dir, with_topics=False)
    assert out["concepts"].count() == entry["rows"]
    assert Manifest(run_dir).load("concepts")["rows"] == entry["rows"]
