"""SparkSession factory tuned for the KG pipeline.

Scale posture (100 TB / 1000-executor design, tested on local[N]):
  - AQE on: runtime coalesce, skew-join splitting, join-strategy re-plan.
  - Arrow on: every Python crossing is a vectorized pandas UDF batch.
  - shuffle partitions sized by env so local runs don't create 200 tiny tasks
    while cluster runs can raise it to 2-4x the core count.
  - generated-code cache sized to hold whole builds: `build_kg` needs about
    200 generated classes with topics (187-194 Janino compiles on a cold
    250-page WARC build) and about 90 without (500 pages). Spark's default
    cache of 100 entries evicts a topics build's classes before it ends, so
    in a long-lived session every warm build would recompile them all (186
    compiles per warm 250-page build); with room for 2000 a warm build
    compiles 2.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "kgspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    master = master or os.environ.get("KGSPARK_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("KGSPARK_SHUFFLE_PARTITIONS", "32"))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Vectorized Arrow transfer for every pandas UDF (input_hint mandate).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 1000 rows/batch: web-page texts are ~10 KB, so this bounds Arrow
        # batches near 10 MB — measured 16-20% faster than 10k-row batches on
        # the 32-thread extraction leg (JVM<->Python pipelining + lower peak
        # worker memory), neutral on the small-text UDFs.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        # AQE: runtime partition coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Room for ~10 builds' generated classes (208 per warm topics build);
        # the default 100 evicts a build's own classes before it ends.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Keep broadcast threshold generous: alias tables / topic tables are small.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic session timezone for timestamp round-trips.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("KGSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # No \r-progress-bar noise on stderr/stdout: the driver's bench-tail
        # capture must see the single JSON line, not 180 queries of bars.
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ckpt = os.environ.get("KGSPARK_CHECKPOINT_DIR")
    if ckpt:
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark


def materialize(df: DataFrame) -> DataFrame:
    """Materialize a multi-referenced subplan and truncate its lineage.

    Default: `localCheckpoint(eager=True)` — blocks live on executors, fast,
    but a lost executor kills the job. When a checkpoint dir is configured
    (`SparkContext.setCheckpointDir`, or `KGSPARK_CHECKPOINT_DIR` through
    `get_spark`), switches to reliable `checkpoint()` — blocks on the shared
    filesystem survive executor loss, the right default on a real cluster.
    Hot operators (dedup/canon/topics/streaming) call this instead of
    hardcoding localCheckpoint."""
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def plan_features(df: DataFrame) -> dict:
    """Count the scale-relevant features of a DataFrame's physical plan —
    the quick 'is this the plan I want?' probe behind the repo's
    plan-shape gates (tests/test_plans.py), exposed for users tuning
    their own queries before pointing them at 100 TB.

    Returns a dict of counters over the executed-plan string:
      exchanges            shuffles (each is a full network pass)
      broadcast_joins      BroadcastHashJoin (small side shipped)
      sortmerge_joins      SortMergeJoin (both sides shuffled+sorted)
      nested_loop_joins    BroadcastNestedLoopJoin (fine vs 1-row
                           scalars, a red flag vs anything larger)
      cartesian            CartesianProduct (almost always a bug)
      python_evals         Batch/ArrowEvalPython (rows crossing into
                           Python workers — keep out of hot paths)
      codegen_spans        WholeStageCodegen regions (bigger spans =
                           more of the plan fused into JVM loops);
                           under AQE this is 0 until the plan has
                           actually executed — run the query first if
                           you want codegen visibility
      pushed_filter_scans  scans that report pushed-down filters

    Driver-side string inspection only — it triggers planning, not
    execution.
    """
    p = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": p.count("Exchange"),
        "broadcast_joins": p.count("BroadcastHashJoin"),
        "sortmerge_joins": p.count("SortMergeJoin"),
        "nested_loop_joins": p.count("BroadcastNestedLoopJoin"),
        "cartesian": p.count("CartesianProduct"),
        "python_evals": p.count("BatchEvalPython")
        + p.count("ArrowEvalPython"),
        "codegen_spans": p.count("*("),
        "pushed_filter_scans": p.count("PushedFilters: ["),
    }
