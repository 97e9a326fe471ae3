"""Checkpoint manifest — resumable, idempotent stage execution.

The reference persists one artifact between runs (the joblib embedding cache,
ref /root/reference/knowledge_graph_builder.py:83-92) and otherwise recomputes
the world on every upload (ref app.py:100-102). At 10^12-doc scale a mid-run
failure must NOT restart the world, so every named stage writes:

  <run_dir>/<stage>.parquet         — the stage output, written in place
  <run_dir>/_manifest/<stage>.json  — {stage, fingerprint, rows,
                                       per-file footer row counts, status}

A stage is read back only when its entry is complete, carries the same
fingerprint and every file it lists still exists; a missing, stale or
unparsable entry, or a lost part file, re-runs it. The entry is dropped before
the write and published after it, so a crash re-runs the stage. The read-back
takes its schema from the Spark schema Spark writes into every part file's
footer, so it runs no schema-inference job.
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
import time
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# footer key under which Spark's parquet writer stores the row schema as JSON
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class Manifest:
    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.mdir = os.path.join(run_dir, "_manifest")
        os.makedirs(self.mdir, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.mdir, f"{stage}.json")

    def load(self, stage: str) -> dict | None:
        """The stage's manifest entry; None when it is missing or cannot be
        read or parsed (a torn write reads as "stage not complete")."""
        try:
            with open(self._path(stage), encoding="utf-8") as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def is_complete(self, stage: str, fingerprint: str) -> bool:
        """Complete, same fingerprint, and every file the entry lists exists
        (a lost part file would otherwise read back as a partial stage)."""
        m = self.load(stage) or {}
        files = [p["file"] for p in m.get("partitions") or []]
        return bool(
            m.get("status") == "complete"
            and m.get("fingerprint") == fingerprint
            and files
            and all(os.path.exists(os.path.join(m["output"], f)) for f in files)
        )

    def discard(self, stage: str) -> None:
        with contextlib.suppress(FileNotFoundError):
            os.remove(self._path(stage))

    def mark_complete(self, stage: str, fingerprint: str, output: str,
                      rows: int, partition_counts: list[dict],
                      elapsed_sec: float | None = None) -> None:
        rec = {
            "stage": stage,
            "status": "complete",
            "fingerprint": fingerprint,
            "output": output,
            "rows": rows,
            "partitions": partition_counts,
            "elapsed_sec": elapsed_sec,
            "rows_per_sec": (
                round(rows / elapsed_sec, 1) if elapsed_sec else None
            ),
        }
        fd, tmp = tempfile.mkstemp(dir=self.mdir, suffix=".tmp")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump(rec, f, indent=2)
        os.replace(tmp, self._path(stage))


def run_stage(
    spark: SparkSession,
    manifest: Manifest,
    stage: str,
    fingerprint: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Execute-or-resume one named stage.

    Complete entry with the same fingerprint -> read back the materialized
    output. Otherwise: drop the stage's manifest entry, build and write
    straight to `<stage>.parquet`, take the row count of every written file
    from its parquet footer, then publish the manifest entry LAST, so a
    crash anywhere before the publish re-runs the stage (idempotent
    overwrite). Either way the read-back uses the Spark schema in the first
    file's footer (Spark writes one file even for an empty DataFrame).
    """
    out_path = os.path.join(manifest.run_dir, f"{stage}.parquet")
    if manifest.is_complete(stage, fingerprint):
        first = manifest.load(stage)["partitions"][0]["file"]
        return _read_back(
            spark, out_path, pq.read_metadata(os.path.join(out_path, first))
        )

    t0 = time.time()
    manifest.discard(stage)
    build().write.mode("overwrite").parquet(out_path)
    footers = [
        (f, pq.read_metadata(os.path.join(out_path, f)))
        for f in sorted(os.listdir(out_path))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    partition_counts = [{"file": f, "rows": m.num_rows} for f, m in footers]
    manifest.mark_complete(
        stage, fingerprint, out_path,
        sum(p["rows"] for p in partition_counts), partition_counts,
        elapsed_sec=round(time.time() - t0, 3),
    )
    return _read_back(spark, out_path, footers[0][1])


def _read_back(spark: SparkSession, path: str,
               footer: pq.FileMetaData) -> DataFrame:
    """Read a stage's output with the schema from one of its file footers:
    no parquet schema-inference job."""
    schema = StructType.fromJson(json.loads(footer.metadata[SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(path)


def run_report(spark: SparkSession, run_dir: str) -> DataFrame:
    """Pipeline run report: one row per completed stage manifest —
    (stage, rows, n_partitions, max_partition_rows, skew_ratio_ppm,
    elapsed_sec, rows_per_sec). The operational view of a build_kg run:
    which stage ate the time, and whether any stage's output is
    partition-skewed (max partition vs fair share, in exact ppm — the
    number that says "salt this key" before the next run). Reads only
    the tiny _manifest JSONs — no data files are touched.
    """
    m = Manifest(run_dir)
    rows = []
    if os.path.isdir(m.mdir):
        for fn in sorted(os.listdir(m.mdir)):
            if not fn.endswith(".json"):
                continue
            rec = m.load(fn[:-5])
            if not rec or rec.get("status") != "complete":
                continue
            parts = rec.get("partitions") or []
            n_parts = len(parts)
            mx = max((p["rows"] for p in parts), default=0)
            total = rec.get("rows") or 0
            fair = total // n_parts if n_parts else 0
            skew = (mx * 1_000_000) // fair if fair else 0
            rows.append((
                rec["stage"], int(total), int(n_parts), int(mx),
                int(skew), float(rec.get("elapsed_sec") or 0.0),
                float(rec.get("rows_per_sec") or 0.0),
            ))
    return spark.createDataFrame(
        rows,
        "stage string, rows long, n_partitions long, "
        "max_partition_rows long, skew_ratio_ppm long, "
        "elapsed_sec double, rows_per_sec double",
    )
