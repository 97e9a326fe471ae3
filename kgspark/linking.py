"""Dictionary + alias-table entity linking with candidate scoring.

The reference's entity surface forms are whatever the LLM / spaCy NER emits
(ref /root/reference/knowledge_graph_builder.py:104-196); linking them to
canonical entities is implicit (string identity). The north star upgrades this
to explicit dictionary+alias linking: a small alias table
(surface_lower -> canonical, score) resolved in plain Python to one
candidate per surface (the highest score wins; deterministic tie-break on
canonical name). Scalar mention columns BROADCAST-join against it
(`link_column`); array mention columns resolve inside the JVM through a
literal map (`link_array`), with no Python worker and no join.

Scale note: the alias table is dimension-sized (« executors' memory) so the
join never shuffles the fact side — `F.broadcast` pins the build side — and
it is a local relation (LocalTableScan), so broadcasting or collecting it
runs no Spark job.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _rank(canonical, score) -> tuple:
    # score desc NULLS LAST, then canonical asc NULLS FIRST
    return (score is None, -(score or 0.0), canonical is not None, canonical or "")


def alias_table(spark: SparkSession, rows=None) -> DataFrame:
    """alias(surface string, canonical string, score double), best-candidate
    resolved: one row per surface (max score, then lexicographic canonical)."""
    if rows is None:
        from kgspark.synth import alias_rows

        rows = alias_rows()
    best: dict = {}
    for surface, canonical, score in rows:
        cur = best.get(surface)
        if cur is None or _rank(canonical, score) < _rank(*cur):
            best[surface] = (canonical, score)
    return spark.createDataFrame(pa.table(
        [list(best), [c for c, _ in best.values()], [s for _, s in best.values()]],
        schema=pa.schema([("surface", pa.string()), ("canonical", pa.string()),
                          ("score", pa.float64())]),
    ))


def link_array(col: str, aliases: DataFrame) -> Column:
    """array<string> mention column -> its canonical entities, first
    occurrence kept: `array_distinct(transform(col, v -> coalesce(
    m[lower(v)], v)))` over a literal map of the resolved aliases. `m[k]`
    is NULL for a missing key (unknown surfaces pass through) and for a NULL
    element; a NULL array stays NULL. `aliases` is an `alias_table`: one row
    per surface, as `create_map` needs unique keys."""
    pairs = [(r["surface"], r["canonical"]) for r in aliases.collect()
             if r["surface"] is not None]
    m = F.create_map(*[F.lit(x) for kv in pairs for x in kv]).cast(
        "map<string,string>"
    )
    return F.array_distinct(
        F.transform(F.col(col), lambda v: F.coalesce(m[F.lower(v)], v))
    )


def link_column(df: DataFrame, aliases: DataFrame, col: str) -> DataFrame:
    """Replace surface forms in `col` with their canonical entity when the
    (broadcast) alias dictionary knows them; unknown surfaces pass through."""
    a = aliases.select(
        F.col("surface").alias(f"__s_{col}"), F.col("canonical").alias(f"__c_{col}")
    )
    return (
        df.join(
            F.broadcast(a), F.lower(F.col(col)) == F.col(f"__s_{col}"), "left"
        )
        .withColumn(col, F.coalesce(F.col(f"__c_{col}"), F.col(col)))
        .drop(f"__s_{col}", f"__c_{col}")
    )
