"""End-to-end KG construction pipeline (the reference's build_graph, ref
/root/reference/knowledge_graph_builder.py:458-584, as a staged Spark DAG).

    pages(url, warc_ts, html, text, lang)
      -> documents          html->text extraction + lineage   (S7-S9, P1, P12)
      -> concepts           rule-based extraction + linking   (E2, J6)
      -> triples_concepts   concept edges, near-dup surfaces  (E5)
                            merged onto canonical representatives
      -> entities           canonical entity table
      -> chunk_embeddings   sentence chunking + embedding     (E1, J4)
      -> topics             clustering + tfidf + naming       (A1-A7, E4)
      -> triples            concept edges + doc->topic edges  (E5, J1)
      -> nodes              last-write-wins node table        (E6)

The `chunks` output is chunk_embeddings without its `embedding` column; doc
embeddings (mean of chunk embeddings) feed the doc->topic edges.

Each stage materializes through the checkpoint manifest (kgspark.checkpoint)
so a killed run resumes from the last complete stage.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgspark.canon import merge_map
from kgspark.chunk import chunk_documents
from kgspark.checkpoint import Manifest, run_stage
from kgspark.edges import concept_edges, doc_topic_edges
from kgspark.embed import embed_udf
from kgspark.html import extract_text_udf
from kgspark.linking import alias_table, link_array, link_column
from kgspark.openie import extract_concepts_udf
from kgspark.topics import build_topics

DEFAULT_CONFIDENCE = 0.8  # ref knowledge_graph_builder.py:476
# mixed into the stage fingerprint: bump it when a stage's output changes
# for the same inputs, so an old run_dir's stages re-run, not read back
PIPELINE_VERSION = 2


def pages_to_documents(pages: DataFrame) -> DataFrame:
    """Extraction + lineage projection. The per-url invariant lives here:
    content must be byte-identical to the reference cleaners over the page.

    Lineage fallbacks mirror ref :474-476 — coalesce(metadata.ts, ts, now),
    source=filename(url), confidence default 0.8.
    """
    return pages.select(
        F.col("url").alias("filename"),
        extract_text_udf(F.col("html")).alias("content"),
        F.coalesce(F.col("warc_ts"), F.current_timestamp()).alias("ts"),
        F.col("url").alias("source"),
        F.lit(DEFAULT_CONFIDENCE).alias("confidence"),
        "lang",
    )


def documents_to_concepts(docs: DataFrame, aliases: DataFrame) -> DataFrame:
    """Extract concept structs per document, explode, and canonicalize the
    mention columns via the alias dictionary: `name` by broadcast join, the
    array columns through a literal map inside the JVM."""
    c = docs.select(
        "filename", "ts", "source", "confidence",
        F.explode(extract_concepts_udf(F.col("content"))).alias("c"),
    ).select(
        "filename", "ts", "source", "confidence",
        F.col("c.name").alias("name"),
        F.col("c.type").alias("concept_type"),
        F.col("c.parents").alias("parents"),
        F.col("c.children").alias("children"),
        F.col("c.related").alias("related"),
        F.col("c.properties").alias("properties"),
        F.col("c.actions").alias("actions"),
    )
    c = link_column(c, aliases, "name")
    for col in ("parents", "children", "related"):
        c = c.withColumn(col, link_array(col, aliases))
    # Deterministic importance over the linked, deduped arrays (surface
    # variants of one canonical entity count once, so it is computed here,
    # not in openie).
    n_rel = F.size("parents") + F.size("children") + F.size("related")
    c = c.withColumn(
        "importance", F.round(F.lit(0.5) + 0.1 * F.least(n_rel, F.lit(5)), 1)
    )
    return c


def doc_embeddings(chunks_emb: DataFrame) -> DataFrame:
    """Mean-of-chunk-embeddings per document.

    Deviation (documented, SURVEY.md §7.4.1): the reference indexes the
    CHUNK-level matrix by document index (ref :566 vs :253) — a latent bug.
    We use the true per-document mean embedding.
    """
    keys = ("filename", "ts", "source", "confidence")
    per_doc = chunks_emb.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("chunk_id", "embedding"))).alias("ce")
    )
    # sum the vectors in chunk_id order: the mean does not follow the shuffle
    total = F.aggregate(
        "ce",
        F.array_repeat(F.lit(0.0), F.size(F.col("ce")[0]["embedding"])),
        lambda acc, c: F.zip_with(acc, c["embedding"], lambda a, b: a + b),
    )
    return per_doc.select(
        *keys,
        F.transform(total, lambda v: (v / F.size("ce")).cast("float")).alias("embedding"),
    )


def last_write_wins(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """nx add_node/add_edge overwrite semantics (ref :498, :525, §2.6/E6):
    keep the newest row per key; ties broken deterministically by source."""
    w = Window.partitionBy(*key_cols).orderBy(F.desc("ts"), F.asc("source"))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def build_kg(
    spark: SparkSession,
    pages: DataFrame,
    run_dir: str,
    k_topics: int | None = 8,
    similarity_threshold: float = 0.3,
    with_topics: bool = True,
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns the stage DataFrames.

    The stage fingerprint hashes PIPELINE_VERSION and the run parameters
    with the page count and an order-independent digest of the pages'
    content; stages with a matching complete manifest entry are read back,
    not recomputed.
    """
    manifest = Manifest(run_dir)
    n_pages, digest = pages.agg(
        F.count(F.lit(1)),
        # decimal: a bigint sum of xxhash64 overflows under ANSI mode
        F.sum(F.xxhash64(*pages.columns).cast("decimal(38,0)")),
    ).first()
    fingerprint = hashlib.md5(
        f"{PIPELINE_VERSION}|{n_pages}|{digest}|{k_topics}|"
        f"{similarity_threshold}|{with_topics}".encode()
    ).hexdigest()
    aliases = alias_table(spark)

    documents = run_stage(
        spark, manifest, "documents", fingerprint,
        lambda: pages_to_documents(pages),
    )
    concepts = run_stage(
        spark, manifest, "concepts", fingerprint,
        lambda: documents_to_concepts(documents, aliases),
    )

    # Concept edges with near-dup surfaces merged: MinHash-LSH blocking +
    # components over every surface the alias dictionary did NOT resolve
    # ("Acme Corp." / "acme corp" punctuation-case near-dups), a rewrite
    # onto canonical representatives, then last-write-wins. Mention columns
    # are already alias-linked concept-side.
    def build_triples_concepts() -> DataFrame:
        t = concept_edges(concepts)
        merges = merge_map(
            t.select(F.col("subj").alias("name"))
            .union(t.select(F.col("obj").alias("name")))
        )
        if merges is not None:
            # dimension-sized (only near-dup survivors) -> broadcast
            for col in ("subj", "obj"):
                m = merges.select(
                    F.col("name").alias(f"__n_{col}"),
                    F.col("canonical").alias(f"__c_{col}"),
                )
                t = t.join(
                    F.broadcast(m), F.col(col) == F.col(f"__n_{col}"), "left"
                ).withColumn(
                    col, F.coalesce(F.col(f"__c_{col}"), F.col(col))
                ).drop(f"__n_{col}", f"__c_{col}")
        return last_write_wins(t, ["subj", "pred", "obj"])

    triples_concepts = run_stage(
        spark, manifest, "triples_concepts", fingerprint, build_triples_concepts
    )

    # Entity table (north-star output): one row per canonical entity with
    # provenance + degree.
    def build_entities() -> DataFrame:
        subj = triples_concepts.select(F.col("subj").alias("entity"))
        obj = triples_concepts.select(F.col("obj").alias("entity"))
        degree = (
            subj.union(obj)
            .groupBy("entity")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        meta = concepts.groupBy(F.col("name").alias("entity")).agg(
            F.max("ts").alias("last_ts"),
            F.countDistinct("source").alias("n_sources"),
            F.max("importance").alias("importance"),
        )
        return degree.join(meta, "entity", "left")

    entities = run_stage(
        spark, manifest, "entities", fingerprint, build_entities
    )

    out: dict[str, DataFrame] = {
        "documents": documents,
        "concepts": concepts,
        "triples_concepts": triples_concepts,
        "entities": entities,
    }

    if with_topics:
        # chunk and embed in one stage; its files keep the documents'
        # partitioning, which the KMeans input follows
        chunks_emb = run_stage(
            spark, manifest, "chunk_embeddings", fingerprint,
            lambda: chunk_documents(
                documents, text_col="content", max_length=500
            ).withColumn("embedding", embed_udf()(F.col("chunk_text"))),
        )
        chunks = chunks_emb.drop("embedding")
        topics = run_stage(
            spark, manifest, "topics", fingerprint,
            lambda: build_topics(
                chunks_emb.withColumn(
                    "chunk_uid", F.concat_ws("#", "filename", "chunk_id")
                ),
                k=k_topics,
            ),
        )
        docs_emb = doc_embeddings(chunks_emb)
        dt_edges = doc_topic_edges(docs_emb, topics, threshold=similarity_threshold)
        triples = run_stage(
            spark, manifest, "triples", fingerprint,
            lambda: triples_concepts.unionByName(dt_edges),
        )
        out.update({"chunks": chunks, "topics": topics, "triples": triples})
    else:
        out["triples"] = triples_concepts

    # Node table: topic nodes (ref :489-498) + concept nodes (ref :511-525),
    # last-write-wins per node_id.
    def build_nodes() -> DataFrame:
        concept_nodes = concepts.select(
            F.col("name").alias("node_id"),
            F.lit("concept").alias("node_type"),
            F.col("concept_type"),
            "properties", "actions", "importance",
            (25 * F.col("importance")).alias("size"),  # ref :517
            "ts", "source", "confidence",
            F.lit("1.0").alias("version"),
        )
        nodes = last_write_wins(concept_nodes, ["node_id"])
        if with_topics:
            topic_nodes = out["topics"].select(
                F.col("topic_name").alias("node_id"),
                F.lit("topic").alias("node_type"),
                F.lit("topic").alias("concept_type"),
                F.col("terms").alias("properties"),
                F.array().cast("array<string>").alias("actions"),
                F.lit(1.0).alias("importance"),
                F.lit(30.0).alias("size"),  # ref :493
                F.lit(None).cast("timestamp").alias("ts"),
                F.lit("topics").alias("source"),
                F.lit(1.0).alias("confidence"),
                F.lit("1.0").alias("version"),
            )
            nodes = nodes.unionByName(topic_nodes)
        return nodes

    out["nodes"] = run_stage(spark, manifest, "nodes", fingerprint, build_nodes)
    return out


def build_kg_from_warc(
    spark: SparkSession,
    warc_dir: str,
    run_dir: str,
    glob: str = "*.warc*",
    **kwargs,
) -> dict[str, DataFrame]:
    """Common-Crawl-style front door: WARC dump -> full KG build. Thin
    composition of kgspark.warc.warc_pages (200-status text/html
    responses shaped to the pages schema) and :func:`build_kg` — exactly
    the ingestion path the north star describes, with the same
    checkpoint-manifest resume semantics. All build_kg kwargs pass
    through (k_topics, similarity_threshold, with_topics).
    """
    from kgspark.warc import warc_pages

    return build_kg(
        spark, warc_pages(spark, warc_dir, glob), run_dir, **kwargs
    )
