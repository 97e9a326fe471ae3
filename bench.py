#!/usr/bin/env python
"""Benchmark runner — prints ONE JSON line.

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>,
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

BENCH_QUERIES = [
    "kg_extract_triples",
    "kg_substring_query",
    "kg_link_entities",
    "kg_node_upsert",
    "kg_node_history",
    "kg_clean_text",
    "kg_chunk",
    "kg_doc_embeddings",
    "kg_topic_terms",
    "kg_tfidf",
    "kg_doc_topic_edges",
    "kg_connected_components",
    "kg_pagerank",
    "kg_negative_samples",
    "kg_subgraph",
    "kg_khop",
    "kg_neighbor_sample",
    "kg_node_asof",
    "kg_dbscan_topics",
    "kg_topics_density",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_simhash64",
    "dedup_ngram",
    "dedup_embedding",
    "ann_topk",
    "ann_lsh",
    "ann_ivf",
    "text_langid",
    "text_quality",
    "text_tokens",
    "text_fingerprint",
    "text_repetition",
    "corpus_curate",
    "corpus_report",
    "skew_salted_agg",
    "skew_salted_join",
    "skew_hot_keys",
    "multimodal_meta",
    "rel_pricing_summary",
    "rel_top_customers",
    "multimodal_features",
    "kg_topics",
    "kg_entities",
    "kg_validate",
    "kg_degree",
    "kg_embed_vectors",
    "kg_schema_induction",
    "rel_tumbling_window",
    "rel_sessionization",
    "rel_asof_join",
    "rel_range_join",
    "corpus_split",
    "corpus_pack",
    "corpus_mix",
    "kg_triangles",
    "kg_link_predict",
    "text_pii",
    "corpus_decontam",
    "web_host_graph",
    "web_url_dedup",
    "web_domain_cap",
    "dedup_lines",
    "text_lm_bits",
    "text_kn_bits",
    "text_nfc",
    "corpus_fim",
    "text_lm_buckets",
    "kg_hits",
    "web_anchor_text",
    "web_anchor_prior",
    "kg_quotes",
    "kg_hearst",
    "kg_pmi",
    "kg_lpa",
    "text_readability",
    "kg_trustrank",
    "text_summarize",
    "text_keywords",
    "kg_kcore",
    "web_domain_quality",
    "corpus_sample",
    "kg_entity_cooc",
    "kg_graph_report",
    "kg_bgp",
    "corpus_delta",
    "text_nb",
    "dedup_containment",
    "corpus_overlap",
    "kg_metapaths",
    "text_typo_pairs",
    "corpus_vocab",
    "text_bm25",
    "corpus_dsir",
    "rel_bursts",
    "text_bpe_pairs",
    "kg_sssp",
    "text_entropy",
    "text_novelty",
    "corpus_split_safe",
    "text_rrf",
    "sketch_cms",
    "sketch_hll",
    "sketch_hll_merge",
    "kg_hyperball",
    "corpus_wsample",
    "rel_retention",
    "rel_funnel",
    "rel_attribution",
    "dedup_spans",
    "kg_scc",
    "rel_scd2",
    "rel_decay",
    "text_stopwords",
    "web_c4_filters",
    "kg_salience",
    "kg_textrank",
    "kg_modularity",
    "kg_random_walks",
    "kg_node2vec",
    "kg_louvain",
    "kg_config_model",
    "kg_diameter",
    "kg_adamic_adar",
    "text_script_mix",
    "sketch_bloom",
    "sketch_bloom_probe",
    "rel_islands",
    "rel_rolling",
    "text_collocations",
    "web_frontier",
    "kg_clustering_coef",
    "kg_relation_profile",
    "rel_intervals",
    "kg_wl_classes",
    "web_robots_rules",
    "web_robots_check",
    "link_fs_pairs",
    "link_fs_u",
    "dedup_winnow",
    "dedup_winnow_pairs",
    "rel_markov",
    "rel_quantiles",
    "embed_rproj",
    "web_reciprocal",
    "text_heaps",
    "kg_ktruss",
    "link_blocking",
    "text_phrase",
    "rel_paths",
    "corpus_temperature",
    "embed_pq",
    "ann_pq",
    "rel_mad",
    "kg_ppr",
    "web_url_features",
    "web_cdx",
    "text_bpe_apply",
    "web_warc",
    "kg_closure",
    "text_jsd",
    "text_langid_confusion",
    "kg_degree_dist",
    "kg_mrr",
    "corpus_pack_stats",
    "rel_densify",
    "dedup_recall",
    "rel_seasonality",
    "kg_inverse_preds",
    "dedup_curve",
    "text_code",
    "text_corr",
    "web_blocks",
    "web_redirects",
    "dedup_incremental",
    "web_blocklist",
    "embed_protos",
    "embed_proto_eval",
    "corpus_budget",
    "kg_window_chunks",
    "text_lm3",
    "kg_assortativity",
    "web_feed",
    "kg_walk_pairs",
    "embed_norms",
    "multimodal_image_meta",
    "dedup_cc_sizes",
    "dedup_keep_best",
    "link_er_clusters",
    "rel_gaps",
    "multimodal_header_mix",
    "embed_pq_trained",
    "ann_ivfpq",
    "dedup_span_scrub",
    "kg_pred_cardinality",
    "kg_pred_cooc",
    "kg_ifp_sameas",
    "text_mojibake",
    "kg_domain_range",
    "kg_harmonic",
    "web_sitemap",
    "kg_violations",
    "kg_type_completeness",
    "web_meta_tags",
    "web_html_tables",
    "kg_jsonld",
    "kg_ntriples",
    "kg_turtle",
    "kg_triple_intervals",
    "kg_asof_triples",
    "web_microdata",
    "web_rdfa",
    "multimodal_audio_meta",
    "web_breadcrumbs",
    "kg_fact_fusion",
    "kg_provenance",
    "kg_sameas_rewrite",
    "kg_entity_card",
    "kg_fact_churn",
    "web_canonical",
    "kg_shapes",
    "kg_rdfs",
    "kg_owl_infer",
    "kg_table_triples",
    "kg_paths",
    "kg_coref",
    "kg_polarity",
    "web_templates",
    "kg_conflicts",
    "kg_bgp_opt",
    "kg_bgp_union",
    "kg_bgp_filter",
    "kg_bgp_path",
    "kg_transe",
    "kg_distmult",
    "kg_lp_ranks",
    "kg_wu_palmer",
    "kg_allen",
    "kg_simrank",
    "kg_graphml",
    "kg_anomalies",
    "kg_reify",
    "kg_ntriples_star",
    "kg_align",
    "kg_pathsim",
    "kg_partition_report",
    "kg_fd",
    "kg_quotient",
    "corpus_triplets",
    "kg_temporal_reach",
    "kg_jsonld_out",
    "corpus_kappa",
    "kg_infer_types",
    "kg_bgp_agg",
    "kg_construct",
    "kg_bgp_minus",
    "kg_bgp_nps",
    "text_tiling",
    "kg_timex",
    "kg_units",
    "kg_geo",
    "web_link_coherent",
    "web_nil_mentions",
    "kg_betweenness",
    "multimodal_blob_dedup",
    "multimodal_cdc_dedup",
    "multimodal_cdc_gear",
    "text_unigram",
    "link_fs_em",
    "rel_ewma",
    "text_zipf",
    "web_hreflang",
    "kg_rules",
    "kg_rule_apply",
    "kg_type_violations",
    "link_sorted_blocks",
    "link_edit_pairs",
    "link_damerau",
    "link_jw",
    "corpus_auc",
    "corpus_calibration",
    "kg_truth",
    "kg_bgp_exists",
    "kg_ask",
    "kg_katz",
    "kg_topo",
    "rel_cube",
    "rel_pivot",
    "kg_bgp_star",
    "kg_bgp_concat",
    "text_wilson",
    "text_benford",
    "text_nb_features",
    "web_recrawl",
    "kg_datatypes",
    "text_skeleton",
    "ann_matryoshka",
    # late-session-4 ops that had missed this list
    "multimodal_header_mix2",
    "multimodal_exif",
    "multimodal_video_meta",
    "kg_copy_detect",
    "kg_geo_near",
    "corpus_kanon",
    "corpus_bitext",
    "web_mirrors",
    "kg_taxo_reduction",
    "kg_complex",
    "kg_rotate",
    "link_metablock",
    "kg_bgp_values",
    "kg_bgp_topk",
    "text_zipf_slope",
    "text_unigram_census",
    "schema_profile",
    "schema_checks",
    "rel_overlap",
    "text_ql",
    "kg_bgp_seq",
    "ann_knn_graph",
    "ann_mips",
    "ann_mmr",
    "embed_sq8",
    "ann_sq8",
    "kg_bgp_having",
    "kg_acronyms",
    "text_snippets",
    "kg_mst",
    "kg_single_linkage",
    "rel_histogram",
    "rel_zorder",
    "rel_interp",
    "kg_akas",
    "kg_pagerank_w",
    "kg_bgp_regex",
    "rel_cusum",
    "text_prf_terms",
    "text_bm25_prf",
    "link_soundex",
    "ann_coreset",
    "text_rake",
    "kg_butterflies",
    "text_good_turing",
    "sketch_kmv",
    "sketch_kmv_intersect",
    "rel_rfm",
    "kg_conductance",
    "kg_bridges",
    "rel_gini",
    "link_bcubed",
    "schema_ind",
    "pii_luhn",
    "multimodal_zip",
    "kg_powerlaw",
    "text_bidi",
    "kg_richclub",
    "kg_nquads",
    "kg_bgp_cardinality",
    "web_punycode",
    "text_confusables",
    "kg_mis",
    "kg_eigen",
    "pii_iban",
    "schema_ucc",
    "sketch_ams",
    "rel_trend",
    "kg_graphlets",
    "multimodal_tar",
    "link_tfidf",
    "kg_salsa",
    "multimodal_gzip",
    "pii_gtin",
    "text_yake",
    "web_etld",
    "rel_abc",
    "embed_isotropy",
    "text_lang_spans",
    "rel_concurrency",
    "kg_rdf_lists",
    "kg_homophily",
    "text_chrf",
    "ann_walk",
    "pii_secrets",
    "rel_twa",
    "kg_bowtie",
    "pii_deob",
    "text_doi",
    "multimodal_zstd",
    "kg_k4",
    "rel_ks",
    "embed_pc1",
    "rel_theilsen",
    "rel_psi",
    "multimodal_flac",
    "multimodal_ogg",
    "multimodal_webm",
]


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
    for name in BENCH_QUERIES:
        t0 = time.time()
        _materialize(qs[name](spark, sf_dir))
        times[name] = round(time.time() - t0, 3)
        _drop_blocks()

    tp_sec, n_docs = throughput_leg(spark, sf_dir, repl)
    times["throughput_leg"] = round(tp_sec, 3)

    # end-to-end pipeline (synth pages -> extract -> link -> canonicalize ->
    # entities/nodes, all through checkpoint-manifest writes)
    import tempfile

    from kgspark.pipeline import build_kg
    from kgspark.synth import pages_df

    pages = pages_df(spark, 1000, seed=42)
    t0 = time.time()
    out = build_kg(spark, pages, tempfile.mkdtemp(), with_topics=False)
    n_triples = out["triples"].count()
    times["pipeline_e2e_1k_pages"] = round(time.time() - t0, 3)

    total = round(sum(times.values()), 3)
    line = json.dumps(
        {
            "metric": "kgspark bench suite (KG construct + curation ops)",
            "value": total,
            "unit": "sec",
            "queries": times,
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
