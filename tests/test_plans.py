"""Physical-plan quality gates (.explain-based).

Correct results through a bad plan don't survive 100 TB. These tests pin the
plan properties that matter at scale: predicate pushdown into the parquet
scan, column pruning, broadcast joins for dimension-sized sides, and
partial (map-side) aggregation. If a refactor regresses one of these, the
suite fails before the bench does.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan(df, execute: bool = False) -> str:
    """Physical plan string. execute=True materializes first so AQE's final
    plan (with codegen spans and chosen join strategies) is visible."""
    if execute:
        df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= "1998-09-02").select("l_returnflag", "l_quantity")
    f = formatted(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in f
    # column pruning: scan reads only the 3 referenced columns, never the
    # other 8 (e.g. l_comment-equivalents like l_extendedprice)
    assert "l_extendedprice" not in f.split("ReadSchema")[1].splitlines()[0]


def test_pricing_summary_partial_agg(spark):
    import __spark_entry__ as E

    q = E.queries()["rel_pricing_summary"](spark, SF)
    p = plan(q)
    # two-phase agg: partial_ functions before the exchange, final after
    # (AQE's toString doesn't annotate codegen spans; partial agg + a single
    # Exchange is the scale-relevant property)
    assert "partial_sum" in p or "partial_count" in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p


def test_doc_topic_join_is_broadcast(spark):
    import __spark_entry__ as E

    q = E.queries()["kg_doc_topic_edges"](spark, SF)
    p = plan(q)
    # the tiny centroid side broadcasts; the corpus side never shuffles for
    # the join itself
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_ann_queries_broadcast(spark):
    import __spark_entry__ as E

    q = E.queries()["ann_topk"](spark, SF)
    assert "Broadcast" in plan(q)


def test_alias_linking_broadcast(spark):
    from kgspark.linking import alias_table, link_column

    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("source").alias("mention")
    )
    q = link_column(df, alias_table(spark), "mention")
    assert "BroadcastHashJoin" in plan(q)


def test_concepts_plan_single_python_eval(spark):
    """Array mentions link inside the JVM: the only rows that cross into a
    Python worker in documents_to_concepts are the openie UDF's."""
    import datetime as dt

    from kgspark.linking import alias_table
    from kgspark.pipeline import documents_to_concepts

    docs = spark.createDataFrame(
        [("d1", dt.datetime(2024, 1, 1), "d1", 0.8, "Acme is a company.")],
        "filename string, ts timestamp, source string, confidence double, "
        "content string",
    )
    p = plan(documents_to_concepts(docs, alias_table(spark)))
    evals = [ln for ln in p.splitlines() if "EvalPython" in ln]
    assert len(evals) == 1 and "extract_concepts_udf" in evals[0], p[:3000]


def test_salted_agg_two_phase(spark):
    from kgspark.skew import salted_agg

    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = salted_agg(ev, ["event_type"], {"n": ("count", "*")})
    p = plan(q)
    # two groupBys -> at least two HashAggregate pairs (salted partial, final)
    assert p.count("HashAggregate") >= 4


def test_embed_join_is_hash_keyed(spark):
    """embed_texts joins embeddings back (and anti-joins the cache) on
    md5(text), never the raw multi-KB text — shuffle keys stay 32 chars at
    any corpus scale."""
    from kgspark.embed import embed_texts

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    cache = docs.limit(2).select("text", F.lit(None).cast("array<float>").alias("embedding"))
    for q in (embed_texts(docs), embed_texts(docs, cache=cache)):
        p = plan(q)
        joins = [ln for ln in p.splitlines() if "Join" in ln]
        assert joins, p[:1500]
        for ln in joins:
            # key lists must be the hash column or the inlined md5(text)
            # expression — never the bare text column ("[text#N]")
            assert "__th" in ln or "md5(" in ln, f"join not keyed on md5 hash: {ln}"
            assert "[text#" not in ln, f"raw text used as join key: {ln}"


def test_extraction_has_no_shuffle_before_dedup(spark):
    """The extraction pipeline is map-only until the final distinct: exactly
    one Exchange (for dedup), none feeding the UDF/explode chain."""
    import __spark_entry__ as E

    q = E.queries()["kg_extract_triples"](spark, SF)
    p = plan(q)
    n_exchanges = p.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, f"extraction plan shuffles {n_exchanges}x:\n{p[:2000]}"


def test_k_hop_frontier_joins_broadcast(spark, monkeypatch):
    """BFS frontier and visited sets broadcast — the edge table never
    shuffles for the traversal. materialize() is stubbed to identity so the
    full lazy plan (normally truncated per round) is inspectable."""
    import kgspark.graph_algs as G

    monkeypatch.setattr(G, "materialize", lambda df: df)
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "subj string, obj string"
    )
    p = plan(G.k_hop(e, "a", k=2))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_simhash64_candidates_not_cartesian(spark):
    """The Hamming multiprobe candidate join is an equi-join on
    (band, value) — never a cartesian/nested-loop product."""
    from kgspark.dedup import simhash_hamming_pairs

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "x y z")], "doc_id long, text string"
    )
    p = plan(simhash_hamming_pairs(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_entity_ranking_has_no_global_window(spark):
    """ranked_entities must never funnel the entity set through one task:
    no `Exchange SinglePartition` (the global Window.orderBy signature)
    anywhere in the ranking plan, and ranks are still the global 0..n-1
    lexicographic order."""
    from kgspark.kgtrain import ranked_entities

    ents = spark.createDataFrame(
        [(f"e{i:04d}",) for i in range(997)], "e string"
    )
    ranked, n = ranked_entities(ents)
    assert n == 997
    p = plan(ranked)
    assert "SinglePartition" not in p
    rows = sorted((r["e"], r["__rank"]) for r in ranked.collect())
    assert [rk for _, rk in rows] == list(range(997))


def test_curate_is_single_pass_plus_two_joins(spark):
    """curate() computes lang/quality/empty in one map-side select; only the
    two genuinely-aggregating signals (repetition, exact dedup) join back.
    Pin the join count so a refactor can't silently reintroduce the
    join-per-signal shape (5 joins in r2)."""
    import re

    from kgspark.curate import curate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(curate(docs))
    n_joins = len(re.findall(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p))
    assert n_joins <= 3, f"curate plan regressed to {n_joins} joins:\n{p}"


def test_host_graph_single_shuffle(spark):
    """host_graph is one partial-agg'd hash shuffle; link extraction and
    host parsing are pure map work ahead of it."""
    import __spark_entry__ as E

    q = E.queries()["web_host_graph"](spark, SF)
    p = plan(q)
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_count" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_url_dedup_no_sort_merge(spark):
    """The norm->min(id)->join-back shape: aggregate side is unique-URL
    sized, so the join must stay hash-based (no sort-merge at crawl scale)
    and the normalize chain adds no extra shuffle."""
    import __spark_entry__ as E

    q = E.queries()["web_url_dedup"](spark, SF)
    p = plan(q, execute=True)  # AQE picks the final join strategy
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") <= 3


def test_line_dedup_boiler_broadcast(spark):
    """The boilerplate set (lines in >= min_docs docs) broadcasts; only the
    distinct-count and the per-doc reassembly shuffle."""
    from kgspark.dedup import line_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(line_dedup(docs, min_docs=3), execute=True)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_lm_score_stays_jvm_side(spark):
    """LM train+score is pure expression math: no Python workers in the
    plan (the tokenize/slice/zip chain is codegen'd), the model joins are
    hash joins (count tables broadcast at this scale), and token arrays
    are materialized once ahead of the bigram zip."""
    from kgspark.lm import score_bigram_lm, train_bigram_lm

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    uni, bi = train_bigram_lm(docs)
    p = plan(score_bigram_lm(docs, uni, bi), execute=True)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # the 1-row vocab scalar must ride a broadcast nested loop, never a
    # shuffled cross join
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_hearst_and_quotes_are_shuffle_free(spark):
    # pure regexp column expressions: a taxonomy/attribution pass over the
    # corpus must be map-only — zero Exchanges end to end
    from kgspark.hearst import hearst_triples
    from kgspark.quotes import quote_triples

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for q in (hearst_triples(docs), quote_triples(docs)):
        assert "Exchange" not in plan(q)


def test_pmi_vocab_join_broadcast_pair_agg_partial(spark):
    # the vocabulary filter must broadcast (corpus never shuffles for it);
    # the pair count must map-side combine before its one pair-key exchange
    from kgspark.cooc import pmi_edges

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(pmi_edges(docs), execute=True)
    assert "BroadcastHashJoin" in p
    assert "partial_count" in p


def test_lpa_and_kcore_no_cartesian(spark):
    # iterative graph rounds must stay key-partitioned joins — a
    # CartesianProduct anywhere means an unkeyed blowup at web scale
    from kgspark.graph_algs import k_core, label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], ["subj", "obj"]
    )
    for q in (label_propagation(edges, iterations=2),
              k_core(edges, k=2, rounds=2)):
        p = plan(q)
        assert "CartesianProduct" not in p


def test_bloom_probe_broadcast_only(spark):
    # the whole point of the Bloom pre-filter: the probed (big) side must
    # never shuffle — k broadcast joins, zero SortMergeJoin/Exchange-on-probe
    from kgspark.sketch import bloom_bits, bloom_member

    vals = spark.createDataFrame(
        [(f"v{i}",) for i in range(100)], "token string"
    )
    bits = bloom_bits(vals, m_bits=4096, k=3)
    p = plan(bloom_member(vals, bits, m_bits=4096, k=3))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_frontier_wave_cap_prunes_map_side(spark):
    # rank <= k over the host window must compile to WindowGroupLimit so
    # mega-host frontiers are truncated before the shuffle
    from kgspark.web import frontier_schedule

    df = spark.createDataFrame(
        [(f"u{i}", f"h{i % 3}", i) for i in range(30)],
        "url string, host string, prio long",
    )
    p = plan(frontier_schedule(df, priority_col="prio", max_waves=2))
    assert "WindowGroupLimit" in p


def test_rolling_daily_single_shuffle_into_window(spark):
    # daily collapse and the rolling window share the user key: the plan
    # must show partial aggregation and no second user-keyed exchange
    # beyond the one feeding the window sort
    from datetime import datetime

    from kgspark.relops import rolling_daily

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1 + i % 5), float(i)) for i in range(20)],
        "user_id long, ts timestamp, value double",
    )
    p = plan(rolling_daily(ev))
    assert "partial" in p.lower() or "HashAggregate" in p
    assert "CartesianProduct" not in p


def test_pq_topk_broadcasts_queries_never_shuffles_corpus(spark):
    import __spark_entry__ as E

    q = E.queries()["ann_pq"](spark, SF)
    p = plan(q)
    # the query side broadcasts; no cartesian/BNL beyond the tiny
    # broadcast-nested-loop the crossJoin of a broadcast side lowers to
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p
    # the only hash exchange is the per-query top-k window
    assert p.count("Exchange hashpartitioning") <= 1


def test_session_paths_single_user_shuffle(spark):
    import __spark_entry__ as E

    q = E.queries()["rel_paths"](spark, SF)
    p = plan(q)
    # ONE shuffle on user serves both window passes (the session cumsum
    # and the in-session leads); the final pair groupBy adds one more
    assert p.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in p


def test_markov_no_global_window(spark):
    import __spark_entry__ as E

    q = E.queries()["rel_markov"](spark, SF)
    p = plan(q)
    # no partitionless window (Exchange SinglePartition feeding a Window)
    assert "Exchange SinglePartition, ENSURE_REQUIREMENTS" not in p.split(
        "Window"
    )[0] or "SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_incremental_dedup_broadcasts_batch(spark):
    import __spark_entry__ as E

    q = E.queries()["dedup_incremental"](spark, SF)
    p = plan(q, execute=True)
    # the re-ingested batch is the broadcast side of the band join
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_winnow_single_doc_window(spark):
    import __spark_entry__ as E

    q = E.queries()["dedup_winnow"](spark, SF)
    p = plan(q)
    # doc-partitioned window + final groupBy: no global sort, no join
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_heaps_windows_only_bucket_table(spark):
    import __spark_entry__ as E

    q = E.queries()["text_heaps"](spark, SF)
    p = plan(q)
    # the cumulative window runs over the 10-row bucket table; the
    # single-partition exchange it needs is fed by aggregates, and the
    # corpus-sized stages never see a global sort; assert the cheap form:
    assert "CartesianProduct" not in p
    # 3 single-partition exchanges, ALL on aggregate-sized inputs: the
    # global max(id), the 10-row bucket window, the final fold — none of
    # them sees corpus-sized data
    assert p.count("Exchange SinglePartition") <= 3


def test_ifp_sameas_broadcasts_schema_sized_sides(spark):
    """The quasi-predicate list is schema-sized and must broadcast; the
    pair join is an equi-join on (p, o) — never a cartesian product."""
    from kgspark.canon import ifp_sameas

    tri = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "x"), ("c", "p", "y")],
        "subj string, pred string, obj string",
    )
    p = plan(ifp_sameas(tri))
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    assert "partial_count" in p  # pair agg combines map-side


def test_ngram_group_positional_partial_agg_no_cartesian(spark):
    """The PPJoin+ pair aggregation must combine map-side (the join emits
    multiple rows per pair; partial agg collapses them before the pair
    shuffle) and the candidate join must stay an equi-join on the prefix
    element."""
    from kgspark.dedup import _ngram_candidates

    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "a b c d e g")], "doc_id long, text string"
    )
    _, cand = _ngram_candidates(docs, "text", "doc_id", 3, 0.5, True)
    p = plan(cand)
    assert "CartesianProduct" not in p
    assert "partial_count" in p
    # the equi-join key is the prefix element p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_predicate_cooc_no_cartesian_partial_agg(spark):
    from kgspark.graph_algs import predicate_cooccurrence

    tri = spark.createDataFrame(
        [("s", "p", "o"), ("s", "q", "o")],
        "subj string, pred string, obj string",
    )
    p = plan(predicate_cooccurrence(tri))
    assert "CartesianProduct" not in p
    assert "partial_count" in p


def test_structdata_extractors_shuffle_free(spark):
    """meta_tags / html_tables / ntriples_lines are map-only column
    pipelines — any Exchange means a regression into a shuffle the
    100 TB scan doesn't need."""
    from kgspark.rdf import ntriples_lines
    from kgspark.structdata import html_tables, meta_tags

    pages = spark.createDataFrame(
        [("u", '<meta property="p" content="c"/><table><tr><td>x</td></tr></table>')],
        "url string, html string",
    )
    assert "Exchange" not in plan(meta_tags(pages))
    assert "Exchange" not in plan(html_tables(pages))
    tri = spark.createDataFrame(
        [("s", "p", "o")], "subj string, pred string, obj string"
    )
    assert "Exchange" not in plan(ntriples_lines(tri))


def test_triple_intervals_single_shuffle(spark):
    """Gaps-and-islands compaction: exactly ONE hash exchange on the
    (subj, pred) fact key — the window, the island groupBy and the
    valid_to lead window all reuse that partitioning."""
    from kgspark.temporal import triple_intervals

    obs = spark.createDataFrame(
        [("e", "p", "a", 1), ("e", "p", "b", 2)],
        "subj string, pred string, obj string, ts long",
    )
    p = plan(triple_intervals(obs))
    assert p.count("Exchange hashpartitioning") == 1


def test_fuse_facts_broadcasts_weight_table(spark):
    """The source-weight table is schema-sized: it must broadcast, and the
    observation stream must partial-aggregate before the key shuffle."""
    from kgspark.fusion import fuse_facts

    obs = spark.createDataFrame(
        [("e", "p", "x", "s1")],
        "subj string, pred string, obj string, source string",
    )
    w = spark.createDataFrame([("s1", 100)], "source string, weight_ppm long")
    p = plan(fuse_facts(obs, w))
    assert "BroadcastHashJoin" in p
    assert "partial_sum" in p or "partial_count" in p


def test_sameas_rewrite_broadcasts_map(spark):
    """Both endpoint-rewrite joins broadcast the sameAs map — the triple
    stream is never shuffled until the duplicate-collapsing groupBy."""
    from kgspark.canon import sameas_rewrite

    triples = spark.createDataFrame(
        [("a", "p", "b")], "subj string, pred string, obj string"
    )
    sameas = spark.createDataFrame([("a", "b")], "a string, b string")
    p = plan(sameas_rewrite(triples, sameas))
    assert p.count("BroadcastHashJoin") >= 2
    assert "partial_count" in p


def test_entity_card_single_shuffle(spark):
    """The window cap and the card groupBy share the subject key — one
    exchange; a hub entity never materializes an unbounded array."""
    from kgspark.graph_api import entity_card

    t = spark.createDataFrame(
        [("e", "p", "o")], "subj string, pred string, obj string"
    )
    assert plan(entity_card(t)).count("Exchange hashpartitioning") == 1


def test_shape_report_broadcasts_shapes(spark):
    from kgspark.schema_induce import shape_report

    t = spark.createDataFrame(
        [("s", "p", "1")], "subj string, pred string, obj string"
    )
    sh = spark.createDataFrame(
        [("p", "int", 9)], "pred string, kind string, max_per_subj int"
    )
    p = plan(shape_report(t, sh))
    assert "BroadcastHashJoin" in p
    assert "partial_count" in p


def test_transe_score_no_cartesian_no_python_udf(spark):
    """TransE scoring is three hash joins + map-only array arithmetic:
    no CartesianProduct, no BatchEvalPython (the energy stays JVM-side)."""
    from kgspark.kgembed import hash_embeddings, transe_score

    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "a")],
        "subj string, pred string, obj string",
    )
    ents = t.select(F.col("subj").alias("e")).union(t.select("obj"))
    ent = hash_embeddings(ents, "e", salt="e")
    rel = hash_embeddings(
        t.select(F.col("pred").alias("r")), "r", salt="r"
    ).withColumnRenamed("entity", "rel")
    p = plan(transe_score(t, ent, rel))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_lp_ranks_candidate_join_is_keyed(spark):
    """Link-prediction candidates come from the predicate range, joined on
    the pred key — never an all-entity cross join; rank is one hash
    aggregation over (subj, pred, obj) groups."""
    from kgspark.kgembed import hash_embeddings, lp_ranks

    t = spark.createDataFrame(
        [("a", "p", "b"), ("c", "p", "d")],
        "subj string, pred string, obj string",
    )
    ents = t.select(F.col("subj").alias("e")).union(t.select("obj"))
    ent = hash_embeddings(ents, "e", salt="e")
    rel = hash_embeddings(
        t.select(F.col("pred").alias("r")), "r", salt="r"
    ).withColumnRenamed("entity", "rel")
    p = plan(lp_ranks(t, ent, rel))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bgp_path_closure_no_cartesian(spark):
    """Property-path closure is hop-bounded distinct self-joins on the
    endpoint key; a constant endpoint seeds the frontier (the filter must
    reach the first-hop scan, not sit above the closure)."""
    from kgspark.graph_api import bgp_match

    t = spark.createDataFrame(
        [("a", "is_a", "b"), ("b", "is_a", "c")],
        "subj string, pred string, obj string",
    )
    p = plan(bgp_match(t, [("a", "is_a+", "?y")], max_path_hops=3))
    assert "CartesianProduct" not in p
    # the seed constant appears as a pushed/applied filter on subj
    assert "isnotnull(subj" in p or "(subj" in p


def test_session3_ops_no_cartesian_no_python(spark):
    """Batch plan gate for the session-3 operators: all keyed joins +
    JVM expressions — no CartesianProduct, no Python eval in any plan."""
    from kgspark.graph_algs import pathsim, quotient_graph, temporal_reach
    from kgspark.graphml import graphml_lines
    from kgspark.schema_induce import align_classes, fd_mine
    from kgspark.skew import partition_report
    from kgspark.structdata import jsonld_lines
    from kgspark.temporal import allen_relations

    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "q", "c")],
        "subj string, pred string, obj string",
    )
    rel = spark.createDataFrame([("x", "y", 1)], "x string, y string, c long")
    lab = spark.createDataFrame([("a", "A")], "node string, cls string")
    iv = spark.createDataFrame(
        [("e", "p", "v", 1, 2)],
        "subj string, pred string, obj string, valid_from long, valid_to long",
    )
    seeds = spark.createDataFrame([("a",)], "n string")
    typ = spark.createDataFrame([("i", "C")], "instance string, cls string")
    plans = [
        plan(pathsim(rel)),
        plan(quotient_graph(
            t.select(F.col("subj").alias("src"), F.col("obj").alias("dst")),
            lab)),
        plan(fd_mine(t, min_support=1)),
        plan(align_classes(typ, typ, min_overlap=1)),
        plan(partition_report(t.select("subj", "obj"), k=4)),
        plan(allen_relations(iv)),
        plan(graphml_lines(t)),
        plan(jsonld_lines(t)),
        plan(temporal_reach(
            spark.createDataFrame([("a", "b", 1)],
                                  "src string, dst string, ts long"),
            seeds, max_hops=2)),
    ]
    for p in plans:
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_binary_dedup_ops_no_python_no_cartesian(spark):
    """Both binary dedup paths stay JVM-side: hex/md5/HOF chunking plus
    the banded self-join — no Python eval, no CartesianProduct."""
    from kgspark.multimodal import blob_near_dups, cdc_near_dups

    df = spark.createDataFrame(
        [(1, b"abcdefgh" * 8), (2, b"abcdefgh" * 8)],
        "item_id long, payload binary",
    )
    for op in (blob_near_dups, cdc_near_dups):
        p = plan(op(df))
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_session4_ops_no_cartesian_no_python(spark):
    """Batch plan gate for the session-4 operators: keyed joins + JVM
    expressions only — no CartesianProduct, no Python eval anywhere."""
    from kgspark.chunk import topic_boundaries
    from kgspark.graph_algs import type_violations
    from kgspark.graph_api import bgp_construct
    from kgspark.geo import near_pairs
    from kgspark.kgembed import (
        complex_score, distmult_score, hash_embeddings, rotate_score,
    )
    from kgspark.linkrec import edit_pairs, meta_blocking, sorted_neighborhood
    from kgspark.nb import calibration_bins, roc_auc
    from kgspark.rulemine import apply_chain_rules

    t = spark.createDataFrame(
        [("a", "is_a", "T"), ("a", "has", "b"), ("b", "is_a", "U")],
        "subj string, pred string, obj string",
    )
    rules = spark.createDataFrame(
        [("is_a", "is_a", "is_a", 900000)],
        "body_q string, body_r string, head_p string, conf_ppm long",
    )
    recs = spark.createDataFrame(
        [(1, "k1", "smith"), (2, "k1", "smyth")],
        "rec_id long, block_key string, text string",
    )
    sc = spark.createDataFrame([(3, 1), (1, 0)], "score long, label int")
    pp = spark.createDataFrame([(500000, 1)], "prob_ppm long, label int")
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    ent = hash_embeddings(
        t.select(F.col("subj").alias("e")), "e", salt="e"
    )
    rel = hash_embeddings(
        t.select(F.col("pred").alias("r")), "r", salt="r"
    ).withColumnRenamed("entity", "rel")
    plans = [
        plan(apply_chain_rules(t, rules)),
        plan(type_violations(t)),
        plan(sorted_neighborhood(recs, window=2)),
        plan(edit_pairs(recs, max_dist=1)),
        plan(meta_blocking(recs.select("rec_id", "block_key"))),
        plan(roc_auc(sc)),
        plan(calibration_bins(pp)),
        plan(bgp_construct(t, [("?x", "is_a", "?t")],
                           [("?x", "typed", "?t")])),
        plan(topic_boundaries(docs, window=2)),
        plan(distmult_score(t, ent, rel)),
        plan(complex_score(t, ent, rel)),
        plan(rotate_score(t, ent, rel)),
        plan(near_pairs(spark.createDataFrame(
            [(1, 0, 0), (2, 100, 100)],
            "id long, lat_micro long, lon_micro long"), 1000)),
    ]
    for p in plans:
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_session4_broadcast_and_rank_shapes(spark):
    """Targeted shapes: rule/signature tables broadcast; the
    sorted-neighborhood and AUC ranks never use a global (empty
    partition-key) window — their sorts stay range-partitioned."""
    from kgspark.graph_algs import type_violations
    from kgspark.linkrec import sorted_neighborhood
    from kgspark.nb import roc_auc
    from kgspark.rulemine import apply_chain_rules

    t = spark.createDataFrame(
        [("a", "is_a", "T"), ("a", "has", "b"), ("b", "is_a", "U")],
        "subj string, pred string, obj string",
    )
    rules = spark.createDataFrame(
        [("is_a", "is_a", "is_a", 900000)],
        "body_q string, body_r string, head_p string, conf_ppm long",
    )
    assert "BroadcastHashJoin" in plan(apply_chain_rules(t, rules))
    assert "BroadcastHashJoin" in plan(type_violations(t))
    recs = spark.createDataFrame(
        [(1, "k1", "x")], "rec_id long, block_key string, text string"
    )
    sc = spark.createDataFrame([(3, 1), (1, 0)], "score long, label int")
    # the rank stage runs BEFORE the materialize() boundary (its __pid
    # windowing is the ranked_entities pattern, plan-gated at
    # test_ranked_entities_no_global_window); here gate what the OUTPUT
    # side must not contain: a global window or a single-partition sort
    p_sn = plan(sorted_neighborhood(recs, window=2))
    assert "windowspecdefinition" not in p_sn
    assert "Exchange SinglePartition" not in p_sn
    # roc_auc's cumulative window runs AFTER the materialize boundary, so
    # it IS in the output plan — and must be keyed by __pid, never global
    p_auc = plan(roc_auc(sc))
    assert "windowspecdefinition(__pid" in p_auc
    assert "windowspecdefinition" not in p_auc.replace(
        "windowspecdefinition(__pid", ""
    )


def test_literal_front_doors_map_only(spark):
    """timex/units/geo literal canonicalizers must be pure map-side JVM
    plans: no Python eval, no join, no shuffle exchange at all."""
    from kgspark.geo import extract_coords
    from kgspark.timex import extract_dates
    from kgspark.units import extract_quantities

    docs = spark.createDataFrame(
        [(1, "on 2024-05-13 ship 2.5 kg to 40.7° N")],
        "doc_id long, text string",
    )
    for df in [extract_dates(docs), extract_quantities(docs),
               extract_coords(docs)]:
        p = plan(df)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        assert "Join" not in p
        assert "Exchange" not in p


def test_session4_late_ops_no_cartesian_no_python(spark):
    """Late session-4 batch: MINUS, canonical pick, attribution, NIL,
    coherence linking — keyed joins + JVM expressions only."""
    import datetime as dt

    from kgspark.dedup import canonical_docs
    from kgspark.graph_api import bgp_minus
    from kgspark.relops import touch_attribution
    from kgspark.web import link_coherent, nil_mentions

    t = spark.createDataFrame(
        [("a", "p", "x"), ("a", "flag", "1")],
        "subj string, pred string, obj string",
    )
    docs = spark.createDataFrame([(1, 5), (2, 9)], "doc_id long, q long")
    dpairs = spark.createDataFrame([(1, 2)], "a long, b long")
    ev = spark.createDataFrame(
        [(1, 1, "ad", dt.datetime(2024, 1, 1))],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    apairs = spark.createDataFrame(
        [("http://s.com/p", "https://a.com/x", "alpha")],
        "url string, link string, anchor string",
    )
    priors = spark.createDataFrame(
        [("alpha", "a.com", 1, 1.0)],
        "anchor string, dst_host string, n long, prior double",
    )
    mentions = spark.createDataFrame([(1, "alpha")],
                                     "doc_id long, mention string")
    plans = [
        plan(bgp_minus(t, [("?s", "p", "?o")], [("?s", "flag", "1")])),
        plan(canonical_docs(docs, dpairs, "q")),
        plan(touch_attribution(ev, "ad", ["x"])),
        plan(nil_mentions(mentions, priors)),
        plan(link_coherent(mentions, apairs)),
    ]
    for p in plans:
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # NIL anti-join must broadcast the alias-table side
    assert "Broadcast" in plan(nil_mentions(mentions, priors))


def test_bitext_banded_join_no_cartesian_windowlimit(spark):
    """mine_bitext: LSH candidates come from an equi-join (never a
    CartesianProduct / nested-loop between shards), the kNN heads compile
    to WindowGroupLimit, and everything stays JVM-side."""
    from kgspark.bitext import mine_bitext

    l = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, -0.5, 0.25]) for i in range(6)],
        "id long, embedding array<double>",
    )
    r = spark.createDataFrame(
        [(100 + i, [float(i % 3), 1.0, -0.5, 0.25]) for i in range(6)],
        "id long, embedding array<double>",
    )
    p = plan(mine_bitext(l, r, bands=4, band_bits=4, k=2, margin_ppm=0))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "WindowGroupLimit" in p


def test_mirror_hosts_sketch_windowlimit_no_cartesian(spark):
    """mirror_hosts: the bottom-s sketch compiles to WindowGroupLimit
    (per-host head capped map-side), candidates are fingerprint equi-joins,
    everything JVM-side."""
    from kgspark.web import mirror_hosts

    df = spark.createDataFrame(
        [(f"h{i % 3}", f"w{i} x{i} y{i} z{i} a b c d e f") for i in range(12)],
        "host string, text string",
    )
    p = plan(mirror_hosts(df, threshold_ppm=0, materialize_intermediates=False))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "WindowGroupLimit" in p


def test_session5_ops_no_cartesian_no_python(spark):
    """Session-5 ops stay JVM-side with hash joins only: Katz frontier,
    topo peel, recrawl lag window, skeleton census, overlap join,
    datatype profile, NB feature lift."""
    import datetime as dt

    from kgspark.graph_algs import katz_centrality, topo_levels
    from kgspark.nb import top_features, train_nb
    from kgspark.relops import interval_overlap_join
    from kgspark.schema_induce import datatype_profile
    from kgspark.textstats import skeleton_census
    from kgspark.web import recrawl_priority

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    t0 = dt.datetime(2026, 1, 1)
    snaps = spark.createDataFrame(
        [("u", t0, "h1"), ("u", t0 + dt.timedelta(1), "h2")],
        "url string, ts timestamp, chash string",
    )
    docs = spark.createDataFrame(
        [(1, "a b 42", "s")], "doc_id long, text string, label string"
    )
    trip = spark.createDataFrame(
        [("x", "p", "1")], "subj string, pred string, obj string"
    )
    iv = spark.createDataFrame(
        [("k", 1, t0, t0 + dt.timedelta(hours=1))],
        "key string, lid long, start timestamp, end timestamp",
    )
    rv = spark.createDataFrame(
        [("k", 2, t0, t0 + dt.timedelta(hours=2))],
        "key string, rid long, r_start timestamp, r_end timestamp",
    )
    classes, counts = train_nb(docs)
    for df in (
        katz_centrality(e, rounds=2),
        topo_levels(e, max_rounds=3),
        recrawl_priority(snaps),
        skeleton_census(docs.select("doc_id", "text")),
        interval_overlap_join(iv, rv, ["key"]),
        datatype_profile(trip),
    ):
        p = plan(df)
        assert "CartesianProduct" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p
        assert "BatchEvalPython" not in p and "PythonUDF" not in p, p
    # top_features carries ONE 1-row broadcast (the grand token total)
    # — a BroadcastNestedLoopJoin against a single row is the intended
    # plan, same as the bgp existence guards; everything else is hash
    p = plan(top_features(classes, counts, k=3))
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastNestedLoopJoin") <= 1, p
    assert "BatchEvalPython" not in p and "PythonUDF" not in p, p
    assert "WindowGroupLimit" in p, p  # per-class top-k is map-capped


def test_cube_is_one_expand_pass_and_pivot_is_joinless(spark):
    """cube_census compiles to a single Expand feeding one partially
    aggregated exchange; pivot_table is one hash aggregate with NO join
    and NO Expand."""
    from kgspark.relops import cube_census, pivot_table

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("b", "y", 2.0)],
        "d1 string, d2 string, v double",
    )
    pc = plan(cube_census(df, ["d1", "d2"], "v"))
    assert pc.count("Expand") >= 1
    assert "Join" not in pc
    pp = plan(pivot_table(df, "d1", "d2", ["x", "y"], value_col="v"))
    assert "Expand" not in pp and "Join" not in pp
    assert "HashAggregate" in pp


def test_plan_features_counts(spark):
    from kgspark.session import plan_features

    a = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
    b = spark.range(0, 10).selectExpr("id AS k", "id * 3 AS w")
    f = plan_features(a.join(b, "k"))
    assert f["broadcast_joins"] == 1 and f["cartesian"] == 0
    assert f["python_evals"] == 0
    assert f["codegen_spans"] == 0  # AQE: spans appear only post-execution
    ev = spark.read.parquet(f"{SF}/events.parquet")
    g = plan_features(ev.groupBy("event_type").count())
    assert g["exchanges"] >= 1
    assert g["pushed_filter_scans"] >= 0  # counter present
    c = plan_features(a.crossJoin(b.select(F.col("k").alias("k2"))))
    assert c["cartesian"] + c["nested_loop_joins"] >= 1


def test_session6_ops_plan_shapes(spark):
    """Session-6 ops: MIPS/SQ8/z-order/KN/neighbor-sample stay JVM-side;
    scalar 1-row broadcasts are the only BNLJs; damerau_pairs is the one
    designed Arrow-batched Python stage, gated behind JVM prefilters."""
    from kgspark.embed import sq8_encode, sq8_stats
    from kgspark.io_tables import zorder_key
    from kgspark.kgtrain import neighbor_sample
    from kgspark.linkrec import damerau_pairs
    from kgspark.lm import score_kn_lm, train_kn_lm
    from kgspark.rdf import turtle_lines
    from kgspark.similarity import mips_topk, mips_topk_lsh, sq8_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where("vec_id < 2").selectExpr(
        "vec_id AS query_id", "embedding AS qemb")
    st = sq8_stats(emb)
    codes = sq8_encode(emb, st)
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "b c d")], "doc_id long, text string")
    left, bi, cont = train_kn_lm(docs)
    trip = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")],
        "subj string, pred string, obj string")
    seeds = spark.createDataFrame([("a",)], "seed string")
    recs = spark.createDataFrame(
        [(1, "k", "ab"), (2, "k", "ba")],
        "rec_id long, block_key string, text string")
    orders = spark.read.parquet(f"{SF}/orders.parquet")

    # bounded-query-set broadcast (mips exact: BNLJ against the tiny
    # query side is the designed plan, like cosine_topk)
    p = plan(mips_topk(emb, q, k=3))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p, p
    assert "WindowGroupLimit" in p, p
    # LSH path: band/val HASH join; only the 1-row max-norm broadcast
    # may be a BNLJ
    p = plan(mips_topk_lsh(emb, q, k=3))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p, p
    assert p.count("BroadcastNestedLoopJoin") <= 1, p
    # SQ8: stats + queries ride broadcasts; no Python anywhere
    for df in (codes, sq8_topk(codes, st, q, k=3)):
        p = plan(df)
        assert "CartesianProduct" not in p, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # z-order key: map-only integer exprs over a 1-row broadcast
    p = plan(zorder_key(orders, "o_custkey", "o_orderkey"))
    assert "CartesianProduct" not in p and "Python" not in p, p
    assert p.count("BroadcastNestedLoopJoin") <= 1, p
    # KN scoring: hash joins + the 1-row totals broadcast
    p = plan(score_kn_lm(docs, left, bi, cont))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p, p
    assert p.count("BroadcastNestedLoopJoin") <= 1, p
    # neighbor sampling + turtle: hash-only, JVM-side
    for df in (neighbor_sample(trip, seeds, fanouts=(2, 2)),
               turtle_lines(trip)):
        p = plan(df)
        assert "CartesianProduct" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # damerau: Arrow-batched (never row-at-a-time), JVM levenshtein
    # prefilter visible below the Python stage
    p = plan(damerau_pairs(recs, max_dist=1))
    assert "ArrowEvalPython" in p and "BatchEvalPython" not in p, p
    assert "levenshtein" in p, p
    assert "CartesianProduct" not in p, p


def test_session7_ops_plan_shapes(spark):
    """Session-7 ops: PRF/soundex/k-center stay JVM-side; the only
    BNLJs are the designed 1-row / pick-row broadcasts."""
    from kgspark.embed import kcenter_coreset
    from kgspark.linkrec import soundex_pairs
    from kgspark.search import bm25_prf_topk, prf_expand_terms

    docs = spark.createDataFrame(
        [(0, "hash alpha beta"), (1, "hash alpha gamma")],
        "doc_id long, text string")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    recs = spark.createDataFrame(
        [(1, "robert"), (2, "rupert")], "rec_id long, text string")

    # PRF expansion: feedback ids + corpus stats ride broadcasts; the
    # corpus-sized doc table never BNLJs (<=2 scalar broadcasts from
    # the BM25 stage)
    p = plan(prf_expand_terms(docs, ["hash"], fb_k=2))
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    p = plan(bm25_prf_topk(docs, ["hash"], fb_k=1, n_expand=2))
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # soundex: pure JVM expression blocking; code census broadcast,
    # never a nested-loop pair join
    p = plan(soundex_pairs(recs))
    assert "soundex" in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "Python" not in p, p
    # k-center: per-round plans are map + global top-1 over the
    # materialized state; the only BNLJ is the 1-row pick broadcast
    p = plan(kcenter_coreset(emb.limit(20), k=3))
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_session7_late_ops_plan_shapes(spark):
    """Later session-7 ops: graph audits and census ops stay JVM-side;
    the only BNLJs are 1-row scalar broadcasts (totals/anchors)."""
    from kgspark.graph_algs import (
        butterfly_pairs,
        edge_embeddedness,
        powerlaw_fit,
        rich_club,
    )
    from kgspark.pii import luhn_census
    from kgspark.relops import gini_census, rfm_segments
    from kgspark.textnorm import bidi_report

    e = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b")], "subj long, obj string"
    ).selectExpr("cast(subj as string) subj", "obj")
    docs = spark.createDataFrame(
        [(1, "x y"), (2, "y z")], "doc_id long, text string")
    from datetime import datetime as DT
    orders = spark.createDataFrame(
        [(1, 5.0, DT(2024, 1, 2)), (2, 6.0, DT(2024, 1, 3))],
        "o_custkey long, o_totalprice double, o_orderdate timestamp")

    for df in (
        butterfly_pairs(e.selectExpr("cast(subj as long) u", "obj v")),
        edge_embeddedness(e),
        rich_club(e, ks=(1, 2)),
        luhn_census(docs),
        bidi_report(docs),
        gini_census(
            orders.selectExpr("o_custkey", "cast(o_totalprice as long) v"),
            "o_custkey", "v"),
    ):
        p = plan(df)
        assert "CartesianProduct" not in p, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p
    # powerlaw/rfm carry exactly the designed 1-row broadcasts
    p = plan(powerlaw_fit(e))
    assert "CartesianProduct" not in p and "Python" not in p, p
    p = plan(rfm_segments(orders))
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert p.count("BroadcastNestedLoopJoin") <= 1, p


def test_session8_ops_plan_shapes(spark):
    """Session-8 ops: iterative graph primitives, checksum/stat
    censuses and the soft TF-IDF join stay JVM-side; the only BNLJ /
    crossJoin shapes are 1-row scalar broadcasts (max-norm, N, grand
    totals)."""
    from kgspark.graph_algs import (
        eigenvector_centrality,
        graphlet_census,
        luby_mis,
    )
    from kgspark.linkrec import tfidf_cosine_pairs
    from kgspark.pii import iban_census
    from kgspark.relops import trend_test
    from kgspark.schema_induce import ucc_discover
    from kgspark.sketch import ams_estimate, ams_sketch

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "src string, dst string",
    )
    ib = spark.createDataFrame(
        [(1, "DE89 3704 0044 0532 0130 00")], "rec_id long, iban string")
    ev = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 20)], "g long, t long, v long")
    recs = spark.createDataFrame(
        [(1, "acme zzz"), (2, "acme zzz")], "rec_id long, text string")

    # strictly no-Python, no-BNLJ ops
    for df in (
        luby_mis(e, rounds=2),
        iban_census(ib),
        trend_test(ev, ["g"], ["t"], "v"),
        tfidf_cosine_pairs(recs),
        ams_sketch(recs.select(F.col("text").alias("token"))),
        ams_estimate(ams_sketch(recs.select(F.col("text").alias("token")))),
    ):
        p = plan(df)
        assert "CartesianProduct" not in p, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p
    # ops with designed 1-row scalar broadcasts (max-norm / N / totals)
    for df, cap in (
        (eigenvector_centrality(e, rounds=2), 2),
        (ucc_discover(spark.createDataFrame(
            [(1, "x")], "id long, a string"), ["id", "a"]), 3),
        (graphlet_census(e), 0),
    ):
        p = plan(df)
        assert "CartesianProduct" not in p, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
        assert p.count("BroadcastNestedLoopJoin") <= cap, p


def test_session8_late_ops_plan_shapes(spark):
    """Second session-8 batch: census/segmentation ops stay JVM-side
    (archive walkers are legitimately Arrow-batched mapInPandas and are
    NOT asserted Python-free); scalar broadcasts capped."""
    from kgspark.keywords import yake_keywords
    from kgspark.pii import gtin_census
    from kgspark.rdf import collection_triples
    from kgspark.relops import abc_classes, concurrency_profile
    from kgspark.textstats import lang_spans
    from kgspark.web import etld1_extract

    docs = spark.createDataFrame(
        [(1, "the of and is Alpha beta"), (2, "der die das ist")],
        "doc_id long, text string")
    iv = spark.createDataFrame(
        [(1, "a", 5, 0, 9)], "g long, item string, v long, s long, e long")
    lists = spark.createDataFrame(
        [("s", "p", ["a", "b"])], "subj string, pred string, items array<string>")

    for df in (
        gtin_census(docs),
        etld1_extract(docs.selectExpr("'a.co.uk' AS host")),
        abc_classes(iv, ["g"], "item", "v"),
        concurrency_profile(iv, ["g"], "s", "e"),
        lang_spans(docs, window=3),
        yake_keywords(docs, k=2),
        collection_triples(lists),
    ):
        p = plan(df)
        assert "CartesianProduct" not in p, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p
    # salsa's per-round joins are keyed; no BNLJ anywhere
    from kgspark.graph_algs import salsa

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    p = plan(salsa(e, rounds=1))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_session8_final_ops_plan_shapes(spark):
    """Final session-8 batch: censuses and walks stay JVM-side; the
    only BNLJ shapes are designed 1-row broadcasts (isotropy's two
    grand totals, homophily's summary, the walk's entry point)."""
    from kgspark.bitext import chrf_pairs
    from kgspark.graph_algs import attribute_assortativity, bowtie_census
    from kgspark.pii import deobfuscated_emails, secret_census
    from kgspark.relops import time_weighted_avg

    docs = spark.createDataFrame(
        [(1, "a [at] b [dot] com AKIA9X7bQ2mPz4Lt8RvWn3Ed")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(1, 0, 0, 10), (1, 1, 5, 20)], "g long, eid long, t long, v long")
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string")
    lab = spark.createDataFrame(
        [("a", "X"), ("b", "X"), ("c", "Y")], "node string, label string")
    pairs = spark.createDataFrame(
        [(1, "abcdef", "abcxyz")], "pair_id long, ref string, hyp string")

    for df in (
        deobfuscated_emails(docs),
        secret_census(docs),
        time_weighted_avg(ev, ["g"], ["t", "eid"], "t", "v"),
        chrf_pairs(pairs),
    ):
        p = plan(df)
        assert "CartesianProduct" not in p, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p
    for df, cap in (
        (attribute_assortativity(e, lab), 1),
        (bowtie_census(e, max_peel=2, max_hops=2), 1),
    ):
        p = plan(df)
        assert "CartesianProduct" not in p, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
        assert p.count("BroadcastNestedLoopJoin") <= cap, p


def test_session8_tail_ops_plan_shapes(spark):
    """Tail session-8 ops: motif ladders and id extraction stay
    JVM-side; isotropy/KS/walk carry only their designed 1-row
    broadcasts."""
    from kgspark.embed import isotropy_report
    from kgspark.graph_algs import clique4_census
    from kgspark.ids import scholarly_ids
    from kgspark.rdf import collection_decode, collection_triples
    from kgspark.relops import ks_two_sample

    docs = spark.createDataFrame(
        [(1, "see doi:10.1000/x and arXiv:1706.03762")],
        "doc_id long, text string")
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string")
    lists = spark.createDataFrame(
        [("s", "p", ["a"])], "subj string, pred string, items array<string>")
    ks = spark.createDataFrame(
        [("a", 1), ("b", 2)], "lab string, v long")

    for df in (
        scholarly_ids(docs),
        clique4_census(e),
        collection_decode(collection_triples(lists), max_len=2),
    ):
        p = plan(df)
        assert "CartesianProduct" not in p, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p
    emb = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3, 0.4])],
        "vec_id long, embedding array<float>")
    for df, cap in (
        (isotropy_report(emb), 2),
        (ks_two_sample(ks, "lab", "v", "a", "b"), 2),
    ):
        p = plan(df)
        assert "CartesianProduct" not in p, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
        assert p.count("BroadcastNestedLoopJoin") <= cap, p


def test_session9_ops_plan_shapes(spark):
    """Round-5 ops: the gear-CDC HOF mode stays JVM-side (no Python
    eval anywhere in the chunk/band/verify plan); the unigram trainer's
    per-round E-step is Arrow-batched (exactly one ArrowEvalPython over
    the word table, never row-at-a-time BatchEvalPython); the IVF-PQ
    probe plan carries only broadcasts, no cartesian scans."""
    from kgspark.multimodal import cdc_near_dups
    from kgspark.similarity import ivfpq_index, ivfpq_probe

    media = spark.createDataFrame(
        [(1, b"abcabcabcabcabcabc"), (2, b"abcabcabcXbcabcabc")],
        "item_id long, payload binary")
    p = plan(cdc_near_dups(media, boundary="gear", threshold_ppm=100))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "CartesianProduct" not in p, p

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0, 0.5]) for i in range(24)],
        "vec_id long, embedding array<float>")
    coded, coarse, book = ivfpq_index(
        emb, nlist=2, m=2, n_centroids=2, in_dim=4)
    p = plan(ivfpq_probe(coded, coarse, book, emb.limit(2),
                         k=2, nprobe=1, m=2, n_centroids=2, in_dim=4))
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_session9_tail_ops_plan_shapes(spark):
    """Session-9 tail ops: the EWMA fold and the FS-EM E-step are pure
    JVM column programs (no Python eval, no cartesian scans); fs_em's
    per-round work is a single map-side aggregate."""
    from kgspark.linkrec import fs_em
    from kgspark.relops import ewma_smooth

    ev = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20)], "g string, t int, v long")
    p = plan(ewma_smooth(ev, ["g"], ["t"], "v", k=2))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "CartesianProduct" not in p, p

    pairs = spark.createDataFrame(
        [(1, 0, 1), (0, 1, 0)], "g1 int, g2 int, g3 int")
    out = fs_em(pairs, ["g1", "g2", "g3"], rounds=1)
    # the returned one-row frame is a local relation; the per-round
    # aggregate already ran — assert the EM made exact-integer updates
    r = out.collect()[0]
    assert r["n_pairs"] == 2 and 0 <= r["pi_ppm"] <= 1_000_000
