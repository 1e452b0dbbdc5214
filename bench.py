#!/usr/bin/env python3
"""Catalog benchmark: one timed pass over ``BENCH_QUERIES`` at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS], plus the host link
graph (``web.linkgraph.host_pagerank``), which no other harness times.

Prints the full summary, then a compact JSON line that ends stdout;
the full per-query record also goes to the untracked
``BENCH/last_bench.json``.  Pipeline and update throughput are
perfbench's ``crawl_build`` and ``recrawl`` workloads
(``python3 perfbench/run.py --workload crawl_build``); scaling across
parallelism levels is ``scripts/scaling_bench.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# synthetic pages behind the link graph
LINK_GRAPH_PAGES = 3000


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("mhdb-tables2turtles-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        # fixture/stage outputs are ~100-500MB: the 128m default packs
        # them into 1-2 scan tasks and serializes every map side; at
        # 100TB the default is right, at bench scale it must be smaller
        # so scans parallelize across the cores we're measuring
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .getOrCreate()
    )


# catalog queries timed per-run (forced with .count()); one
# representative per operator family — the full catalog is exercised by
# the correctness gate, not the bench
BENCH_QUERIES = (
    "kg_mentions",
    "kg_triples",
    "kg_cooccurrence",
    "w1_running_counter",
    "w2_rdf_seq",
    "j5_reln_dispatch",
    "pricing_summary",
    "nation_revenue",
    "top_orders_per_customer",
    "dedup_minhash",
    "dedup_simhash",
    "jaccard_pairs",
    "text_token_stats",
    "text_fingerprint",
    "embed_topk",
    "embed_ann",
    "multimodal_sniff",
    # round-2 workbook-operator families
    "sheet_disorder_compound",
    "assessment_questions",
    # round-2 graph / cleaning / session families
    "kg_pagerank",
    "embed_ivf",
    "text_pii",
    "segment_dedup",
    "event_sessions",
    "dedup_clusters",
    "events_asof",
    "decontaminate",
    # round-3 additions
    "url_canonical",
    "text_lm_surprise",
    "kg_hops",
    "events_range_join",
    "kg_lpa",
    "kg_link_predict",
    "mix_weights",
    "ann_recall",
    "corpus_curation",
    # round-4 additions
    "dedup_incremental",
    "text_line_repetition",
    "kg_star_join",
    "kg_triple_diff",
    "kg_kcore",
    "events_snapshot",
    "kg_components_incremental",
    "kg_chain_join",
    "kg_clustering",
    "kg_optional_join",
    "events_rollup",
    "kg_edge_lift",
    "kg_degree_hist",
    "kg_bgp_compile",
    "kg_construct_rule",
    "kg_property_table",
    # round-4b: SPARQL algebra, inference, shapes, personalization
    "kg_union_join",
    "kg_minus_filter",
    "kg_path_closure",
    "kg_rdfs_closure",
    "kg_shacl_report",
    "kg_ppr",
    "kg_canonical_triples",
    # round-4c: link analysis, dataset stats, provenance, OWL, stats
    "kg_hits",
    "kg_void_stats",
    "kg_rule_support",
    "kg_reciprocity",
    "kg_owl_closure",
    "kg_group_agg",
    "kg_char_sets",
    "kg_path_query",
    "kg_bgp_optimized",
    "kg_describe",
    "kg_assortativity",
    "kg_named_graphs",
    "kg_values_bind",
    # round-4d: global graph structure (directed web-graph analytics)
    "kg_scc",
    "kg_bowtie",
    "kg_neighborhood",
    "kg_top_entities",
    "kg_ask",
    "kg_filter_exists",
    "kg_subquery",
    "kg_shacl_path",
    "kg_walks",
    "kg_skipgram",
    "text_kn_lm",
    "text_bpe",
    "text_bpe_encode",
    "kg_closeness",
    "kg_cocitation",
    "text_cdc_dedup",
    "kg_harmonic",
    "kg_adamic_adar",
    "events_rollup_refresh",
)


def time_link_graph(spark, partitions: int) -> float:
    """Host-level link-graph build + directed PageRank over a linked
    synthetic corpus of ``LINK_GRAPH_PAGES`` pages (pre-materialized,
    generation untimed)."""
    from mhdb_tables2turtles_spark.web.linkgraph import host_pagerank
    from mhdb_tables2turtles_spark.web.pages import synthesize_pages

    tmp = tempfile.mkdtemp(prefix="bench_links_")
    try:
        path = os.path.join(tmp, "corpus")
        synthesize_pages(
            spark,
            LINK_GRAPH_PAGES,
            seed=42,
            partitions=partitions,
            with_links=True,
        ).write.mode("overwrite").parquet(path)
        pages = spark.read.parquet(path)
        t0 = time.time()
        host_pagerank(pages, iterations=5).count()
        return round(time.time() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from mhdb_tables2turtles_spark.queries import QUERIES

    # one untimed warmup: JVM/codegen warmup and Python-worker spin-up
    # otherwise land on whichever query runs first
    QUERIES["kg_mentions"](spark, sf_dir).count()

    per_query: dict[str, float] = {}
    for name in BENCH_QUERIES:
        t0 = time.time()
        QUERIES[name](spark, sf_dir).count()
        per_query[name] = round(time.time() - t0, 3)
    per_query["web_link_graph"] = time_link_graph(spark, partitions=cpus * 2)

    summary = {
        "metric": "bench_total_seconds",
        "value": round(sum(per_query.values()), 2),
        "unit": "sec",
        "queries": per_query,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
    }
    # The driver's tail capture keeps only the LAST ~2000 chars of
    # stdout and json-parses the final line; the full per-query dict
    # (85+ entries) overflows that window (BENCH_r04 "parsed": null).
    # So: persist the full summary to disk, print it on an early line
    # for human logs, and END with a compact line that always fits —
    # totals + the slowest queries + a pointer to the full file.
    # The artifact write may not sink the run: on a read-only checkout
    # the timings must still reach stdout (the driver's only channel).
    here = os.path.dirname(os.path.abspath(__file__))
    out_path = os.path.join(here, "BENCH", "last_bench.json")
    try:
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w", encoding="utf-8") as f:
            json.dump(summary, f)
    except OSError:
        pass
    print(json.dumps(summary))
    compact = dict(summary)
    compact["queries"] = dict(
        sorted(per_query.items(), key=lambda kv: -kv[1])[:12]
    )
    compact["n_queries"] = len(per_query)
    compact["queries_path"] = "BENCH/last_bench.json"
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
