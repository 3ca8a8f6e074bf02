"""Dump formatted physical plans of the engine's key queries.

    python tools/dump_plans.py                      # QUERIES below → PLANS.md
    python tools/dump_plans.py --out-dir plans/r08 --suffix _after \
        --sf <sf dir> webdata_pipeline lang_id

With no ``--out-dir`` the plans of the named queries (default: QUERIES)
go into PLANS.md, each cut at 600 lines: concrete evidence for the
plan-shape claims in BENCH.md (pushed filters, pruned read schemas,
broadcast joins, codegen spans). With ``--out-dir`` each plan is written
whole to ``<out-dir>/<query><suffix>.txt``, the layout of the round-8
before/after evidence in plans/r08. Build-time eager work (checkpoints)
runs as usual.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.01"
QUERIES = [
    "substring_search",
    "visited_dedup",
    "per_host_fetch_order",
    "politeness_budget_topk",
    "robots_filter",
    "dedup_minhash_lsh",
    "embedding_ann_lsh",
    "embedding_ann_lsh_banded",
    "dedup_embedding_semantic",
    "dedup_semantic_closure",
    "embedding_ivf_topk",
    "sample_stratified",
    "sitemap_output",
    "media_decode_png",
    "media_cmyk_transform",
    # round 4
    "ngram_contamination",
    "boilerplate_ngrams",
    "redirect_chain",
    "pdf_filters_extract",
    "lang_id",
    # round 5
    "duplicate_passages",
    "tfidf_top_terms",
    "pagerank",
    "extract_links_rendered",
    "media_tiff_container",
    "media_pdf_cmyk_wrap",
    "embedding_cosine_tiled",
    "pack_sequences",
    "mixture_resample",
    "bm25_retrieval",
    "bigram_lm_scores",
    "bpe_encode_corpus",
    "embedding_pq_topk",
    "embedding_pq_rerank",
    "spider_trap_detect",
    "recrawl_schedule",
    "quality_classifier",
    "urlseen_hll",
    "host_url_hll",
    "cms_heavy_hitters",
    "fetch_latency_quantiles",
    "bloom_seen_audit",
    "cuckoo_requeue_audit",
    # round 6
    "embedding_ivfpq_topk",
    "embedding_ivfpq_rerank",
    "warc_source_split",
    "adaptive_fetch_width",
    "webdata_pipeline",
    "adaptive_budget",
    "html_text_extract",
    "perplexity_buckets",
    "hits_scores",
    "token_budget_fill",
    # round 7
    "embedding_ivfpq_query_only",
]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("queries", nargs="*", default=QUERIES)
    ap.add_argument("--sf", default=SF, help="sf dir the queries read")
    ap.add_argument("--out-dir", help="one <query><suffix>.txt per query here")
    ap.add_argument("--suffix", default="")
    args = ap.parse_args()

    from webcrawler_go_spark.session import get_spark
    import __spark_entry__ as m

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    qs = m.queries()

    def plan_of(name: str) -> str:
        df = qs[name](spark, args.sf)
        return df._jdf.queryExecution().explainString(mode).strip()

    if args.out_dir:
        os.makedirs(args.out_dir, exist_ok=True)
        for name in args.queries:
            path = os.path.join(args.out_dir, f"{name}{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(plan_of(name) + "\n")
            print("wrote", path)
        spark.stop()
        return

    out = [
        "# PLANS — formatted physical plans of key queries (sf0.01)",
        "",
        "Generated by `python tools/dump_plans.py`. What to look for:",
        "`PushedFilters` reaching the parquet scans, `ReadSchema` pruned to",
        "referenced columns, `BroadcastHashJoin` for small dims, wide",
        "`WholeStageCodegen` spans, and no shuffle that the query shape",
        "doesn't require.",
        "",
    ]
    # iterative plans (Lloyd loops) explode to 10k+ lines of repeated
    # sub-tree; the operator/exchange inventory a reviewer needs is in
    # the head. Cap per query, with the cut stated.
    max_lines = 600
    for name in args.queries:
        plan = plan_of(name)
        lines = plan.splitlines()
        if len(lines) > max_lines:
            plan = "\n".join(lines[:max_lines]) + (
                f"\n... (truncated: {len(lines)} total lines; the tail "
                "repeats the iterative sub-tree shown above)"
            )
        out.append(f"## {name}\n\n```\n{plan}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
