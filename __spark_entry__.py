"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship "one crawl round" spine on sf0.001.
``queries()`` exposes one DataFrame query per implemented operator from
SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.
Both are views over ``webcrawler_go_spark.queries``, where each query is
declared once, next to its oracle, in its family's module.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the engine package lives next to this file; make imports work no matter
# which cwd the driver invokes from
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from webcrawler_go_spark.queries import REGISTRY
from webcrawler_go_spark.queries.common import canon_corpus
from webcrawler_go_spark.queries.urls import _frontier

SF_DEFAULT = "/root/testdata/sf0.001"

# The driver records only the first 50 entries of queries(), so the
# order is kept explicit here.
QUERY_ORDER = (
    "adaptive_crawl",
    "embedding_ivfpq_query_only",
    "webdata_pipeline",
    "token_budget_fill",
    "html_text_extract",
    "warc_source",
    "warc_cdx_index",
    "warc_source_split",
    "hits_scores",
    "crawl_multiround",
    "resume_crawl",
    "adaptive_fetch_width",
    "streaming_crawl",
    "capture_crawl",
    "redirect_chain",
    "head_probe",
    "pack_sequences",
    "pagerank",
    "dedup_semantic_closure",
    "mixture_resample",
    "pdf_text_extract",
    "pdf_cid_extract",
    "pdf_filters_extract",
    "docx_text_extract",
    "global_counters",
    "status_histogram",
    "error_taxonomy",
    "derived_rates",
    "frontier_union",
    "same_host_filter",
    "broken_links",
    "image_size_threshold",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "robots_filter",
    "retry_backoff_filter",
    "bot_protection",
    "bot_protection_sitemap",
    "pagination_synthesis",
    "archive_url_generation",
    "token_counts",
    "doc_fingerprint",
    "media_decode_wav",
    "media_metadata",
    "boilerplate_ngrams",
    "text_repetition",
    "text_normalize",
    "sample_stratified",
    "pii_scrub",
    "ngram_contamination",
    "embedding_ivfpq_topk",
    "embedding_ivfpq_rerank",
    "adaptive_budget",
    "perplexity_buckets",
    "bpe_merges",
    "bm25_retrieval",
    "embedding_pq_topk",
    "embedding_pq_rerank",
    "dsir_importance",
    "bigram_lm_scores",
    "bpe_encode_corpus",
    "spider_trap_detect",
    "recrawl_schedule",
    "quality_classifier",
    "urlseen_hll",
    "host_url_hll",
    "cms_heavy_hitters",
    "fetch_latency_quantiles",
    "bloom_seen_audit",
    "cuckoo_requeue_audit",
    "events_window_agg",
    "events_sessionize",
    "events_error_rate",
    "headline_filename",
    "resolve_reference",
    "lastmod_date_parse",
    "targets_file_source",
    "dedup_jaccard_pairs",
    "dedup_simhash_pairs",
    "url_hash31",
    "visited_dedup",
    "per_host_fetch_order",
    "per_host_fetch_sequence",
    "politeness_budget_topk",
    "props_json_extract",
    "feed_field_coalesce",
    "tag_filter",
    "media_tiff_container",
    "media_pdf_cmyk_wrap",
    "url_canonicalize",
    "rendered_dom_source",
    "extract_links_rendered",
    "streaming_append_sink",
    "duplicate_passages",
    "tfidf_top_terms",
    "embedding_cosine_tiled",
    "media_frame_sample",
    "lang_id",
    "text_quality",
    "embedding_ivf_topk",
    "embedding_ann_lsh_banded",
    "embedding_ann_topk",
    "embedding_ann_lsh",
    "dedup_embedding_semantic",
    "embedding_cosine_pairs",
    "curation_pipeline",
    "substring_search",
    "media_decode_png",
    "media_cmyk_transform",
    "streaming_window_agg",
    "sitemap_output",
    "truncate_ellipsis",
    "filename_sanitize",
    "gzip_decode",
    "feed_capture_join",
    "csv_sink",
    "robots_parse",
    "dedup_exact",
    "status_class_predicate",
    "scheme_filter",
    "extension_skip_filter",
    "path_prefix_filter",
    "html_only_filter",
    "content_type_dispatch",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].build for name in QUERY_ORDER}


def oracle_sql() -> dict[str, str]:
    return {name: REGISTRY[name].oracle_sql() for name in QUERY_ORDER}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ONE crawl round end-to-end on sf0.001 (SURVEY §7.2) —
    canonicalize → in-round dedup → anti-join seen → per-host Window rank →
    budget top-k → vectorized synthetic fetch → per-host report."""
    from webcrawler_go_spark.operators.fetch import fetch_frontier

    sf = SF_DEFAULT
    fr = _frontier(spark, sf).withColumn(
        "url_hash", F.xxhash64("url_norm")
    )
    seen = (
        canon_corpus(spark, sf)
        .filter(F.col("k") % 3 == 0)
        .select(F.xxhash64("url_norm").alias("url_hash"), "url_norm")
        .distinct()
    )
    from webcrawler_go_spark.operators.dedup import dedup_against_seen

    new = dedup_against_seen(fr.dropDuplicates(["url_hash", "url_norm"]), seen)
    w = Window.partitionBy("host").orderBy(
        "round", "parent_seq", "link_pos", "url_hash"
    )
    scheduled = (
        new.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= 20)
        .withColumn("seq", F.col("host_rank").cast("long"))
        .withColumn("round", F.lit(0))
    )
    fetched = fetch_frontier(scheduled)
    return fetched.groupBy("host").agg(
        F.count("*").alias("fetched"),
        F.sum(F.when((F.col("status") == 200) & (~F.col("blocked")), 1).otherwise(0)).alias("ok"),
        F.sum(F.size("outlinks")).alias("links_discovered"),
        F.sum("bytes").alias("bytes"),
    )
