"""Crawl configuration — the Spark analogue of the reference Config struct
(reference crawler.go:102-118). A plain dataclass; small enough to ship to
executors inside UDF closures (Spark broadcasts task binaries), so no
explicit ``sc.broadcast`` is needed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# links a page contributes to the frontier, in document order: link_pos
# is 16 bits of the packed crawl-order key (extract.next_frontier_candidates)
MAX_OUTLINKS = 1 << 16

# a round whose frontier holds more rows ranks its politeness Window in
# two salted phases (politeness.schedule_round); below it one phase is
# strictly cheaper
SALT_THRESHOLD = 200_000

# AIMD politeness budgets (scheduling.aimd_budgets): the additive-increase
# cap and the sliding window of per-host rounds the ledger keeps
AIMD_MAX_BUDGET = 100
AIMD_WINDOW = 8


@dataclass(frozen=True)
class CrawlConfig:
    start_url: str = ""
    alt_entry_points: tuple[str, ...] = ()
    mode: str = "search"              # search|broken-links|oversized-images|sitemap|capture|feed
    search_target: str = ""
    max_concurrency: int = 20          # reference cap, main.go:476-481
    image_size_threshold_kb: int = 100  # main.go:498 (KB → *1024 bytes)
    max_retries: int = 3               # main.go:483
    retry_delay_s: int = 2             # main.go:500; linear backoff crawler.go:586-588
    retry_blocked_pages: bool = True
    blocked_retry_passes: int = 3      # main.go:502
    path_filter: str = ""              # main.go:62-89
    ignore_query_params: bool = False  # crawler.go:1052-1054
    max_rounds: int = 10               # batch-iterative loop bound (engine-side)
    default_host_budget: int = 20      # per-host fetches per round (W2)
    same_host_only: bool = True        # crawler.go:984-987
    # capture-mode rendered-DOM links feed the frontier (pdfcapture.go:
    # 440-467); rendered links are same-DOMAIN unconditionally there
    render_links: bool = False
    extra: dict = field(default_factory=dict, hash=False, compare=False)
