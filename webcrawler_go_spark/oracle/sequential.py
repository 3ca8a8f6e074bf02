"""Plain-Python sequential crawl oracle (SURVEY.md §5.2.3).

Reimplements the reference's *semantics* — BFS frontier,
document-order link discovery, first-discovery-wins dedup
(crawler.go:562-577), blocked-retry with visited.Delete
(crawler.go:303-336), linear retry backoff (crawler.go:586-588) — over
the SAME deterministic worldgen as the Spark engine, under the SAME
politeness budgets. Its outputs are the parity targets:

* ``seen``      — final URL-seen set,
* ``sequences`` — per-host ordered fetch sequences,
* ``documents`` — doc_id → span sequence (kind, text, media_ref, offset).

No Spark imports; everything is lists/dicts so the test can diff
directly against the engine's DataFrames.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from webcrawler_go_spark import worldgen
from webcrawler_go_spark.config import (
    AIMD_MAX_BUDGET,
    AIMD_WINDOW,
    MAX_OUTLINKS,
    CrawlConfig,
)
from webcrawler_go_spark.worldgen import World

_NO_RETRY_ERRORS = ("no such host",)
_BLOCKED_STATUSES = (403, 503, 429)


@dataclass
class OracleResult:
    seen: set[str] = field(default_factory=set)
    sequences: dict[str, list[str]] = field(default_factory=dict)
    documents: dict[str, list[tuple]] = field(default_factory=dict)
    fetch_log: list[dict] = field(default_factory=list)
    # final budget dim under adaptive_budget (host → budget after the
    # last round boundary) — the engine-parity target for AIMD
    budgets: dict[str, int] = field(default_factory=dict)


def _host_of(url: str) -> str:
    return url.split("://", 1)[1].split("/", 1)[0].lower()


def phase1_frontier(start_url: str, alt_entry_points: list[str]) -> list[dict]:
    """Alt-entry-point initial frontier (crawler.go:252-264): alts at
    round 0, the main URL pre-queued as blocked (attempts=1, nbr=1)."""
    rows = [
        {
            "url": u,
            "round": 0,
            "parent_seq": 0,
            "link_pos": i,
            "attempts": 0,
            "not_before_round": 0,
        }
        for i, u in enumerate(alt_entry_points)
    ]
    rows.append(
        {
            "url": start_url,
            "round": 0,
            "parent_seq": 0,
            "link_pos": len(alt_entry_points),
            "attempts": 1,
            "not_before_round": 1,
        }
    )
    return rows


def crawl(
    world: World,
    seeds: list[dict],
    cfg: CrawlConfig,
    budgets: dict[str, int] | None = None,
    max_rounds: int = 10,
    initial_frontier: list[dict] | None = None,
    adaptive_budget: bool = False,
    aimd_hot_milli: int = 200,
) -> OracleResult:
    budgets = dict(budgets or {})
    # AIMD parity mirror of CrawlEngine._aimd_rebalance /
    # scheduling.aimd_budgets: per-host (fetched, errors, blocked) per
    # round; at each round boundary every host with ≥1 counter row in
    # the sliding window gets the recurrence from base (missing rounds
    # count clean), hosts with none revert to the default budget.
    health: dict[str, dict[int, list[int]]] = {}
    res = OracleResult()
    # frontier rows: (disc_round, parent_seq, link_pos, url, attempts, nbr)
    frontier = initial_frontier or [
        {
            "url": s["url"],
            "round": 0,
            "parent_seq": 0,
            "link_pos": s["seq"],
            "attempts": 0,
            "not_before_round": 0,
        }
        for s in seeds
    ]
    for r in range(max_rounds):
        if not frontier:
            break
        ready = [f for f in frontier if f["not_before_round"] <= r]
        deferred = [f for f in frontier if f["not_before_round"] > r]

        # first-discovery-wins within the round (J1 in-round)
        best: dict[str, dict] = {}
        for f in ready:
            k = f["url"]
            key = (f["round"], f["parent_seq"], f["link_pos"])
            if k not in best or key < (
                best[k]["round"],
                best[k]["parent_seq"],
                best[k]["link_pos"],
            ):
                best[k] = f
        # cross-round dedup (J1): seen check
        new = [f for f in best.values() if f["url"] not in res.seen]

        # per-host rank + budget (W1+W2)
        by_host: dict[str, list[dict]] = {}
        for f in new:
            by_host.setdefault(_host_of(f["url"]), []).append(f)
        scheduled, overflow = [], []
        for host, rows in by_host.items():
            rows.sort(key=lambda f: (f["round"], f["parent_seq"], f["link_pos"]))
            b = budgets.get(host, cfg.default_host_budget)
            for rank, f in enumerate(rows, start=1):
                if rank <= b:
                    f = dict(f)
                    f["seq"] = (r << 32) | rank
                    f["host"] = host
                    scheduled.append(f)
                else:
                    f = dict(f)
                    f["not_before_round"] = r + 1
                    overflow.append(f)

        requeued: list[dict] = []
        children: list[dict] = []
        for f in scheduled:
            url = f["url"]
            res.seen.add(url)  # LoadOrStore before fetch
            err = worldgen.error_class_of(world, url)
            status = 0 if err else worldgen.status_of(world, url)
            spans = (
                worldgen.spans_of(world, url)
                if (err is None and status == 200)
                else []
            )
            body_blocked = any(
                worldgen.BOT_PHRASE in t for k, t, _m, _o in spans if k == "text"
            )
            blocked = (status in _BLOCKED_STATUSES) or body_blocked
            res.sequences.setdefault(f["host"], []).append(url)
            res.fetch_log.append(
                {"url": url, "host": f["host"], "round": r, "seq": f["seq"],
                 "status": status, "error_class": err, "blocked": blocked}
            )
            if adaptive_budget:
                hh = health.setdefault(f["host"], {}).setdefault(r, [0, 0, 0])
                hh[0] += 1
                if err is not None:
                    hh[1] += 1
                elif blocked:
                    hh[2] += 1
            retry = False
            if err is not None and err not in _NO_RETRY_ERRORS:
                retry = f["attempts"] + 1 <= cfg.max_retries
            elif blocked and cfg.retry_blocked_pages:
                retry = f["attempts"] + 1 <= cfg.blocked_retry_passes
            if retry:
                res.seen.discard(url)  # visited.Delete (crawler.go:316)
                requeued.append(
                    {
                        "url": url,
                        "round": f["round"],
                        "parent_seq": f["parent_seq"],
                        "link_pos": f["link_pos"],
                        "attempts": f["attempts"] + 1,
                        # linear backoff in rounds: retry k eligible k rounds
                        # later (crawler.go:586-588 RetryDelay*attempt)
                        "not_before_round": r + f["attempts"] + 1,
                    }
                )
                continue
            if err is not None or status != 200 or blocked:
                continue
            res.documents[url] = spans
            # children in document order (X1), same-host filter (F1);
            # the first MAX_OUTLINKS links only, as the engine
            pos = 0
            for kind, _t, media, _o in spans:
                if kind != "link":
                    continue
                if pos == MAX_OUTLINKS:
                    break
                href = media
                if cfg.same_host_only and _host_of(href) != f["host"]:
                    pos += 1
                    continue
                children.append(
                    {
                        "url": href,
                        "round": r + 1,
                        "parent_seq": f["seq"],
                        "link_pos": pos,
                        "attempts": 0,
                        "not_before_round": r + 1,
                    }
                )
                pos += 1
            if getattr(cfg, "render_links", False):
                # capture mode: rendered-DOM links after the static ones
                # (pdfcapture.go:440-467) — same-DOMAIN unconditionally,
                # TrimSpace + skip-empty, path filter; link_pos =
                # RENDER_LINK_POS_BASE + pre-filter document-order index
                from webcrawler_go_spark.worldgen import RENDER_LINK_POS_BASE

                raw = worldgen.rendered_links_raw(world, url)
                for rpos, entry in enumerate(raw.split("\n")):
                    href = entry.strip()
                    if not href or _host_of(href) != f["host"]:
                        continue
                    if cfg.path_filter:
                        path = "/" + href.split("://", 1)[1].split("/", 1)[1] \
                            if "/" in href.split("://", 1)[1] else "/"
                        if not path.startswith(cfg.path_filter):
                            continue
                    children.append(
                        {
                            "url": href,
                            "round": r + 1,
                            "parent_seq": f["seq"],
                            "link_pos": RENDER_LINK_POS_BASE + rpos,
                            "attempts": 0,
                            "not_before_round": r + 1,
                        }
                    )
        frontier = children + deferred + requeued + overflow
        if adaptive_budget:
            lo = max(0, r + 1 - AIMD_WINDOW)
            new_budgets: dict[str, int] = {}
            for host, rounds in health.items():
                window_rows = {rr: rounds[rr] for rr in rounds if rr >= lo}
                if not window_rows:
                    continue  # no evidence in window → default budget
                b = cfg.default_host_budget
                for rr in range(lo, r + 1):
                    row = window_rows.get(rr)
                    bad = row is not None and (
                        (row[1] + row[2]) * 1000 >= row[0] * aimd_hot_milli
                    )
                    b = max(1, b // 2) if bad else min(AIMD_MAX_BUDGET, b + 1)
                new_budgets[host] = b
            budgets = new_budgets
            res.budgets = dict(new_budgets)
    return res
