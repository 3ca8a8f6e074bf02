"""Vectorized fetch kernel (SURVEY.md §2.1 S3/S4, §2.8 kernel 2).

The reference fetches with one goroutine per URL behind a semaphore
(crawler.go:562-696). Here a whole frontier round is fetched by ONE
``mapInPandas`` pass: each Spark task receives Arrow batches of URLs and
produces (fetch_log ++ spans ++ outlinks) rows. Connection amortization
(the reference's keep-alive pool, crawler.go:182-188) maps to one HTTP
session per task, opened once per partition in the iterator UDF.

Two backends:

* **synthetic** (default, used by tests/bench/oracle parity): every field
  is a pure function of the canonical URL via worldgen — deterministic,
  no network. Numeric fields are computed vectorized; ragged span arrays
  are assembled per row (they are ragged by nature; batches still move
  as Arrow).
* **http** (production path): real GET/HEAD with full request parity —
  the reference's 12 headers + UA rotated by attempt (crawler.go:627-639),
  Referer after first success (crawler.go:640-645), per-task cookie jar
  (crawler.go:177), redirect cap 10 (crawler.go:189-199), timeout 30s
  (crawler.go:180), gzip handled by the client (crawler.go:681-689) —
  and REAL span extraction: HTML bodies run through the X1/X2 walker
  (html_extract.py) so fetched pages emit interleaved spans + outlinks
  that feed the next round's frontier. Tested via an injected mock
  transport (tests/test_http_backend.py) because this sandbox has no
  network; the Spark-side plumbing is identical.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webcrawler_go_spark import worldgen
from webcrawler_go_spark.functions.classify import BLOCKED_STATUSES
from webcrawler_go_spark.schemas import FETCH_RESULT
from webcrawler_go_spark.worldgen import World

_EPOCH = pd.Timestamp("2026-01-01")

# rotating user agents — same *mechanism* as crawler.go:163-174 (values are
# irrelevant to semantics; chosen per-URL-hash for determinism)
USER_AGENTS = [
    "Mozilla/5.0 (X11; Linux x86_64) webcrawler-spark/0.1",
    "Mozilla/5.0 (Macintosh) webcrawler-spark/0.1",
    "Mozilla/5.0 (Windows NT 10.0) webcrawler-spark/0.1",
]


_EPOCH_DAY32 = (_EPOCH.date() - pd.Timestamp("1970-01-01").date()).days


def _synth_arrow(batch: "pa.RecordBatch", world: World) -> "pa.RecordBatch":
    """Arrow-native synthetic fetch: consumes ``worldgen.synth_flat_arrow``
    — the whole batch synthesized as Arrow buffers (one string-hash
    sweep, ragged structure via repeat/cumsum, the per-URL interleave as
    ONE global lexsort, and ALL strings built by Arrow C++ kernels:
    dictionary take + binary_join + cast). Zero per-span Python objects —
    ~5× the original per-row assembly, and the allocator/memory-bus
    pressure that capped multi-core scaling is gone with the ~20M Python
    string objects per 900k URLs the numpy path created."""
    import numpy as np
    import pyarrow as pa

    urls = batch.column("url_norm").to_pylist()
    n = len(urls)
    f = worldgen.synth_flat_arrow(world, urls)
    import pyarrow.compute as pc

    is_err = f["is_err"]
    err_pa = pa.array(is_err)
    status = np.where(is_err, 0, f["status"]).astype(np.int32)
    # ctype is already an Arrow string array — blank it for error rows
    ctype = pc.if_else(err_pa, pa.scalar(""), f["ctype"])
    nbytes = np.where(is_err, 0, f["nbytes"]).astype(np.int64)
    lastmod_valid = (~is_err) & (f["lastmod_days"] >= 0)
    lastmod_days = np.where(
        lastmod_valid, _EPOCH_DAY32 + f["lastmod_days"], 0
    ).astype(np.int32)

    if world.parse_cost:
        # calibrated stand-in for real fetch+parse CPU (see World.parse_cost):
        # L1-resident uint64 sweeps — pure compute, no allocation traffic
        import numpy as np

        buf = np.arange(4096, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for _ in range(world.parse_cost * n // 1):
                buf += np.uint64(0x9E3779B97F4A7C15)
                buf ^= buf >> np.uint64(30)
                buf *= np.uint64(0xBF58476D1CE4E5B9)
                buf ^= buf >> np.uint64(27)

    span_struct = pa.StructArray.from_arrays(
        [
            f["sp_kind"],
            f["sp_text"],
            f["sp_media"],
            pa.array(f["sp_off"], type=pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans_col = pa.ListArray.from_arrays(
        pa.array(f["sp_offsets"].astype(np.int32), pa.int32()), span_struct
    )
    outlinks_col = pa.ListArray.from_arrays(
        pa.array(f["ol_offsets"].astype(np.int32), pa.int32()), f["ol_vals"]
    )

    def _carry(name, typ, default):
        if name in batch.schema.names:
            return batch.column(name).cast(typ)
        if name == "disc_round":
            return batch.column("round").cast(typ)
        return pa.array([default] * n, type=typ)

    return pa.RecordBatch.from_arrays(
        [
            pa.array(urls, type=pa.string()),
            batch.column("url_hash").cast(pa.int64()),
            batch.column("host").cast(pa.string()),
            batch.column("seq").cast(pa.int64()),
            batch.column("round").cast(pa.int32()),
            pa.array(status, type=pa.int32()),
            ctype,
            pa.array(nbytes, type=pa.int64()),
            f["err"],
            pa.array(f["blocked"], type=pa.bool_()),
            pa.array(lastmod_days, type=pa.date32(), mask=~lastmod_valid),
            spans_col,
            outlinks_col,
            _carry("path", pa.string(), ""),
            _carry("disc_round", pa.int32(), 0),
            _carry("parent_seq", pa.int64(), 0),
            _carry("link_pos", pa.int32(), 0),
            _carry("attempts", pa.int32(), 0),
        ],
        names=[f.name for f in FETCH_RESULT.fields],
    )


def fetch_frontier(
    scheduled: DataFrame,
    world: World | None = None,
    backend: str = "synthetic",
    method: str = "GET",
    timeout_s: int = 30,
    max_redirects: int = 10,
    referer_url: str | None = None,
    size_hint: int | None = None,
    chunk: int | None = None,
) -> DataFrame:
    """Fetch a scheduled frontier round.

    ``chunk`` overrides the hot-host rank-chunk salt size (None → the
    default below; the http backend never salts) — the engine passes a sketch-derived
    value so the hottest host spreads over a bounded task count
    regardless of its actual depth.

    ``scheduled`` must carry (url_norm, host, seq, round). Returns
    FETCH_RESULT rows. The kernel is ``mapInPandas`` so each task streams
    Arrow batches; politeness delays / connection reuse are
    per-task-local concerns, so the explicit repartition below hashes by
    HOST — per-host URLs stay co-located while the kernel runs at full
    width. Without it AQE coalesces the small upstream shuffle to a
    handful of partitions (it optimizes shuffle bytes, not Python-kernel
    CPU) and most cores sit idle through the round's dominant stage.
    """
    world = world or World()

    # IPC surface discipline: only columns the kernel reads or carries
    # cross the Arrow boundary (and the host-hash repartition below).
    # ``url`` duplicates url_norm through the spine and
    # ``not_before_round`` is consumed by the scheduler — dropping both
    # thins every fetch-stage exchange and the Python round-trip by
    # ~35% of input bytes.
    _KERNEL_COLS = [
        "url_norm", "url_hash", "host", "path", "seq", "round",
        "disc_round", "parent_seq", "link_pos", "attempts",
    ]
    keep = [c for c in _KERNEL_COLS if c in scheduled.columns]
    scheduled = scheduled.select(*keep)

    sc = scheduled.sparkSession.sparkContext
    par = sc.defaultParallelism or 1
    if par > 1:
        # 3× cores when the kernel has real per-URL CPU (http
        # backend, calibrated parse cost): the kernel stage is the
        # round's dominant CPU and at exactly 1 task/core any
        # host-hash imbalance becomes a straggler tail with idle
        # cores. For the ZERO-parse synthetic kernel the per-task
        # fixed cost (Arrow IPC roundtrip, scheduling) dominates the
        # work itself, so extra tasks are pure overhead — 1× there
        # (measured ~2 s faster over a 6-round 153k-URL loop).
        # ``size_hint`` (free, from the frontier manifest) caps the
        # width for SMALL rounds: 96 near-empty tasks per stage —
        # and per downstream job over the checkpoint — is pure
        # scheduling overhead when the round has a few hundred URLs.
        cpu_heavy = backend != "synthetic" or world.parse_cost > 0
        width = par * (3 if cpu_heavy else 1)
        if size_hint is not None:
            width = max(1, min(width, size_hint // 500 + 1))
        # hot-host spread (round-5 skew bench finding): hashing by
        # host alone puts a mega-host's whole round in ONE task — at
        # 50% frontier skew the fetch stage straggled 2.7× even with
        # the salted RANK in place (the rank was fine; the kernel
        # partitioning was the bottleneck). Salt the partition key
        # with the host-rank chunk (seq's low half = host_rank, rank
        # order preserved within each contiguous chunk) so a host
        # spreads across ceil(n/chunk) tasks. HTTP backend keeps
        # strict co-location: connection reuse + crawl-delay are
        # per-task-local there, and a politely-crawled host never
        # legitimately schedules >chunk URLs in one round anyway.
        if backend == "http":
            chunk = 0
        elif chunk is None:
            chunk = 25000
        if chunk > 0 and "seq" in scheduled.columns:
            salt = (
                F.col("seq").bitwiseAND(F.lit((1 << 32) - 1)) / F.lit(chunk)
            ).cast("long")
            scheduled = scheduled.repartition(width, F.col("host"), salt)
        else:
            scheduled = scheduled.repartition(width, F.col("host"))

    if backend == "synthetic":
        # Arrow-native path (mapInArrow): flat-buffer span construction
        def gen_arrow(batches):
            for b in batches:
                if b.num_rows:
                    yield _synth_arrow(b, world)

        return scheduled.mapInArrow(gen_arrow, schema=FETCH_RESULT)

    if backend == "http":
        gen = _http_kernel(
            method=method,
            timeout_s=timeout_s,
            max_redirects=max_redirects,
            referer_url=referer_url,
        )
    else:
        raise ValueError(f"unknown fetch backend: {backend}")

    return scheduled.mapInPandas(gen, schema=FETCH_RESULT)


# request-header parity with the reference (crawler.go:628-639): the 11
# fixed headers sent with every GET; UA rotates by ATTEMPT (crawler.go:627)
# and Referer joins after the first success (crawler.go:640-645).
BASE_HEADERS = {
    "Accept": "text/html,application/xhtml+xml,application/xml;q=0.9,image/webp,*/*;q=0.8",
    "Accept-Language": "en-US,en;q=0.5",
    "Accept-Encoding": "gzip, deflate, br",
    "DNT": "1",
    "Connection": "keep-alive",
    "Upgrade-Insecure-Requests": "1",
    "Cache-Control": "max-age=0",
    "Sec-Fetch-Dest": "document",
    "Sec-Fetch-Mode": "navigate",
    "Sec-Fetch-Site": "none",
    "Sec-Fetch-User": "?1",
}


def _http_kernel(
    method: str,
    timeout_s: int,
    max_redirects: int,
    referer_url: str | None,
    transport=None,
):
    """Build the per-task http fetch generator.

    * one ``requests.Session`` per task = keep-alive pool + COOKIE JAR
      (crawler.go:177,182-188) — cookies set by a host persist across that
      task's requests;
    * UA rotates by attempt number (crawler.go:627) so the blocked-retry
      path re-presents as a different browser;
    * Referer (= the crawl's start URL) is sent once the task has seen its
      first success — the task-local projection of the reference's global
      ``successfulHit`` flag (crawler.go:640-645);
    * HTML bodies run through the real span walker (html_extract.py) so
      fetch emits X1/X2-parity interleaved spans AND outlinks — a
      production crawl discovers links (round-1 gap: raw body as one span
      with outlinks=[] halted the crawl after round 0);
    * bot-protection body check (crawler.go:1001-1028) marks blocked.

    ``transport`` (tests): a callable(session, method, url, headers) →
    response-like, replacing the network call; None → real session.request.
    """
    from webcrawler_go_spark.functions.classify import BOT_INDICATORS
    from webcrawler_go_spark.operators.doc_extract import (
        docx_paragraphs,
        pdf_text_blocks,
    )
    from webcrawler_go_spark.operators.html_extract import (
        extract_spans_from_html,
    )

    def _doc_spans(ctype: str, content: bytes) -> list[dict] | None:
        """C7 dispatch to the real binary-document extractors (X4/X5):
        parser/pdf.go + parser/docx.go routed by Content-Type
        (crawler.go:703-718). Returns None for non-document types;
        extraction failures yield [] (the parsers' error contract)."""
        try:
            if "application/pdf" in ctype:
                blocks = pdf_text_blocks(content)
            elif "wordprocessingml" in ctype:
                blocks = docx_paragraphs(content)
            else:
                return None
        except Exception:  # noqa: BLE001 — corrupt document: extract nothing
            return []
        return [
            {"kind": "text", "text": t, "media_ref": "", "offset": i}
            for i, t in enumerate(blocks)
        ]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import requests  # deferred: not needed for synthetic runs
        from urllib.parse import urljoin

        session = requests.Session()
        session.max_redirects = max_redirects
        had_success = False

        def do_one(m, url, headers):
            if transport is not None:
                return transport(session, m, url, headers)
            # allow_redirects=False: redirects are OUR loop below (L2),
            # not the library's — the cap must behave identically under
            # injected test transports and real sessions
            return session.request(
                m, url, timeout=timeout_s, headers=headers, allow_redirects=False
            )

        def do_request(m, url, headers):
            """Manual redirect walk — crawler.go:189-199 CheckRedirect
            parity: Go errors once len(via) >= max_redirects requests
            were already made (so at most max_redirects-1 redirects are
            followed), re-sending the FIRST request's headers on every
            hop (the via[0].Header copy). The error string is the Go
            client's, so the taxonomy matches."""
            via = 0
            cur = url
            while True:
                resp = do_one(m, cur, headers)
                loc = (
                    resp.headers.get("Location")
                    if 300 <= resp.status_code < 400
                    else None
                )
                if loc is None:
                    return resp
                if via + 1 >= max_redirects:
                    raise requests.TooManyRedirects(
                        f"stopped after {max_redirects} redirects"
                    )
                cur = urljoin(cur, loc)
                via += 1

        for b in batches:
            out = []

            def _carry(r):
                return (
                    getattr(r, "path", ""),
                    getattr(r, "disc_round", r.round),
                    getattr(r, "parent_seq", 0),
                    getattr(r, "link_pos", 0),
                    getattr(r, "attempts", 0),
                )

            for r in b.itertuples(index=False):
                attempt = int(getattr(r, "attempts", 0))
                headers = dict(BASE_HEADERS)
                headers["User-Agent"] = USER_AGENTS[attempt % len(USER_AGENTS)]
                if had_success and referer_url:
                    headers["Referer"] = referer_url
                try:
                    resp = do_request(method, r.url_norm, headers)
                    ctype = resp.headers.get("Content-Type", "")
                    is_html = "text/html" in ctype
                    is_texty = ctype.startswith("text/") or (
                        "json" in ctype or "xml" in ctype
                    )
                    # decode (charset detection) ONLY for textual bodies —
                    # resp.text over a multi-MB PDF/image is wasted work
                    # producing garbage; binary types go through the C7
                    # dispatch on raw bytes
                    body = resp.text if (method == "GET" and is_texty) else ""
                    bot_blocked = is_html and any(
                        s in body.lower() for s in BOT_INDICATORS
                    )
                    blocked = resp.status_code in BLOCKED_STATUSES or bot_blocked
                    if resp.status_code == 200 and not blocked:
                        had_success = True
                    doc_spans = (
                        None
                        if (blocked or method != "GET")
                        else _doc_spans(ctype, resp.content)
                    )
                    if blocked or method != "GET":
                        spans, outlinks = [], []
                    elif is_html:
                        spans = extract_spans_from_html(body)
                        # hrefs resolve against the PAGE URL (C2,
                        # crawler.go:966-975) — relative links are most of
                        # a real site's links; unresolved they canonicalize
                        # to a hostless URL the same-host filter drops,
                        # silently truncating the crawl after round 0
                        outlinks = [
                            urljoin(r.url_norm, s["media_ref"])
                            for s in spans
                            if s["kind"] == "link"
                        ]
                    elif doc_spans is not None:
                        spans, outlinks = doc_spans, []
                    else:
                        outlinks = []
                        spans = (
                            [{"kind": "text", "text": body, "media_ref": "", "offset": 0}]
                            if body
                            else []
                        )
                    out.append(
                        (
                            r.url_norm,
                            r.url_hash,
                            r.host,
                            r.seq,
                            r.round,
                            resp.status_code,
                            ctype,
                            len(resp.content),
                            None,
                            blocked,
                            None,
                            spans,
                            outlinks,
                            *_carry(r),
                        )
                    )
                except Exception as exc:  # noqa: BLE001 — taxonomy below
                    out.append(
                        (
                            r.url_norm,
                            r.url_hash,
                            r.host,
                            r.seq,
                            r.round,
                            0,
                            "",
                            0,
                            str(exc),
                            False,
                            None,
                            [],
                            [],
                            *_carry(r),
                        )
                    )
            yield pd.DataFrame(
                out, columns=[f.name for f in FETCH_RESULT.fields]
            )

    return gen
