"""Deterministic synthetic web world (FIXTURES.md §1-§7, determinism rules).

Every observable of a "fetch" is a pure function of the canonical URL and
the world seed — no network, no wall clock. The SAME functions back:

* the Spark fetch kernel (operators/fetch.py, mapInPandas) — numeric parts
  vectorized in numpy, span assembly per row (unavoidable for ragged
  arrays; still Arrow-batched end-to-end);
* the sequential parity oracle (oracle/sequential.py) — scalar calls;
* fixture datagen (datagen.py).

So Spark run, re-run, resumed run and the plain-Python BFS oracle all see
byte-identical "responses", which is what makes the north rule's
crawl-order / URL-seen-set / span-sequence parity checkable.

World shape:
* hosts ``host-%04d.test``; host popularity is quadratically skewed so a
  hot host exists at every scale (skew/salting tests, SURVEY §4.1);
* pages ``/page/<n>`` with n bounded per host so BFS closes;
* per page: 1-20 text spans, 0-8 media spans, 0-30 outlinks interleaved in
  deterministic document order (mirrors the reference's DOM-order walks,
  crawler.go:957-999, 890-910);
* status mix: 88% 200, 4% 404, 3% 403, 2% 503, 1% 429, 2% 301
  (FIXTURES.md §7); ~1% of 200-pages carry a bot-protection phrase.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

from webcrawler_go_spark.hashing import splitmix64, str_hash64 as _str_hash64_raw

# Every synthesized field re-derives from the URL's base hash; caching it
# turns ~10 FNV passes per URL into 1 (the fetch kernel touches each URL
# once for status, type, bytes, error, lastmod, spans, links...).
str_hash64 = lru_cache(maxsize=65536)(_str_hash64_raw)

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu crawl frontier spider index fetch parse"
).split()

SEARCH_NEEDLE = "needle-in-haystack"
BOT_PHRASE = "checking your browser"  # crawler.go:1003 indicator

_STATUS_TABLE = (
    [200] * 88 + [404] * 4 + [403] * 3 + [503] * 2 + [429] * 1 + [301] * 2
)

_MEDIA_EXT = ["jpg", "png", "pdf", "docx", "gif"]


@dataclass(frozen=True)
class World:
    seed: int = 42
    n_hosts: int = 64
    pages_per_host: int = 200
    same_host_pct: int = 85  # FIXTURES.md rule 3
    max_links: int = 30
    max_text_spans: int = 20
    max_media_spans: int = 8
    # calibrated CPU cost per fetched URL (passes of an L1-resident
    # splitmix sweep, ~10µs each): stands in for the fetch+parse CPU a
    # real crawler spends per page (lxml parse of ~100 KB HTML ≈ 1-5 ms).
    # 0 = pure synthesis. Used by scaling benchmarks so the sandbox job
    # has realistic per-URL compute rather than being allocation-bound.
    parse_cost: int = 0


def _h(world: World, url: str, salt: int = 0) -> int:
    return splitmix64(str_hash64(url) ^ (world.seed * 0x9E3779B97F4A7C15 + salt) & ((1 << 64) - 1))


def host_name(i: int) -> str:
    return f"host-{i:04d}.test"


def page_url(host_i: int, page_i: int) -> str:
    return f"https://{host_name(host_i)}/page/{page_i}"


def skewed_host(world: World, r: int) -> int:
    """Quadratic skew: host 0 is the hot host (Zipf-like, FIXTURES rule 3)."""
    u = (r % 10_000) / 10_000.0
    return int(world.n_hosts * u * u) % world.n_hosts


def seeds(world: World, n: int = 8) -> list[dict]:
    """Fixed seed list across distinct hosts (FIXTURES.md §2)."""
    out = []
    for s in range(n):
        hi = (s * max(1, world.n_hosts // n)) % world.n_hosts
        out.append(
            {
                "url": page_url(hi, 0),
                "priority": round((splitmix64(world.seed + s) % 1000) / 1000.0, 3),
                "seq": s,
            }
        )
    return out


def status_of(world: World, url: str) -> int:
    return _STATUS_TABLE[_h(world, url, 1) % 100]


def bytes_of(world: World, url: str) -> int:
    """Log-normal-ish body size from hash bits (drives oversized checks)."""
    h = _h(world, url, 2)
    base = 500 + (h % 8000)
    burst = 1 << ((h >> 13) % 8)  # 1..128 multiplier
    return base * burst


def content_type_of(world: World, url: str) -> str:
    r = _h(world, url, 3) % 100
    if r < 88:
        return "text/html"
    if r < 92:
        return "application/pdf"
    if r < 95:
        return (
            "application/vnd.openxmlformats-officedocument."
            "wordprocessingml.document"
        )
    return "image/jpeg"


def error_class_of(world: World, url: str) -> str | None:
    """~3% of fetches fail at the network layer (crawler.go:1030-1042)."""
    r = _h(world, url, 4) % 1000
    if r < 970:
        return None
    return ["timeout", "connection refused", "no such host", "certificate"][r % 4]


def _words(h: int, n: int) -> str:
    out = []
    for i in range(n):
        out.append(_WORDS[splitmix64(h + i) % len(_WORDS)])
    return " ".join(out)


def _host_page_of(url: str) -> tuple[int, int]:
    """Parse (host_id, page_id) from the world's URL grammar
    ``https://host-%04d.test/page/%d``; arbitrary URLs (the engine also
    fetches corpus-derived URLs in oracle queries) fall back to
    hash-derived ids so every URL has a stable identity."""
    import re

    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://host-(\d+)\.test(?:/page/(\d+))?/?$", url)
    if m:
        return int(m.group(1)), int(m.group(2) or 0)
    h = str_hash64(url)
    return h % 10_000, (h >> 16) % 10_000


def outlinks_of(world: World, url: str) -> list[str]:
    """Outlink URLs in document order. ~same_host_pct% same-host (F1 tests
    the rest), targets bounded to pages_per_host so the graph closes."""
    if status_of(world, url) != 200 or content_type_of(world, url) != "text/html":
        return []
    hi, _ = _host_page_of(url)
    h = _h(world, url, 6)
    n = h % (world.max_links + 1)
    links = []
    for i in range(n):
        hh = splitmix64(h ^ (i * 0x5851F42D4C957F2D + 0x14057B7EF767814F))
        if hh % 100 < world.same_host_pct:
            th = hi
        else:
            th = skewed_host(world, hh >> 7)
        tp = (hh >> 17) % world.pages_per_host
        links.append(page_url(th, tp))
    return links


# capture-mode crawl order: rendered links sort AFTER every static link
# of the same parent (static link_pos is bounded by the page's span
# count) — shared by the Spark engine and the sequential parity oracle
RENDER_LINK_POS_BASE = 1 << 20


def rendered_dom_hrefs(world: World, url: str) -> list[str]:
    """Raw ``a[href]`` values of the page's post-JS DOM — the
    deterministic fake renderer (same honest-stub policy as the video
    decoder: the real path needs headless Chrome, absent here; the
    Spark-side plumbing is real and this fake is shared byte-for-byte by
    the kernel and the golden oracle). The fake DOM contains, in
    document order: the page's STATIC outlinks (a real renderer sees
    those too), 0-4 JS-revealed same-host links under ``/js/``, 0-2
    cross-host links (SkippedExternal parity, pdfcapture.go:455-458),
    and deterministic junk entries — ``javascript:``/``mailto:``/
    ``tel:`` hrefs and whitespace-padded entries — that the JS eval and
    the Go trim respectively must drop (pdfcapture.go:300-305,
    443-449)."""
    if status_of(world, url) != 200 or content_type_of(world, url) != "text/html":
        return []
    hi, _ = _host_page_of(url)
    h = _h(world, url, 11)
    hrefs = list(outlinks_of(world, url))
    for i in range(h % 5):  # JS-revealed, same host
        hh = splitmix64(h ^ (i * 0x9E3779B97F4A7C15 + 1))
        link = f"https://{host_name(hi % world.n_hosts)}/js/{hh % world.pages_per_host}"
        # every 3rd JS link arrives whitespace-padded (TrimSpace parity)
        hrefs.append(f"  {link} " if i % 3 == 2 else link)
    for i in range((h >> 3) % 3):  # cross-host (skipped-external parity)
        hrefs.append(f"https://cdn-{(h >> (8 + 4 * i)) % 50:02d}.example/asset/{i}")
    if h % 4 == 0:
        hrefs.append("javascript:void(0)")
    if h % 4 == 1:
        hrefs.append(f"mailto:owner@{host_name(hi % world.n_hosts)}")
    if h % 4 == 2:
        hrefs.append("tel:+1-555-0100")
    return hrefs


def rendered_links_raw(world: World, url: str) -> str:
    """The JS eval's exact output contract (pdfcapture.go:300-305):
    ``querySelectorAll('a[href]')`` hrefs, ``javascript:``/``mailto:``/
    ``tel:`` filtered OUT browser-side, newline-joined."""
    return "\n".join(
        h
        for h in rendered_dom_hrefs(world, url)
        if h and not h.startswith(("javascript:", "mailto:", "tel:"))
    )


def text_spans_of(world: World, url: str) -> list[str]:
    h = _h(world, url, 7)
    n = 1 + h % world.max_text_spans
    spans = []
    for i in range(n):
        sh = splitmix64(h + 101 * i)
        words = 4 + sh % 12
        text = _words(sh, words)
        if sh % 97 == 0:
            text = f"{text} {SEARCH_NEEDLE}"
        spans.append(text)
    # ~1% of pages look bot-challenged (disjunctive detector fodder)
    if h % 100 == 0:
        spans[0] = f"{BOT_PHRASE} {spans[0]}"
    return spans


def media_refs_of(world: World, url: str) -> list[str]:
    hi, _ = _host_page_of(url)
    h = _h(world, url, 8)
    n = h % (world.max_media_spans + 1)
    refs = []
    for i in range(n):
        mh = splitmix64(h + 977 * i)
        ext = _MEDIA_EXT[mh % len(_MEDIA_EXT)]
        refs.append(f"https://{host_name(hi)}/media/{mh % 100_000}.{ext}")
    return refs


def spans_of(world: World, url: str) -> list[tuple[str, str, str, int]]:
    """Interleaved (kind, text, media_ref, offset) — the input_hint payload.

    Interleaving order: deterministic round-robin of text / media / link
    spans driven by hash bits, offsets dense ascending — mirrors DOM
    document order in the reference walks.
    """
    texts = text_spans_of(world, url)
    medias = media_refs_of(world, url)
    links = outlinks_of(world, url)
    h = _h(world, url, 9)
    queue = (
        [("text", t, "") for t in texts]
        + [("media", "", m) for m in medias]
        + [("link", "", l) for l in links]
    )
    # deterministic shuffle: sort by per-item hash, stable within kind order
    keyed = [
        (splitmix64(h + 31 * i), i, item) for i, item in enumerate(queue)
    ]
    keyed.sort(key=lambda kv: (kv[0], kv[1]))
    return [
        (kind, text, media, off)
        for off, (_, _, (kind, text, media)) in enumerate(keyed)
    ]


def _synth_structure(world: World, urls: list[str]) -> dict:
    """Shared numeric/index skeleton of the flat batch synthesis: hash
    streams, per-row dispositions, ragged span structure (repeat/cumsum),
    and the global interleave order (one ``np.lexsort``). String
    materialization happens in ``synth_flat`` (numpy object arrays; used
    by parity tests) or ``synth_flat_arrow`` (Arrow C++ kernels; the
    production kernel path — zero per-span Python objects)."""
    import numpy as np

    from webcrawler_go_spark.hashing import splitmix64_np, str_hash64_np

    u64 = np.uint64
    n = len(urls)
    M = (1 << 64) - 1
    base = str_hash64_np(urls)

    def hs(salt: int) -> np.ndarray:
        c = u64((world.seed * 0x9E3779B97F4A7C15 + salt) & M)
        return splitmix64_np(base ^ c)

    h1, h2, h3, h4, h5 = hs(1), hs(2), hs(3), hs(4), hs(5)
    h6, h7, h8, h9 = hs(6), hs(7), hs(8), hs(9)

    statuses = np.array(_STATUS_TABLE, dtype=np.int64)[(h1 % u64(100)).astype(np.int64)]
    r3 = (h3 % u64(100)).astype(np.int64)
    html = r3 < 88
    nbytes = ((u64(500) + h2 % u64(8000)) * (u64(1) << ((h2 >> u64(13)) % u64(8)))).astype(np.int64)
    r4 = (h4 % u64(1000)).astype(np.int64)
    is_err = r4 >= 970
    lastmod_days = np.where(
        (h5 % u64(2)) == 0, (h5 % u64(365)).astype(np.int64), -1
    ).astype(np.int64)

    bot = (h7 % u64(100)) == 0
    ok200 = (~is_err) & (statuses == 200)
    blocked = (~is_err) & (
        np.isin(statuses, (403, 503, 429)) | (ok200 & bot)
    )
    emit = ok200 & ~bot  # blocked pages contribute no content

    host_is = np.array([_host_page_of(u)[0] for u in urls], dtype=np.int64)
    max_host = int(host_is.max()) + 1 if n else 1
    n_hostnames = max(max_host, world.n_hosts)

    # --- text spans (mirrors text_spans_of) ---
    n_text = np.where(emit, 1 + (h7 % u64(world.max_text_spans)).astype(np.int64), 0)
    t_parent = np.repeat(np.arange(n), n_text)
    t_starts = np.concatenate(([0], np.cumsum(n_text)))
    t_within = np.arange(t_starts[-1]) - np.repeat(t_starts[:-1], n_text)
    with np.errstate(over="ignore"):
        sh = splitmix64_np(h7[t_parent] + u64(101) * t_within.astype(np.uint64))
    n_words = 4 + (sh % u64(12)).astype(np.int64)
    w_starts = np.concatenate(([0], np.cumsum(n_words)))
    w_parent = np.repeat(np.arange(len(sh)), n_words)
    w_within = np.arange(w_starts[-1]) - np.repeat(w_starts[:-1], n_words)
    with np.errstate(over="ignore"):
        widx = splitmix64_np(sh[w_parent] + w_within.astype(np.uint64)) % u64(len(_WORDS))
    needle = (sh % u64(97)) == 0

    # --- media refs (mirrors media_refs_of) ---
    n_media = np.where(emit, (h8 % u64(world.max_media_spans + 1)).astype(np.int64), 0)
    m_parent = np.repeat(np.arange(n), n_media)
    m_within = np.arange(int(n_media.sum())) - np.repeat(
        np.concatenate(([0], np.cumsum(n_media)))[:-1], n_media
    )
    with np.errstate(over="ignore"):
        mh = splitmix64_np(h8[m_parent] + u64(977) * m_within.astype(np.uint64))
    m_ext_idx = (mh % u64(len(_MEDIA_EXT))).astype(np.int64)
    m_id = (mh % u64(100_000)).astype(np.int64)

    # --- outlinks (mirrors outlinks_of) ---
    n_links = np.where(emit & html, (h6 % u64(world.max_links + 1)).astype(np.int64), 0)
    l_parent = np.repeat(np.arange(n), n_links)
    l_within = np.arange(int(n_links.sum())) - np.repeat(
        np.concatenate(([0], np.cumsum(n_links)))[:-1], n_links
    )
    with np.errstate(over="ignore"):
        hh = splitmix64_np(
            h6[l_parent]
            ^ (
                l_within.astype(np.uint64) * u64(0x5851F42D4C957F2D)
                + u64(0x14057B7EF767814F)
            )
        )
    same = (hh % u64(100)) < u64(world.same_host_pct)
    skew_u = ((hh >> u64(7)) % u64(10_000)).astype(np.float64) / 10_000.0
    skew_host = (world.n_hosts * skew_u * skew_u).astype(np.int64) % world.n_hosts
    l_host = np.where(same, host_is[l_parent], skew_host)
    l_page = ((hh >> u64(17)) % u64(world.pages_per_host)).astype(np.int64)

    # --- interleave: ONE lexsort over (parent, key, queue-index) ---
    qn = n_text + n_media + n_links
    q_parent = np.concatenate([t_parent, m_parent, l_parent])
    q_j = np.concatenate(
        [
            t_within,
            n_text[m_parent] + m_within,
            n_text[l_parent] + n_media[l_parent] + l_within,
        ]
    ).astype(np.int64)
    kind_code = np.concatenate(
        [
            np.zeros(len(t_parent), dtype=np.int8),
            np.ones(len(m_parent), dtype=np.int8),
            np.full(len(l_parent), 2, dtype=np.int8),
        ]
    )
    with np.errstate(over="ignore"):
        keys = splitmix64_np(h9[q_parent] + u64(31) * q_j.astype(np.uint64))
    order = np.lexsort((q_j, keys, q_parent))
    sp_parent = q_parent[order]
    sp_starts = np.concatenate(([0], np.cumsum(qn)))
    sp_off = (np.arange(len(order)) - sp_starts[sp_parent]).astype(np.int32)
    kind_sorted = kind_code[order]

    return {
        "n": n,
        "r3": r3,
        "r4": r4,
        "status": statuses,
        "html": html,
        "nbytes": nbytes,
        "is_err": is_err,
        "lastmod_days": lastmod_days,
        "blocked": blocked,
        "host_is": host_is,
        "n_hostnames": n_hostnames,
        "n_text": n_text,
        "sh_len": len(sh),
        "w_starts": w_starts,
        "widx": widx,
        "needle": needle,
        "m_parent": m_parent,
        "m_ext_idx": m_ext_idx,
        "m_id": m_id,
        "l_host": l_host,
        "l_page": l_page,
        "n_links": n_links,
        "t_count": len(t_parent),
        "m_count": len(m_parent),
        "l_count": len(l_parent),
        "order": order,
        "sp_starts": sp_starts,
        "sp_off": sp_off,
        "kind_sorted": kind_sorted,
    }


def synth_flat(world: World, urls: list[str]) -> dict:
    """Flat synthesis with numpy object-array strings — the parity
    reference for ``synth_flat_arrow`` (which the kernel uses). Returns
    per-row arrays (status, nbytes, err, lastmod_days, blocked, is_err)
    and flat span/outlink buffers (sp_offsets, sp_kind, sp_text,
    sp_media, sp_off, ol_offsets, ol_vals). Blocked rows (4xx-blocked or
    bot-phrase pages) emit no spans (crawler.go:698-701)."""
    import numpy as np

    S = _synth_structure(world, urls)
    err_names = np.array(
        ["timeout", "connection refused", "no such host", "certificate"],
        dtype=object,
    )
    err = np.where(S["is_err"], err_names[S["r4"] % 4], None)
    ctype = np.select(
        [S["r3"] < 88, S["r3"] < 92, S["r3"] < 95],
        np.array(
            [
                "text/html",
                "application/pdf",
                "application/vnd.openxmlformats-officedocument."
                "wordprocessingml.document",
            ],
            dtype=object,
        ),
        default="image/jpeg",
    )
    hostnames = np.array(
        [host_name(i) for i in range(S["n_hostnames"])], dtype=object
    )

    # texts: plain-list slicing + join (cheaper than object-ndarray slices)
    wl = np.array(_WORDS, dtype=object)[S["widx"].astype(np.int64)].tolist()
    ws = S["w_starts"].tolist()
    n_spans = S["sh_len"]
    texts_flat = np.array(
        [" ".join(wl[ws[si]:ws[si + 1]]) for si in range(n_spans)], dtype=object
    ) if n_spans else np.empty(0, dtype=object)
    if S["needle"].any():
        texts_flat[S["needle"]] = texts_flat[S["needle"]] + f" {SEARCH_NEEDLE}"

    media_pre = np.array([f"https://{h}/media/" for h in hostnames], dtype=object)
    dot_ext = np.array([f".{e}" for e in _MEDIA_EXT], dtype=object)
    m_refs = (
        media_pre[S["host_is"][S["m_parent"]]]
        + S["m_id"].astype(str).astype(object)
        + dot_ext[S["m_ext_idx"]]
    ) if S["m_count"] else np.empty(0, dtype=object)

    page_pre = np.array([f"https://{h}/page/" for h in hostnames], dtype=object)
    l_refs = (
        page_pre[S["l_host"]] + S["l_page"].astype(str).astype(object)
    ) if S["l_count"] else np.empty(0, dtype=object)

    total = S["t_count"] + S["m_count"] + S["l_count"]
    q_text = np.concatenate(
        [
            texts_flat,
            np.full(S["m_count"], "", dtype=object),
            np.full(S["l_count"], "", dtype=object),
        ]
    ) if total else np.empty(0, dtype=object)
    q_media = np.concatenate(
        [np.full(S["t_count"], "", dtype=object), m_refs, l_refs]
    ) if total else np.empty(0, dtype=object)

    order = S["order"]
    kind_names = np.array(["text", "media", "link"], dtype=object)
    link_mask = S["kind_sorted"] == 2
    q_media_sorted = q_media[order]
    return {
        "status": S["status"],
        "ctype": ctype,
        "nbytes": S["nbytes"],
        "err": err,
        "lastmod_days": S["lastmod_days"],
        "blocked": S["blocked"],
        "is_err": S["is_err"],
        "sp_offsets": S["sp_starts"].astype(np.int64),
        "sp_kind": kind_names[S["kind_sorted"]],
        "sp_text": q_text[order],
        "sp_media": q_media_sorted,
        "sp_off": S["sp_off"],
        "ol_offsets": np.concatenate(([0], np.cumsum(S["n_links"]))).astype(np.int64),
        "ol_vals": q_media_sorted[link_mask],
    }


_CTYPE_NAMES = [
    "text/html",
    "application/pdf",
    "application/vnd.openxmlformats-officedocument."
    "wordprocessingml.document",
    "image/jpeg",
]
_ERR_NAMES = ["timeout", "connection refused", "no such host", "certificate"]


def synth_flat_arrow(world: World, urls: list[str]) -> dict:
    """Flat synthesis with ALL strings built by Arrow C++ kernels
    (dictionary ``take`` + ``binary_join`` + ``cast``) — zero per-span
    Python string objects. The numpy path allocates ~20M Python strings
    per 900k URLs, which saturates the allocator/memory bus at high core
    counts; this path keeps the whole payload in Arrow buffers end to
    end (the kernel output IS Arrow). Bit-identical to ``synth_flat`` —
    asserted in tests."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    S = _synth_structure(world, urls)
    hostnames = [host_name(i) for i in range(S["n_hostnames"])]

    def empties(k: int):
        return pc.fill_null(pa.nulls(k, pa.string()), "")

    # texts: dictionary take over the 31-word vocab → list array →
    # C++ binary_join; needle suffix via element-wise join + if_else
    words_dict = pa.array(_WORDS, type=pa.string())
    word_vals = pc.take(words_dict, pa.array(S["widx"].astype(np.int64)))
    word_list = pa.ListArray.from_arrays(
        pa.array(S["w_starts"].astype(np.int32), pa.int32()), word_vals
    )
    texts = pc.binary_join(word_list, " ")
    if S["needle"].any():
        texts = pc.if_else(
            pa.array(S["needle"]),
            pc.binary_join_element_wise(texts, pa.scalar(SEARCH_NEEDLE), " "),
            texts,
        )

    media_pre = pa.array([f"https://{h}/media/" for h in hostnames])
    dot_ext = pa.array([f".{e}" for e in _MEDIA_EXT])
    m_refs = pc.binary_join_element_wise(
        pc.take(media_pre, pa.array(S["host_is"][S["m_parent"]])),
        pc.cast(pa.array(S["m_id"]), pa.string()),
        pc.take(dot_ext, pa.array(S["m_ext_idx"])),
        "",
    )
    page_pre = pa.array([f"https://{h}/page/" for h in hostnames])
    l_refs = pc.binary_join_element_wise(
        pc.take(page_pre, pa.array(S["l_host"])),
        pc.cast(pa.array(S["l_page"]), pa.string()),
        "",
    )

    order_idx = pa.array(S["order"].astype(np.int64))
    q_text = pc.take(
        pa.concat_arrays(
            [texts, empties(S["m_count"]), empties(S["l_count"])]
        ),
        order_idx,
    )
    q_media = pc.take(
        pa.concat_arrays([empties(S["t_count"]), m_refs, l_refs]), order_idx
    )
    kind_dict = pa.array(["text", "media", "link"])
    sp_kind = pc.take(kind_dict, pa.array(S["kind_sorted"].astype(np.int32)))
    link_mask = pa.array(S["kind_sorted"] == 2)
    ol_vals = pc.filter(q_media, link_mask)

    ctype_idx = np.select(
        [S["r3"] < 88, S["r3"] < 92, S["r3"] < 95], [0, 1, 2], default=3
    ).astype(np.int32)
    ctype = pc.take(pa.array(_CTYPE_NAMES), pa.array(ctype_idx))
    err_idx = (S["r4"] % 4).astype(np.int32)
    err = pc.take(
        pa.array(_ERR_NAMES),
        pa.array(err_idx, mask=~S["is_err"]),  # mask=True → null index → null
    )

    return {
        "status": S["status"],
        "ctype": ctype,
        "nbytes": S["nbytes"],
        "err": err,
        "lastmod_days": S["lastmod_days"],
        "blocked": S["blocked"],
        "is_err": S["is_err"],
        "sp_offsets": S["sp_starts"].astype(np.int64),
        "sp_kind": sp_kind,
        "sp_text": q_text,
        "sp_media": q_media,
        "sp_off": S["sp_off"],
        "ol_offsets": np.concatenate(([0], np.cumsum(S["n_links"]))).astype(np.int64),
        "ol_vals": ol_vals,
    }
