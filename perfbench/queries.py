"""The ``query_mix`` workload: read-only analytics over seeded parquet.

The mix is the 10 queries of ``QUERIES``, taken from ``bench.HEADLINE``.
Each query is built once during set-up, as ``bench.py`` does,
and its result is collected there; that collect is the warm-up and the
input of the correctness gate. The timed pass forces each built query
through the noop sink, in an order drawn from the seed; a step is one
query. ``webdata_pipeline`` materializes its stages while it is built,
so the timed pass builds it again, as ``bench.py`` does.

The gate compares each collected result with its ``oracle_sql()`` run
on DuckDB over the same tables, by row count, column names and the
order-insensitive value hash of ``tools/check_oracles.py``. The tables
do not depend on the seed, so the oracle results are cached under
``perfbench/.cache``, keyed by a digest of the table generator and of
the program's sources.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import time

DATA_SEED = 42
# A subset of bench.HEADLINE, one or more queries per operator family,
# sized so that set-up (build and collect) stays near 20 s on 4 cores.
QUERIES = [
    "visited_dedup",            # functions/urls + operators/dedup, as the crawl
    "urlseen_hll",              # operators/sketches: HLL
    "adaptive_fetch_width",     # operators/sketches: the crawl's HLL+CMS knobs
    "embedding_cosine_tiled",   # operators/similarity: tiled GEMM
    "duplicate_passages",       # operators/textdedup: gram join
    "pdf_filters_extract",      # operators/doc_extract
    "media_decode_png",         # functions/media_codecs
    "media_tiff_container",     # functions/media_containers
    "webdata_pipeline",         # sources/warc, operators/textanalysis, textdedup
    "lang_id",                  # operators/textanalysis
]
REBUILD_TIMED = {"webdata_pipeline"}

_HERE = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_HERE)


def _rows(pdf) -> tuple[list[str], list[tuple]]:
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False, name=None)]


def _signature(cols: list[str], rows: list[tuple]) -> list:
    from tools.check_oracles import value_hash

    return [len(rows), sorted(cols), value_hash(cols, rows)]


def sources_digest() -> str:
    h = hashlib.sha256(f"data_seed={DATA_SEED}".encode())
    files = [os.path.join(_HERE, "datagen.py"), os.path.join(_ROOT, "__spark_entry__.py")]
    files += sorted(glob.glob(os.path.join(_ROOT, "webcrawler_go_spark", "**", "*.py"), recursive=True))
    files.append(os.path.join(_ROOT, "tools", "check_oracles.py"))
    for f in files:
        h.update(os.path.relpath(f, _ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def oracle_signatures(data_dir: str, names: list[str]) -> dict[str, list]:
    """Row count, column names and value hash of every oracle result."""
    cache = os.path.join(_HERE, ".cache", f"oracle-{sources_digest()}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            sigs = json.load(f)
        if all(n in sigs for n in names):
            return sigs
    import duckdb

    import __spark_entry__ as entry
    from perfbench.datagen import TABLES

    # the numpy-computed oracles read their tables from this directory
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data_dir
    texts = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        sigs = {n: _signature(*_rows(con.sql(texts[n]).df())) for n in names}
    finally:
        con.close()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    tmp = cache + ".tmp"
    with open(tmp, "w") as f:
        json.dump(sigs, f)
    os.replace(tmp, cache)
    return sigs


class QueryWorkload:
    def __init__(self, name: str, seed: int, work_dir: str):
        self.name = name
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.data_dir = os.path.join(work_dir, "data")
        self.builders = {}
        self.built = {}
        self.results = {}

    def warm(self, spark) -> list[float]:
        """Write the tables, build every query and collect its result;
        returns the seconds each query took."""
        import __spark_entry__ as entry
        from perfbench.datagen import generate

        generate(self.data_dir, DATA_SEED)
        self.builders = entry.queries()
        steps = []
        for n in self.order:
            t0 = time.perf_counter()
            self.built[n] = self.builders[n](spark, self.data_dir)
            self.results[n] = _signature(*_rows(self.built[n].toPandas()))
            steps.append(time.perf_counter() - t0)
        return steps

    def _run(self, spark, n: str) -> None:
        df = self.builders[n](spark, self.data_dir) if n in REBUILD_TIMED else self.built[n]
        df.write.format("noop").mode("overwrite").save()

    def timed(self, spark):
        steps = []
        for n in self.order:
            t0 = time.perf_counter()
            self._run(spark, n)
            steps.append(time.perf_counter() - t0)
        return len(steps), steps, {"queries": len(steps)}

    def traced(self, spark, tracer) -> dict[str, float]:
        t0 = time.perf_counter()
        for n in self.order:
            with tracer.span(f"query.{n}"):
                self._run(spark, n)
        m = {"trace.work_s": time.perf_counter() - t0}
        for n in self.order:
            m[f"query.{n}.s"] = tracer.busy_s(f"query.{n}")
        return m

    def gate(self) -> tuple[int, int, list[str]]:
        want = oracle_signatures(self.data_dir, self.order)
        msgs = [
            f"{n}: spark {self.results[n]} vs oracle {want[n]}"
            for n in self.order
            if self.results[n] != want[n]
        ]
        return len(self.order), len(msgs), msgs
