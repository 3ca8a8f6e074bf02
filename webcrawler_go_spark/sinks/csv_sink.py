"""CSV result sinks — the Spark form of the reference's mutex-guarded
CSV appenders (crawler.go:506-560, jsonfeed.go:166-186).

Mode-specific schemas mirror the reference's header rows; writes are
distributed ``df.write.csv`` appends (each partition writes its own part
file — the "mutex" disappears because files never share writers). A
``single_file`` option coalesces to one part for small, human-read
results (the reference's actual use case)."""

from __future__ import annotations

from pyspark.sql import DataFrame

# mode → ordered CSV columns (reference crawler.go:513-520)
MODE_COLUMNS = {
    "search": ["url", "status", "content_type", "bytes"],
    "broken-links": ["found_on", "broken_url", "status", "error_class"],
    "oversized-images": ["url", "size_kb", "found_on"],
    "feed": ["headline", "link", "date", "brief", "tags", "captured_file"],
}


def write_csv(
    df: DataFrame,
    path: str,
    mode_name: str | None = None,
    single_file: bool = False,
    overwrite: bool = True,
) -> None:
    cols = MODE_COLUMNS.get(mode_name)
    if cols:
        present = [c for c in cols if c in df.columns]
        df = df.select(*present)
    if single_file:
        df = df.coalesce(1)
    (
        df.write.mode("overwrite" if overwrite else "append")
        .option("header", True)
        .csv(path)
    )


