"""Build the spark-submit artifact (north rule: `spark-submit --py-files`
on a multi-executor cluster).

    python tools/package.py
    spark-submit --py-files dist/webcrawler_go_spark.zip submit_crawl.py \
        --seeds seeds.parquet --state s3://example-bucket/crawl-state --rounds 20

Produces dist/webcrawler_go_spark.zip (the package, no tests/fixtures).
"""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


OUT = os.path.join(ROOT, "dist", "webcrawler_go_spark.zip")


def sources() -> dict[str, str]:
    """{name in the zip: source path} of every .py file of the package."""
    out = {}
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, "webcrawler_go_spark")):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                out[os.path.relpath(full, ROOT)] = full
    return out


def build() -> str:
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with zipfile.ZipFile(OUT, "w", zipfile.ZIP_DEFLATED) as z:
        for name, full in sources().items():
            z.write(full, name)
    return OUT


if __name__ == "__main__":
    print(build())
