"""The driver's queries, one module per operator family.

Each query is declared once, in its family module: a ``q_<name>``
builder under ``@query(oracle=...)``, whose oracle is its DuckDB SQL
text or the function that computes it. Importing this package registers
every family in ``REGISTRY``; ``__spark_entry__`` orders it for the
driver.
"""

from webcrawler_go_spark.queries import (  # noqa: F401  (registers the queries)
    crawl,
    dedup,
    docs,
    embeddings,
    events,
    fetch,
    media,
    sketches,
    text,
    urls,
)
from webcrawler_go_spark.queries.common import REGISTRY

__all__ = ["REGISTRY"]
