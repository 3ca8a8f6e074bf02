"""The benchmark's counts repeat exactly for a fixed seed.

A later change may cite a count (rows, files, overflow rows, commits)
as evidence only if that count is deterministic. These tests crawl the
``crawl_deep`` world twice with the same seed, each time from an empty
state directory, and require every named count to agree.

    python3 -m pytest perfbench/tests -q

They start Spark on local[nproc] and take about two minutes.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from perfbench import crawl, run  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

SEED = 7

# the traced counts a count-based claim may name
NAMED_COUNTS = [
    "fetch.urls", "fetch.ok", "fetch.blocked", "fetch.errors", "fetch.requeued",
    "extract.candidates_out", "extract.documents",
    "dedup.ready.rows_in", "dedup.ready.rows_out", "dedup.cand.rows_in", "dedup.cand.rows_out",
    "politeness.scheduled_rows", "politeness.overflow_rows",
    "state.commits", "state.rows_written", "state.files_written", "state.files_in_head",
]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.start_spark(len(os.sched_getaffinity(0)), str(tmp_path_factory.mktemp("spark")))
    yield s
    run.stop_spark(s)


def _crawl(spark, work_dir: str) -> tuple[dict, dict]:
    wl = crawl.CrawlWorkload("crawl_deep", SEED, work_dir)
    wl.warm(spark)
    _, _, untraced = wl.timed(spark)
    traced = wl.traced(spark, Tracer("test"))
    return untraced, {k: traced[k] for k in NAMED_COUNTS}


@pytest.fixture(scope="module")
def two_crawls(spark, tmp_path_factory):
    return [_crawl(spark, str(tmp_path_factory.mktemp(n))) for n in ("a", "b")]


def test_counts_repeat_exactly(two_crawls):
    first, second = two_crawls
    assert first == second


def test_traced_counts_match_untraced(two_crawls):
    """Tracing materializes layer outputs but must not change what the
    crawl does: the traced crawl fetches what the untraced one did."""
    untraced, traced = two_crawls[0]
    scheduled = sum(v for k, v in untraced.items() if k.endswith(".scheduled"))
    assert traced["fetch.urls"] == scheduled
    assert traced["politeness.scheduled_rows"] == scheduled
