"""SnapshotTable: atomic commits, time travel, lineage metrics, expiry."""

from __future__ import annotations

import os

from pyspark.sql.types import LongType, StructField, StructType

from webcrawler_go_spark.state import SnapshotTable

SCHEMA = StructType([StructField("x", LongType(), False)])


def _t(spark, state_dir):
    return SnapshotTable(state_dir, "t", SCHEMA).init(spark)


def test_append_and_time_travel(spark, state_dir):
    t = _t(spark, state_dir)
    m1 = t.commit(spark.range(3).selectExpr("id as x"))
    m2 = t.commit(spark.range(10, 12).selectExpr("id as x"))
    assert t.read().count() == 5
    assert t.read(m1["snapshot_id"]).count() == 3  # time travel
    assert m2["parent"] == m1["snapshot_id"]
    assert m2["total_rows"] == 5 and m2["new_rows"] == 2
    assert sum(m2["file_rows"].values()) == 2  # per-partition lineage


def test_replace_mode(spark, state_dir):
    t = _t(spark, state_dir)
    t.commit(spark.range(3).selectExpr("id as x"))
    m = t.commit(spark.range(1).selectExpr("id as x"), mode="replace")
    assert t.read().count() == 1
    assert m["total_rows"] == 1


def test_expire_snapshots(spark, state_dir):
    t = _t(spark, state_dir)
    t.commit(spark.range(3).selectExpr("id as x"), mode="replace")
    t.commit(spark.range(4).selectExpr("id as x"), mode="replace")
    t.commit(spark.range(5).selectExpr("id as x"), mode="replace")
    assert len(t.snapshots()) == 3
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert len(t.snapshots()) == 1
    assert t.read().count() == 5  # head untouched
    # all surviving files exist
    for f in t.current_snapshot()["files"]:
        assert os.path.exists(f)


def test_compact_preserves_rows_and_bounds_files(spark, state_dir):
    t = _t(spark, state_dir)
    for i in range(6):
        t.commit(spark.createDataFrame([(i,)], SCHEMA))
    head = t.current_snapshot()
    assert len(head["files"]) >= 6
    before = sorted(r.x for r in t.read().collect())

    m = t.compact(target_files=2)
    assert m is not None and m["mode"] == "replace"
    head2 = t.current_snapshot()
    assert len(head2["files"]) <= 2
    assert sorted(r.x for r in t.read().collect()) == before
    # superseded snapshots reclaimable, head resumable
    t.expire_snapshots(keep_last=1)
    assert sorted(r.x for r in t.read().collect()) == before
    # below threshold → no-op
    assert t.compact(target_files=8) is None


def test_engine_maintenance_equivalent_and_bounded(spark, state_dir):
    """A crawl with maintenance_interval=2 must produce the exact same
    fetch log and seen set as one without, with bounded file counts."""
    import tempfile

    from webcrawler_go_spark.config import CrawlConfig
    from webcrawler_go_spark.plans.frontier_loop import CrawlEngine
    from webcrawler_go_spark.worldgen import World, seeds as gen_seeds

    world = World(n_hosts=6, pages_per_host=20, max_links=5)
    cfg = CrawlConfig(max_rounds=4, default_host_budget=50)
    outs = []
    for interval in (0, 2):
        sd = tempfile.mkdtemp(prefix=f"maint{interval}-")
        eng = CrawlEngine(
            spark, cfg, sd, world=world, maintenance_interval=interval
        )
        eng.seed(spark.createDataFrame(
            gen_seeds(world, 4), "url string, priority double, seq int"
        ))
        sched = [eng.run_round(r).scheduled for r in range(4)]
        log = sorted((r.url, r.status) for r in eng.fetch_log().collect())
        seen = sorted(r.url_norm for r in eng.url_seen().collect())
        outs.append((log, seen, len(eng.log_t.current_snapshot()["files"]), sched))
    (log0, seen0, files0, sched0), (log2, seen2, files2, sched2) = outs
    assert log0 == log2
    assert seen0 == seen2
    assert files2 <= files0
    # per-round scheduled must be the ROUND's count even on maintenance
    # rounds (compaction replaces the head manifest; round-3 review fix)
    assert sched0 == sched2


def test_maintenance_keeps_files_of_the_rounds_seen_read(spark, state_dir):
    """On a maintenance round the engine compacts and expires fetch_log in
    the commit pool while the frontier dedup still scans the seen set —
    a view of fetch_log — the round started from: no file of that
    snapshot may go."""
    from webcrawler_go_spark.config import CrawlConfig
    from webcrawler_go_spark.plans.frontier_loop import CrawlEngine
    from webcrawler_go_spark.schemas import FETCH_LOG_TABLE

    eng = CrawlEngine(spark, CrawlConfig(), state_dir)
    t = eng.log_t

    def rows(i):
        return spark.createDataFrame(
            [(f"u{i}", i, "h", i, i, 200, "text/html", 0, None, False, None, True)],
            FETCH_LOG_TABLE,
        )

    for i in range(5):
        t.commit(rows(i))
    round_start = eng.url_seen()
    eng._commit(t, rows(5), 5, True, lineage={"round": 5})
    assert t.current_snapshot()["lineage"]["op"] == "compact"
    assert sorted(r.url_hash for r in round_start.collect()) == list(range(5))
    assert sorted(r.url_hash for r in eng.url_seen().collect()) == list(range(6))
