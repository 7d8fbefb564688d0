"""End-to-end crawl pipeline: convergence, validation, exactly-once resume."""

import importlib
import os
import shutil
import sys
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from archive_query_log_spark.crawler import pipeline, synth


def _tool(name: str):
    """Import a module of the repo's tools/ directory."""
    tools = str(Path(__file__).resolve().parent.parent / "tools")
    sys.path.insert(0, tools)
    try:
        return importlib.import_module(name)
    finally:
        sys.path.remove(tools)


@pytest.fixture(scope="module")
def fixtures(spark):
    images = synth.synth_images(spark, 200, 8).cache()
    frontier = synth.synth_frontier(spark, 800, 200, 8).cache()
    robots = synth.synth_robots(spark)
    images.count(), frontier.count()
    return images, frontier, robots


def test_crawl_converges_and_validates(spark, fixtures):
    images, frontier, robots = fixtures
    root = tempfile.mkdtemp(prefix="t_crawl_")
    try:
        state = pipeline.init_state(root, frontier)
        cfg = pipeline.CrawlConfig(budget_waves=32)
        stats = pipeline.run(spark, state, images, robots, cfg, max_rounds=6)
        assert stats and stats[0]["fetched"] > 0
        fetches = state.fetches.read(spark)
        agg = fetches.agg(
            F.count("*").alias("n"),
            F.min(F.col("psnr_ok").cast("int")).alias("psnr"),
            F.min(F.col("caption_ok").cast("int")).alias("cap"),
            F.min(F.col("phash_ok").cast("int")).alias("ph"),
            F.min("psnr_db").alias("minp"),
        ).collect()[0]
        assert agg["psnr"] == 1 and agg["cap"] == 1 and agg["ph"] == 1
        assert agg["minp"] >= 40.0
        # seen set: no duplicates ever fetched
        seen = state.seen_keys.read(spark)
        assert seen.count() == seen.distinct().count()
        assert fetches.select("url_key").distinct().count() == fetches.count()
        # politeness: within each round, per-host waves ≤ budget
        per = fetches.groupBy("host").agg(F.max("wave").alias("mw")).collect()
        assert all(r["mw"] < 32 for r in per)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_refetch_window_repolls(spark, fixtures):
    """F2: rows fetched > 4 weeks before `now` re-qualify as refreshes and
    bypass the seen-set; freshly-fetched rows do not."""
    images, frontier, robots = fixtures
    root = tempfile.mkdtemp(prefix="t_repoll_")
    try:
        state = pipeline.init_state(root, frontier)
        cfg = pipeline.CrawlConfig(budget_waves=64, now="2024-06-01 00:00:00")
        pipeline.run(spark, state, images, robots, cfg, max_rounds=4)
        n_after_first = state.fetches.read(spark).count()
        # same clock → everything recently fetched → no work
        r = pipeline.run(spark, state, images, robots, cfg, max_rounds=2)
        assert r == [] or all(s["fetched"] == 0 for s in r)
        # advance the clock 5 weeks → the whole crawl re-polls
        cfg2 = pipeline.CrawlConfig(budget_waves=64, now="2024-07-06 00:00:00")
        r2 = pipeline.run(spark, state, images, robots, cfg2, max_rounds=4)
        assert sum(s["fetched"] for s in r2) > 0
        fetches = state.fetches.read(spark)
        assert fetches.count() > n_after_first
        assert fetches.where(F.col("is_refresh")).count() > 0
        # the seen set did NOT grow from refreshes
        seen = state.seen_keys.read(spark)
        assert seen.count() == seen.distinct().count()
        assert seen.count() == fetches.where(~F.col("is_refresh")).count()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_per_fetch_path_equals_content_addressed_path(spark, fixtures):
    """fetch_and_validate(per_fetch=True) — decode at every fetch row —
    gives the same rows as the default path that validates each distinct
    payload once and joins the verdicts back, dead links included."""
    from archive_query_log_spark.crawler.fetch import fetch_and_validate

    images, frontier, _ = fixtures
    cols = ["id", "image_id", "url_key", "host"]
    dead = spark.createDataFrame(
        [("dead-0", "img-missing", "dead-key", "h01.example.com")],
        "id string, image_id string, url_key string, host string",
    )
    sched = frontier.select(*cols).unionByName(dead)
    out_cols = cols + [
        "fetch_status", "psnr_db", "psnr_ok", "caption_ok", "phash_ok"
    ]

    def rows(per_fetch):
        out = fetch_and_validate(sched, images, per_fetch=per_fetch)
        return sorted(map(tuple, out.select(*out_cols).collect()))

    cached, per_row = rows(False), rows(True)
    assert len(cached) == frontier.count() + 1
    assert cached == per_row
    assert [r for r in cached if r[0] == "dead-0"] == [
        ("dead-0", "img-missing", "dead-key", "h01.example.com",
         404, 0.0, False, False, False)
    ]


def test_crawl_progress_rollup(spark, fixtures, monkeypatch):
    images, frontier, robots = fixtures
    root = tempfile.mkdtemp(prefix="t_prog_")
    try:
        state = pipeline.init_state(root, frontier)
        cfg = pipeline.CrawlConfig(budget_waves=16)
        stats = pipeline.run(spark, state, images, robots, cfg, max_rounds=2)

        def frontier_scan(*args, **kwargs):
            raise AssertionError("crawl_progress read the frontier")

        # the frontier's size comes from its manifest's row_count
        monkeypatch.setattr(state.frontier, "read", frontier_scan)
        prog = pipeline.crawl_progress(spark, state).collect()
        assert [(r["round"], r["fetched"]) for r in prog] == [
            (st["round"], st["fetched"]) for st in stats
        ]
        assert all(r["fetched"] == r["ok"] == r["valid"] for r in prog)
        assert all(r["frontier_total"] == 800 for r in prog)
        fetched_ids = state.fetches.read(spark).select("id").distinct().count()
        assert 0 < fetched_ids <= 800
        assert all(
            r["frontier_fetched_ratio"] == pytest.approx(fetched_ids / 800, abs=1e-6)
            for r in prog
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# the clock is pinned, so fetched_at is the same in every run
CRASH_CFG = pipeline.CrawlConfig(budget_waves=16, now="2024-02-01 00:00:00")


def _crawl_digest(spark, state) -> tuple[str, list[str]]:
    """(digest of every fetch-log column, sorted seen keys)."""
    fetches = state.fetches.read(spark)
    seen = state.seen_keys.read(spark).collect()
    digest = _tool("submit_crawl").table_digest(fetches, fetches.columns)
    return digest, sorted(r["url_key"] for r in seen)


@pytest.fixture(scope="module")
def clean_round(spark, fixtures):
    """An uninterrupted round 0: (its totals, its _crawl_digest)."""
    images, frontier, robots = fixtures
    root = tempfile.mkdtemp(prefix="t_clean_")
    try:
        state = pipeline.init_state(root, frontier)
        stats = pipeline.run_round(spark, state, images, robots, CRASH_CFG, 0)
        yield stats, _crawl_digest(spark, state)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize(
    "torn",
    [("seen_keys", "seen_shards"), ("seen_shards",)],
    ids=["after_fetches", "after_seen_keys"],
)
def test_crash_resume_exactly_once(spark, fixtures, clean_round, torn):
    """A kill after the fetches commit, or after the seen_keys commit,
    leaves round 0 without its completion marker (the seen_shards commit):
    ``run`` resumes at that round, skips the commits that survived, and
    ends with the rows of an uninterrupted run."""
    images, frontier, robots = fixtures
    root = tempfile.mkdtemp(prefix="t_crash_")
    try:
        state = pipeline.init_state(root, frontier)
        first = pipeline.run_round(spark, state, images, robots, CRASH_CFG, 0)
        for name in torn:
            os.remove(sorted(getattr(state, name).snap_dir.glob("v*.json"))[-1])
        assert pipeline.next_round_id(state) == 0
        # the fetches commit survived, so the replay skips it and reports
        # the totals observed on it from its manifest
        replayed = pipeline.run(spark, state, images, robots, CRASH_CFG, max_rounds=1)
        stats, digest = clean_round
        assert [first] == replayed == [stats]
        assert stats["fetched"] > 0
        assert pipeline.next_round_id(state) == 1
        assert _crawl_digest(spark, state) == digest
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_crawl_goldens_regenerate_byte_identically():
    """data/crawl_goldens.json is exactly what the pure-Python pipeline
    twin produces today — a drift in synth/codec/url_key/politeness math
    fails here; a drift in the Spark plumbing fails the driver gate."""
    gen = _tool("make_crawl_goldens")
    committed = gen.OUT_PATH.read_text()
    assert committed == gen.render()
    # the driver-gated entry must run the SAME fixture the generator
    # froze: a clock/size change regenerated on one side only would stay
    # green here and in the suite, then hash-fail opaquely at the gate
    from archive_query_log_spark import entry_queries as eq

    assert tuple(gen.NOWS) == eq._CRAWL_NOWS
    assert (gen.N_FRONTIER, gen.N_IMAGES, gen.BUDGET_WAVES) == (1000, 200, 8)


def test_crawl_twin_xxh64_matches_spark(spark):
    """The twin's independent XXH64 (bucket metrics) is bit-equal to
    Spark's xxhash64 over the fixture's host strings plus length edges
    (0, <4, <8, 31/32 stride boundaries, multi-byte UTF-8)."""
    gen = _tool("make_crawl_goldens")
    vals = [f"h{i:02d}.example.com" for i in range(50)] + [
        "", "a", "abcd", "abcdefgh", "x" * 31, "y" * 32, "z" * 100, "héllo✓",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string").select(
        "s", F.xxhash64("s").alias("hx")
    )
    for r in df.collect():
        u = gen.xxh64(r["s"].encode("utf-8"))
        assert u - (1 << 64) * (u >= (1 << 63)) == r["hx"], r["s"]
