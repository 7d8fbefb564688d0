"""End-to-end crawl pipeline: convergence, validation, exactly-once resume."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from archive_query_log_spark.crawler import pipeline, synth


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


def test_crawl_progress_rollup(spark, fixtures):
    images, frontier, robots = fixtures
    root = tempfile.mkdtemp(prefix="t_prog_")
    try:
        state = pipeline.init_state(root, frontier)
        cfg = pipeline.CrawlConfig(budget_waves=16)
        pipeline.run(spark, state, images, robots, cfg, max_rounds=2)
        prog = pipeline.crawl_progress(spark, state).collect()
        assert len(prog) == 2
        assert all(r["fetched"] == r["ok"] == r["valid"] for r in prog)
        assert 0 < prog[0]["frontier_fetched_ratio"] <= 1.0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_crash_resume_exactly_once(spark, fixtures):
    images, frontier, robots = fixtures
    cfg = pipeline.CrawlConfig(budget_waves=16)
    rootA = tempfile.mkdtemp(prefix="t_crashA_")
    rootB = tempfile.mkdtemp(prefix="t_crashB_")
    try:
        stateA = pipeline.init_state(rootA, frontier)
        first = pipeline.run_round(spark, stateA, images, robots, cfg, 0)
        # simulate a kill after the fetches commit but before the seen-set
        # (and metrics) commits — the dangerous half-committed window
        os.remove(sorted(stateA.seen_keys.snap_dir.glob("v*.json"))[-1])
        os.remove(sorted(stateA.seen_shards.snap_dir.glob("v*.json"))[-1])
        os.remove(sorted(stateA.metrics.snap_dir.glob("v*.json"))[-1])
        # the fetches commit survived, so the replay skips it and reports
        # the totals observed on it from its manifest
        replayed = pipeline.run_round(spark, stateA, images, robots, cfg, 0)

        stateB = pipeline.init_state(rootB, frontier)
        clean = pipeline.run_round(spark, stateB, images, robots, cfg, 0)
        assert first == replayed == clean
        assert clean["fetched"] > 0

        a = sorted(r["url_key"] for r in stateA.seen_keys.read(spark).collect())
        b = sorted(r["url_key"] for r in stateB.seen_keys.read(spark).collect())
        assert a == b
        assert (
            stateA.fetches.read(spark).count() == stateB.fetches.read(spark).count()
        )
    finally:
        shutil.rmtree(rootA, ignore_errors=True)
        shutil.rmtree(rootB, ignore_errors=True)


def test_crawl_goldens_regenerate_byte_identically():
    """data/crawl_goldens.json is exactly what the pure-Python pipeline
    twin produces today — a drift in synth/codec/url_key/politeness math
    fails here; a drift in the Spark plumbing fails the driver gate."""
    import sys
    from pathlib import Path

    tools = Path(__file__).resolve().parent.parent / "tools"
    sys.path.insert(0, str(tools))
    try:
        import make_crawl_goldens as gen
    finally:
        sys.path.remove(str(tools))
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
    import sys
    from pathlib import Path

    from pyspark.sql import functions as F

    tools = Path(__file__).resolve().parent.parent / "tools"
    sys.path.insert(0, str(tools))
    try:
        import make_crawl_goldens as gen
    finally:
        sys.path.remove(str(tools))
    vals = [f"h{i:02d}.example.com" for i in range(50)] + [
        "", "a", "abcd", "abcdefgh", "x" * 31, "y" * 32, "z" * 100, "héllo✓",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string").select(
        "s", F.xxhash64("s").alias("hx")
    )
    for r in df.collect():
        u = gen.xxh64(r["s"].encode("utf-8"))
        assert u - (1 << 64) * (u >= (1 << 63)) == r["hx"], r["s"]
