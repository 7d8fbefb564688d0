"""The crawl round's fixed floor: the files, jobs and schema-inference work a
round costs regardless of its data, pinned on the test_pipeline fixture.

- the cached round results are sized by AQE, so the fetches commit writes
  a few files, not one per shuffle partition;
- ``SnapshotTable.read`` uses the schema pinned in the manifest and starts
  no Spark job, with the schema Spark would infer from the files;
- one ``run_round`` stays under a measured job ceiling.
"""

import os
import shutil
import tempfile
import uuid

import pytest

from archive_query_log_spark.crawler import pipeline, synth
from archive_query_log_spark.tables import SnapshotTable

TABLES = ("frontier", "fetches", "seen_keys", "seen_shards")
# jobs per round of the fixture crawl below (round 0 builds the Bloom
# shards, round 1 probes and OR-updates them), measured at local[4]
ROUND_JOB_CEILING = (16, 23)


def _jobs_of(spark, fn):
    """(fn's result, ids of the Spark jobs it started), read from the
    status store once its listener events have all been delivered."""
    sc = spark.sparkContext
    group = f"floor-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def crawl(spark):
    """Two rounds of the test_pipeline fixture: (state, per-round jobs)."""
    images = synth.synth_images(spark, 200, 8).cache()
    frontier = synth.synth_frontier(spark, 800, 200, 8).cache()
    robots = synth.synth_robots(spark)
    images.count(), frontier.count()
    root = tempfile.mkdtemp(prefix="t_floor_")
    state = pipeline.init_state(root, frontier)
    cfg = pipeline.CrawlConfig(budget_waves=16)
    jobs = []
    for r in range(2):
        stats, ids = _jobs_of(
            spark,
            lambda: pipeline.run_round(spark, state, images, robots, cfg, r),
        )
        assert stats["fetched"] > 0
        jobs.append(ids)
    yield state, jobs
    shutil.rmtree(root, ignore_errors=True)


def test_fetch_commit_writes_at_most_nproc_files(crawl):
    state, _ = crawl
    nproc = len(os.sched_getaffinity(0))
    hist = state.fetches.history()
    assert len(hist) == 2
    for m in hist:
        newest = m["data_dirs"][-1]
        parts = [f for f in os.listdir(newest) if f.endswith(".parquet")]
        assert 1 <= len(parts) <= nproc, (m["version"], len(parts))


def test_read_starts_no_job_and_keeps_the_inferred_schema(spark, crawl, tmp_path):
    state, _ = crawl
    bucketed = SnapshotTable(tmp_path / "bucketed")
    bucketed.commit_bucketed(state.frontier.read(spark), "url_key", 4)
    tables = {n: getattr(state, n) for n in TABLES}
    tables["bucketed"] = bucketed

    reads, jobs = _jobs_of(spark, lambda: {
        (n, v): t.read(spark, v)
        for n, t in tables.items() for v in (0, t.latest_version())
    })
    assert jobs == []
    for (n, v), df in reads.items():
        inferred = spark.read.parquet(*tables[n]._manifest(v)["data_dirs"])
        assert df.schema == inferred.schema, (n, v)
    # the nested structs, timestamps and binary blobs all round-trip
    types = {
        (n, f.name): f.dataType.typeName()
        for (n, _), df in reads.items() for f in df.schema
    }
    assert types["fetches", "archive"] == types["fetches", "provider"] == "struct"
    assert types["fetches", "fetched_at"] == "timestamp"
    assert types["seen_shards", "bits"] == "binary"
    assert ("bucketed", "_bucket") not in types


def test_round_job_ceiling(crawl):
    _, jobs = crawl
    for r, (ids, ceiling) in enumerate(zip(jobs, ROUND_JOB_CEILING)):
        assert len(ids) <= ceiling, (r, len(ids))
