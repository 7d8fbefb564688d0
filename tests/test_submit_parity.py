"""spark-submit --py-files launch-shape parity (SURVEY §6 north-star).

The packaged-zip run must be the SAME engine: a cluster deployment ships
``archive_query_log_spark`` as a zip via ``--py-files`` and drives it with
tools/submit_crawl.py, so this test proves that launch shape reproduces
the in-process 3-round crawl digest bit-for-bit — same fetch log (round,
wave, politeness delay, validation verdicts per capture) and same final
seen set. The submitted job runs from a CLEAN cwd with no repo on
PYTHONPATH, so its imports can only come from the zip.
"""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from archive_query_log_spark.crawler import pipeline, synth
from tools.submit_crawl import DIGEST_COLS, table_digest

REPO = Path(__file__).resolve().parent.parent
NOWS = "2024-02-01 00:00:00,2024-03-15 00:00:00,2024-03-15 00:00:00"


@pytest.mark.skipif(
    shutil.which("spark-submit") is None or shutil.which("zip") is None,
    reason="spark-submit / zip not on PATH",
)
def test_spark_submit_zip_reproduces_in_process_digest(spark, tmp_path):
    # --- leg 1: in-process (the shape every other test runs) -------------
    images = synth.synth_images(spark, 200, 8)
    frontier = synth.synth_frontier(spark, 1000, 200, 8)
    robots = synth.synth_robots(spark)
    state = pipeline.init_state(str(tmp_path / "inproc"), frontier)
    for rid, now in enumerate(NOWS.split(",")):
        pipeline.run_round(
            spark, state, images, robots,
            pipeline.CrawlConfig(budget_waves=8, now=now), rid,
        )
    want_fetches = table_digest(state.fetches.read(spark), DIGEST_COLS)
    want_seen = table_digest(state.seen_keys.read(spark), ("url_key",))

    # --- leg 2: packaged zip via spark-submit, clean cwd -----------------
    stage = tmp_path / "stage"
    stage.mkdir()
    subprocess.run(
        ["zip", "-rq", str(stage / "aql_spark.zip"), "archive_query_log_spark",
         "-x", "*/__pycache__/*"],
        cwd=REPO, check=True,
    )
    shutil.copy(REPO / "tools/submit_crawl.py", stage / "submit_crawl.py")
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_LOCAL_DIR")
    }
    out = subprocess.run(
        [
            "spark-submit",
            "--master", f"local[{len(os.sched_getaffinity(0))}]",
            "--py-files", str(stage / "aql_spark.zip"),
            str(stage / "submit_crawl.py"),
            "--workdir", str(tmp_path / "submitted"),
            "--frontier-size", "1000", "--images", "200",
            "--rounds", "3", "--budget-waves", "8",
            "--nows", NOWS, "--digest",
        ],
        cwd=stage, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])

    # the zip leg must not have imported the repo checkout: its only
    # python path additions are the staging dir + the shipped zip
    assert got["fetches_digest"] == want_fetches
    assert got["seen_digest"] == want_seen
    assert len(got["rounds"]) == 3


def test_table_digest_is_order_and_partition_invariant(spark):
    df = spark.createDataFrame(
        [(i, f"k{i}") for i in range(100)], "id long, url_key string"
    )
    d1 = table_digest(df.repartition(1), ("id", "url_key"))
    d2 = table_digest(df.repartition(13).sortWithinPartitions("url_key"),
                      ("id", "url_key"))
    assert d1 == d2
    # sensitive to any value change
    d3 = table_digest(
        df.replace({"k5": "k5x"}, subset=["url_key"]), ("id", "url_key")
    )
    assert d3 != d1


if __name__ == "__main__":
    # manual run: python tests/test_submit_parity.py prints the two digest
    # pairs for the BENCH.md record
    sys.exit(pytest.main([__file__, "-v"]))
