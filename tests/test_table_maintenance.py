"""SnapshotTable maintenance ops (Iceberg parity): expire_snapshots,
remove_orphans, rollback, compact — the operational half of the
checkpoint story (north_rule: resumable Iceberg-snapshot state at
10^10-frontier scale needs a bounded commit log and small-file control).
"""

from __future__ import annotations

import os
import time
from pathlib import Path

import pytest

from archive_query_log_spark.tables import SnapshotTable


def _mk(spark, path, rows, op="append", key=None):
    t = SnapshotTable(path)
    df = spark.createDataFrame(rows, "k int, v string")
    if key:
        t.commit_bucketed(df, key, 4)
    else:
        t.commit(df, op=op)
    return t


def _rows(spark, t):
    return sorted((r["k"], r["v"]) for r in t.read(spark).collect())


def test_expire_keeps_latest_and_deletes_only_unreferenced(spark, tmp_path):
    t = SnapshotTable(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a")], "k int, v string")
    df2 = spark.createDataFrame([(2, "b")], "k int, v string")
    df3 = spark.createDataFrame([(3, "c")], "k int, v string")
    t.commit(df1, op="overwrite")          # v0 — dirs superseded by v1
    t.commit(df2, op="overwrite")          # v1 — dirs carried into v2
    t.commit(df3, op="append")             # v2 references v1+v2 dirs
    v0_dirs = {Path(d) for d in t._manifest(0)["data_dirs"]}
    v1_dirs = {Path(d) for d in t._manifest(1)["data_dirs"]}
    out = t.expire_snapshots(keep_last=2)
    assert out["expired_versions"] == [0]
    assert t._versions() == [1, 2]
    # v0's data is gone, v1's survives (still referenced by v1 and v2)
    assert all(not d.exists() for d in v0_dirs)
    assert all(d.exists() for d in v1_dirs)
    assert _rows(spark, t) == [(2, "b"), (3, "c")]
    with pytest.raises(FileNotFoundError):
        t._manifest(0)
    with pytest.raises(ValueError):
        t.expire_snapshots(keep_last=0)


def test_append_log_expiry_is_metadata_only(spark, tmp_path):
    """Append manifests carry parent dirs forward, so expiring an
    append-only log deletes manifests but never data."""
    t = SnapshotTable(tmp_path / "log")
    for i in range(4):
        t.commit(
            spark.createDataFrame([(i, f"r{i}")], "k int, v string"),
            op="append",
        )
    before = _rows(spark, t)
    out = t.expire_snapshots(keep_last=1)
    assert out["expired_versions"] == [0, 1, 2]
    assert out["deleted_dirs"] == []
    assert _rows(spark, t) == before


def test_remove_orphans_collects_killed_run_debris(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", [(1, "a")])
    # a killed commit: data dir written, manifest never renamed in
    stranded = t.data_dir / "v9-deadbeef"
    spark.createDataFrame([(9, "x")], "k int, v string").write.parquet(
        str(stranded)
    )
    # age guard: a young dir (a concurrent writer mid-commit) is kept
    assert t.remove_orphans(older_than_s=3600) == []
    assert stranded.exists()
    got = t.remove_orphans(older_than_s=0)
    assert got == [str(stranded)]
    assert not stranded.exists()
    assert _rows(spark, t) == [(1, "a")]


def test_rollback_reexposes_old_data_without_rewrite(spark, tmp_path):
    t = SnapshotTable(tmp_path / "t")
    t.commit(spark.createDataFrame([(1, "good")], "k int, v string"),
             op="overwrite")
    t.commit(spark.createDataFrame([(2, "bad")], "k int, v string"),
             op="overwrite")
    v = t.rollback(0)
    assert v == 2
    assert _rows(spark, t) == [(1, "good")]
    m = t._manifest(2)
    assert m["op"] == "rollback" and m["meta"]["rolled_back_to"] == 0
    # the bad version is still in history until expired
    assert t._versions() == [0, 1, 2]
    # rollback's dirs are v0's — expiring v0+v1 must keep v0's data alive
    t.expire_snapshots(keep_last=1)
    assert _rows(spark, t) == [(1, "good")]


def test_compact_packs_files_preserving_rows(spark, tmp_path):
    t = SnapshotTable(tmp_path / "t")
    for i in range(5):
        t.commit(
            spark.createDataFrame([(i, f"r{i}")], "k int, v string"),
            op="append",
        )
    before = _rows(spark, t)
    assert len(t._manifest(t.latest_version())["data_dirs"]) == 5
    v = t.compact(spark, target_partitions=1)
    m = t._manifest(v)
    assert m["meta"]["compacted_from"] == 4 and m["meta"]["dirs_before"] == 5
    assert len(m["data_dirs"]) == 1
    assert _rows(spark, t) == before
    # expiry after compaction reclaims every superseded dir
    out = t.expire_snapshots(keep_last=1)
    assert len(out["deleted_dirs"]) == 5
    assert _rows(spark, t) == before


def test_compact_bucketed_preserves_layout(spark, tmp_path):
    t = SnapshotTable(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(20)], "k int, v string"
    )
    t.commit_bucketed(df, "k", 4)
    t.commit_bucketed(
        spark.createDataFrame([(100, "x")], "k int, v string"),
        "k", 4, reuse_buckets=t.bucket_info()[2], bucket_mode="append",
    )
    before = _rows(spark, t)
    v = t.compact(spark)
    key, n, buckets = t.bucket_info(v)
    assert (key, n) == ("k", 4)
    assert all(len(dirs) == 1 for dirs in buckets.values())
    assert _rows(spark, t) == before


def test_maintain_between_rounds_preserves_crawl_equivalence(spark, tmp_path):
    """The crawl-integration invariant: run 3 rounds → maintain (compact +
    expire + orphan GC) → run to convergence must produce the SAME fetch
    set, seen set, and round numbering as an uninterrupted run."""
    from pyspark.sql import functions as F

    from archive_query_log_spark.crawler import pipeline, synth

    images = synth.synth_images(spark, 100, 4).cache()
    frontier = synth.synth_frontier(spark, 400, 100, 4).cache()
    robots = synth.synth_robots(spark)
    cfg = pipeline.CrawlConfig(budget_waves=16)

    def fetch_sig(state):
        r = (
            state.fetches.read(spark)
            .agg(
                F.count("*").alias("n"),
                F.coalesce(
                    F.sum(
                        F.xxhash64("id", "url_key", "wave").cast(
                            "decimal(38,0)"
                        )
                    ),
                    F.lit(0),
                ).alias("h"),
            )
            .collect()[0]
        )
        return (r["n"], r["h"])

    sa = pipeline.init_state(tmp_path / "a", frontier)
    pipeline.run(spark, sa, images, robots, cfg, max_rounds=3)
    # force compaction of every fragmented log, minimal retention
    report = pipeline.maintain(
        spark, sa, keep_last=2, compact_over_dirs=2, orphan_age_s=0
    )
    assert report["fetches"].get("compacted_to_version") is not None
    ra = pipeline.run(spark, sa, images, robots, cfg, max_rounds=10)

    sb = pipeline.init_state(tmp_path / "b", frontier)
    rb = pipeline.run(spark, sb, images, robots, cfg, max_rounds=13)

    # round ids continue (next_round_id survived compaction+expiry)
    assert ra[0]["round"] == 3
    assert [s["fetched"] for s in ra] == [s["fetched"] for s in rb[3:]]
    assert fetch_sig(sa) == fetch_sig(sb)
    seen_a = sorted(r["url_key"] for r in sa.seen_keys.read(spark).collect())
    seen_b = sorted(r["url_key"] for r in sb.seen_keys.read(spark).collect())
    assert seen_a == seen_b
    with pytest.raises(ValueError):
        pipeline.maintain(spark, sa, keep_last=1)


def test_rollback_carries_lineage_meta(spark, tmp_path):
    """Review-pinned: rolling crawl state back to a known-good round must
    preserve the 'round' lineage key, or next_round_id() would restart a
    resumed crawl at round 0 against still-populated logs."""
    t = SnapshotTable(tmp_path / "t")
    t.commit(spark.createDataFrame([(1, "a")], "k int, v string"),
             op="append", meta={"round": 0})
    t.commit(spark.createDataFrame([(2, "b")], "k int, v string"),
             op="append", meta={"round": 1})
    v = t.rollback(0)
    m = t._manifest(v)
    assert m["meta"]["round"] == 0
    assert m["meta"]["rolled_back_to"] == 0


def test_orphan_gc_survives_path_respelling(spark, tmp_path, monkeypatch):
    """Review-pinned: commits made under one spelling of the table root
    (symlink, relative cwd path) and maintenance under another must agree
    on file identity — a raw-string compare would classify every live dir
    as an orphan and delete the table."""
    t = _mk(spark, tmp_path / "t", [(1, "a")])
    # symlink alias
    link = tmp_path / "link"
    os.symlink(tmp_path / "t", link)
    aliased = SnapshotTable(link)
    assert aliased.remove_orphans(older_than_s=0) == []
    assert _rows(spark, t) == [(1, "a")]
    # relative-path alias: commit via a cwd-relative spelling, maintain via
    # the absolute one
    monkeypatch.chdir(tmp_path)
    rel = SnapshotTable("t")
    rel.commit(
        spark.createDataFrame([(2, "b")], "k int, v string"), op="append"
    )
    monkeypatch.chdir("/")
    assert t.remove_orphans(older_than_s=0) == []
    t.expire_snapshots(keep_last=1)
    assert _rows(spark, t) == [(1, "a"), (2, "b")]


def test_manifest_row_count_matches_snapshot(spark, tmp_path):
    """A plain table's row_count (observed on the write, summed over
    appends, copied by rollback) equals the snapshot's row count."""

    def check(t):
        v = t.latest_version()
        assert t._manifest(v)["row_count"] == t.read(spark, v).count()

    t = SnapshotTable(tmp_path / "plain")
    df = lambda lo, hi: spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "k int, v string"
    )
    t.commit(df(0, 5), op="append")
    check(t)
    t.commit(df(5, 12), op="append")
    check(t)
    t.commit(df(0, 3), op="overwrite")
    check(t)
    t.commit(df(3, 9), op="append")
    check(t)
    t.compact(spark, target_partitions=2)
    check(t)
    t.rollback(1)
    check(t)
    assert t._manifest(t.latest_version())["row_count"] == 12
