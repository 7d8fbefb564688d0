"""The frontier + fetch scheduler pipeline (the north-star job).

One crawl *round* = one batch job (the reference's own incrementality model,
SURVEY.md §2.11 — worklist flags, not a stream processor):

    frontier(immutable) ⟕anti fetch-log ──▶ seen-filter (bloom → exact)
        ──▶ robots join ──▶ politeness schedule (per-host waves, ranked
            over score buckets so a hot host spreads across tasks)
        ──▶ fetch+validate (one Arrow pass per distinct payload,
            verdicts joined back onto the scheduled fetches)
        ──▶ commits, in order: fetches++, seen_keys++ (appends), seen_shards
            (new keys' Bloom bits OR-ed in) — the last: it marks the round done

The frontier is never rewritten: worklist state (fetched? when?) derives
from the appended fetch log — the reference's in-place ES flag updates
(orm.py should_fetch/last_fetched) would be an O(frontier) columnar rewrite
per round at 10^10 rows.

Checkpoint/resume (exactly-once): every table is a SnapshotTable and every
round is a deterministic function of the *pre-round* snapshot versions. A
round's commits are tagged with its round id; on replay after a kill,
``run_round`` (a) reads each input table at its latest snapshot NOT belonging
to this round, so a partially-committed round can't feed itself, and (b)
skips any output commit already recorded for this round. Because the
computation is deterministic (md5 scores, url_key tiebreaks), the replay
reproduces byte-identical outputs and only fills in the missing commits —
the multi-table transaction the reference gets from ES create-if-absent ops
(SURVEY.md §1.4), without a coordinator. Verified by the kill/resume test.

Reproducibility: all ordering derives from md5-based scores + url_key
tiebreaks → the schedule (wave, dispatch_ts per url) is identical at any
parallelism (a test schedules a repartitioned input; the crawl goldens
pin full rounds against a pure-Python twin).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_query_log_spark.crawler.fetch import fetch_and_validate
from archive_query_log_spark.operators import politeness, seen_set, worklist
from archive_query_log_spark.tables import SnapshotTable, bucket_of

T0 = "2024-01-01 00:00:00"


@dataclass
class CrawlConfig:
    budget_waves: int = 8           # per-host dispatch budget per round
    n_buckets: int = 32             # seen-set shard count
    seed: int = 42
    # re-poll clock (F2): rows fetched before now − 4 weeks become eligible
    # again as REFRESHES (they bypass the seen-set — the reference re-polls
    # sources with from_timestamp deltas, captures/__init__.py:28,45-50,
    # 163-176). None disables re-polling.
    now: str | None = None


@dataclass
class CrawlState:
    root: Path
    frontier: SnapshotTable = field(init=False)
    fetches: SnapshotTable = field(init=False)
    seen_keys: SnapshotTable = field(init=False)
    seen_shards: SnapshotTable = field(init=False)

    def __post_init__(self):
        self.root = Path(self.root)
        for name in ("frontier", "fetches", "seen_keys", "seen_shards"):
            setattr(self, name, SnapshotTable(self.root / name))


def init_state(root: str | Path, frontier_df: DataFrame) -> CrawlState:
    state = CrawlState(Path(root))
    state.frontier.commit(frontier_df, op="overwrite", meta={"stage": "init"})
    return state


def candidates(frontier: DataFrame) -> DataFrame:
    """Static gates: flag-pending ∧ valid-URL ∧ status-200 (F1/F7/F8).

    Fetch history is NOT read from frontier columns — the frontier is
    immutable and worklist state derives from the append-only fetch log
    (see ``eligible_work``): rewriting a 10^10-row frontier to flip flags
    every round would be an O(frontier) write; an appended log row is O(1).
    """
    from archive_query_log_spark.functions import urls

    return (
        frontier.where(worklist.pending(F.col("should_fetch")))
        .where(urls.valid_url(F.col("url")))
        .where(F.col("status_code") == 200)
    )


def _fetch_log(spark: SparkSession, state: CrawlState, round_id: int):
    """(id → last fetched_at) from the append-only fetch log, at the snapshot
    before `round_id` (replay safety)."""
    ver = _version_before_round(state.fetches, round_id)
    if ver is None:
        return None
    log = state.fetches.read(spark, ver)
    return log.groupBy("id").agg(F.max("fetched_at").alias("_last_fetched_at"))


def eligible_work(
    frontier: DataFrame, fetch_log: DataFrame | None, now: str | None
) -> tuple[DataFrame, DataFrame | None]:
    """(new, refresh): never-fetched rows, and — given a re-poll clock —
    rows whose last fetch is older than REFETCH_DELTA (F2). Both derived by
    joins against the fetch log; the frontier itself is never rewritten."""
    base = candidates(frontier)
    if fetch_log is None:
        return base, None
    new = base.join(fetch_log, on="id", how="left_anti")
    refresh = None
    if now is not None:
        refresh = (
            base.join(fetch_log, on="id", how="inner")
            .where(
                worklist.stale(
                    F.col("_last_fetched_at"), F.to_timestamp(F.lit(now))
                )
            )
            .drop("_last_fetched_at")
        )
    return new, refresh


def _version_before_round(table: SnapshotTable, round_id: int) -> int | None:
    """Latest snapshot version not produced by `round_id` (replay safety)."""
    if not table.exists():
        return None
    for m in reversed(table.history()):
        r = m["meta"].get("round")
        if r is None or r < round_id:
            return m["version"]
    return None


def _commit_once(
    table: SnapshotTable, df: DataFrame, op: str, round_id: int,
    observe: dict | None = None,
) -> dict:
    """Commit unless this round already committed to this table (replay).
    Returns the meta of the table's snapshot for this round either way, so
    statistics observed on the first commit survive a replay."""
    v = table.latest_version()
    if v is None or table._manifest(v)["meta"].get("round") != round_id:
        v = table.commit(df, op=op, meta={"round": round_id}, observe=observe)
    return table._manifest(v)["meta"]


def next_round_id(state: CrawlState) -> int:
    """One past the last complete round: ``seen_shards`` is its last commit."""
    v = state.seen_shards.latest_version()
    if v is None:
        return 0
    return state.seen_shards._manifest(v)["meta"].get("round", -1) + 1


def run_round(
    spark: SparkSession,
    state: CrawlState,
    images: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig | None = None,
    round_id: int = 0,
) -> dict:
    """Execute one crawl round; returns its totals dict."""
    from archive_query_log_spark.functions.ids import worklist_score

    cfg = cfg or CrawlConfig()
    seen_ver = _version_before_round(state.seen_keys, round_id)
    shard_ver = _version_before_round(state.seen_shards, round_id)
    shard_meta = (
        state.seen_shards._manifest(shard_ver)["meta"] if shard_ver is not None else {}
    )
    # shards under another modulus would give false negatives: refuse before
    # the probe runs and before any table commits
    built_nb = shard_meta.get("n_buckets")
    if built_nb is not None and built_nb != cfg.n_buckets:
        raise ValueError(
            f"shards were built with n_buckets={built_nb}, round {round_id} "
            f"requested {cfg.n_buckets} — rebucketing requires a full rebuild"
        )
    frontier = state.frontier.read(spark)

    def score(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "score",
            worklist_score(
                F.col("archive.priority"),
                F.col("provider.priority"),
                F.col("id"),
                seed=cfg.seed,
            ),
        )

    # worklist = frontier ⟕anti fetch-log (+ stale re-polls, F2); the
    # frontier table is immutable — state lives in the appended log
    new, refresh = eligible_work(frontier, _fetch_log(spark, state, round_id), cfg.now)

    # seen-set filter: within-batch first-seen (A8) + shard/exact novelty.
    # Stale re-polls are REFRESHES of already-seen URLs — they bypass the
    # seen-set (the reference re-fetches sources after REFETCH_DELTA).
    new = seen_set.first_seen_in_batch(score(new), "url_key", "ts")
    seen = state.seen_keys.read(spark, seen_ver) if seen_ver is not None else None
    shards = (
        state.seen_shards.read(spark, shard_ver) if shard_ver is not None else None
    )
    fresh = seen_set.filtered_new(
        new, seen, shards, "url_key", cfg.n_buckets,
        shard_size_bytes=shard_meta.get("shard_total_bytes"),
    ).withColumn("is_refresh", F.lit(False))
    if refresh is not None:
        fresh = fresh.unionByName(
            seen_set.first_seen_in_batch(score(refresh), "url_key", "ts")
            .withColumn("is_refresh", F.lit(True))
        )

    # politeness: robots rules + per-host wave ranking
    allowed = politeness.apply_robots(fresh, robots, "url", "host")
    scheduled = politeness.schedule(
        allowed.withColumn("t0", F.to_timestamp(F.lit(T0))),
        budget_waves=cfg.budget_waves,
    ).drop("t0")

    # fetch + validate; cache: used for the fetches commit and the seen update.
    # The cached plan ends in the politeness rank's shuffle; AQE coalesces
    # it to the data's size (session.get_spark allows it for cached plans),
    # so each consumer runs a few tasks and the fetches commit writes a few
    # files, not one per shuffle partition.
    # `round` rides every fetch row as per-row lineage (which round produced
    # this fetch) — the commit meta carries it too, but a row-level tag
    # survives compaction/export and lets the digest oracle pin the full
    # stateful run without reading manifests.
    results = (
        fetch_and_validate(scheduled, images)
        .withColumn(
            "fetched_at",
            F.to_timestamp(F.lit(cfg.now)) if cfg.now else F.current_timestamp(),
        )
        .withColumn("round", F.lit(round_id))
    )
    results.cache()

    # the round's totals are observed on the fetches write (no job of
    # their own) and read back from its manifest — on a replay too
    totals = _commit_once(
        state.fetches, results, "append", round_id,
        observe={
            "fetched": F.count(F.lit(1)),
            "ok": F.coalesce(
                F.sum(F.when(F.col("fetch_status") == 200, 1).otherwise(0)),
                F.lit(0),
            ),
        },
    )

    # seen-set update: exact keys append + new keys OR-ed into the Bloom
    # shards, sized once for the frontier (no seen set outgrows it); refreshes
    # are already members — only first-time fetches extend the set
    new_keys = (
        results.where(~F.col("is_refresh"))
        .select("url_key")
        .dropDuplicates(["url_key"])
    )
    _commit_once(state.seen_keys, new_keys, "append", round_id)
    bloom_cfg = seen_set.sized_config(
        state.frontier._snapshot(None)["row_count"], cfg.n_buckets
    )
    if shards is None:
        next_shards = seen_set.build_bloom_shards(new_keys, "url_key", bloom_cfg)
    else:
        next_shards = seen_set.update_bloom_shards(
            shards, new_keys, "url_key", bloom_cfg
        )
    _commit_once(state.seen_shards, next_shards, "overwrite", round_id,
                 observe={"shard_total_bytes": seen_set.shard_bytes(),
                          "n_buckets": F.max("nb")})

    results.unpersist()
    return {"round": round_id, "fetched": totals["fetched"], "ok": totals["ok"]}


def round_metrics(spark: SparkSession, state: CrawlState) -> DataFrame:
    """Per-(round, host-bucket) lineage rollup of the fetch log, bucketed by
    the seen-set modulus the shards commit observed (fixed for a crawl)."""
    n_buckets = state.seen_shards._snapshot(None)["meta"]["n_buckets"]
    return (
        state.fetches.read(spark)
        .withColumn("bucket", bucket_of("host", n_buckets))
        .groupBy("round", "bucket")
        .agg(
            F.count("*").alias("fetched"),
            F.sum(F.when(F.col("fetch_status") == 200, 1).otherwise(0)).alias("ok"),
            F.sum(
                F.when(
                    F.col("psnr_ok") & F.col("caption_ok") & F.col("phash_ok"), 1
                ).otherwise(0)
            ).alias("valid"),
            F.max("wave").alias("max_wave"),
        )
    )


def crawl_progress(spark: SparkSession, state: CrawlState) -> DataFrame:
    """Monitoring rollup (the reference's stage-progress API,
    monitoring.py:258-288/458-571): per-round fetched/ok/valid counts plus
    overall frontier coverage, from the fetch log and the frontier manifest."""
    per_round = round_metrics(spark, state).groupBy("round").agg(
        F.sum("fetched").alias("fetched"),
        F.sum("ok").alias("ok"),
        F.sum("valid").alias("valid"),
        F.max("max_wave").alias("max_wave"),
    )
    total_frontier = state.frontier._snapshot(None)["row_count"]
    fetched_ids = state.fetches.read(spark).select("id").distinct().count()
    return per_round.withColumn(
        "frontier_total", F.lit(total_frontier)
    ).withColumn(
        "frontier_fetched_ratio",
        F.round(F.lit(fetched_ids) / F.lit(max(total_frontier, 1)), 6),
    ).orderBy("round")


def maintain(
    spark: SparkSession,
    state: CrawlState,
    keep_last: int = 8,
    compact_over_dirs: int = 16,
    orphan_age_s: float = 3600.0,
) -> dict:
    """Between-rounds table maintenance (Iceberg housekeeping): compact
    fragmented logs, expire old snapshots, collect killed-run orphans. At
    10^10-frontier scale a long crawl otherwise accretes one manifest + one
    small parquet dir per table per round — file listing, not I/O, becomes
    the scan bottleneck.

    Run at a ROUND BOUNDARY only (after run()/run_round returns), never
    concurrently with a round. ``keep_last >= 2`` is enforced: the crash-
    replay path reads the snapshot *before* the replayed round
    (_version_before_round), so at least one pre-round snapshot must
    survive expiry. Compaction carries the ``round`` lineage key forward,
    keeping next_round_id()/replay guards intact across rewrites (pinned
    in tests)."""
    if keep_last < 2:
        raise ValueError(
            f"keep_last must be >= 2 (crash-replay needs the pre-round"
            f" snapshot), got {keep_last}"
        )
    report: dict = {}
    for name in ("frontier", "fetches", "seen_keys", "seen_shards"):
        t: SnapshotTable = getattr(state, name)
        if not t.exists():
            continue
        r: dict = {}
        m = t._manifest(t.latest_version())
        if compact_over_dirs and len(m["data_dirs"]) >= compact_over_dirs:
            r["compacted_to_version"] = t.compact(
                spark,
                carry_meta_keys=("round", "stage", "fetched", "ok",
                                 "shard_total_bytes", "n_buckets"),
            )
        r["expire"] = t.expire_snapshots(keep_last=keep_last)
        r["orphans_removed"] = t.remove_orphans(older_than_s=orphan_age_s)
        report[name] = r
    return report


def run(
    spark: SparkSession,
    state: CrawlState,
    images: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig | None = None,
    max_rounds: int = 10,
) -> list[dict]:
    """Drive rounds until the pending worklist is empty (or max_rounds).

    Resumes automatically: ``next_round_id`` reads a round's last commit
    (``seen_shards``), so a killed ``run`` replays its torn round."""
    stats = []
    cfg = cfg or CrawlConfig()
    r0 = next_round_id(state)
    for r in range(r0, r0 + max_rounds):
        # no pre-probe: a probe would execute the frontier⟕anti-log plan a
        # second time per round; an empty round is one cheap set of empty
        # appends and terminates the loop
        stats.append(run_round(spark, state, images, robots, cfg, round_id=r))
        if stats[-1]["fetched"] == 0:
            break
    return stats
