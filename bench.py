"""Benchmark harness (driver contract).

Prints ONE COMPACT JSON line as the FINAL stdout line:
  {"metric": ..., "value": <frontier URLs scheduled+fetched/sec at
   local[$SPARK_GRAFT_CPUS]>, "unit": "urls/sec", "queries": {name: sec},
   "sf": <sf>, "crawl": {...}, "sections": {...}, "scaling": {...}}
The full record (raw windows per query/section/leg, method notes, CC
telemetry) goes to BENCH_LOCAL.json next to this file — round 4's lesson:
the driver captures only the tail of stdout, and a detail-laden single line
outgrew its window, leaving the round with "parsed": null.

The headline job is the north-star path: score → within-batch dedup →
robots join → salted politeness waves → fetch + per-fetch decode validation
(Arrow UDF), on a deterministic synthetic frontier scaled to the SF dir.

Scaling evidence (BASELINE.md: no multi-node cluster in-sandbox — two
parallelism levels stand in for N vs 4N executors): the SAME job runs in
FRESH subprocesses (cold JVM each, identical shuffle partitioning) at
local[2], local[8] and local[32], interleaved over 3 fixed windows;
efficiency = T(8) / (4 · T(2)) (contention-free pair) and T(32) / (4 · T(8))
(same-socket, DRAM-bound — reported, characterized in BENCH.md).

Every measured number rides the same noise-robust estimator: repeated fixed
windows (interleaved where multiple measurements share a session), median
AND best both reported, raw windows preserved in BENCH_LOCAL.json. No
adaptive stopping anywhere — optional stopping would bias the estimator.

Also reported: the content-addressed fetch-cache path (decode each distinct
payload once) — the engine's real design, ~2× the per-fetch number.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SCALING = os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") == "1"


def _setup_scratch() -> None:
    """Point Spark's shuffle/spill scratch (spark.local.dir, via the
    SPARK_GRAFT_LOCAL_DIR hook in session.get_spark) at a tmpfs when one
    with headroom exists. Measured A/B on this sandbox (round 6, 2M-URL
    crawl leg): with scratch on the shared /tmp DISK the local[8] windows
    swing ±20% (52k-74k urls/s) from co-tenant I/O contention; on
    /dev/shm they sit within ±2% (77.4k/80.1k/78.6k) and the median is
    ~30% higher — the shuffle-file I/O was BOTH the dominant variance
    source and a real bottleneck. On a production cluster this maps to
    per-executor NVMe/ramdisk scratch. Runs at import so the headline,
    section benches, and every cold-JVM subprocess leg inherit it.

    tmpfs is RAM: a leg killed by the subprocess timeout (SIGKILL) never
    removes its shuffle dirs, and leaked files would occupy memory until
    reboot — so the MAIN bench process (not the subprocess legs, which
    see the env var already set) registers an atexit sweep of the scratch
    dir. Spark re-creates its per-app subdirs on demand, so sweeping
    between runs is always safe."""
    if os.environ.get("SPARK_GRAFT_LOCAL_DIR"):
        return
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize > 16 * 2**30 and os.access(shm, os.W_OK):
            # pid-suffixed: two concurrent bench runs must not share a
            # scratch root — the first to exit would atexit-sweep the
            # other's live shuffle files mid-run. Subprocess legs inherit
            # the env var, so they share THIS run's dir (swept only after
            # they have finished).
            scratch = os.path.join(shm, f"spark-graft-bench-{os.getpid()}")
            os.environ["SPARK_GRAFT_LOCAL_DIR"] = scratch
            import atexit
            import glob
            import shutil

            atexit.register(shutil.rmtree, scratch, ignore_errors=True)
            # a SIGKILLed run never reaches its atexit; its pid-suffixed
            # dir would hold tmpfs (RAM) until reboot — sweep siblings
            # whose owning pid is gone before starting this run
            for stale in glob.glob(
                os.path.join(shm, "spark-graft-bench-*")
            ):
                try:
                    pid = int(stale.rsplit("-", 1)[1])
                except ValueError:
                    continue
                if pid != os.getpid() and not os.path.exists(
                    f"/proc/{pid}"
                ):
                    shutil.rmtree(stale, ignore_errors=True)
    except OSError:
        pass


_setup_scratch()

BENCH_QUERIES = [
    "flagship_crawl_schedule",
    "j2_multiway_join",
    "j3_asof_join",
    "a4_date_histogram",
    "a8_minby_dedup",
    "w1_priority_rank",
    "c17_url_key",
    "dedup_minhash_signatures",
    "dedup_exact",
    "ann_bruteforce_topk",
    "text_quality",
    "q2_advanced_search",
    "dedup_pipeline_e2e",
    "j1_real_providers",
]


def _sf_of(path: str) -> float:
    try:
        return float(path.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return -1.0


def _windowed(run, repeats: int | None = None):
    """Shared noise-robust estimator for every bench section: ``repeats``
    fixed timed windows of ``run()`` (caller warms first), no adaptive
    stop.  Returns (median_sec, best_sec, raw_windows, last_payload)."""
    repeats = repeats or int(
        os.environ.get("SPARK_GRAFT_BENCH_SECTION_REPEATS", "3")
    )
    dts, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = run()
        dts.append(round(time.perf_counter() - t0, 3))
    return round(statistics.median(dts), 3), min(dts), dts, out


def crawl_job(master: str, n_frontier: int, n_images: int, per_fetch: bool,
              n_runs: int = 2, stages: bool = False) -> dict:
    """The measured job. Runs in THIS process — call via subprocess for
    cold-JVM comparability.

    ``stages=True`` appends a stage-attribution pass AFTER the timed runs:
    each pipeline stage (score → dedup → robots → schedule → fetch/decode)
    is timed in isolation from its persisted parent, so the stage that
    loses scaling efficiency between parallelism levels is NAMED in the
    bench record instead of inferred. The attribution pass never touches
    the headline timings (separate executions, cache dropped after)."""
    from pyspark.sql import functions as F

    from archive_query_log_spark.crawler import synth
    from archive_query_log_spark.crawler.fetch import fetch_and_validate
    from archive_query_log_spark.functions.ids import worklist_score
    from archive_query_log_spark.operators import politeness, seen_set
    from archive_query_log_spark.session import get_spark

    spark = get_spark(
        app_name=f"bench-{master}", master=master, shuffle_partitions=64
    )
    spark.sparkContext.setLogLevel("ERROR")
    images = synth.synth_images(spark, n_images, 128).cache()
    images.count()
    frontier = synth.synth_frontier(spark, n_frontier, n_images, 128).cache()
    frontier.count()
    robots = synth.synth_robots(spark)

    def _cand():
        return frontier.where(
            (F.col("status_code") == 200) & (F.octet_length("url") <= 32766)
        ).withColumn(
            "score",
            worklist_score(
                F.col("archive.priority"), F.col("provider.priority"), F.col("id")
            ),
        )

    def _sched_of(allowed, budget):
        # narrow to the fetch-log columns before the Arrow boundary — the
        # frontier's wide struct columns stay out of the fetch stage
        return politeness.schedule(
            allowed.withColumn(
                "t0", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            ),
            budget_waves=budget,
        ).select("id", "image_id", "url_key", "host", "wave", "dispatch_ts")

    def job(budget: int | None, pf: bool):
        cand = seen_set.first_seen_in_batch(_cand(), "url_key", "ts")
        allowed = politeness.apply_robots(cand, robots, "url", "host")
        return fetch_and_validate(
            _sched_of(allowed, budget), images, per_fetch=pf,
            broadcast_images=True,
        )

    def staged_times(budget: int | None, pf: bool) -> dict[str, float]:
        """Stage-local wall times: every stage runs from its PERSISTED
        parent, so t(stage) excludes upstream recompute; the score stage is
        forced through a hash agg (a bare count would let Catalyst prune
        the score expression)."""
        out: dict[str, float] = {}

        def timed(name, df, force):
            t0 = time.perf_counter()
            force(df)
            out[name] = round(time.perf_counter() - t0, 3)
            return df

        cand = timed(
            "score",
            _cand().persist(),
            lambda d: d.agg(
                F.sum(F.crc32(F.col("score").cast("string")))
            ).collect(),
        )
        ded = timed(
            "dedup",
            seen_set.first_seen_in_batch(cand, "url_key", "ts").persist(),
            lambda d: d.count(),
        )
        alw = timed(
            "robots",
            politeness.apply_robots(ded, robots, "url", "host").persist(),
            lambda d: d.count(),
        )
        sched = timed(
            "schedule", _sched_of(alw, budget).persist(), lambda d: d.count()
        )
        timed(
            "fetch_decode",
            fetch_and_validate(
                sched, images, per_fetch=pf, broadcast_images=True
            ),
            lambda d: d.count(),
        )
        for df in (cand, ded, alw, sched):
            df.unpersist()
        return out

    # full-size warm-up run (JIT/codegen, python workers, broadcast), then
    # n_runs steady-state runs — this sandbox VM shows ±30% run-to-run
    # interference; the fastest run is the least-contended estimate of the
    # engine's throughput (median also reported). The scaling legs call
    # this with n_runs=1: their repetition lives in the OUTER interleaved
    # windows, which also catch contention that a within-JVM repeat
    # cannot (whole-window interference).
    job(10_000_000, per_fetch).count()
    times, n = [], 0
    for _ in range(n_runs):
        t0 = time.perf_counter()
        n = job(10_000_000, per_fetch).count()
        times.append(time.perf_counter() - t0)
    stages_sec = staged_times(10_000_000, per_fetch) if stages else None
    spark.stop()
    best = min(times)
    out = {
        "urls": n,
        "sec": round(best, 3),
        "urls_per_sec": round(n / best, 1),
        "urls_per_sec_median": round(n / statistics.median(times), 1),
        "windows_sec": [round(t, 3) for t in times],
    }
    if stages_sec is not None:
        out["stages_sec"] = stages_sec
    return out


def crawl_subprocess(master: str, n_frontier: int, n_images: int,
                     per_fetch: bool, n_runs: int = 2,
                     stages: bool = False) -> dict:
    """Cold-JVM run of crawl_job in a fresh process."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--crawl-job", master,
        str(n_frontier), str(n_images), "1" if per_fetch else "0",
        str(n_runs), "1" if stages else "0",
    ]
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=1800,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def query_times(master: str) -> tuple[dict[str, float], dict]:
    """Per-query timings over REPEATED INTERLEAVED fixed windows, median
    reported — the same machinery the scaling legs use. A single naked run
    per query (rounds 1-3) could not distinguish a real 2× regression from
    this sandbox's multi-minute contention windows (driver round-3 times
    read 1.3-3.8× slower than round-2 with zero code changes); interleaving
    spreads any contention window across all queries and the median
    discards it. Fixed window count, no adaptive stop (optional stopping
    would bias the estimator). Returns (medians, detail) where detail
    carries per-window raw times, best-of, and the connected-components
    telemetry of the last dedup_pipeline_e2e execution."""
    from archive_query_log_spark import entry_queries
    from archive_query_log_spark.operators import dedup
    from archive_query_log_spark.session import get_spark

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_REPEATS", "3"))
    spark = get_spark(app_name="bench-queries", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_queries.queries()
    for name in BENCH_QUERIES:  # warm pass: plans, scan caches, py workers
        qs[name](spark, SF_DIR).limit(1).collect()
    windows: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    for _w in range(repeats):
        for name in BENCH_QUERIES:
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).count()
            windows[name].append(round(time.perf_counter() - t0, 3))
    spark.stop()
    medians = {
        name: round(statistics.median(v), 3) for name, v in windows.items()
    }
    detail = {
        "repeats": repeats,
        "method": (
            "interleaved fixed windows, median reported (best + raw windows"
            " below); same estimator as the scaling legs"
        ),
        "best": {name: min(v) for name, v in windows.items()},
        "windows": windows,
        # rounds/edges/cutover of the final dedup_pipeline_e2e CC run: a
        # convergence regression shows up here, not just as wall-clock.
        # (thread-local accessor; this thread ran every query, so "last CC
        # call on this thread" is exactly the final dedup_pipeline_e2e run)
        "dedup_cc": dedup.last_cc_telemetry(),
    }
    return medians, detail


def ann_sig_bench(master: str, n_rows: int = 20_000, dim: int = 768) -> dict:
    """Stored-signature writer at a REAL embedding width (dim=768): the
    matmul-UDF path keeps the plan constant-size where the unrolled
    expression path (n_planes×dim = 6144 terms) blows up plan compilation.
    Reports rows/sec of signature computation incl. plan time."""
    from pyspark.sql import functions as F

    from archive_query_log_spark.operators import similarity
    from archive_query_log_spark.session import get_spark

    spark = get_spark(app_name="bench-ann", master=master, shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    # deterministic synthetic embeddings: md5-derived components, JVM-side
    base = spark.range(n_rows).select(F.col("id").alias("vec_id"))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("vec_id"), d)), 1, 8
                ),
                16,
                10,
            ).cast("double")
            / F.lit(2147483648.0)
            - F.lit(1.0)
        ),
    )
    emb = base.select("vec_id", vec.alias("embedding")).cache()
    emb.count()
    out = similarity.with_lsh_signature(
        emb, dim=dim, n_planes=8, method="matmul"
    )
    out.count()  # warm python workers
    med, best, windows, n = _windowed(out.count)
    spark.stop()
    return {
        "rows": n,
        "dim": dim,
        "sec": med,
        "sec_best": round(best, 3),
        "windows": windows,
        "rows_per_sec": round(n / med, 1),
        "rows_per_sec_best": round(n / best, 1),
        "path": "matmul-udf (expr path unusable at this width)",
    }


def cascade_bench(master: str, n_rows: int = 500_000) -> dict:
    """The reference's full 972-rule url→query cascade via the zero-shuffle
    array plan over synthetic SERP URLs spread across the real provider ids.
    Reports rows/sec including the broadcast of the packed rule arrays."""
    from pyspark.sql import functions as F

    from archive_query_log_spark.operators.cascade import apply_cascade_array
    from archive_query_log_spark.operators.rule_tables import (
        load_rule_rows,
        reference_rules_df,
    )
    from archive_query_log_spark.session import get_spark

    spark = get_spark(app_name="bench-cascade", master=master,
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    providers = sorted({r["provider_id"] for r in load_rule_rows("url_query")})
    prov_arr = F.array(*[F.lit(p) for p in providers[:256]])
    base = spark.range(n_rows).select(
        F.col("id"),
        F.element_at(prov_arr, (F.pmod("id", F.lit(256)) + 1).cast("int")).alias(
            "provider_id"
        ),
        F.concat(
            F.lit("https://h"),
            F.pmod("id", F.lit(97)).cast("string"),
            F.lit(".example.com/search?q=term+"),
            F.col("id").cast("string"),
            F.lit("&page=3"),
        ).alias("url"),
    ).cache()
    base.count()
    rules = reference_rules_df(spark, "url_query")

    def run():
        out = apply_cascade_array(
            base, rules, F.col("url"), F.col("provider_id"), out_col="q"
        )
        return out.agg(F.count("q")).collect()[0][0]

    run()  # warm
    med, best, windows, n_parsed = _windowed(run)
    spark.stop()
    return {
        "rows": n_rows,
        "n_rules": 972,
        "parsed": n_parsed,
        "sec": med,
        "sec_best": round(best, 3),
        "windows": windows,
        "rows_per_sec": round(n_rows / med, 1),
        "rows_per_sec_best": round(n_rows / best, 1),
        "plan": "apply_cascade_array (zero data-side exchanges)",
    }


def warc_xpath_bench(master: str, n_rows: int = 20_000) -> dict:
    """The reference's real 74-rule WARC XPath query cascade (html.parser
    DOM + xpath_lite per row, Arrow-batched, map-only) over synthetic SERP
    documents cycled from the parity corpus. Reports docs/sec — the
    per-SERP HTML-parse cost dominates, as it would at 10^8 SERPs."""
    import json as _json
    from pathlib import Path

    from pyspark.sql import functions as F

    from archive_query_log_spark.operators.warc_rules import (
        parse_warc_queries,
    )
    from archive_query_log_spark.session import get_spark

    corpus = _json.loads(
        (
            Path(__file__).resolve().parent
            / "archive_query_log_spark/data/warc_rule_corpus.json"
        ).read_text()
    )["warc_query"]
    sample = [r for r in corpus if r["warc_query"] is not None][:32]
    spark = get_spark(app_name="bench-warc-xpath", master=master,
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    pids = F.array(*[F.lit(r["provider_id"]) for r in sample])
    urls = F.array(*[F.lit(r["url"]) for r in sample])
    htmls = F.array(*[F.lit(r["html"]) for r in sample])
    idx = (F.pmod("id", F.lit(len(sample))) + 1).cast("int")
    base = spark.range(n_rows).select(
        F.element_at(pids, idx).alias("provider_id"),
        F.element_at(urls, idx).alias("url"),
        F.element_at(htmls, idx).alias("html"),
    ).cache()
    base.count()

    def run():
        return (
            parse_warc_queries(base)
            .agg(F.count("warc_query"))
            .collect()[0][0]
        )

    run()  # warm
    med, best, windows, n_parsed = _windowed(run)
    spark.stop()
    return {
        "rows": n_rows,
        "n_rules": 74,
        "parsed": n_parsed,
        "sec": med,
        "sec_best": round(best, 3),
        "windows": windows,
        "rows_per_sec": round(n_rows / med, 1),
        "rows_per_sec_best": round(n_rows / best, 1),
        "plan": "Arrow UDF cascade (map-only, exchange-free)",
    }


def warc_xpath_real_bench(master: str) -> dict | None:
    """The 74-rule WARC XPath query cascade + 88-rule block cascade over the
    REAL archived-SERP corpus (870 SERPs / 43 providers, 100-420 KB
    documents, CJK/Cyrillic charsets, malformed markup) — the synthetic
    warc_xpath_74 line flatters small well-formed documents. Reports docs/s
    AND bytes/s; bytes/s is the number that extrapolates to a production
    WARC sweep. Skipped (None) when the fixture tree is absent."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from archive_query_log_spark.operators.warc_rules import (
        extract_result_blocks,
        parse_serp,
        parse_warc_queries,
    )
    from archive_query_log_spark.session import get_spark
    from archive_query_log_spark.sources.warc_fixtures import load_fixture_rows

    fixtures = Path("/root/reference/data/tests")
    if not fixtures.exists():
        return None
    rows = load_fixture_rows(fixtures)
    total_bytes = sum(len(h.encode("utf-8", "ignore")) for _, _, h in rows)
    spark = get_spark(app_name="bench-warc-real", master=master,
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.createDataFrame(
        rows, "provider_id string, url string, html string"
    ).repartition(32).cache()
    base.count()

    def run():
        nq = (
            parse_warc_queries(base)
            .agg(F.count("warc_query")).collect()[0][0]
        )
        nb = extract_result_blocks(base).count()
        return nq, nb

    def run_combined():
        row = (
            parse_serp(base)
            .agg(
                F.count("warc_query").alias("nq"),
                F.coalesce(F.sum(F.size("blocks")), F.lit(0)).alias("nb"),
            )
            .collect()[0]
        )
        return row["nq"], row["nb"]

    # interleaved fixed windows over BOTH paths (they share the session, so
    # a contention window hits both legs of the speedup ratio equally)
    run()
    run_combined()  # warm both
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_SECTION_REPEATS", "3"))
    w_sep, w_comb = [], []
    nq = nb = nq_c = nb_c = 0
    for _ in range(repeats):
        t0 = time.perf_counter()
        nq, nb = run()
        w_sep.append(round(time.perf_counter() - t0, 3))
        t0 = time.perf_counter()
        nq_c, nb_c = run_combined()
        w_comb.append(round(time.perf_counter() - t0, 3))
    spark.stop()
    assert (nq, nb) == (nq_c, nb_c), "combined pass diverged from separate"
    med, med_c = statistics.median(w_sep), statistics.median(w_comb)
    n_docs = len(rows)
    return {
        "docs": n_docs,
        "providers": len({p for p, _, _ in rows}),
        "bytes": total_bytes,
        "queries_extracted": nq,
        "blocks_extracted": nb,
        "sec": round(med, 3),
        "sec_best": min(w_sep),
        "windows": w_sep,
        "docs_per_sec": round(n_docs / med, 1),
        "mb_per_sec": round(total_bytes / med / 1e6, 2),
        "plan": (
            "query + block cascades, each one map-only Arrow UDF pass over"
            " the real corpus (2 DOM parses/doc)"
        ),
        # parse_serp: both cascades off ONE shared DOM parse per document
        "combined": {
            "sec": round(med_c, 3),
            "sec_best": min(w_comb),
            "windows": w_comb,
            "docs_per_sec": round(n_docs / med_c, 1),
            "mb_per_sec": round(total_bytes / med_c / 1e6, 2),
            "speedup_vs_separate": round(med / med_c, 2),
        },
    }


# Hard byte budget for the compact stdout line. The driver captures only
# the LAST ~2000 bytes of stdout; a line that outgrows the window leaves
# the round's BENCH artifact with "parsed": null (it happened in rounds 4
# AND 6 — each time a well-meant detail block pushed the line over). The
# budget leaves ~120 bytes of slack under 2000 for the driver's own
# framing. build_compact() enforces it structurally: detail blocks live in
# BENCH_LOCAL.json only, and if the line still exceeds the budget it
# degrades through _COMPACT_DROPS (least-essential first) and finally
# asserts — an over-budget line can fail tests, never ship silently.
COMPACT_BUDGET = 1880


def _compact_drop_t32_windows(c):
    (c.get("scaling") or {}).pop("t32_windows", None)


def _compact_drop_section_secs(c):
    for s in (c.get("sections") or {}).values():
        if isinstance(s, dict):
            s.pop("sec", None)


def _compact_drop_queries_best(c):
    c.pop("queries_best", None)


def _compact_drop_gate_windows(c):
    for k in ("t2_windows", "t8_windows"):
        (c.get("scaling") or {}).pop(k, None)


def _compact_drop_sections(c):
    c.pop("sections", None)


_COMPACT_DROPS = [
    _compact_drop_t32_windows,
    _compact_drop_section_secs,
    _compact_drop_queries_best,
    _compact_drop_gate_windows,
    _compact_drop_sections,
]


def build_compact(detail: dict, budget: int = COMPACT_BUDGET) -> str:
    """The single compact stdout line, built from the full record.

    Contents (in priority order — later blocks degrade first if over
    budget): driver contract (metric/value/unit/sf/queries medians);
    crawl headline; scaling-gate scalars (the two-cluster-size criterion);
    per-query best-of (variance evidence — a uniform median-vs-best gap
    across unrelated queries is the contention signature, a single query's
    gap is a plan regression); gate-pair raw windows; section rates.
    Everything else (windows_sec, per-stage attribution, CC telemetry,
    methods) is BENCH_LOCAL.json-only by construction."""
    queries = detail["queries"]
    qbest = (detail.get("queries_detail") or {}).get("best") or {}
    scaling = detail.get("scaling")
    main_run = detail["crawl"]["per_fetch_decode"]

    def _rate(d, rate_key):
        return None if d is None else {rate_key: d[rate_key], "sec": d["sec"]}

    wxr = detail.get("warc_xpath_real")
    compact = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": detail["unit"],
        "sf": detail["sf"],
        "queries": queries,
        "queries_best": {k: qbest[k] for k in queries if k in qbest},
        "crawl": {
            "n_frontier": detail["crawl"]["n_frontier"],
            "urls_per_sec": main_run["urls_per_sec"],
            "urls_per_sec_median": main_run.get("urls_per_sec_median"),
            "fetch_cache_urls_per_sec": (
                detail["crawl"]["fetch_cache"]["urls_per_sec"]
            ),
        },
        "sections": {
            "ann_sig_768": _rate(detail.get("ann_sig_768"), "rows_per_sec"),
            "cascade_972": _rate(detail.get("cascade_972"), "rows_per_sec"),
            "warc_xpath_74": _rate(detail.get("warc_xpath_74"), "rows_per_sec"),
            "warc_xpath_real": _rate(wxr, "docs_per_sec"),
            "warc_xpath_real_combined": (
                None if wxr is None else _rate(wxr["combined"], "docs_per_sec")
            ),
        },
        "scaling": (
            None
            if scaling is None
            else {
                k: scaling[k]
                for k in (
                    "t2_urls_per_sec", "t8_urls_per_sec", "t32_urls_per_sec",
                    "efficiency_8_vs_4x2", "efficiency_8_vs_4x2_median",
                    "efficiency_32_vs_4x8", "efficiency_32_vs_4x8_median",
                    "t2_windows", "t8_windows", "t32_windows",
                )
                if k in scaling
            }
        ),
        "detail": "BENCH_LOCAL.json",
    }
    line = json.dumps(compact)
    for drop in _COMPACT_DROPS:
        if len(line) <= budget:
            break
        drop(compact)
        line = json.dumps(compact)
    if len(line) > budget:
        # explicit raise, not assert: python -O would strip an assert and
        # ship a truncatable line — the exact rounds-4/6 artifact blinding
        raise RuntimeError(
            f"compact bench line is {len(line)} bytes even after all drops"
            f" (budget {budget}) — the driver tail window would truncate it"
        )
    return line


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--crawl-job":
        master, nf, ni, pf = sys.argv[2:6]
        n_runs = int(sys.argv[6]) if len(sys.argv) > 6 else 2
        stages = len(sys.argv) > 7 and sys.argv[7] == "1"
        print(json.dumps(crawl_job(master, int(nf), int(ni), pf == "1",
                                   n_runs=n_runs, stages=stages)))
        return

    sf = _sf_of(SF_DIR)
    n_frontier = max(20_000, int(20_000_000 * sf)) if sf > 0 else 100_000
    n_images = n_frontier // 10

    queries, queries_detail = query_times(f"local[{CPUS}]")

    scaling = None
    if SCALING:
        # scaling trio at the FULL headline size — at half size the 8- and
        # 32-core legs starve on fixed stage latency (measured t32 < t8) and
        # the efficiency figure stops measuring the engine.
        # ALL THREE legs run in repeated INTERLEAVED cold-JVM windows
        # (n_runs=1 inside each subprocess — the repetition lives in the
        # outer windows, which also catch whole-window contention): this
        # sandbox shows multi-minute external-contention windows that
        # depress the multi-core legs 25-40% while leaving local[2] intact
        # (verified by re-running the round-1 commit: identical t2, -26% t8)
        # — one unlucky window would misreport the engine's scaling, and
        # round 4's 2-window driver run left a sub-gate 0.692 undecidable.
        # Fixed window count (no early stop): an adaptive break keyed above
        # the pass gate is an optional-stopping rule that biases the
        # estimator; both best-of and median-of windows are reported.
        n_sc = n_frontier
        repeats = int(os.environ.get("SPARK_GRAFT_BENCH_SCALING_REPEATS", "3"))
        stage_attr = os.environ.get("SPARK_GRAFT_BENCH_STAGES", "1") == "1"
        t2s, t8s, t32s = [], [], []
        for _attempt in range(repeats):
            t2s.append(
                crawl_subprocess(
                    "local[2]", n_sc, n_sc // 10, True, 1, stages=stage_attr
                )
            )
            t8s.append(
                crawl_subprocess(
                    "local[8]", n_sc, n_sc // 10, True, 1, stages=stage_attr
                )
            )
            t32s.append(
                crawl_subprocess(
                    "local[32]", n_sc, n_sc // 10, True, 1, stages=stage_attr
                )
            )
        best2, best8, best32 = (
            max(r["urls_per_sec"] for r in leg) for leg in (t2s, t8s, t32s)
        )
        med2, med8, med32 = (
            statistics.median(r["urls_per_sec"] for r in leg)
            for leg in (t2s, t8s, t32s)
        )

        def _stage_median(leg: list[dict]) -> dict[str, float] | None:
            runs = [r["stages_sec"] for r in leg if "stages_sec" in r]
            if not runs:
                return None
            return {
                k: round(statistics.median(r[k] for r in runs), 3)
                for k in runs[0]
            }

        stages2, stages8 = _stage_median(t2s), _stage_median(t8s)
        # per-stage N→4N efficiency from the attribution pass: for wall
        # time, eff = t(2 cores) / (4 · t(8 cores)) — the stage(s) that
        # drag the end-to-end gate below 0.8 are named right here
        stage_eff = (
            {
                k: round(stages2[k] / (4.0 * stages8[k]), 3)
                for k in stages2
                if stages8.get(k)
            }
            if stages2 and stages8
            else None
        )
        scaling = {
            "n_frontier": n_sc,
            "t2_urls_per_sec": best2,
            "t8_urls_per_sec": best8,
            "t32_urls_per_sec": best32,
            # N vs 4N (contention-free pair — cores 2 and 8 of 32 don't
            # saturate the socket's DRAM bandwidth; the multi-node proxy)
            "efficiency_8_vs_4x2": round(best8 / (4.0 * best2), 3),
            # median-of-windows companion figure: robust to a lucky best
            # window the same way best-of is robust to an unlucky one
            "efficiency_8_vs_4x2_median": round(med8 / (4.0 * med2), 3),
            # same box 8→32: includes single-socket memory-bandwidth
            # contention a real 4N-node cluster would not have
            "efficiency_32_vs_4x8": round(best32 / (4.0 * best8), 3),
            "efficiency_32_vs_4x8_median": round(med32 / (4.0 * med8), 3),
            "method": (
                "same job, fresh JVM subprocesses, identical partitioning;"
                f" all 3 legs over {repeats} fixed interleaved windows"
                " (no adaptive stop); best-of and median-of both reported;"
                " stage attribution per window (stage-local times from"
                " persisted parents, separate from the headline timings)"
            ),
            "t2_windows": [r["urls_per_sec"] for r in t2s],
            "t8_windows": [r["urls_per_sec"] for r in t8s],
            "t32_windows": [r["urls_per_sec"] for r in t32s],
            # every window's wall seconds (variance attribution needs the
            # raw times, not just the derived rates)
            "t2_windows_sec": [r["sec"] for r in t2s],
            "t8_windows_sec": [r["sec"] for r in t8s],
            "t32_windows_sec": [r["sec"] for r in t32s],
            "stages_sec_median": {
                "t2": stages2,
                "t8": stages8,
                "t32": _stage_median(t32s),
            },
            "stages_sec_windows": {
                "t2": [r.get("stages_sec") for r in t2s],
                "t8": [r.get("stages_sec") for r in t8s],
                "t32": [r.get("stages_sec") for r in t32s],
            },
            "stage_efficiency_8_vs_4x2": stage_eff,
        }

    # headline: best t32 window when the scaling trio ran at the headline
    # CPU count (same job, same size), else a dedicated windowed run
    if scaling is not None and CPUS == 32:
        main_run = max(t32s, key=lambda r: r["urls_per_sec"])
        main_run = dict(
            main_run,
            urls_per_sec_median=med32,
            windows_urls_per_sec=scaling["t32_windows"],
            windows_sec=scaling["t32_windows_sec"],
        )
    else:
        main_run = crawl_subprocess(
            f"local[{CPUS}]", n_frontier, n_images, per_fetch=True, n_runs=3
        )
    cached_run = crawl_job(
        f"local[{CPUS}]", n_frontier, n_images, per_fetch=False, n_runs=3
    )

    detail = {
        "metric": (
            "frontier URLs scheduled+fetched per sec "
            "(score→dedup→robots→politeness waves→fetch→decode-validate)"
        ),
        "value": main_run["urls_per_sec"],
        "unit": "urls/sec",
        "queries": queries,
        "queries_detail": queries_detail,
        "sf": sf,
        "crawl": {
            "n_frontier": n_frontier,
            "n_images": n_images,
            "per_fetch_decode": main_run,
            "fetch_cache": cached_run,
        },
        "ann_sig_768": ann_sig_bench(f"local[{CPUS}]"),
        "cascade_972": cascade_bench(f"local[{CPUS}]"),
        "warc_xpath_74": warc_xpath_bench(f"local[{CPUS}]"),
        "warc_xpath_real": warc_xpath_real_bench(f"local[{CPUS}]"),
        "scaling": scaling,
    }

    # full record → file; COMPACT single line → stdout (driver tail window)
    local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    with open(local_path, "w") as fh:
        json.dump(detail, fh, indent=1)

    print(build_compact(detail))


if __name__ == "__main__":
    main()
