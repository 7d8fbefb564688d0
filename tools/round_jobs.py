"""Per-job inventory of crawl rounds: what a round's fixed floor is made of.

    PYTHONPATH=. python tools/round_jobs.py [--workdir DIR]

Runs ``ROUNDS`` rounds of ``pipeline.run_round`` on synthetic inputs
(``crawler.synth``: ``FRONTIER`` URLs over ``PAYLOADS`` payloads) at
``local[<nproc>]``, each round under its own job group (``round-<r>``), then
prints one line per Spark job of those groups — group, SQL execution (the
DataFrame action the job ran for), completed stages, tasks, wall ms, summed
executor run ms and call site — and one total line per round. Job and stage
figures come from ``perfbench/sparkstats.snapshot``, read from Spark's
status store after the rounds return, so the inventory starts no Spark job
of its own. Stages a job skipped (it reused an earlier shuffle) do no work
and are not counted.
"""

from __future__ import annotations

import argparse
import os
import shutil
import tempfile

from archive_query_log_spark.crawler import pipeline, synth
from archive_query_log_spark.session import get_spark
from perfbench.sparkstats import snapshot

FRONTIER = 2000
PAYLOADS = 500
ROUNDS = 2
BUDGET_WAVES = 16


def call_sites(sc) -> dict[int, str]:
    """{job id: call site} — the one job field ``snapshot`` leaves out."""
    seq = sc._jsc.sc().statusStore().jobsList(None)
    jobs = (seq.apply(i) for i in range(seq.size()))
    return {j.jobId(): j.name() for j in jobs}


def sql_executions(spark) -> dict[int, int]:
    """{job id: id of the SQL execution (one DataFrame action) it ran for}.
    An action's adaptive plan runs one job per shuffle stage, so the
    execution id ties those jobs to the action that started them."""
    seq = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = {}
    for i in range(seq.size()):
        e = seq.apply(i)
        it = e.jobs().keys().iterator()
        while it.hasNext():
            out[it.next()] = e.executionId()
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workdir", default=None,
                    help="crawl state root (default: a temporary dir, removed)")
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="round-jobs", master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    images = synth.synth_images(spark, PAYLOADS, nproc).cache()
    frontier = synth.synth_frontier(spark, FRONTIER, PAYLOADS, nproc).cache()
    robots = synth.synth_robots(spark)
    root = args.workdir or tempfile.mkdtemp(prefix="round_jobs_")
    try:
        state = pipeline.init_state(root, frontier)
        cfg = pipeline.CrawlConfig(budget_waves=BUDGET_WAVES)
        groups = []
        for r in range(ROUNDS):
            groups.append(f"round-{r}")
            sc.setJobGroup(groups[-1], f"round {r}")
            stats = pipeline.run_round(spark, state, images, robots, cfg, r)
            sc.setJobGroup("round-jobs", "round-jobs")
            print(f"# round {r}: fetched {stats['fetched']} ok {stats['ok']}")
    finally:
        if args.workdir is None:
            shutil.rmtree(root, ignore_errors=True)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    snap = snapshot(sc)
    names, executions = call_sites(sc), sql_executions(spark)

    print(f"{'group':<9} {'job':>5} {'sql':>5} {'stages':>6} {'tasks':>6} "
          f"{'wall_ms':>8} {'run_ms':>8}  call site")
    for g in groups:
        totals = [0, 0, 0, 0]
        jobs = sorted((j for j in snap["jobs"] if j["group"] == g),
                      key=lambda j: j["id"])
        for j in jobs:
            work = [snap["stages"][s] for s in j["stage_ids"]
                    if s in snap["stages"]]
            row = [len(work), sum(s["tasks"] for s in work),
                   j["end_ms"] - j["start_ms"], sum(s["run_ms"] for s in work)]
            totals = [a + b for a, b in zip(totals, row)]
            print(f"{g:<9} {j['id']:>5} {executions.get(j['id'], '-'):>5} "
                  f"{row[0]:>6} {row[1]:>6} {row[2]:>8} {row[3]:>8}  "
                  f"{names.get(j['id'], '')}")
        print(f"{g:<9} {'total':>5} {'':>5} {totals[0]:>6} {totals[1]:>6} "
              f"{totals[2]:>8} {totals[3]:>8}  {len(jobs)} jobs")
    spark.stop()


if __name__ == "__main__":
    main()
