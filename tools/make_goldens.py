"""Generate the committed golden approval files (FIXTURES.md §8).

Run once; the approval test regenerates the same artifacts and diffs them.
Any semantic change to scoring/canonicalization/politeness shows up as a
golden diff — the reference's ApprovalTests workflow
(tests/test_warc_query_parsers.py) re-expressed.
"""

from __future__ import annotations

import hashlib
import sys

sys.path.insert(0, ".")

GOLDEN_DIR = "tests/goldens"

N_FRONTIER, N_IMAGES, BUDGET = 600, 150, 4


def build_artifacts(spark):
    from pyspark.sql import functions as F

    from archive_query_log_spark.crawler import synth
    from archive_query_log_spark.crawler.fetch import fetch_and_validate
    from archive_query_log_spark.functions.ids import worklist_score
    from archive_query_log_spark.operators import politeness, seen_set

    images = synth.synth_images(spark, N_IMAGES, 8)
    frontier = synth.synth_frontier(spark, N_FRONTIER, N_IMAGES, 8)
    robots = synth.synth_robots(spark)
    cand = frontier.where(
        (F.col("status_code") == 200) & (F.octet_length("url") <= 32766)
    ).withColumn(
        "score",
        worklist_score(
            F.col("archive.priority"), F.col("provider.priority"), F.col("id")
        ),
    )
    cand = seen_set.first_seen_in_batch(cand, "url_key", "ts")
    allowed = politeness.apply_robots(cand, robots, "url", "host")
    sched = politeness.schedule(
        allowed.withColumn("t0", F.to_timestamp(F.lit("2024-01-01 00:00:00"))),
        budget_waves=BUDGET,
    )
    order_lines = [
        f"{r['wave']}\t{r['host']}\t{r['url_key']}\t{r['dispatch_ts']:%Y-%m-%d %H:%M:%S}"
        for r in sched.select("wave", "host", "url_key", "dispatch_ts")
        .orderBy("host", "wave")
        .collect()
    ]
    fetched = fetch_and_validate(
        sched.select("id", "image_id", "url_key", "host", "wave"), images
    )
    seen_keys = sorted(r["url_key"] for r in fetched.select("url_key").collect())
    h = hashlib.md5("\n".join(seen_keys).encode()).hexdigest()
    seen_line = f"{len(seen_keys)} {h}"
    val = (
        fetched.groupBy()
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("fetch_status") == 200, 1).otherwise(0)).alias("ok"),
            F.sum(F.when(F.col("psnr_ok"), 1).otherwise(0)).alias("psnr"),
            F.sum(F.when(F.col("caption_ok"), 1).otherwise(0)).alias("cap"),
            F.sum(F.when(F.col("phash_ok"), 1).otherwise(0)).alias("ph"),
            F.round(F.min("psnr_db"), 2).alias("minp"),
        )
        .collect()[0]
    )
    val_line = (
        f"n={val['n']} ok={val['ok']} psnr_ok={val['psnr']} "
        f"caption_ok={val['cap']} phash_ok={val['ph']} min_psnr_db={val['minp']}"
    )
    return "\n".join(order_lines) + "\n", seen_line + "\n", val_line + "\n"


def main():
    import os

    from archive_query_log_spark.session import get_spark

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    order, seen, val = build_artifacts(spark)
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    open(f"{GOLDEN_DIR}/crawl_order.approved.txt", "w").write(order)
    open(f"{GOLDEN_DIR}/seen_set.approved.txt", "w").write(seen)
    open(f"{GOLDEN_DIR}/validation.approved.txt", "w").write(val)
    print("goldens written:", seen.strip(), "|", val.strip())
    spark.stop()


if __name__ == "__main__":
    main()
