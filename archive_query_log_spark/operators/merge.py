"""MERGE semantics over SnapshotTable (SURVEY.md S14/J6 → Iceberg MERGE INTO
equivalents).

Reference semantics reproduced:
- create-if-absent bulk writes (ES ``create`` op, config.py:75-107;
  captures/__init__.py:124-125): ``upsert_create_if_absent`` — deterministic
  key + left-anti join, the URL-seen-set primitive.
- existence merge with set-union of domains/prefixes
  (providers/__init__.py:30-83): ``merge_array_union``.
- flag updates (``update`` op): ``merge_update``.

All three are one-shuffle plans: anti/equi join on the key, then a snapshot
commit. With a real Iceberg catalog these become single MERGE INTO
statements; the join shape Catalyst would produce is the same.

Write amplification: on a BUCKETED table (SnapshotTable.commit_bucketed),
``merge_update`` / ``merge_array_union`` rewrite ONLY the hash buckets that
contain matched keys — untouched buckets' data files are carried forward by
reference in the new manifest (byte-identical, not rewritten), so a merge
costs O(affected buckets), not O(table). On a plain table they fall back to
the full-rewrite plan (fine for small dims; never use per-round on a large
table — the crawl pipeline instead uses the append-only fetch log).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_query_log_spark.tables import SnapshotTable, bucket_of


def _check_bucket_key(bkey: str, key: str) -> None:
    if bkey != key:
        raise ValueError(
            f"table is bucketed by {bkey!r}, merge key {key!r} — a merge "
            "keyed off the bucket column would probe the wrong buckets"
        )


def _affected_buckets(updates: DataFrame, key: str, n_buckets: int) -> list[int]:
    """Bucket ids touched by the update keys (≤ n_buckets rows — a metadata-
    sized collect, the MERGE planner's file-pruning step)."""
    rows = (
        updates.select(bucket_of(key, n_buckets).alias("_b"))
        .distinct()
        .collect()
    )
    return sorted(r["_b"] for r in rows)


def _read_buckets(
    spark: SparkSession,
    table: SnapshotTable,
    bucket_dirs: dict[int, list[str]],
    affected: list[int],
) -> DataFrame:
    dirs = [d for b in affected for d in bucket_dirs.get(b, [])]
    if not dirs:
        return table.read(spark).limit(0)
    return spark.read.schema(table.schema()).parquet(*dirs)


def upsert_create_if_absent(
    spark: SparkSession, table: SnapshotTable, batch: DataFrame, key: str
) -> int:
    """Insert rows whose key is absent; re-runs can never duplicate.
    Returns the table version committed (or the current one if no-op).

    Bucketed table → the absent-check reads only the buckets the batch's
    keys hash into, and the new rows append per-bucket data dirs."""
    info = table.bucket_info() if table.exists() else None
    if info is not None:
        bkey, n_buckets, bucket_dirs = info
        _check_bucket_key(bkey, key)
        batch = batch.dropDuplicates([key])
        affected = _affected_buckets(batch, key, n_buckets)
        existing = _read_buckets(spark, table, bucket_dirs, affected).select(
            key
        ).dropDuplicates([key])
        fresh = batch.join(existing, on=key, how="left_anti")
        if fresh.isEmpty():
            return table.latest_version()
        return table.commit_bucketed(
            fresh, key, n_buckets,
            meta={"op": "create_if_absent", "probed_buckets": affected},
            reuse_buckets=bucket_dirs, bucket_mode="append",
        )
    if table.exists():
        existing = table.read(spark).select(key).dropDuplicates([key])
        fresh = batch.dropDuplicates([key]).join(existing, on=key, how="left_anti")
        if fresh.isEmpty():
            return table.latest_version()
    else:
        fresh = batch.dropDuplicates([key])
    return table.commit(fresh, op="append", meta={"op": "create_if_absent"})


def merge_update(
    spark: SparkSession,
    table: SnapshotTable,
    updates: DataFrame,
    key: str,
    set_cols: list[str],
) -> int:
    """UPDATE matched rows' columns (unmatched update rows are ignored).

    Bucketed table → rewrites only the buckets containing update keys."""
    upd = updates.select(
        key, *[F.col(c).alias(f"_u_{c}") for c in set_cols]
    ).dropDuplicates([key])
    info = table.bucket_info()
    if info is not None:
        bkey, n_buckets, bucket_dirs = info
        _check_bucket_key(bkey, key)
        affected = _affected_buckets(upd, key, n_buckets)
        base = _read_buckets(spark, table, bucket_dirs, affected)
    else:
        base = table.read(spark)
    out = base.join(upd, on=key, how="left")
    for c in set_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"_u_{c}"), F.col(c)))
    out = out.drop(*[f"_u_{c}" for c in set_cols])
    if info is not None:
        reuse = {b: d for b, d in bucket_dirs.items() if b not in set(affected)}
        return table.commit_bucketed(
            out, key, n_buckets,
            meta={"op": "merge_update", "rewritten_buckets": affected},
            reuse_buckets=reuse,
        )
    return table.commit(out, op="overwrite", meta={"op": "merge_update"})


def merge_array_union(
    spark: SparkSession,
    table: SnapshotTable,
    incoming: DataFrame,
    key: str,
    array_cols: list[str],
) -> int:
    """J6: match on key; union array columns; insert unmatched incoming rows
    (the add-provider/add-archive merge, providers/__init__.py:30-83).

    Bucketed table → rewrites only the buckets containing incoming keys
    (a new key's bucket is affected by construction, so inserts land in
    rewritten buckets too)."""
    inc = incoming.dropDuplicates([key])
    info = table.bucket_info()
    if info is not None:
        bkey, n_buckets, bucket_dirs = info
        _check_bucket_key(bkey, key)
        affected = _affected_buckets(inc, key, n_buckets)
        base = _read_buckets(spark, table, bucket_dirs, affected)
    else:
        base = table.read(spark)
    inc_renamed = inc.select(
        key, *[F.col(c).alias(f"_i_{c}") for c in array_cols]
    )
    matched = base.join(inc_renamed, on=key, how="left")
    for c in array_cols:
        matched = matched.withColumn(
            c,
            F.when(
                F.col(f"_i_{c}").isNotNull(),
                F.array_sort(F.array_union(F.coalesce(F.col(c), F.array()), F.col(f"_i_{c}"))),
            ).otherwise(F.col(c)),
        )
    matched = matched.drop(*[f"_i_{c}" for c in array_cols])
    new_rows = inc.join(base.select(key), on=key, how="left_anti")
    out = matched.unionByName(new_rows, allowMissingColumns=True)
    if info is not None:
        reuse = {b: d for b, d in bucket_dirs.items() if b not in set(affected)}
        return table.commit_bucketed(
            out, key, n_buckets,
            meta={"op": "merge_array_union", "rewritten_buckets": affected},
            reuse_buckets=reuse,
        )
    return table.commit(out, op="overwrite", meta={"op": "merge_array_union"})
