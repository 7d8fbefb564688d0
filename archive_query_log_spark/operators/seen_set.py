"""URL-seen set: deterministic-ID + create-if-absent semantics at scale
(SURVEY.md §1.4 item 2; north_rule Bloom requirement).

Reference semantics reproduced: a URL is "seen" iff its canonical key already
exists — the reference gets this from deterministic uuid5 IDs + Elasticsearch
``create``-if-absent ops (/root/reference/archive_query_log/captures/__init__.py:124-125,
sources/__init__.py:56). The rebuild:

1. **Exact path** (ground truth): first-seen-per-key within the batch
   (min-by ts — SURVEY A8) + left-anti join against the seen table. Correct,
   but the anti-join shuffles the full 10^10-row seen table every wave.
2. **Bloom-shard path** (scale path): per-bucket Bloom filters stored as
   binary blobs, co-partitioned with the frontier on ``pmod(xxhash64(key), n)``.
   Probing is a broadcast/bucket join + a *fully vectorized* numpy bit test —
   the two 64-bit hashes are computed JVM-side (xxhash64) before the Arrow
   boundary, so no per-row Python anywhere. Bloom "maybe seen" rows (the only
   candidates that can be false positives) fall back to the exact anti-join,
   which now touches only ~fpp · batch rows. Zero false negatives by
   construction → final seen set is *exactly* the reference's.

Each bucket's bitmap is sized once (``sized_config``: the crawl sizes it for
its share of the immutable frontier, which bounds the seen set) and new keys
are only OR-ed in. Past its design load a filter stays exact; only its
false-positive share rises, and the exact anti-join absorbs the extra
suspects. No key ever leaves the seen set (refreshes bypass it and nothing
retracts captures), so the Bloom shards need no deletion-capable twin.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

HASH_SEED_1 = 0x51ED
HASH_SEED_2 = 0xC0FFEE

SHARD_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("bits", BinaryType(), False),
        StructField("m", LongType(), False),
        StructField("k", IntegerType(), False),
        # keys inserted so far: the shard's load (m / n is its bits per key)
        StructField("n", LongType(), False),
        # the bucketing modulus is part of the filter's identity: probing
        # with a different n_buckets than the build silently yields false
        # negatives, so shards record it and probes derive it
        StructField("nb", IntegerType(), False),
    ]
)


def _next_pow2(x: int) -> int:
    return 1 << (max(1, x) - 1).bit_length()


def _insert(
    shard: pd.Series | None, adds: pd.DataFrame, cfg: "BloomConfig"
) -> pd.DataFrame:
    """The one bit-setting closure: OR one bucket's hashes (``adds``) into
    its shard row and return the new row. ``shard=None`` (no shard yet)
    starts from a zero bitmap of ``cfg.min_bits`` — more if ``adds`` alone
    would pass ``bits_per_key`` load; a bitmap's size never changes after."""
    if shard is None:
        m = max(cfg.min_bits, _next_pow2(len(adds) * cfg.bits_per_key))
        row = {"bucket": int(adds["bucket"].iloc[0]), "bits": bytes(m // 8),
               "m": m, "k": cfg.k, "n": 0, "nb": cfg.n_buckets}
    else:
        row = shard.to_dict()
    bits = np.frombuffer(row["bits"], dtype=np.uint8).copy()
    h1, h2 = adds["_h1"].to_numpy(), adds["_h2"].to_numpy()
    pos = _bloom_positions(h1, h2, int(row["k"]), int(row["m"])).ravel()
    np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))
    row.update(bits=bits.tobytes(), n=int(row["n"]) + len(adds))
    return pd.DataFrame([row])


def first_seen_in_batch(
    batch: DataFrame, key_col: str = "url_key", ts_col: str = "ts"
) -> DataFrame:
    """A8 min-by dedup: keep the earliest (ts, key) row per canonical key —
    the reference's collision rule (deterministic ID → first create wins).

    min_by aggregation instead of a row_number window (guide §2.3): the
    map-side partial aggregation collapses duplicate keys before the
    shuffle (the ~5% dup share never crosses the wire twice). The
    struct-valued buffer compiles to a SortAggregate (structs are not
    hash-agg buffer types) — a map-side sort replaces the window's
    reduce-side sort — and the fewer shuffled rows still win: 0.92 →
    0.78 s on the 2M-row crawl dedup in one interleaved A/B session. The
    struct(ts, id) ordering reproduces the window's (ts asc, id asc)
    order including its nulls-first behavior per field; ids are unique,
    so the kept row is identical. Output columns and order are unchanged.
    """
    row = F.struct(*[F.col(c) for c in batch.columns])
    return (
        batch.groupBy(F.col(key_col).alias("_k"))
        .agg(F.min_by(row, F.struct(F.col(ts_col), F.col("id"))).alias("_r"))
        .select(*[F.col(f"_r.{c}").alias(c) for c in batch.columns])
    )


def exact_new(
    batch: DataFrame, seen: DataFrame | None, key_col: str = "url_key"
) -> DataFrame:
    """Ground-truth novelty: batch ⟕anti seen on the canonical key."""
    if seen is None:
        return batch
    seen_keys = seen.select(F.col(key_col)).dropDuplicates([key_col])
    return batch.join(seen_keys, on=key_col, how="left_anti")


def with_hashes(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    """Attach (bucket, h1, h2) JVM-side — the only hashing the filters need."""
    return (
        df.withColumn("_h1", F.xxhash64(F.col(key_col), F.lit(HASH_SEED_1)))
        .withColumn("_h2", F.xxhash64(F.col(key_col), F.lit(HASH_SEED_2)))
        .withColumn("bucket", F.pmod(F.col("_h1"), F.lit(n_buckets)).cast("int"))
    )


def _bloom_positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(len, k) bit positions via double hashing g_i = h1 + i·h2 mod m."""
    i = np.arange(k, dtype=np.uint64)
    return (
        h1.astype(np.uint64)[:, None] + i[None, :] * h2.astype(np.uint64)[:, None]
    ) % np.uint64(m)


@dataclass
class BloomConfig:
    n_buckets: int = 32
    bits_per_key: int = 16  # fpp ≈ 0.0004 at k=8
    k: int = 8
    min_bits: int = 1 << 12


def sized_config(expected_keys: int, n_buckets: int) -> BloomConfig:
    """The one sizing rule: a config whose bitmaps hold each bucket's
    share of ``expected_keys`` at ``bits_per_key`` load (a power of two, at
    least the default 4096 bits). The crawl passes the frontier's row count,
    which no seen set can outgrow."""
    cfg = BloomConfig(n_buckets=n_buckets)
    per_bucket = -(-expected_keys // n_buckets)
    cfg.min_bits = max(cfg.min_bits, _next_pow2(per_bucket * cfg.bits_per_key))
    return cfg


def _hashed_keys(keys: DataFrame, key_col: str, cfg: BloomConfig) -> DataFrame:
    return with_hashes(
        keys.select(key_col).dropDuplicates([key_col]), key_col, cfg.n_buckets
    ).select("bucket", "_h1", "_h2")


def build_bloom_shards(
    keys: DataFrame, key_col: str = "url_key", cfg: BloomConfig | None = None
) -> DataFrame:
    """Per-bucket Bloom bitmap build — one groupBy-applyInPandas pass of
    the insert closure over zero bitmaps.

    Shuffle: one hash-partition on bucket (the same partitioning the frontier
    uses, so wave-over-wave probes are co-located)."""
    cfg = cfg or BloomConfig()
    return (
        _hashed_keys(keys, key_col, cfg)
        .groupBy("bucket")
        .applyInPandas(lambda adds: _insert(None, adds, cfg), SHARD_SCHEMA)
    )


# Auto layout cutover: broadcast the shard set while its total blob bytes
# fit comfortably in driver + executor memory; beyond this, co-partition.
_BROADCAST_SHARDS_MAX_BYTES = 256 << 20


def shard_bytes() -> Column:
    """Aggregate Column: summed filter-blob bytes of a shard table (a
    bitmap of m bits is stored in m/8 bytes; 0 for no shards).

    The number is STATIC per shard snapshot — observe it on the snapshot's
    commit (``SnapshotTable.commit(observe={"shard_total_bytes":
    shard_bytes()})``, as the crawl pipeline does, costs no Spark job) and
    pass it to the probes as ``shard_size_bytes`` so layout auto-selection
    stops costing one Spark job per probe construction."""
    return F.coalesce(F.sum(F.shiftright(F.col("m"), 3)), F.lit(0))


def shard_total_bytes(shards: DataFrame) -> int:
    """``shard_bytes()`` of a shard table, by an n_buckets-row agg job."""
    return int(shards.agg(shard_bytes()).first()[0])


def _probe_with_layout(
    batch: DataFrame,
    shards: DataFrame,
    key_col: str,
    n_buckets: int | None,
    broadcast_shards: bool | None,
    shard_size_bytes: int | None = None,
):
    """Layout machinery of the Bloom-shard probe.

    The filter blobs never ride per-row: a join-then-probe layout copies
    each bucket's blob onto every batch row crossing the Arrow boundary
    (~1 TB per 2M-row wave at 10M seen keys; SCALE.md "Seen-set shards").

    - broadcast layout: the shard table (n_buckets rows) is collected once
      and shipped as a Spark BROADCAST VARIABLE; probing is a map-only
      mapInPandas over JVM-side hashes — zero shuffle of the batch, each
      executor deserializes each blob once. NOTE this collects (runs a
      job) at plan-CONSTRUCTION time and probes that snapshot of the shard
      table — the pipeline always probes pinned snapshot versions, so this
      is the wanted semantics there; callers that mutate the shard table
      between constructing and executing a probe plan must rebuild the
      plan.
    - cogrouped layout (when the shard set outgrows a broadcast at 10^10
      keys): bucket-COGROUPED applyInPandas — batch and shards
      co-partitioned on bucket, each blob crossing the Arrow boundary once
      per group, not once per row.
    - ``broadcast_shards=None`` (default) auto-selects: broadcast while
      the summed blob bytes (``shard_size_bytes`` when the caller knows it
      — e.g. from the snapshot manifest the pipeline stashes it in — else
      an n_buckets-row metadata agg) stay under
      ``_BROADCAST_SHARDS_MAX_BYTES``.

    Returns ``(probed_df, broadcast_handle_or_None)`` so callers that
    materialize the result can unpersist the broadcast instead of leaving
    cleanup to the GC→ContextCleaner chain (one leaked shard dict per
    round adds up over a 10^4-round crawl).
    """
    if n_buckets is None:
        n_buckets = int(shards.select("nb").first()["nb"])
    if broadcast_shards is None:
        if shard_size_bytes is None:
            shard_size_bytes = shard_total_bytes(shards)
        broadcast_shards = shard_size_bytes <= _BROADCAST_SHARDS_MAX_BYTES
    hashed = with_hashes(batch, key_col, n_buckets)
    keep = [f for f in hashed.schema.fields if f.name not in ("_h1", "_h2")]
    keep_names = [f.name for f in keep]
    out_schema = StructType(keep + [StructField("maybe_seen", BooleanType(), True)])

    if broadcast_shards:
        shard_map = {
            int(r["bucket"]): (bytes(r["bits"]), int(r["m"]), int(r["k"]))
            for r in shards.select("bucket", "bits", "m", "k").collect()
        }
        bc = batch.sparkSession.sparkContext.broadcast(shard_map)

        def probe(it):
            sm = bc.value
            for pdf in it:
                pdf = pdf.reset_index(drop=True)
                maybe = np.zeros(len(pdf), dtype=bool)
                # one vectorized membership test per bucket in this batch
                for b, grp in pdf.groupby("bucket"):
                    ent = sm.get(int(b))
                    if ent is None:
                        continue
                    maybe[grp.index.to_numpy()] = _bloom_kernel(
                        *ent, grp["_h1"].to_numpy(), grp["_h2"].to_numpy()
                    )
                out = pdf[keep_names].copy()
                out["maybe_seen"] = maybe
                yield out

        return hashed.mapInPandas(probe, out_schema), bc

    def probe_group(batch_pdf: pd.DataFrame, shard_pdf: pd.DataFrame):
        batch_pdf = batch_pdf.reset_index(drop=True)
        maybe = np.zeros(len(batch_pdf), dtype=bool)
        if len(shard_pdf) and len(batch_pdf):
            r = shard_pdf.iloc[0]
            maybe = _bloom_kernel(
                bytes(r["bits"]), int(r["m"]), int(r["k"]),
                batch_pdf["_h1"].to_numpy(), batch_pdf["_h2"].to_numpy(),
            )
        out = batch_pdf[keep_names].copy()
        out["maybe_seen"] = maybe
        return out

    probed = (
        hashed.groupBy("bucket")
        .cogroup(shards.groupBy("bucket"))
        .applyInPandas(probe_group, out_schema)
    )
    return probed, None


def _bloom_kernel(
    bits: bytes, m: int, k: int, h1: np.ndarray, h2: np.ndarray
) -> np.ndarray:
    arr = np.frombuffer(bits, dtype=np.uint8)
    pos = _bloom_positions(h1, h2, k, m)
    return ((arr[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0).all(axis=1)


def bloom_probe(
    batch: DataFrame,
    shards: DataFrame,
    key_col: str = "url_key",
    n_buckets: int | None = None,
    broadcast_shards: bool | None = None,
    shard_size_bytes: int | None = None,
    broadcast_out: list | None = None,
) -> DataFrame:
    """Adds ``maybe_seen`` (bool). False ⇒ definitely new (no false
    negatives). Layouts, auto-selection, and the never-per-row blob rule:
    see ``_probe_with_layout``.

    Repeated-probe callers: pass a list as ``broadcast_out`` — when the
    broadcast layout is chosen, the shard Broadcast handle is appended to
    it; call ``.unpersist()`` once the probed result is materialized.
    Without it, release waits on GC→ContextCleaner — one retained shard
    dict (up to the 256 MB cutover) per probe adds up over a 10^4-round
    crawl. ``filtered_new`` does this housekeeping itself."""
    probed, bc = _probe_with_layout(
        batch, shards, key_col, n_buckets, broadcast_shards,
        shard_size_bytes=shard_size_bytes,
    )
    if bc is not None and broadcast_out is not None:
        broadcast_out.append(bc)
    return probed


def update_bloom_shards(
    shards: DataFrame,
    new_keys: DataFrame,
    key_col: str = "url_key",
    cfg: BloomConfig | None = None,
) -> DataFrame:
    """Incremental shard maintenance: one bucket-cogrouped pass of the
    insert closure — each bucket's new keys are OR-ed into its bitmap; a
    bucket with no shard yet starts from a zero bitmap, as in
    ``build_bloom_shards``. O(new keys + n_buckets shard rows); no bitmap is
    ever resized or rebuilt. OR only adds bits, so there are no false
    negatives: a filter past its design load stays exact, and only its
    false-positive share rises (``sized_config`` sizes it to avoid that).

    ``shards`` must carry ``cfg.n_buckets`` in ``nb`` — under another
    modulus new keys land in the wrong buckets; the crawl checks this
    before its round."""
    cfg = cfg or BloomConfig()

    def insert(shard_pdf: pd.DataFrame, adds_pdf: pd.DataFrame) -> pd.DataFrame:
        return _insert(shard_pdf.iloc[0] if len(shard_pdf) else None, adds_pdf, cfg)

    return (
        shards.groupBy("bucket")
        .cogroup(_hashed_keys(new_keys, key_col, cfg).groupBy("bucket"))
        .applyInPandas(insert, SHARD_SCHEMA)
    )


def filtered_new(
    batch: DataFrame,
    seen: DataFrame | None,
    shards: DataFrame | None,
    key_col: str = "url_key",
    n_buckets: int | None = None,
    shard_size_bytes: int | None = None,
) -> DataFrame:
    """The scale path: Bloom pre-filter, exact anti-join only on maybe-seen.

    Result is provably identical to ``exact_new`` (no false negatives; false
    positives re-checked exactly). The probe layout is auto-selected by
    shard size (the 10^10-key cogrouped layout is reachable from the
    pipeline this way); ``shard_size_bytes`` (the manifest-stashed snapshot
    size) skips the auto-select's per-construction metadata job.

    The probed batch is localCheckpointed before it is split into the
    definitely-new / suspect branches: both branches of the union would
    otherwise re-execute the probe AND its whole upstream lineage (in the
    crawl round: the fetch-log anti-join, scoring and the first-seen
    window). The checkpoint also lets the probe's shard broadcast be
    released immediately (one leaked shard dict per round would otherwise
    wait on GC→ContextCleaner over a 10^4-round crawl)."""
    if shards is None or seen is None:
        return exact_new(batch, seen, key_col)
    probed, bc = _probe_with_layout(
        batch, shards, key_col, n_buckets, None,
        shard_size_bytes=shard_size_bytes,
    )
    probed = probed.localCheckpoint()
    if bc is not None:
        bc.unpersist(blocking=False)
    definitely_new = probed.where(~F.col("maybe_seen")).drop("maybe_seen", "bucket")
    suspects = probed.where(F.col("maybe_seen")).drop("maybe_seen", "bucket")
    confirmed_new = exact_new(suspects, seen, key_col)
    return definitely_new.unionByName(confirmed_new)
