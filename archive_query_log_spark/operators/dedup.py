"""Deduplication suite for training-data pipelines (brief requirement) +
the reference's own dedup rules (SURVEY.md A8, §1.4).

- exact: hash-groupBy on a normalized fingerprint (md5) — the reference's
  deterministic-ID create-if-absent collapse, generalized to documents.
- MinHash + LSH: shingle → k minhashes → bands → bucket self-join →
  candidate pairs → exact Jaccard verify. The hash is md5-based so the
  small-scale DuckDB oracle can reproduce signatures bit-exactly; at scale
  swap HASH_EXPR for xxhash64 (same plan shape, one less md5).
- SimHash: 64-bit sign-aggregated token hashes, hamming-distance buckets.
- n-gram Jaccard: exact pairwise within shingle-sharing candidates.

Scale notes: every pairwise step is gated behind a bucket/band equi-join
(never a cross join); explode(shingles) is the only row expansion and is
bounded by document length; all aggregations are partial-agg friendly
(min/sum/count by key).
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from archive_query_log_spark.functions.text import fingerprint, shingles, tokenize


def _md5_hash64(col: Column, seed: int) -> Column:
    """Portable 32-bit hash (in a long) from md5 — DuckDB twin:
    ('0x' || substr(md5(seed || ':' || x), 1, 8))::UBIGINT"""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 8), 16, 10
    ).cast("long")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per normalized-text fingerprint.

    min_by aggregation, not a row_number window (guide §2.3 "aggregate
    before you shuffle"): the partial aggregation collapses duplicate
    fingerprints map-side, so only one row per (map task, fp) crosses the
    exchange. The struct-valued buffer makes this a SortAggregate (structs
    are not hash-agg buffer types), so a map-side sort replaces the
    window's reduce-side sort — measured equal on low-dup corpora (0.23 s
    both ways on sf0.1 documents, interleaved) and strictly better as the
    dup share grows (the 2M-row crawl batch: 0.92 → 0.78 s). Selection is
    identical — ids are the orderBy key, and the struct(id) ordering keeps
    the window's nulls-first ordering for a null id. Output columns and
    order match the window plan (df columns + fp).
    """
    keyed = df.withColumn("fp", fingerprint(F.col(text_col)))
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        keyed.groupBy("fp")
        .agg(F.min_by(row, F.struct(F.col(id_col))).alias("_r"))
        .select(*[F.col(f"_r.{c}").alias(c) for c in df.columns], F.col("fp"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, mh_0..mh_{p-1}): min over shingles of seed-i hash.

    explode → groupBy(id) agg min×p: one shuffle, map-side partial mins.
    Shingles are de-duplicated per document BEFORE the explode: min over a
    set equals min over the multiset, and the distinct array cuts both the
    explode volume and the per-shingle 8×md5 work on repetitive documents.
    """
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_k))).alias(
            "sh"
        ),
    )
    return _signatures_from_shingles(sh, id_col, num_perm)


def _signatures_from_shingles(
    sh: DataFrame, id_col: str, num_perm: int
) -> DataFrame:
    """(id, mh_0..mh_{p-1}) from an exploded (id, sh) shingle frame."""
    aggs = [
        F.min(_md5_hash64(F.col("sh"), seed)).alias(f"mh_{seed}")
        for seed in range(num_perm)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _drop_hot_keys(
    df: DataFrame, key: str, max_df: int | None
) -> DataFrame:
    """Anti-join away keys whose document frequency exceeds max_df BEFORE a
    pairwise self-join: one hot key with df rows would otherwise produce df²
    pair rows (boilerplate shingles / degenerate LSH buckets are quadratic
    blowups at scale). The hot-key set is tiny by construction → broadcast
    anti-join, map-side."""
    if max_df is None:
        return df
    hot = (
        df.groupBy(key)
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") > max_df)
        .select(key)
    )
    return df.join(F.broadcast(hot), key, "left_anti")


def hot_key_report(df: DataFrame, key: str, max_df: int) -> DataFrame:
    """(key, doc_freq) rows that _drop_hot_keys would exclude — the dropped-
    candidate report a pipeline should log/monitor (no silent cap). Pass the
    SAME keyed frame the operator caps: ``shingle_frame(...)`` with key='sh'
    for jaccard_pairs, ``band_frame(...)`` with key='band' for
    minhash_lsh_candidates (similarity.hot_buckets covers the LSH buckets)."""
    return (
        df.groupBy(key)
        .agg(F.count("*").alias("doc_freq"))
        .where(F.col("doc_freq") > max_df)
    )


def pair_census(stacked: DataFrame, key: str) -> dict:
    """EXACT count of the candidate pairs a self-equi-join on ``key``
    would emit (Σ n·(n−1)/2 over buckets) from one aggregation — the
    planning query to issue BEFORE any banded/pigeonhole join at scale.
    The quadratic driver is bucket density (avg n per key), which is an
    average no hot-key cap can cut; the census makes it a number."""
    row = (
        stacked.groupBy(key)
        .agg(F.count("*").alias("n"))
        .agg(
            F.count("*").alias("buckets"),
            F.sum(F.expr("n * (n - 1) DIV 2")).alias("cands"),
            F.max("n").alias("max_bucket"),
        )
        .collect()[0]
    )
    return {
        "buckets": row["buckets"],
        "candidate_pairs": int(row["cands"] or 0),
        "max_bucket": row["max_bucket"],
    }


def _enforce_candidate_budget(
    stacked: DataFrame, key: str, budget: int | None, fix_hint: str
) -> None:
    """Loud-failure guard shared by every pairwise candidate generator:
    when ``budget`` is set, census the (already hot-key-capped) keyed
    frame and refuse the self-join above it — the infeasible plan costs
    one aggregation instead of a multi-hundred-GB shuffle (same contract
    as the connected-components non-convergence error)."""
    if budget is None:
        return
    c = pair_census(stacked, key)
    if c["candidate_pairs"] > budget:
        raise ValueError(
            f"{key}-join census: {c['candidate_pairs']} candidate pairs"
            f" exceed candidate_budget={budget} (max bucket"
            f" {c['max_bucket']}, {c['buckets']} buckets). Bucket density,"
            f" not skew — {fix_hint}"
        )


def shingle_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sh): the distinct-shingle frame jaccard_pairs builds candidates
    from — feed to hot_key_report(key='sh') to see what a max_df cap cuts."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(
            F.array_distinct(shingles(F.col(text_col), shingle_k))
        ).alias("sh"),
    ).where(F.col("sh").isNotNull())


def band_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, band): the stacked LSH-band frame minhash_lsh_candidates
    self-joins — feed to hot_key_report(key='band')."""
    sig = minhash_signatures(df, text_col, id_col, num_perm, shingle_k)
    return _bands_of_sig(sig, id_col, num_perm, bands)


def _bands_of_sig(
    sig: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """(id, band) stacked band frame from a (id, mh_*) signature frame."""
    rows = num_perm // bands
    band_cols = [
        F.concat_ws(
            "_", F.lit(b), *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col).alias("id"), *band_cols)
    return banded.select(
        "id",
        F.explode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band"
        ),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    max_band_df: int | None = 1000,
    candidate_budget: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing ≥1 LSH band.

    band value = concat of its rows' minhashes; self-equi-join per band —
    the scale-safe alternative to pairwise comparison. Bands shared by more
    than ``max_band_df`` documents are dropped from candidate generation
    (explicit recall cut; inspect via hot_key_report(band_frame(df,...),
    'band', max_band_df)). ``candidate_budget``: census the band frame
    and raise above it (see ``pair_census``) — at scale the fix for band
    density is LONGER band signatures (num_perm/bands up), not a cap."""
    stacked = band_frame(df, text_col, id_col, num_perm, bands, shingle_k)
    return _pairs_from_stacked(stacked, max_band_df, candidate_budget)


def _pairs_from_stacked(
    stacked: DataFrame, max_band_df: int | None, candidate_budget: int | None
) -> DataFrame:
    """Candidate (id_a < id_b) pairs from a stacked (id, band) frame:
    hot-band cap → budget census → bucket self-equi-join → dedup."""
    stacked = _drop_hot_keys(stacked, "band", max_band_df)
    _enforce_candidate_budget(
        stacked, "band", candidate_budget,
        "lengthen band signatures (raise num_perm per band) rather than"
        " tightening max_band_df.",
    )
    # deliberately LAZY before the self-join: an eager localCheckpoint here
    # measured ~1.5× slower end-to-end at bench scale (materialization
    # barriers beat the ≤2× recompute of a cheap map lineage), and at 100 TB
    # spilling the exploded band frame to executor disks is itself the
    # bottleneck; callers that profile recompute-bound can checkpoint the
    # input df instead
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(b, on="band")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    candidate_budget: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs that share ≥1 shingle.

    inter/union computed from one self-join on shingle + per-doc sizes —
    never a cross join. Shingles appearing in more than ``max_df`` documents
    (boilerplate) are dropped from the FEATURE SPACE (both intersection and
    sizes): the Jaccard is exact over non-boilerplate shingles, pairs for
    non-hot content are unchanged, and the one-hot-shingle df² pair blowup
    is gone. Inspect the cut via hot_key_report(shingle_frame(df, ...),
    'sh', max_df) — no silent cap."""
    sh = shingle_frame(df, text_col, id_col, shingle_k)
    sh = _drop_hot_keys(sh, "sh", max_df)
    _enforce_candidate_budget(
        sh, "sh", candidate_budget,
        "raise shingle_k (sparser feature space) or lower max_df.",
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on="sh")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def verify_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard VERIFICATION of given candidate pairs (the stage after
    LSH banding: candidates are cheap and over-complete, so each is checked
    against the true shingle-set Jaccard before clustering).

    Plan: pairs ⋈ shingle-frame on each side (two equi-joins), count the
    shared shingles per pair, join per-doc sizes. Work is proportional to
    Σ_pairs |shingles(a) ∩ shingles(b)| — bounded by the LSH candidate
    volume, never all-pairs. No feature-space cap here: the pair list is
    already capped upstream (max_band_df), and the verify must judge the
    full shingle sets or a boilerplate-heavy true dup could be rejected.

    ``shingles_df``: an already-built (id, sh) distinct-shingle frame
    (shingle_frame output, possibly materialized) — the frame is referenced
    three times here, so callers that also need it elsewhere (the full
    pipeline) should pass a checkpointed copy instead of re-deriving it."""
    sh = (
        shingles_df
        if shingles_df is not None
        else shingle_frame(df, text_col, id_col, shingle_k)
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("_idb"), F.col("sh").alias("sh_b"))
    inter = (
        pairs.select("id_a", "id_b")
        .join(sh_a, "id_a")
        .join(
            sh_b,
            (F.col("id_b") == F.col("_idb")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_pipeline(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """The end-to-end training-data dedup a 100 TB corpus actually runs,
    composed from the per-stage operators (each independently oracle-gated):

    exact dedup (fingerprint hash-groupBy) → MinHash-LSH candidate pairs →
    exact-Jaccard verify → connected components (large-star/small-star) →
    keep the min-id representative per duplicate cluster.

    Returns (doc_id, text_col, n_dups) — one row per kept document with its
    duplicate-cluster size (1 = unique). Every stage is an equi-join /
    hash-agg plan: nothing here is all-pairs, collect()s are absent, and
    the cluster step is O(log n) rounds, so the composition inherits each
    stage's scale story."""
    # survivors feed four downstream consumers (the shingle frame and the
    # final keep join) and the shingle frame feeds four more (signatures,
    # sizes, both verify sides) — materialize each ONCE (localCheckpoint:
    # eager, partition-local, no lineage). The earlier lazy plan re-ran the
    # scan→fingerprint→window lineage ~6× and the shingle explode ~4×; the
    # signature pass reuses the SAME distinct-shingle frame the verify
    # needs (min over the distinct set equals min over the multiset), so
    # the explode and its per-shingle md5 work happen exactly once.
    survivors = exact_dedup(df, text_col, id_col).drop("fp").localCheckpoint()
    sh = shingle_frame(
        survivors, text_col, id_col, shingle_k
    ).localCheckpoint()
    sig = _signatures_from_shingles(sh, "id", num_perm)
    stacked = _bands_of_sig(sig, "id", num_perm, bands)
    pairs = _pairs_from_stacked(stacked, max_band_df=1000, candidate_budget=None)
    verified = verify_jaccard_pairs(
        survivors, pairs, text_col, id_col, shingle_k=shingle_k,
        threshold=jaccard_threshold, shingles_df=sh,
    )
    clusters = connected_components(verified)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("n_dups"))
    non_reps = clusters.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    if last_cc_telemetry().get("cutover"):
        # the local-cutover label frame is driver-built and bounded by
        # local_threshold, but its size statistics are unknown to the
        # planner, which was assembling the final keep-join as THREE
        # SortMergeJoin exchanges over a few hundred rows — hint the tiny
        # sides so the assembly is two broadcast joins with zero extra
        # exchanges. The distributed CC path (labels can be data-sized)
        # keeps the planner's choice.
        sizes = F.broadcast(sizes)
        non_reps = F.broadcast(non_reps)
    kept = survivors.join(non_reps, on=id_col, how="left_anti")
    return kept.join(
        sizes.withColumnRenamed("cluster_id", id_col), on=id_col, how="left"
    ).withColumn("n_dups", F.coalesce(F.col("n_dups"), F.lit(1)))


def simhash32_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", seed: int = 7
) -> DataFrame:
    """32-bit SimHash with md5 token hashes — bit-identical in the DuckDB
    oracle (weaker hash, used only for the correctness gate)."""
    toks = df.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok")
    ).withColumn("h", _md5_hash64(F.col("tok"), seed))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"b{b}")
        for b in range(32)
    ]
    agg = toks.groupBy(id_col).agg(*aggs)
    sim = None
    for b in range(32):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        sim = term if sim is None else sim + term
    return agg.select(F.col(id_col), sim.alias("simhash32"))


# Telemetry of the most recent connected_components call ON THIS THREAD
# (rounds taken, input edge count, whether the driver union-find cutover
# fired). Written by every path so bench.py can surface convergence
# behavior — a CC round-count regression otherwise looks identical to
# machine contention in the wall-clock number. `edges` is the DEDUPED
# ONE-DIRECTIONAL edge count, recorded only where a path computes it
# anyway (star: checksum pass; local: collected list).
#
# Thread-LOCAL (not a module global): concurrent CC calls from parallel
# entries in one session would otherwise overwrite each other and bench.py
# could attribute stale telemetry to the wrong pipeline run.
_CC_TELEMETRY = threading.local()


def _cc_note(**kw) -> None:
    # a note carrying `method` starts a fresh record (new CC call); notes
    # without it (per-round progress) merge into the current one
    if "method" in kw:
        cur = {"method": None, "rounds": 0, "edges": 0, "cutover": False}
    else:
        cur = getattr(_CC_TELEMETRY, "last", None) or {
            "method": None, "rounds": 0, "edges": 0, "cutover": False,
        }
    cur.update(kw)
    _CC_TELEMETRY.last = cur


def last_cc_telemetry() -> dict:
    """Telemetry of this thread's most recent connected_components call:
    {method, rounds, edges, cutover}. Per-thread so interleaved calls from
    parallel entries can't cross-attribute."""
    return dict(
        getattr(
            _CC_TELEMETRY,
            "last",
            {"method": None, "rounds": 0, "edges": 0, "cutover": False},
        )
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Duplicate-CLUSTER assignment: connected components over candidate
    pairs, labels = min doc id per component → (node, cluster_id). The
    "keep one document per duplicate cluster" step that follows pairwise
    candidate generation in a training-data dedup pipeline.

    Distributed plan: alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — each round is two groupBy-min + join passes over the
    shrinking edge list and the round count is O(log n) in the worst
    case, so an adversarial 10^6-node chain
    (spam mirror rings, boilerplate chains) finishes in ~20 rounds where
    diameter-bound label propagation needs 10^6.

    Small-graph cutover (AQE-local-mode style): when the deduped edge list
    is at most ``local_threshold`` rows (a few MB — metadata-sized, like a
    broadcast threshold), the components are solved with one union-find on
    the driver instead of O(log n) Spark rounds whose fixed job latency
    would dominate. Identical labels by construction; the distributed path
    takes over exactly when the data stops being collectable. Set
    ``local_threshold=0`` to force the distributed plan (the equality
    tests do).

    The distributed plan is deterministic (labels = component-min id,
    independent of partitioning), equal to the driver union-find
    bit-for-bit — equality-tested on chains, rings, stars and random
    graphs — and fails loudly on non-convergence rather than returning a
    silently-split component. localCheckpoint() cuts lineage each round
    (iterative plans otherwise grow exponentially).
    """
    if local_threshold:
        fwd = pairs.select(
            F.col(id_a).alias("x"), F.col(id_b).alias("y")
        ).distinct()
        edges = fwd.limit(local_threshold + 1).collect()
        if len(edges) <= local_threshold:
            _cc_note(method="local", rounds=0, edges=len(edges), cutover=True)
            return _cc_local(
                pairs.sparkSession, edges, pairs.schema[id_a].dataType
            )
    return _cc_star(pairs, id_a, id_b, max_iter)


def _cc_local(spark, edge_rows, id_type) -> DataFrame:
    """Driver-side union-find over a collected (metadata-sized) edge list;
    labels = component-min id, bit-identical to the distributed plan.

    The label frame is built JVM-side (one JSON literal via from_json +
    inline) for long/int/string ids: `createDataFrame(rows)` routes the
    tiny table through applySchemaToPythonRDD, paying a Python worker task
    every time the downstream joins re-evaluate it."""
    parent: dict = {}

    def find(a):
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:  # path compression
            parent[a], a = root, parent[a]
        return root

    for r in edge_rows:
        a, b = r["x"], r["y"]
        for n in (a, b):
            if n not in parent:
                parent[n] = n
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so the final root is the component min
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    labels = [(n, find(n)) for n in parent]
    ddl_of = {LongType(): "bigint", IntegerType(): "int", StringType(): "string"}
    ddl = ddl_of.get(id_type)
    if ddl is not None:
        from archive_query_log_spark.operators.rule_tables import local_json_df

        return local_json_df(
            spark,
            [{"node": n, "cluster_id": c} for n, c in labels],
            f"node {ddl}, cluster_id {ddl}",
        )
    schema = StructType(
        [StructField("node", id_type), StructField("cluster_id", id_type)]
    )
    return spark.createDataFrame(labels, schema)


def _edge_checksum(edges: DataFrame) -> tuple[int, int, int]:
    """(count, sum-hash, xor-ish-hash) fixpoint signature of an edge set —
    one agg pass, order/partitioning-independent."""
    h = F.xxhash64(F.col("x"), F.col("y"))
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0)).alias("s"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("s2"),
    ).collect()[0]
    return (row["n"], row["s"], row["s2"])


def _cc_star(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int
) -> DataFrame:
    """Alternating large-star/small-star connected components.

    Per round (both halves are groupBy-min + equi-join, no row explosion
    beyond the edge list itself):

    - large-star: for each node u, m = min(Γ(u) ∪ {u}); every neighbor
      v > u re-points to m → edges (v, m).
    - small-star: orient each edge large→small; for each node u,
      m = min(smaller-neighbors ∪ {u}); u and all its smaller neighbors
      point to m → edges (v, m) ∪ (u, m).

    Fixpoint when a round leaves the edge set unchanged (count + two
    hash checksums in one agg pass); the surviving edges form stars whose
    roots are the component minima.
    """
    fwd = pairs.select(F.col(id_a).alias("x"), F.col(id_b).alias("y")).where(
        F.col(id_a) != F.col(id_b)
    )
    nodes = (
        fwd.select("x").union(
            pairs.select(F.col(id_b).alias("x"))
        ).distinct().localCheckpoint()
    )
    edges = fwd.distinct().localCheckpoint()
    sig = _edge_checksum(edges)
    _cc_note(method="star", rounds=0, edges=sig[0], cutover=False)
    for _round in range(max_iter):
        prev_edges = edges
        # --- large-star ---
        sym = edges.union(
            edges.select(F.col("y").alias("x"), F.col("x").alias("y"))
        )
        m = sym.groupBy("x").agg(
            F.least(F.min("y"), F.first("x")).alias("m")
        )
        edges = (
            sym.where(F.col("y") > F.col("x"))
            .join(m, on="x")
            .select(F.col("y").alias("x"), F.col("m").alias("y"))
            .where(F.col("x") != F.col("y"))
            .distinct()
        )
        # --- small-star ---
        oriented = edges.select(
            F.greatest("x", "y").alias("x"), F.least("x", "y").alias("y")
        )
        ms = oriented.groupBy("x").agg(F.min("y").alias("m"))
        joined = oriented.join(ms, on="x")
        edges = (
            joined.select(F.col("y").alias("x"), F.col("m").alias("y"))
            .union(joined.select(F.col("x"), F.col("m").alias("y")))
            .where(F.col("x") != F.col("y"))
            .distinct()
            .localCheckpoint()
        )
        new_sig = _edge_checksum(edges)
        _cc_note(rounds=_round + 1)
        if new_sig == sig:
            # Checksum-collision guard: the (count, sum, xor) signature could
            # in principle collide between two DIFFERENT edge sets, which
            # would silently split components. Confirm the fixpoint with one
            # exact set comparison — counts already match, edge sets are
            # distinct, so a one-directional exceptAll emptiness check proves
            # equality. Runs ONCE, at convergence, not per round.
            if edges.exceptAll(prev_edges).count() == 0:
                break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter}"
            " rounds — pathological input (rounds are O(log n), so this"
            " indicates a bug or a graph far larger than max_iter=50 covers)"
        )
    # final edges are (node → component-min) stars; isolated nodes (from
    # self-loop-only input rows) label themselves
    labels = edges.select(
        F.col("x").alias("node"), F.col("y").alias("cluster_id")
    ).union(
        edges.select(F.col("y").alias("node"), F.col("y").alias("cluster_id"))
    ).distinct()
    isolated = nodes.join(
        labels.select(F.col("node").alias("x")), on="x", how="left_anti"
    )
    return labels.union(
        isolated.select(F.col("x").alias("node"), F.col("x").alias("cluster_id"))
    )


def _hamming_stacked(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int,
    n_chunks: int,
    combo_k: int,
) -> DataFrame:
    """(id, sim, chunk) rows: one row per combination key. ``combo_k=1``
    keys on single chunk values (one row per chunk, the classic layout);
    ``combo_k≥2`` keys on every C(n_chunks, combo_k) combination of chunk
    values concatenated (Manku et al., WWW'07 §3 table scheme) — wider
    keys, exponentially smaller buckets, at the cost of a larger explode.

    NULL signatures (e.g. phash_col on corrupt payloads) are dropped up
    front: concat_ws skips a NULL chunk value, so they would otherwise
    all share the bare-index chunk keys and self-join quadratically
    before the (NULL-discarding) hamming predicate ran."""
    from itertools import combinations

    width = bits // n_chunks
    mask = (1 << width) - 1
    sig = sig_df.where(F.col(sig_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("sim")
    )

    def chunk_val(c: int):
        return F.shiftright("sim", c * width).bitwiseAND(mask)

    keys = [
        F.concat_ws(
            "_",
            F.lit("-".join(str(c) for c in combo)),
            *[chunk_val(c) for c in combo],
        )
        for combo in combinations(range(n_chunks), combo_k)
    ]
    return sig.select("id", "sim", F.explode(F.array(*keys)).alias("chunk"))


def hamming_candidate_census(
    sig_df: DataFrame,
    id_col: str = "id",
    sig_col: str = "sig",
    bits: int = 32,
    n_chunks: int = 4,
    combo_k: int = 1,
    max_chunk_df: int | None = 1000,
) -> dict:
    """Candidate-pair census for ``hamming_near_pairs`` WITHOUT running
    the self-join: one groupBy over the exploded chunk table gives, per
    bucket, n·(n−1)/2 pending pairs. At 100 TB this is the planning query
    you run FIRST — a 10M-row uniform 64-bit signature set predicts ~3e9
    candidates under single 16-bit chunks (avg bucket ≈ n_rows/2^width —
    density, not skew, so the hot-chunk cap never fires), and the fix is
    a wider key (``combo_k=2, n_chunks=6`` ⇒ ~21-bit keys), not a cap.
    Returns {buckets, candidate_pairs, max_bucket, capped_keys}."""
    stacked = _hamming_stacked(sig_df, id_col, sig_col, bits, n_chunks, combo_k)
    # ONE scan of the exploded frame, one agg tree: bucket sizes, then the
    # census over kept buckets and the capped-key count together (a
    # hot_key_report + _drop_hot_keys + pair_census chain would re-explode
    # the frame ~3x — real money at the 10M-row scale this targets)
    kept = (
        F.lit(True) if max_chunk_df is None
        else F.col("n") <= F.lit(max_chunk_df)
    )
    row = (
        stacked.groupBy("chunk")
        .agg(F.count("*").alias("n"))
        .agg(
            F.count(F.when(kept, 1)).alias("buckets"),
            F.sum(
                F.when(kept, F.expr("n * (n - 1) DIV 2"))
            ).alias("cands"),
            F.max(F.when(kept, F.col("n"))).alias("max_bucket"),
            F.count(F.when(~kept, 1)).alias("capped"),
        )
        .collect()[0]
    )
    return {
        "buckets": row["buckets"],
        "candidate_pairs": int(row["cands"] or 0),
        "max_bucket": row["max_bucket"],
        "capped_keys": row["capped"],
    }


def hamming_near_pairs(
    sig_df: DataFrame,
    id_col: str = "id",
    sig_col: str = "sig",
    bits: int = 32,
    max_hamming: int = 3,
    n_chunks: int = 4,
    max_chunk_df: int | None = 1000,
    checkpoint: bool = True,
    combo_k: int = 1,
    candidate_budget: int | None = None,
) -> DataFrame:
    """Near-dup pairs over ANY integer bit-signature column (simhash,
    image phash, ...) via the chunk-pigeonhole join: split the signature
    into ``n_chunks`` bit ranges — any pair within hamming distance
    ≤ n_chunks−combo_k has at least one combination of ``combo_k`` chunks
    entirely clean — so candidate generation is an EQUI-join on the
    combination key (never a cross join), then exact hamming (bit_count
    of xor) verifies. ``combo_k=1`` is the classic one-chunk table;
    ``combo_k≥2`` is Manku et al.'s (WWW'07) multi-chunk scheme: keys get
    ``combo_k``·(bits/n_chunks) bits wide, so bucket DENSITY (n_rows /
    key-space — the quadratic driver no cap can fix, since it is the
    average, not skew) drops exponentially, at the cost of
    C(n_chunks, combo_k)/n_chunks more exploded rows. Rule of thumb from
    the 10M-signature soak (BENCH.md round 7): beyond ~1M uniform 64-bit
    rows, single 16-bit chunks exceed 1e8 candidates — move to
    (n_chunks=6, combo_k=2).

    Requires max_hamming ≤ n_chunks − combo_k (pigeonhole guarantee);
    chunk keys shared by more than ``max_chunk_df`` rows are dropped
    (explicit recall cut, same rationale as the shingle/band caps).
    ``candidate_budget`` is the loud-failure guard: when set, a census
    agg over the (capped) chunk table counts the exact candidate pairs
    the self-join would emit and raises ValueError above the budget —
    the 100-TB-scale blowup is then caught by one cheap aggregation
    instead of a multi-hundred-GB shuffle (same philosophy as the CC
    non-convergence error: never silently attempt the infeasible plan).

    Sign-safe for int64 signatures (e.g. two's-complement phash):
    Spark's ``shiftright`` sign-extends, but the chunk mask keeps only
    ``bits/n_chunks`` low bits, and xor/bit_count are bitwise on the
    two's-complement representation — the hamming distance is exact.

    ``checkpoint=True`` (default) localCheckpoints the exploded chunk
    table before the self-join: the signature lineage (often an Arrow
    decode UDF, as in phash) is otherwise re-executed for BOTH join
    sides AND the hot-chunk census — ~6× the UDF work, plan-verified.
    Pass False only when sig_df is already materialized (cached table,
    stored signature column)."""
    assert max_hamming <= n_chunks - combo_k, (
        "pigeonhole needs max_hamming <= n_chunks - combo_k"
    )
    stacked = _hamming_stacked(
        sig_df, id_col, sig_col, bits, n_chunks, combo_k
    )
    if checkpoint:
        stacked = stacked.localCheckpoint()
    stacked = _drop_hot_keys(stacked, "chunk", max_chunk_df)
    _enforce_candidate_budget(
        stacked, "chunk", candidate_budget,
        f"widen the key (raise combo_k/n_chunks from n_chunks={n_chunks},"
        f" combo_k={combo_k}) rather than tightening max_chunk_df.",
    )
    a, b = stacked.alias("a"), stacked.alias("b")
    cand = (
        a.join(b, on="chunk")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(
            F.col("sim_a").bitwiseXOR(F.col("sim_b"))
        ).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    seed: int = 7,
    n_chunks: int = 4,
    max_chunk_df: int | None = 1000,
) -> DataFrame:
    """SimHash near-dup pairs = the md5 32-bit signature writer feeding the
    generic ``hamming_near_pairs`` pigeonhole join (bit-exact DuckDB
    oracle; an xxhash64 token hash would feed the same plan at scale).
    """
    sig = simhash32_md5(df, text_col, id_col, seed=seed).select(
        F.col(id_col).alias("id"), F.col("simhash32").alias("sig")
    )
    return hamming_near_pairs(
        sig,
        id_col="id",
        sig_col="sig",
        bits=bits,
        max_hamming=max_hamming,
        n_chunks=n_chunks,
        max_chunk_df=max_chunk_df,
    )
