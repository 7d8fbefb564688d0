"""Dedup + search operators against small Python oracles."""

import hashlib

from pyspark.sql import functions as F

from archive_query_log_spark.operators import dedup, search, similarity

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "completely different text about spark joins here"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, "tiny"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    kept = sorted(
        r["doc_id"] for r in dedup.exact_dedup(_docs(spark)).collect()
    )
    assert kept == [0, 1, 2, 4]  # 3 collapses into 0


def test_minhash_signature_matches_python(spark):
    rows = dedup.minhash_signatures(_docs(spark), num_perm=4).collect()
    for r in rows:
        text = dict(DOCS)[r["doc_id"]]
        toks = text.lower().split()
        shingles = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        for s in range(4):
            exp = min(
                int(hashlib.md5(f"{s}:{sh}".encode()).hexdigest()[:8], 16)
                for sh in shingles
            )
            assert r[f"mh_{s}"] == exp


def test_jaccard_pairs(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(_docs(spark), threshold=0.2).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and 0.5 < pairs[(0, 1)] < 1.0
    assert all(a < b for a, b in pairs)


def test_simhash_near_for_near_docs(spark):
    rows = {
        r["doc_id"]: r["simhash32"]
        for r in dedup.simhash32_md5(_docs(spark)).collect()
    }
    assert rows[0] == rows[3]
    d_near = bin(rows[0] ^ rows[1]).count("1")
    d_far = bin(rows[0] ^ rows[2]).count("1")
    assert d_near < d_far


def test_advanced_search_compiler(spark):
    d = _docs(spark)
    cases = {
        "quick AND dog": {0, 3},
        "quick OR spark": {0, 1, 2, 3},
        '"lazy cat"': {1},
        "qu?ck": {0, 1, 3},
        "spar*": {2},
        "(dog OR cat) AND quick": {0, 1, 3},
    }
    for q, exp in cases.items():
        pred = search.compile_advanced_query(q, F.col("text"))
        got = {r["doc_id"] for r in d.where(pred).collect()}
        assert got == exp, q


def test_fuzzy_match(spark):
    d = _docs(spark)
    pred = search.match_fuzzy(F.col("text"), "quik")  # dist 1, len 4 → allowed
    got = {r["doc_id"] for r in d.where(pred).collect()}
    assert got == {0, 1, 3}


def test_ivf_topk_recall(spark):
    import numpy as np

    from archive_query_log_spark.operators.similarity import (
        build_ivf_centroids,
        ivf_topk,
    )

    rng = np.random.default_rng(7)
    # two well-separated clusters so IVF probing is meaningful
    vecs = np.vstack(
        [rng.normal(0, 1, (60, 8)) + 8, rng.normal(0, 1, (60, 8)) - 8]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    ).cache()
    q = [float(x) for x in vecs[3]]
    exact = {r["vec_id"] for r in similarity.brute_force_topk(df, q, k=5).collect()}
    cents = build_ivf_centroids(df, dim=8, n_centroids=4)
    approx = {
        r["vec_id"]
        for r in ivf_topk(df, q, dim=8, k=5, n_centroids=4, n_probe=2,
                          centroids=cents).collect()
    }
    assert len(exact & approx) >= 4  # ≥80% recall on separated clusters
    # determinism: same centroids on rebuild
    assert cents == build_ivf_centroids(df, dim=8, n_centroids=4)


def test_build_ivf_centroids_dim768(spark):
    """The Lloyd update is dim-independent (posexplode → groupBy(c, pos)),
    so the builder runs at real embedding width without a 768-column
    aggregate; assignment auto-dispatches to the matmul UDF above the
    expression term budget. Centroid means are verified against numpy."""
    import numpy as np

    from archive_query_log_spark.operators.similarity import (
        build_ivf_centroids,
        nearest_centroid_udf,
    )

    rng = np.random.default_rng(11)
    dim = 768
    vecs = np.vstack([rng.normal(0, 1, (40, dim)) + 6,
                      rng.normal(0, 1, (40, dim)) - 6])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    ).cache()
    cents = build_ivf_centroids(df, dim=dim, n_centroids=2, n_iter=2)
    assert len(cents) == 2 and all(len(c) == dim for c in cents)
    # after 2 Lloyd steps on well-separated blobs, each centroid sits on a
    # blob mean: assignment of every vector must be pure per blob
    assign = {
        r["vec_id"]: r["c"]
        for r in df.select(
            "vec_id", nearest_centroid_udf(cents)("embedding").alias("c")
        ).collect()
    }
    blob0 = {assign[i] for i in range(40)}
    blob1 = {assign[i] for i in range(40, 80)}
    assert len(blob0) == 1 and len(blob1) == 1 and blob0 != blob1
    lbl0, lbl1 = blob0.pop(), blob1.pop()
    np.testing.assert_allclose(
        np.array(cents[lbl0]), vecs[:40].mean(axis=0), atol=1e-9
    )
    np.testing.assert_allclose(
        np.array(cents[lbl1]), vecs[40:].mean(axis=0), atol=1e-9
    )


def test_cosine_topk_and_lsh(spark):
    import numpy as np

    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(50, 8)).astype(float)
    vecs[7] = vecs[3] * 2.0  # same direction as 3
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    q = [float(x) for x in vecs[3]]
    top = similarity.brute_force_topk(df, q, k=2).collect()
    assert {r["vec_id"] for r in top} == {3, 7}
    # near-dup pairs find the planted duplicate direction
    pairs = similarity.cosine_near_dup_pairs(df, dim=8, threshold=0.99)
    assert (3, 7) in {(r["id_a"], r["id_b"]) for r in pairs.collect()}


def test_lsh_signature_matmul_equals_expr(spark):
    """The Arrow-matmul stored-column writer computes the SAME signatures as
    the unrolled expression path (dim=64, real embeddings table)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    expr = similarity.with_lsh_signature(
        e, dim=64, n_planes=8, out_col="lsh", method="expr"
    ).select("vec_id", "lsh")
    mm = similarity.with_lsh_signature(
        e, dim=64, n_planes=8, out_col="lsh", method="matmul"
    ).select("vec_id", "lsh")
    a = {r["vec_id"]: r["lsh"] for r in expr.collect()}
    b = {r["vec_id"]: r["lsh"] for r in mm.collect()}
    assert a == b and len(a) > 10


def test_ivf_cluster_matmul_equals_expr(spark):
    import json
    from pathlib import Path

    cfg = json.loads(
        (
            Path(__file__).resolve().parent.parent
            / "archive_query_log_spark/data/ivf_centroids.json"
        ).read_text()
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    expr = similarity.with_ivf_cluster(
        e, cfg["centroids"], out_col="c", method="expr"
    ).select("vec_id", "c")
    mm = similarity.with_ivf_cluster(
        e, cfg["centroids"], out_col="c", method="matmul"
    ).select("vec_id", "c")
    a = {r["vec_id"]: r["c"] for r in expr.collect()}
    b = {r["vec_id"]: r["c"] for r in mm.collect()}
    assert a == b and len(a) > 10


def test_matmul_path_at_real_embedding_width(spark):
    """dim=768: the matmul path is the auto-dispatch (the unrolled expression
    would be a 6144-term plan) and matches a driver-side numpy recompute.
    Also: the stored column probes correctly (ann_lsh_topk sig_col=)."""
    import numpy as np

    dim, n_planes = 768, 8
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(100, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.with_lsh_signature(df, dim=dim, n_planes=n_planes)
    # auto must have picked matmul: the plan is one tiny UDF call, not a
    # 6144-term expression tree
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "_sig(" in plan and len(plan) < 2000
    got = {r["vec_id"]: r["lsh"] for r in out.collect()}
    H = similarity.hyperplane_matrix(dim, n_planes)
    bits = (vecs @ H.T) > 0
    exp = (bits.astype(np.int64) << np.arange(n_planes, dtype=np.int64)).sum(axis=1)
    assert got == {i: int(exp[i]) for i in range(100)}
    # stored-column probe end-to-end
    q = [float(x) for x in vecs[5]]
    stored = out.withColumnRenamed("lsh", "sig")
    top = similarity.ann_lsh_topk(
        stored, q, dim=dim, k=3, n_planes=n_planes, sig_col="sig"
    ).collect()
    assert top and top[0]["vec_id"] == 5


def test_jaccard_hot_shingle_cap(spark):
    """A boilerplate shingle shared by every doc must not go quadratic:
    capped run drops it from the feature space, keeps true duplicate pairs,
    and hot_key_report counts what was cut."""
    boiler = "copyright acme corp"
    rows = [(i, f"{boiler} unique text number {i} body") for i in range(60)]
    rows += [(100, f"{boiler} the same duplicate body here"),
             (101, f"{boiler} the same duplicate body here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.jaccard_pairs(df, threshold=0.5, max_df=10)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert (100, 101) in got and got[(100, 101)] == 1.0
    # without the planted dup, the hot shingle alone creates no pairs
    assert all(p == (100, 101) for p in got)
    # uncapped on the same data: the boilerplate shingles pair EVERY doc
    uncapped = dedup.jaccard_pairs(df, threshold=0.0, max_df=None)
    assert uncapped.count() > 1000  # 62*61/2 candidate pairs survive
    # the report names the boilerplate shingles (via the public frame)
    report = dedup.hot_key_report(
        dedup.shingle_frame(df), "sh", max_df=10
    ).collect()
    assert any(r["sh"] == boiler and r["doc_freq"] == 62 for r in report)


def test_cosine_near_dup_hot_bucket_cap(spark):
    """A degenerate LSH bucket (every vector identical direction) must not
    go quadratic: capped run drops the bucket; hot_buckets reports it."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.normal(size=8)
    hot = [(i, [float(x) for x in base * (1 + 0.001 * i)]) for i in range(50)]
    o1, o2 = rng.normal(size=8), None
    o2 = o1 * 1.001  # a near-dup pair OUTSIDE the hot bucket (unless unlucky)
    cool = [(100, [float(x) for x in o1]), (101, [float(x) for x in o2])]
    df = spark.createDataFrame(hot + cool, "vec_id long, embedding array<double>")
    capped = similarity.cosine_near_dup_pairs(
        df, dim=8, threshold=0.99, n_planes=6, max_bucket=10
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in capped}
    assert all(a >= 100 for a, _ in pairs)  # hot-bucket pairs all dropped
    uncapped = similarity.cosine_near_dup_pairs(
        df, dim=8, threshold=0.99, n_planes=6, max_bucket=None
    )
    assert uncapped.count() > 1000  # 50*49/2 quadratic without the cap
    report = similarity.hot_buckets(
        df, dim=8, n_planes=6, max_bucket=10
    ).collect()
    assert len(report) == 1 and report[0]["n_rows"] == 50


def test_connected_components_chains_and_isolates(spark):
    """Connected components converge past diameter-3 chains and keep
    components separate; deterministic labels = min id per component."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (21, 20), (21, 22)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["cluster_id"]
           for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # end-to-end: LSH pairs on planted duplicates cluster together
    docs = spark.createDataFrame(
        [(i, f"totally unique document number {i} with its own words x{i}")
         for i in range(20)]
        + [(100, "the exact same duplicated body of text here"),
           (101, "the exact same duplicated body of text here"),
           (102, "the exact same duplicated body of text here")],
        "doc_id long, text string",
    )
    cand = dedup.minhash_lsh_candidates(docs, num_perm=8, bands=4)
    comp = {r["node"]: r["cluster_id"]
            for r in dedup.connected_components(cand).collect()}
    assert comp.get(100) == comp.get(101) == comp.get(102) == 100


def test_udf_paths_survive_null_and_ragged_embeddings(spark):
    """A null or wrong-width embedding must not kill the batch: the matmul
    signature maps it to 0 (the expression path's value for a null array)
    and the cluster assignment to NULL (ditto)."""
    rows = [
        (0, [1.0] * 8),
        (1, None),
        (2, [1.0] * 7),  # ragged
        (3, [-1.0] * 8),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sig = {r["vec_id"]: r["lsh"] for r in similarity.with_lsh_signature(
        df, dim=8, n_planes=4, method="matmul").select("vec_id", "lsh").collect()}
    assert sig[1] == 0 and sig[2] == 0
    assert sig[0] != sig[3]  # real vectors still hash apart
    # null-array expression path gives the same 0
    e = similarity.with_lsh_signature(
        df.where("vec_id = 1"), dim=8, n_planes=4, method="expr")
    assert e.collect()[0]["lsh"] == 0
    cents = [[0.0] * 8, [5.0] * 8]
    cl = {r["vec_id"]: r["c"] for r in similarity.with_ivf_cluster(
        df, cents, out_col="c", method="matmul").select("vec_id", "c").collect()}
    assert cl[1] is None and cl[2] is None and cl[0] == 0
    ce = similarity.with_ivf_cluster(
        df.where("vec_id = 1"), cents, out_col="c", method="expr")
    assert ce.collect()[0]["c"] is None


def test_connected_components_raises_on_nonconvergence(spark):
    """One star round cannot contract an 8-edge chain to its fixpoint: the
    distributed plan must raise rather than return a split component."""
    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=1, local_threshold=0)


def test_connected_components_star_long_chain(spark):
    """The large-star/small-star default is O(log n) rounds: a planted
    1000-node chain — which exceeds any practical diameter bound for
    min-label propagation (would need 999 iterations) — converges within
    the default round budget and labels every node with the chain minimum."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "id_a long, id_b long"
    ).repartition(8)
    # local_threshold=0 forces the distributed star path (the small-graph
    # cutover would otherwise solve this on the driver)
    got = dedup.connected_components(chain, local_threshold=0)
    rows = got.collect()
    assert len(rows) == 1000
    assert all(r["cluster_id"] == 0 for r in rows)


def test_connected_components_star_equals_union_find(spark):
    """The distributed star plan and the driver union-find agree
    bit-for-bit on chains, rings, stars, cliques and a seeded random
    graph."""
    import random

    random.seed(5)
    graphs = {
        "chain": [(i, i + 1) for i in range(12)],
        "ring": [(i, (i + 1) % 10) for i in range(10)],
        "star": [(50, 50 + i) for i in range(1, 8)],
        "clique+isolate": [(i, j) for i in range(4) for j in range(i)]
        + [(99, 99)],
        "random": [
            (random.randrange(60), random.randrange(60)) for _ in range(80)
        ],
    }
    for name, edges in graphs.items():
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        star = {r["node"]: r["cluster_id"]
                for r in dedup.connected_components(
                    pairs, local_threshold=0).collect()}
        local = {r["node"]: r["cluster_id"]
                 for r in dedup.connected_components(pairs).collect()}
        assert star == local, (name, star, local)


def test_blocks_survive_null_url(spark):
    """A SERP row with a NULL url must not kill the batch: patterned rules
    skip it, pattern-less rules still extract (relative hrefs kept)."""
    from archive_query_log_spark.crawler import codec
    from archive_query_log_spark.operators import blocks as B

    payload = codec.encode_serp_payload(
        [("r0", "alpha", codec.encode(codec.synth_pixels("n", 8, 8), "png"))]
    )
    df = spark.createDataFrame(
        [("s0", None, "p0", payload)],
        "serp_id string, url string, provider_id string, payload binary",
    )
    rules = [
        B.BlockRule(0, "all", url_pattern=r"^https://"),  # can't match null
        B.BlockRule(1, "all"),
    ]
    out = B.extract_result_blocks(df, rules).collect()
    assert len(out) == 1 and out[0]["rule"] == 1 and out[0]["url"] == "r0"
    q = B.extract_payload_query(
        df, [B.PayloadQueryRule(0, "all", url_pattern=r"^https://"),
             B.PayloadQueryRule(1, "all")]
    ).collect()
    assert q[0]["query"] == "alpha" and q[0]["rule"] == 1


def test_simhash_near_pairs_pigeonhole(spark):
    """Chunk-pigeonhole candidate generation finds exact and near dups
    (hamming verified), and the pigeonhole precondition is enforced."""
    import pytest as _pytest

    docs = _docs(spark)
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_near_pairs(
               docs, max_hamming=6, n_chunks=8).collect()}
    assert got[(0, 3)] == 0  # exact dup
    assert (0, 1) in got and 0 < got[(0, 1)] <= 6  # near dup (dog vs cat)
    assert not any({a, b} & {2} for a, b in got)  # unrelated doc pairs with none
    with _pytest.raises(AssertionError, match="pigeonhole"):
        dedup.simhash_near_pairs(docs, max_hamming=4, n_chunks=4)


def test_hamming_combo_key_same_output_and_census(spark):
    """The Manku multi-chunk key (combo_k=2) emits EXACTLY the same pair
    set as the single-chunk table (both are recall-exact under pigeonhole,
    precision-exact via bit_count) while the candidate census — the
    planning agg a 100 TB run would issue first — shows the wider key's
    smaller buckets. Budget guard: a census above candidate_budget raises
    loudly instead of attempting the quadratic shuffle."""
    import pytest as _pytest

    # 40 sigs in 10 families of 4 (base xxhash-ish constants, ≤2-bit jitter)
    rows = []
    for fam in range(10):
        base = (0x9E3779B97F4A7C15 * (fam + 1)) & ((1 << 64) - 1)
        for v in range(4):
            u = base ^ ((1 << (v * 7)) if v else 0)
            rows.append((fam * 4 + v, u - (1 << 64) if u >= (1 << 63) else u))
    df = spark.createDataFrame(rows, "id long, sig long")

    kw = dict(bits=64, max_hamming=2, max_chunk_df=None, checkpoint=False)
    single = {(r["id_a"], r["id_b"], r["hamming"])
              for r in dedup.hamming_near_pairs(
                  df, n_chunks=4, combo_k=1, **kw).collect()}
    combo = {(r["id_a"], r["id_b"], r["hamming"])
             for r in dedup.hamming_near_pairs(
                 df, n_chunks=6, combo_k=2, **kw).collect()}
    assert single == combo and len(single) >= 10 * 6  # all within-family pairs

    c1 = dedup.hamming_candidate_census(
        df, bits=64, n_chunks=4, combo_k=1, max_chunk_df=None)
    c2 = dedup.hamming_candidate_census(
        df, bits=64, n_chunks=6, combo_k=2, max_chunk_df=None)
    # exact census: families share chunks, so buckets of ~4 rows → 6 pairs
    assert c1["candidate_pairs"] >= len(single)
    assert c2["max_bucket"] <= c1["max_bucket"]
    assert c1["capped_keys"] == 0

    with _pytest.raises(ValueError, match="candidate_budget"):
        dedup.hamming_near_pairs(
            df, n_chunks=4, combo_k=1, candidate_budget=3, **kw).collect()


def test_candidate_budget_shared_across_generators(spark):
    """The census/budget contract is uniform: minhash_lsh_candidates and
    jaccard_pairs refuse an over-budget self-join at census time with the
    same loud ValueError as the hamming join, and pair_census counts
    exactly (verified against a hand-computable keyed frame)."""
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text everywhere") for i in range(12)],
        "doc_id long, text string",
    )
    # identical docs → every band shared by all 12 → C(12,2)=66 per band
    with _pytest.raises(ValueError, match="candidate_budget"):
        dedup.minhash_lsh_candidates(
            docs, max_band_df=None, candidate_budget=10)
    with _pytest.raises(ValueError, match="candidate_budget"):
        dedup.jaccard_pairs(docs, max_df=None, candidate_budget=10)
    # under budget → normal results
    assert dedup.minhash_lsh_candidates(
        docs, max_band_df=None, candidate_budget=1000).count() == 66

    keyed = spark.createDataFrame(
        [(1, "k1"), (2, "k1"), (3, "k1"), (4, "k2"), (5, "k2"), (6, "k3")],
        "id long, k string",
    )
    c = dedup.pair_census(keyed, "k")
    assert c == {"buckets": 3, "candidate_pairs": 3 + 1 + 0,
                 "max_bucket": 3}
