"""ANN quality: the sign-LSH scale path must retain real recall against the
brute-force exact top-k (otherwise it's a fast wrong answer)."""

import pytest

from readability_spark.ops.similarity import (
    cosine_topk,
    lsh_bandor_topk,
    lsh_cosine_topk,
    lsh_multiprobe_topk,
)


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_lsh_recall_against_exact(spark, sf_dir):
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(spark, sf_dir).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in lsh_cosine_topk(spark, sf_dir).collect()}
    assert exact, "exact top-k must not be empty"
    recall = len(exact & approx) / len(exact)
    # 8 hyperplanes over 500 vectors: buckets are coarse, but the scale
    # path must at least find the self-match and a meaningful share of
    # true neighbors
    assert recall >= 0.2, f"LSH recall {recall:.2f} too low"
    # every query's rank-1 should be itself (cosine(v,v)=1) in both
    exact_rank1 = {r["query_id"]: r["neighbor_id"]
                   for r in cosine_topk(spark, sf_dir).collect()
                   if r["rank"] == 1}
    assert all(q == n for q, n in exact_rank1.items())


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Probing the 8 one-bit-flip neighbor buckets must recover neighbors a
    single hyperplane separated from the query.  Pinned at the measured
    values: recall@5 is 0.20 single-probe vs 0.28 multiprobe at sf0.001
    (0.20 vs 0.32 at sf0.01) — the margin is the whole point of the probe
    fan-out."""
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(spark, sf_dir).collect()}
    single = {(r["query_id"], r["neighbor_id"])
              for r in lsh_cosine_topk(spark, sf_dir).collect()}
    multi = {(r["query_id"], r["neighbor_id"])
             for r in lsh_multiprobe_topk(spark, sf_dir).collect()}
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    assert r_multi >= r_single, (r_single, r_multi)
    assert r_multi >= 0.28, f"multiprobe recall regressed: {r_multi:.2f}"
    # (note: emitted top-5 PAIRS are not a superset of single-probe's —
    # better candidates from flipped buckets displace junk — but TRUE
    # neighbors can never be displaced, hence the recall dominance above)


@pytest.mark.parametrize("sf_dir",
                         ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_bandor_recall_meets_target(spark, sf_dir):
    """Band-OR amplification (L=4 independent signature tables, Hamming-≤2
    probes per table, union of candidates, exact re-rank) must lift
    recall@5 to a genuinely useful level.  Pinned at the measured value:
    0.80 at BOTH sf0.001 and sf0.01 — vs 0.20 single-probe and 0.28/0.32
    multiprobe.  The floor asserts the VERDICT r3 target (≥ 0.6) with the
    measured 0.80 recorded here; a drop below 0.8 on this seeded testdata
    means the signature family or probe set changed."""
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(spark, sf_dir).collect()}
    multi = {(r["query_id"], r["neighbor_id"])
             for r in lsh_multiprobe_topk(spark, sf_dir).collect()}
    bandor = {(r["query_id"], r["neighbor_id"])
              for r in lsh_bandor_topk(spark, sf_dir).collect()}
    r_multi = len(multi & exact) / len(exact)
    r_bandor = len(bandor & exact) / len(exact)
    assert r_bandor >= r_multi, (r_multi, r_bandor)
    assert r_bandor >= 0.8, f"band-OR recall regressed: {r_bandor:.2f}"
    # self-match is always a candidate (a vector collides with itself in
    # every table) and always rank 1
    rank1 = {r["query_id"]: r["neighbor_id"]
             for r in lsh_bandor_topk(spark, sf_dir).collect()
             if r["rank"] == 1}
    assert all(q == n for q, n in rank1.items())


@pytest.mark.parametrize("sf_dir",
                         ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_ivf_recall(spark, sf_dir):
    """IVF (Lloyd-refined quantizer + R=2 multi-assignment + probed
    re-rank) at the gate config (nprobe=4, assign_replicas=2) must hold
    the measured recall@5: 0.88 at sf0.001 / 0.76 at sf0.01 (pinned
    ≥ 0.7).  History of the knobs: raw seed quantizer 0.56/0.48; + one
    Lloyd iteration 0.76/0.56 (r6); + multi-assignment R=2 0.88/0.76
    (r6 — a second Lloyd iteration was measured WORSE, 0.72/0.52, see
    _refine_centroids).  Every query's rank-1 is itself: assignment and
    probe #1 are the same argmax over the same refined centroids, so
    self-match survives probing."""
    from readability_spark.ops.similarity import ivf_topk

    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(spark, sf_dir).collect()}
    got = ivf_topk(spark, sf_dir).collect()
    ivf = {(r["query_id"], r["neighbor_id"]) for r in got}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.7, f"IVF recall regressed: {recall:.2f}"
    rank1 = {r["query_id"]: r["neighbor_id"] for r in got if r["rank"] == 1}
    assert all(q == n for q, n in rank1.items())


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_embedding_near_dup_semantics(spark, sf_dir):
    """Embedding-cosine near-dup (the vector twin of text near_dedup):
    candidate pairs are ordered and unique, the is_dup cut at
    EMB_DUP_THRESHOLD is nonvacuous in both directions, and the exact
    verify stage guarantees ZERO false positives against brute-force
    ground truth.  Recall on THIS corpus is corpus-limited, not
    design-limited — the synthetic embeddings have no true duplicates
    (max pairwise cosine ≈ 0.48), so the 0.4 cut selects 66 pairs at
    ~66° angles, far outside sign-LSH's collision range; measured 0.152
    here, pinned as a floor.  The design point (cos ≥ 0.99) is proved in
    test_embedding_near_dup_finds_planted_duplicates."""
    from pyspark.sql import functions as F
    from _reference_forms import _with_cosine
    from readability_spark.ops.similarity import (
        EMB_DUP_THRESHOLD,
        embedding_near_dup,
    )

    rows = embedding_near_dup(spark, sf_dir).collect()
    assert rows, "LSH bands must collide on the testdata"
    keys = [(r["vec_a"], r["vec_b"]) for r in rows]
    assert len(keys) == len(set(keys))
    assert all(a < b for a, b in keys)
    dup_pairs = {(r["vec_a"], r["vec_b"]) for r in rows if r["is_dup"]}
    assert dup_pairs, "threshold leaves no dup pairs — cut is vacuous"
    assert len(dup_pairs) < len(keys), "every candidate is a dup — cut is vacuous"

    # ground truth: brute-force all-pairs cosine at gate scale
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("vec_a"),
                   F.col("embedding").alias("a"))
    b = emb.select(F.col("vec_id").alias("vec_b"),
                   F.col("embedding").alias("b"))
    allp = _with_cosine(
        a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b")))
    truth = {(r["vec_a"], r["vec_b"])
             for r in allp.filter(
                 F.round(F.col("cos"), 6) >= EMB_DUP_THRESHOLD).collect()}
    assert truth, "testdata has no pairs at this threshold"
    # every emitted dup is true (exact verify stage => no false positives)
    assert dup_pairs <= truth
    recall = len(dup_pairs) / len(truth)
    assert recall >= 0.15, f"recall regressed below measured: {recall:.3f}"


def test_embedding_near_dup_guards_dim(spark):
    """A narrower-than-dim vector must fail loudly: out-of-range v[i] is
    NULL (ANSI off), which would silently hash every vector into bucket 0
    and turn the bucket grouping into near-brute-force — same guard
    contract as the ANN operators."""
    from readability_spark.ops.similarity import embedding_near_dup_df

    bad = spark.createDataFrame(
        [(1, [0.5] * 32), (2, [0.25] * 32)],
        "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="narrower than dim"):
        embedding_near_dup_df(bad).collect()


def test_embedding_near_dup_bucket_cap(spark):
    """Degenerate buckets are dropped, not exploded: a corpus of identical
    vectors lands in one bucket per table; above EMB_BUCKET_CAP that
    bucket yields NO pairs (the B²/2 explosion guard), below the cap it
    yields all C(n,2) pairs, every one a dup (cos = 1)."""
    from pyspark.sql import functions as F
    from readability_spark.ops.similarity import (
        EMB_BUCKET_CAP,
        embedding_near_dup_df,
    )

    vec = [0.5] * 64
    big = spark.range(EMB_BUCKET_CAP + 10).select(
        F.col("id").alias("vec_id"),
        F.expr(f"array({','.join(['cast(0.5 as float)'] * 64)})")
        .alias("embedding"))
    assert embedding_near_dup_df(big).count() == 0
    n = 40
    small = big.filter(F.col("vec_id") < n)
    rows = embedding_near_dup_df(small).collect()
    assert len(rows) == n * (n - 1) // 2
    assert all(r["is_dup"] and r["cos"] == 1.0 for r in rows)


def test_embedding_near_dup_finds_planted_duplicates(spark):
    """Design point: at real dedup thresholds (cos ≥ 0.99) per-plane sign
    agreement is ≈ 0.95+, so the L=4 banded tables catch essentially every
    duplicate.  The testdata has no duplicates, so plant them: 50 vectors
    get a +1%-of-norm jitter copy (cosine ≈ 0.9999); every planted pair
    must surface as a candidate AND be flagged is_dup, with zero false
    positives among planted ids."""
    from pyspark.sql import functions as F
    from readability_spark.ops.similarity import embedding_near_dup_df

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .select("vec_id", "embedding"))
    base = emb.filter(F.col("vec_id") < 50)
    jittered = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr("transform(embedding, (x, i) -> cast(x * (1.0 + 0.01 * "
               "(cast(i % 3 as double) - 1.0)) as float))")
        .alias("embedding"))
    corpus = emb.unionByName(jittered)
    out = embedding_near_dup_df(corpus, threshold=0.99).collect()
    dup = {(r["vec_a"], r["vec_b"]) for r in out if r["is_dup"]}
    planted = {(i, i + 100000) for i in range(50)}
    missed = planted - dup
    assert not missed, f"planted duplicates missed: {sorted(missed)[:5]}"
    # no OTHER pair involving a planted id may be flagged at 0.99
    extra = {p for p in dup - planted
             if p[0] >= 100000 or p[1] >= 100000}
    assert not extra, sorted(extra)[:5]


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_ivf_nprobe_recall_curve(spark, sf_dir):
    """The nprobe dial must buy recall monotonically: measured curve at
    sf0.001 is 0.64 / 0.88 / 0.96 / 1.00 for nprobe 2/4/8/16 with the
    Lloyd-refined quantizer + R=2 multi-assignment (Lloyd-only was
    0.52/0.76/0.76/1.00; seed-only 0.44/0.56/0.72/1.00).  Pinned:
    non-decreasing, >= 0.85 at nprobe=8, and EXACT (1.0) at
    nprobe=IVF_K — probing every list makes the candidate set the whole
    corpus (the distinct collapses the replicas), so the re-rank
    degenerates to brute force by construction."""
    from readability_spark.ops.similarity import IVF_K, ivf_topk

    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(spark, sf_dir).collect()}
    recalls = {}
    for np_ in (2, 4, 8, IVF_K):
        got = {(r["query_id"], r["neighbor_id"])
               for r in ivf_topk(spark, sf_dir, nprobe=np_).collect()}
        recalls[np_] = len(exact & got) / len(exact)
    vals = [recalls[k] for k in (2, 4, 8, IVF_K)]
    assert vals == sorted(vals), f"recall not monotone in nprobe: {recalls}"
    assert recalls[8] >= 0.85, f"recall@5 at nprobe=8 regressed: {recalls[8]:.2f}"
    assert recalls[IVF_K] == 1.0, (
        f"nprobe=IVF_K must equal brute force: {recalls[IVF_K]:.2f}")


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_ivf_nondefault_nprobe_tracks_oracle(spark, sf_dir):
    """The generated oracle must follow the dial, not the default."""
    import duckdb

    from readability_spark.ops.similarity import _ivf_topk_sql, ivf_topk

    got = ivf_topk(spark, sf_dir, nprobe=8) \
        .select("query_id", "rank", "neighbor_id").toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet')")
    exp = con.execute(_ivf_topk_sql(nprobe=8)).df()
    assert len(got) == len(exp)
    g = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    e = exp.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (g["neighbor_id"].astype(int) == e["neighbor_id"].astype(int)).all()


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_ivf_bounded_sample_training_tracks_oracle(spark, sf_dir):
    """train_limit (the 100 TB shape: Lloyd trains on the deterministic
    prefix sample, assignment/probing still cover the whole corpus) must
    stay value-exact vs its generated oracle and keep usable recall —
    measured 0.76 at cap=128 with R=2 multi-assignment (was 0.68 at
    R=1; full-train R=2 is 0.88); pinned ≥ 0.6.  Self-match at rank 1
    survives by construction (assignment and probe #1 share the same
    argmax)."""
    import duckdb

    from readability_spark.ops.similarity import _ivf_topk_sql, ivf_topk

    got = ivf_topk(spark, sf_dir, train_limit=128) \
        .select("query_id", "rank", "neighbor_id").toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet')")
    exp = con.execute(_ivf_topk_sql(train_limit=128)).df()
    assert len(got) == len(exp)
    g = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    e = exp.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (g["neighbor_id"].astype(int) == e["neighbor_id"].astype(int)).all()

    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(spark, sf_dir).collect()}
    sample = {(int(r.query_id), int(r.neighbor_id)) for r in g.itertuples()}
    assert len(exact & sample) / len(exact) >= 0.6
    rank1 = {int(r.query_id): int(r.neighbor_id)
             for r in g.itertuples() if r.rank == 1}
    assert all(q == n for q, n in rank1.items())


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001"])
def test_ivf_assign_replicas_dial(spark, sf_dir):
    """Multi-assignment is the r6 recall lever: R=1 (classic IVF) vs the
    R=2 default at fixed nprobe=4 — measured 0.76 vs 0.88 at sf0.001
    (0.56 vs 0.76 at sf0.01).  Pinned: R=2 strictly beats R=1 on this
    corpus, and a NON-default R must track its generated oracle exactly
    (the dial flows into both engines from the same parameter)."""
    import duckdb

    from readability_spark.ops.similarity import _ivf_topk_sql, ivf_topk

    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(spark, sf_dir).collect()}

    def recall(replicas):
        got = {(r["query_id"], r["neighbor_id"])
               for r in ivf_topk(spark, sf_dir,
                                 assign_replicas=replicas).collect()}
        return len(exact & got) / len(exact)

    r1, r2 = recall(1), recall(2)
    assert r2 > r1, f"R=2 must lift recall: R1={r1:.2f} R2={r2:.2f}"

    got = ivf_topk(spark, sf_dir, assign_replicas=3) \
        .select("query_id", "rank", "neighbor_id").toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet')")
    exp = con.execute(_ivf_topk_sql(assign_replicas=3)).df()
    assert len(got) == len(exp)
    g = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    e = exp.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (g["neighbor_id"].astype(int) == e["neighbor_id"].astype(int)).all()
