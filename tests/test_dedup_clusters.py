"""Near-dup cluster resolution: connected components over near_dedup's
is_dup pairs → (doc_id, rep_id, keep).  The keep/drop decision a real
100 TB dedup pipeline actually executes (exact_dedup picks keepers via
min(doc_id); dedup_clusters is the near-dup twin).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from readability_spark.ops.dedup import (
    DEDUP_CLUSTERS_SQL,
    NEAR_DEDUP_SQL,
    _connected_components,
    _shingle_rows,
    dedup_clusters,
    near_dedup,
)
from readability_spark.ops.common import group_pairs

SF = "/root/testdata/sf0.001"


def _oracle(sql: str, sf_dir: str = SF):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')")
    return con.execute(sql).df()


def test_connected_components_chain_and_islands(spark):
    """A transitive chain A-B-C must collapse to one component even though
    A and C never share an edge; disjoint components stay separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain: all → 1
         (10, 11),                    # island pair → 10
         (20, 22), (22, 21)],         # out-of-order labels → 20
        "doc_a bigint, doc_b bigint")
    labels, n_rounds = _connected_components(pairs)
    got = {r["doc_id"]: r["rep"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}
    assert n_rounds <= 4


def test_connected_components_converges_on_long_path(spark):
    """Worst-case diameter: a pure path graph 0-1-2-...-19 needs many
    propagation rounds; the loop must converge, not stop early."""
    n = 20
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint")
    labels, _ = _connected_components(pairs)
    got = {r["doc_id"]: r["rep"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_diameter_past_old_cap(spark):
    """Adversarial diameter: a 200-node path (diameter 199, ~4× the
    iteration backstop) converges because each round does a pointer jump
    on top of the propagation — label distance halves per round, so
    O(log2 199) ≈ 8 rounds.  Pre-r4, min-label propagation alone would
    exhaust the 50-round cap and silently return wrong representatives."""
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint")
    labels, n_rounds = _connected_components(pairs)
    got = {r["doc_id"]: r["rep"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert n_rounds <= 12, f"pointer jumping regressed: {n_rounds} rounds"


def test_connected_components_raises_instead_of_wrong_labels(
        spark, monkeypatch):
    """If the backstop cap IS exhausted before convergence the operator
    must raise, never return partially-propagated labels (the r3 latent
    defect: silent fall-through past the cap)."""
    import readability_spark.ops.dedup as dd

    monkeypatch.setattr(dd, "_CC_MAX_ITERS", 1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "doc_a bigint, doc_b bigint")
    with pytest.raises(RuntimeError, match="failed to converge"):
        _connected_components(pairs)


def test_connected_components_property_vs_union_find(spark):
    """Property: on ANY edge list, the distributed pointer-jumping labels
    equal a sequential union-find's min-label components.  Paths and
    near-cliques are pinned above; this covers arbitrary topologies
    (stars, cycles, bridges, self-loops, parallel edges)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    node = st.integers(min_value=0, max_value=40)

    @settings(max_examples=5, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(edges=st.lists(st.tuples(node, node), min_size=1, max_size=60))
    def run_case(edges):
        parent: dict[int, int] = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {n: find(n) for n in parent}

        pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        labels, _ = _connected_components(pairs)
        got = {r["doc_id"]: r["rep"] for r in labels.collect()}
        assert got == expected, (sorted(got.items()),
                                 sorted(expected.items()))

    run_case()


def test_shingle_rows_empty_for_short_docs(spark):
    """The shingle form near_dedup runs emits nothing for documents under
    three tokens: no phantom shingles from NULL or negative indexing."""
    docs = spark.createDataFrame(
        [(0, []), (1, ["a"]), (2, ["a", "b"]), (3, ["a", "b", "c"])],
        "doc_id bigint, toks array<string>")
    rows = _shingle_rows(docs).collect()
    assert [(r["doc_id"], r["shingle"]) for r in rows] == [(3, "a b c")]


def test_group_pairs_expands_capped_groups_without_dedup(spark):
    """group_pairs (LSH pairs, embedding near-dup and SemDedup cells):
    exactly the i<j pairs per group, lower id first, no self-pair from a
    repeated id; a group over ``cap`` is dropped; a pair sharing two
    groups comes out twice, because de-duplication is the caller's."""
    rows = [("g1", 0, 10),                                  # size 1
            ("g2", 0, 5), ("g2", 0, 2),                     # size 2
            ("g3", 0, 9), ("g3", 0, 7), ("g3", 0, 8), ("g3", 0, 9),
            ("g4", 0, 1), ("g4", 0, 2), ("g4", 0, 3), ("g4", 0, 4),
            ("g2", 1, 2), ("g2", 1, 5)]                     # (2, 5) again
    df = spark.createDataFrame(rows, "k string, j int, id bigint")

    def pairs(cap):
        out = group_pairs(df, ["k", "j"], "id", ("lo", "hi"), cap)
        assert out.columns == ["lo", "hi"]
        return sorted((r["lo"], r["hi"]) for r in out.collect())

    assert pairs(3) == [(2, 5), (2, 5), (7, 8), (7, 9), (8, 9)]
    assert pairs(None) == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4),
                           (2, 5), (2, 5), (3, 4), (7, 8), (7, 9), (8, 9)]


def test_near_dedup_matches_oracle(spark):
    s = near_dedup(spark, SF).toPandas()
    o = _oracle(NEAR_DEDUP_SQL)
    assert s.shape == o.shape
    assert (s.reset_index(drop=True).astype(str)
            == o.reset_index(drop=True).astype(str)).all().all()


def test_dedup_clusters_matches_oracle(spark):
    s = dedup_clusters(spark, SF).toPandas()
    o = _oracle(DEDUP_CLUSTERS_SQL)
    assert s.shape == o.shape
    assert list(s.columns) == list(o.columns) == ["doc_id", "rep_id", "keep"]
    assert (s.reset_index(drop=True).astype(str)
            == o.reset_index(drop=True).astype(str)).all().all()


def test_dedup_clusters_semantics(spark):
    """Structural invariants independent of the oracle: every doc appears
    exactly once, every representative keeps itself, non-keepers point at a
    smaller doc_id, and the keeper set is consistent with near_dedup."""
    out = dedup_clusters(spark, SF)
    rows = out.collect()
    n_docs = (spark.read.parquet(f"{SF}/documents.parquet").count())
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs
    reps = {r["rep_id"] for r in rows}
    by_id = {r["doc_id"]: r for r in rows}
    for rep in reps:
        assert by_id[rep]["keep"] is True
        assert by_id[rep]["rep_id"] == rep
    for r in rows:
        assert r["keep"] == (r["doc_id"] == r["rep_id"])
        assert r["rep_id"] <= r["doc_id"]
    # every is_dup pair ends up in the same cluster
    for p in near_dedup(spark, SF).filter(F.col("is_dup")).collect():
        assert by_id[p["doc_a"]]["rep_id"] == by_id[p["doc_b"]]["rep_id"]


def test_dedup_clusters_logs_round_count(spark, caplog):
    """A 100 TB operator reports its iteration count: the gate corpus must
    converge in a handful of rounds (near-dup clusters are near-cliques;
    pointer jumping makes even paths logarithmic) and say so."""
    import logging

    with caplog.at_level(logging.INFO, logger="readability_spark.ops.dedup"):
        dedup_clusters(spark, SF).collect()
    msgs = [r for r in caplog.records if "converged" in r.getMessage()]
    assert msgs, "round count must be logged"
    n_rounds = msgs[-1].args[-1]
    assert 1 <= n_rounds <= 6, n_rounds


def test_dedup_clusters_accepts_precomputed_pairs(spark):
    """A staged pipeline (pairs stage → clusters stage) hands the pair
    table in instead of paying near_dedup again; result must be identical
    to the self-contained form, with or without the is_dup column."""
    pairs = near_dedup(spark, SF).localCheckpoint()
    base = dedup_clusters(spark, SF).collect()
    staged = dedup_clusters(spark, SF, pairs=pairs).collect()
    assert staged == base
    prefiltered = pairs.filter(F.col("is_dup")).select("doc_a", "doc_b")
    staged2 = dedup_clusters(spark, SF, pairs=prefiltered).collect()
    assert staged2 == base
