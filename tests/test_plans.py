"""Physical-plan locks: the .explain evidence in PLANS.md, asserted.

A wrong plan is a scale bug even when results are correct — these tests
pin the properties that matter at 100 TB (scan pruning, shuffle count,
pushdown, broadcast direction, single-lineage aggregations) so a regression
fails here instead of in a cluster bill.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def nodes(plan: str, name: str) -> int:
    """Count plan NODES (the formatted detail section repeats each node
    header, so a plain substring count double-counts)."""
    return len(re.findall(rf"\n\(\d+\) {name}\b", plan))


def test_run_extraction_one_shuffle_pruned_scan(spark):
    from readability_spark.pipeline import run_extraction
    from readability_spark.transcripts import generate_transcripts

    df = generate_transcripts(spark, n_convs=4, seed=1, use_fixtures=False)
    out = run_extraction(df.select("conv_id", "turn_idx", "role", "text"),
                         num_buckets=8)
    plan = plan_of(out)
    # exactly one exchange: the salt repartition
    assert nodes(plan, "Exchange") == 1, plan
    assert nodes(plan, "BroadcastExchange") == 0
    assert "ArrowEvalPython" in plan


def test_run_extraction_dedup_plan(spark):
    """dedup_payloads=True: two hash exchanges, both carrying the distinct
    text (the dropDuplicates shuffle into spark.sql.shuffle.partitions and
    repartition(num_buckets, _tkey)), then one UDF.  num_buckets differs
    from the session's 8 shuffle partitions: with equal counts Spark drops
    the repartition as already satisfied."""
    from readability_spark.pipeline import run_extraction
    from readability_spark.transcripts import generate_transcripts

    df = generate_transcripts(spark, n_convs=4, seed=1, use_fixtures=False)
    out = run_extraction(df.select("conv_id", "turn_idx", "role", "text"),
                         num_buckets=4, dedup_payloads=True)
    plan = plan_of(out)
    assert nodes(plan, "Exchange") == 2, plan
    assert nodes(plan, "ArrowEvalPython") == 1, plan


def test_lsh_pairs_single_scan_single_minhash_agg(spark):
    from readability_spark.ops.dedup import lsh_candidate_pairs

    plan = plan_of(lsh_candidate_pairs(spark, SF))
    assert nodes(plan, "Scan parquet") == 1, "band pairs must be one lineage"
    # the 8 partial mins appear in ONE aggregation node, not per join side
    assert plan.count("partial_min") == 8, plan.count("partial_min")


def test_cosine_topk_pushdown_and_window_group_limit(spark):
    from readability_spark.ops.similarity import cosine_topk

    plan = plan_of(cosine_topk(spark, SF))
    assert "WindowGroupLimit" in plan          # top-k pushdown
    assert re.search(r"PushedFilters:.*LessThan\(vec_id,5\)", plan), plan
    assert "BroadcastNestedLoopJoin" in plan   # tiny query side broadcast


def test_resume_filter_is_broadcast_anti_join(spark):
    from readability_spark.pipeline import resume_filter

    # shuffle-free input so any Exchange in the plan belongs to the join
    df = spark.range(100).select(
        F.concat(F.lit("c"), (F.col("id") % 7).cast("string"))
        .alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("x").alias("text"))
    metrics = spark.createDataFrame(
        [(0, "ok", 1)], "bucket_id int, status string, attempt int")
    plan = plan_of(resume_filter(df, metrics, num_buckets=8))
    assert "BroadcastHashJoin LeftAnti" in plan, plan
    # the BIG side (left subtree, ':'-prefixed tree lines) must not
    # shuffle; the tiny metrics side may (its distinct is one row/bucket)
    left_subtree = [l for l in plan.splitlines() if l.lstrip().startswith(":")]
    assert not any("Exchange" in l for l in left_subtree), plan
    assert nodes(plan, "BroadcastExchange") == 1, plan


def test_extract_query_scan_is_column_pruned(spark):
    from readability_spark.ops.relational import extract_metadata

    plan = plan_of(extract_metadata(spark, SF))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert "text" not in cols or len(cols) <= 4, (
        f"scan reads more columns than the query needs: {cols}")


def test_topk_per_group_has_window_group_limit(spark):
    from readability_spark.ops.relational import topk_per_group

    plan = plan_of(topk_per_group(spark, SF))
    assert "WindowGroupLimit" in plan, plan


def test_bandor_topk_scale_shape(spark, capfd):
    """Band-OR ANN, plan-locked:

    1. Broadcast equi-joins only — the probe fan-out and the re-rank never
       degrade to a cross product (the corpus side streams unshuffled
       through the bucket join).
    2. The query-side filter pushes to the scan.
    3. The signature projection stays inside whole-stage codegen: the
       two-layer (cast-columns, then ±1-chain) form exists precisely so
       janino's 64 KB method limit isn't hit.  Plan markers can't show a
       RUNTIME codegen bailout (codegen ids are assigned at plan time), so
       this executes the job and asserts log4j's console appender (the
       JVM shares our fd 2, which capfd captures OS-level) logged no
       compile failure.
    """
    from readability_spark.ops.similarity import lsh_bandor_topk

    df = lsh_bandor_topk(spark, SF)
    plan = plan_of(df)
    assert nodes(plan, "CartesianProduct") == 0, plan
    assert nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert nodes(plan, "BroadcastHashJoin") >= 2, plan
    assert re.search(r"PushedFilters:.*LessThan\(vec_id,5\)", plan), plan
    capfd.readouterr()                 # drain anything earlier
    df.collect()
    err = capfd.readouterr().err
    assert "Failed to compile" not in err, err[-2000:]
    assert "grows beyond 64 KB" not in err, err[-2000:]


def test_embedding_near_dup_scale_shape(spark):
    """The vector near-dup twin keeps the single-lineage pair-generation
    shape: ONE scan computes the banded signatures (bucket grouping with
    array lambdas — a bucket self-join would recompute the signature
    projection per side), two more scans feed the exact-cosine re-rank,
    and nothing degrades to a cross product."""
    from readability_spark.ops.similarity import embedding_near_dup

    plan = plan_of(embedding_near_dup(spark, SF))
    assert nodes(plan, "Scan parquet") == 3, plan
    assert nodes(plan, "CartesianProduct") == 0, plan
    assert nodes(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_asof_join_has_no_join_nodes(spark):
    """The as-of join is the union+window trick, NOT a range join: the
    physical plan must contain zero join operators of any kind — the
    as-of semantics ride one window pass per user — and no cartesian
    row multiplication can exist by construction."""
    from readability_spark.ops.relational import asof_last_error

    plan = plan_of(asof_last_error(spark, SF))
    assert "Join" not in plan, plan
    assert nodes(plan, "Window") >= 1, plan
    assert nodes(plan, "Scan parquet") == 2, plan


def test_range_join_is_bucketed_equi_join(spark):
    """The ±1-day proximity join must execute as a hash/merge EQUI-join on
    the day bucket (probe side exploded ×3), never as the O(n²) theta
    join a naive BETWEEN formulation produces."""
    from readability_spark.ops.relational import range_join_nearby_orders

    plan = plan_of(range_join_nearby_orders(spark, SF))
    assert nodes(plan, "CartesianProduct") == 0, plan
    assert nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert (nodes(plan, "SortMergeJoin") + nodes(plan, "BroadcastHashJoin")
            + nodes(plan, "ShuffledHashJoin")) >= 2, plan  # bucket + restore


def test_hypertable_rollup_single_shuffle_all_levels(spark):
    """All three granularity levels must aggregate in ONE pass: a single
    exchange (plus map-side partials) regardless of level count — a
    union-of-aggregates would scan and shuffle the fact table per level."""
    from readability_spark.ops.relational import hypertable_rollup

    plan = plan_of(hypertable_rollup(spark, SF))
    assert nodes(plan, "Scan parquet") == 1, plan
    # exactly one data exchange for the grouped aggregation (the trailing
    # orderBy adds one range-partitioning exchange for the sort)
    assert nodes(plan, "Exchange") == 2, plan
    assert "partial_count" in plan and "partial_sum" in plan, plan


def test_ivf_assignment_is_zero_shuffle(spark):
    """r6: assignment is an IN-ROW top-R against the broadcast centroid
    array (transform → array_sort → slice → explode), so the corpus path
    from scan to the candidate join carries NO exchange at any replica
    count — the r4-r5 argmax groupBy exchanged corpus-sized rows even
    with map-side combine.  The only exchanges left in the whole job are
    candidate-or-smaller: the 16-row centroid collect, the probe window,
    the multi-assignment distinct, the re-rank window, the output sort.
    Nothing degrades to a cartesian product; the two nested-loop joins
    are the deliberate broadcast centroid attaches (corpus × 1-row
    array, queries × 16 centroids)."""
    from readability_spark.ops.similarity import ivf_topk

    plan = plan_of(ivf_topk(spark, SF))
    assert "partial_max" not in plan, "argmax groupBy crept back"
    assert nodes(plan, "Generate") == 1, plan         # the top-R explode
    assert nodes(plan, "CartesianProduct") == 0, plan
    assert nodes(plan, "BroadcastNestedLoopJoin") == 2, plan
    # the old assignment exchange's signature was hashpartitioning on
    # neighbor_id alone with a scored (cos) input — scored assignment
    # rows must never shuffle now (re-rank exchanges key on query_id;
    # an embedding-side join shuffle carries no cos column)
    for inp, args in re.findall(
            r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\s*\n"
            r"Arguments: ([^\n]*)", plan):
        if "hashpartitioning(neighbor_id" in args:
            assert "cos" not in inp, (inp, args)


def test_near_dedup_scale_shape(spark):
    """The r3 scale guards, plan-locked:

    1. NO per-doc shingle-set arrays anywhere (collect_set(shingle) was the
       whale-doc killer: one 10^7-shingle document = a near-2GB array cell,
       Spark's array limit, plus O(|set|) work per candidate pair).
       Intersections come from a (pair, shingle) equi-join instead.
    2. The returned plan reads ONLY the two checkpointed artifacts (the
       distinct-shingle table and the signature table) — the corpus is
       scanned and tokenized exactly once, during checkpoint
       materialization, not re-exploded per consumer branch.
    """
    from readability_spark.ops.dedup import near_dedup

    df = near_dedup(spark, SF)
    plan = plan_of(df)
    assert "collect_set(shingle" not in plan, plan
    assert "Scan parquet" not in plan, plan
    # 5 checkpoint reads: sig ×3 (pair generation, na, nb), shingles ×2
    # (a-side, b-side of the intersection join)
    assert nodes(plan, "Scan ExistingRDD") == 5, plan


def test_quality_repetition_single_lineage_no_window(spark):
    """Both n-gram families come from ONE gram-struct array built
    JVM-side (transform over sequence): one pruned scan, one Generate,
    no window sort, and exactly 3 exchanges (gram agg, doc agg, output
    sort) — the lead()/window draft scanned the corpus twice and sorted
    every partition twice."""
    from readability_spark.ops.quality import quality_repetition

    plan = plan_of(quality_repetition(spark, SF))
    assert nodes(plan, "Scan parquet") == 1, plan
    assert nodes(plan, "Generate") == 1, plan
    assert nodes(plan, "Window") == 0, plan
    assert nodes(plan, "Exchange") == 3, plan
    assert re.search(r"ReadSchema: struct<doc_id:bigint,text:string>",
                     plan), plan


def test_top_terms_broadcasts_vocabulary(spark):
    """The document-frequency side is a vocabulary aggregate — tiny
    relative to the corpus — and must broadcast; the corpus-sized tf
    table must never build a hash relation.  tf itself is materialized
    once (localCheckpoint), so the plan reads no parquet at all."""
    from readability_spark.ops.quality import top_terms

    plan = plan_of(top_terms(spark, SF))
    assert nodes(plan, "BroadcastHashJoin") == 1, plan
    assert nodes(plan, "SortMergeJoin") == 0, plan
    assert nodes(plan, "Scan parquet") == 0, plan
    assert "WindowGroupLimit" in plan        # rank<=k pushed into the sort


def test_chunk_dedup_hash_only_cross_doc_shuffle(spark):
    """Chunks leave their document as md5 hashes only: chunk text is
    hashed IN-ROW (slice + md5 inside one transform — the line_dedup
    pattern; the old posexplode → doc-local collect_list formulation put
    every token's TEXT on the exchange payload even though the keys were
    clean).  No exchange may carry text/toks, in keys OR input."""
    from readability_spark.ops.quality import chunk_dedup

    plan = plan_of(chunk_dedup(spark, SF))
    assert "string_agg" not in plan
    assert "collect_list" not in plan
    for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "tok" not in m, m
    # the stronger lock: exchange INPUTS are hash/integer-only too
    for inp, args in re.findall(
            r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\s*\n"
            r"Arguments: ([^\n]*)", plan):
        assert "text#" not in inp and "toks#" not in inp, (inp, args)


def test_pii_redact_single_scan_no_shuffle_but_sort(spark):
    """All regex counting + redaction happens in one codegen'd projection
    over one pruned scan; the only exchange is the gate-determinism
    ORDER BY (drop it in production and the stage is shuffle-free)."""
    from readability_spark.ops.curation import pii_redact

    plan = plan_of(pii_redact(spark, SF))
    assert nodes(plan, "Scan parquet") == 1, plan
    assert nodes(plan, "Exchange") == 1, plan
    assert nodes(plan, "BroadcastExchange") == 0, plan
    assert nodes(plan, "Generate") == 0, plan
    assert re.search(r"ReadSchema: struct<doc_id:bigint,text:string>",
                     plan), plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark gram set (MBs at corpus scale) broadcasts; the
    candidate side never shuffles gram text — exactly three exchanges:
    the bench distinct, the per-doc aggregate, and the output sort."""
    from readability_spark.ops.curation import decontaminate

    plan = plan_of(decontaminate(spark, SF))
    assert nodes(plan, "BroadcastHashJoin") == 1, plan
    assert nodes(plan, "SortMergeJoin") == 0, plan
    assert nodes(plan, "Exchange") == 3, plan
    assert nodes(plan, "BroadcastExchange") == 1, plan
    assert nodes(plan, "Scan parquet") == 2, plan   # bench + candidate legs
    # exactly ONE gram-keyed exchange — the bench-side distinct, bounded
    # by benchmark size; the corpus-sized candidate leg shuffles only the
    # per-doc aggregate
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert sum("gram" in k for k in keys) == 1, keys
    assert sum("doc_id" in k for k in keys) == len(keys) - 1, keys


def test_semdedup_reads_only_checkpointed_artifacts(spark):
    """SemDedup's returned plan must consume the two materialized
    artifacts — the per-vector quantizer table (cc: ×3 — both priority
    sides + final output) and the verified dup-pair set (×2 — the two
    union sides of the adjacency) — and never replay training,
    assignment, or the pair build: no parquet re-scan, no explode, no
    cartesian, and no quantizer aggregate in the final lineage.  Without
    the pair checkpoint the explode + two corpus joins replayed FOUR
    times (once per adjacency consumer side)."""
    from readability_spark.ops.similarity import semdedup

    plan = plan_of(semdedup(spark, SF))
    assert nodes(plan, "CartesianProduct") == 0, plan
    assert nodes(plan, "Scan parquet") == 0, plan
    assert nodes(plan, "Generate") == 0, plan
    assert nodes(plan, "Scan ExistingRDD") == 5, plan
    assert "collect_list(struct(neighbor_id" not in plan, plan


def test_line_dedup_text_never_shuffles(spark):
    """CCNet-style rewrite at 100 TB: the cross-document exchange carries
    (chunk md5, first-occurrence buffer) and the per-document exchange
    carries integer counters — token arrays and raw text must stay
    map-side (the rewrite happens IN-ROW from the original token array
    after the flag join).  Three exchanges total: h-keyed first-occurrence
    agg, doc-keyed flag agg, output sort."""
    from readability_spark.ops.quality import line_dedup

    plan = plan_of(line_dedup(spark, SF))
    assert nodes(plan, "CartesianProduct") == 0, plan
    assert nodes(plan, "Exchange") == 3, plan
    for inp, args in re.findall(
            r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\s*\n"
            r"Arguments: ([^\n]*)", plan):
        assert "text#" not in inp and "toks#" not in inp, (inp, args)


def test_repeated_substr_gram_text_stays_in_row(spark):
    """ExactSubstr coverage at 100 TB: window text is hashed in the row
    that built it — the duplicate-hash filter and the position collection
    shuffle (md5, doc_id, pos) integers only; the span merge is in-row
    array arithmetic.  No exchange may carry text/toks."""
    from readability_spark.ops.quality import repeated_substr

    plan = plan_of(repeated_substr(spark, SF))
    assert nodes(plan, "CartesianProduct") == 0, plan
    assert nodes(plan, "Exchange") == 3, plan
    for inp, args in re.findall(
            r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\s*\n"
            r"Arguments: ([^\n]*)", plan):
        assert "text#" not in inp and "toks#" not in inp, (inp, args)


def test_dsir_select_takeordered_topk(spark):
    """DSIR selection at 100 TB: the global top-k must compile to
    TakeOrderedAndProject (each partition forwards at most k rows), NOT a
    global row_number window over all candidates — Spark 4.1's
    InferWindowGroupLimit only prunes PARTITIONED windows, so the usual
    rank<=k idiom loses its map-side pruning on a global ordering.  The
    one Window node left ranks the k surviving rows.  The bucket-count
    artifact is checkpointed once for its two consumers (weight table +
    scoring); the weight table is broadcast."""
    from readability_spark.ops.curation import dsir_select

    plan = plan_of(dsir_select(spark, SF))
    assert nodes(plan, "TakeOrderedAndProject") == 1, plan
    assert nodes(plan, "Window") == 1, plan
    assert nodes(plan, "CartesianProduct") == 0, plan
    assert nodes(plan, "Scan parquet") == 0, plan     # checkpoint reuse
    assert nodes(plan, "BroadcastHashJoin") == 1, plan


def test_decontaminate_bloom_single_scan_checkpointed_bits(spark):
    """The Bloom variant of decontaminate is the 100 TB broadcast shape:
    the bit-position table is materialized ONCE (localCheckpoint) and
    broadcast BLOOM_K times as an int-keyed relation — without it each
    broadcast replays the benchmark scan + two distincts (observed 3x).
    The corpus-sized candidate leg is a single pruned scan whose only
    hash exchange carries per-doc aggregates; gram strings never shuffle
    and never enter a join key."""
    from readability_spark.ops.curation import BLOOM_K, decontaminate_bloom

    plan = plan_of(decontaminate_bloom(spark, SF))
    assert nodes(plan, "BroadcastHashJoin") == BLOOM_K, plan
    assert nodes(plan, "SortMergeJoin") == 0, plan
    assert nodes(plan, "Scan parquet") == 1, plan        # candidate leg only
    assert nodes(plan, "Scan ExistingRDD") == BLOOM_K, plan  # checkpointed bits
    assert nodes(plan, "Exchange") == 2, plan            # doc agg + sort
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keys and all("doc_id" in k for k in keys), keys
    assert "gram" not in " ".join(keys), keys
