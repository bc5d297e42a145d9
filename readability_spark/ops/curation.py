"""Corpus-curation operators a pre-training pipeline runs before tokenizing:
PII detection/redaction and benchmark decontamination.

Beyond-reference tier (SURVEY.md §2.13): the reference (mizchi/readability)
stops at per-page extraction; these are the corpus-level scrubbing passes
that follow it in a 100 TB pipeline.  Both are pure column expressions /
built-in aggregations with exact DuckDB oracles built from the same
constants.

Cross-engine regex discipline: every pattern is written WITHOUT backslash
escapes (``[0-9]`` not ``\\d``, ``[.]`` not ``\\.``) so the identical string
is a valid, identical-semantics pattern under both Java regex (Spark) and
RE2 (DuckDB) and never passes through either dialect's string-literal
unescaping.  No lookaround, no backreferences, no ``\\b`` — constructs the
two engines could disagree on.

Scale notes (100 TB):
- pii_redact is a single pruned scan with per-row regex work inside
  whole-stage codegen — zero shuffles beyond the gate-determinism ORDER BY
  (drop it in production and the stage is shuffle-free).
- decontaminate broadcasts the distinct benchmark n-gram set (benchmark
  suites are MBs, corpora are TBs); the candidate side never shuffles gram
  text — the only exchange carries partially-aggregated (doc_id, counts)
  rows.  At real scale you would swap the broadcast hash join for a bloom
  filter built over the benchmark grams (same plan shape, smaller
  broadcast); the exact join IS the gate semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import (SQL_TOKENS, md5_prefix_int_expr,
                     md5_prefix_int_fast_expr, ngram_zip_parts, table,
                     tokens_col)

# --- PII detection / redaction -----------------------------------------------
#
# The synthetic documents corpus is PII-free token soup, so the query plants
# deterministic PII derived from doc_id (emails on doc_id%2==0, IPv4 on
# %3==0, US-style phones on %5==0 — overlapping moduli exercise multi-hit
# and zero-hit rows) and then scans/redacts the augmented text.  Both
# engines build the same augmented column from the same table, so the
# oracle is exact while the regex machinery sees real positives.

PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
PII_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
PII_PHONE = "[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}"

# identical text in both dialects (no backslashes, ANSI concat/case/lpad)
_PII_AUG = (
    "concat(text,"
    " CASE WHEN doc_id % 2 = 0 THEN concat(' reach user',"
    "   CAST(doc_id AS STRING), '@example.com') ELSE '' END,"
    " CASE WHEN doc_id % 3 = 0 THEN concat(' from 10.',"
    "   CAST(doc_id % 256 AS STRING), '.',"
    "   CAST((doc_id * 7) % 256 AS STRING), '.',"
    "   CAST((doc_id * 13) % 256 AS STRING)) ELSE '' END,"
    " CASE WHEN doc_id % 5 = 0 THEN concat(' call 415-555-',"
    "   lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) ELSE '' END)")


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII counts + md5 of the redacted text.

    Counts are per-pattern over the RAW (augmented) text — independent
    scans, so a substring matched by two patterns counts in both.
    Redaction is sequential (email → ip → phone) with non-overlapping
    leftmost-match replacement, identical in Java regex and RE2.
    """
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(_PII_AUG).alias("aug"))
        .select(
            "doc_id",
            F.expr(f"size(regexp_extract_all(aug, '{PII_EMAIL}', 0))")
            .cast("long").alias("n_emails"),
            F.expr(f"size(regexp_extract_all(aug, '{PII_IPV4}', 0))")
            .cast("long").alias("n_ips"),
            F.expr(f"size(regexp_extract_all(aug, '{PII_PHONE}', 0))")
            .cast("long").alias("n_phones"),
            F.expr(
                f"md5(regexp_replace(regexp_replace(regexp_replace(aug,"
                f" '{PII_EMAIL}', '<EMAIL>'),"
                f" '{PII_IPV4}', '<IP>'),"
                f" '{PII_PHONE}', '<PHONE>'))").alias("redacted_md5"))
        .withColumn(
            "pii_total",
            (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")))
        .select("doc_id", "n_emails", "n_ips", "n_phones", "pii_total",
                "redacted_md5")
        .orderBy("doc_id")
    )


PII_REDACT_SQL = f"""
WITH a AS (
  SELECT doc_id, {_PII_AUG} AS aug FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '{PII_EMAIL}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(aug, '{PII_IPV4}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(aug, '{PII_PHONE}')) AS BIGINT)
         AS n_phones,
       CAST(len(regexp_extract_all(aug, '{PII_EMAIL}'))
            + len(regexp_extract_all(aug, '{PII_IPV4}'))
            + len(regexp_extract_all(aug, '{PII_PHONE}')) AS BIGINT)
         AS pii_total,
       md5(regexp_replace(regexp_replace(regexp_replace(aug,
           '{PII_EMAIL}', '<EMAIL>', 'g'),
           '{PII_IPV4}', '<IP>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
FROM a
ORDER BY doc_id
"""

# --- benchmark decontamination -----------------------------------------------
#
# Training-set decontamination à la GPT-3 appendix C / Lee et al. 2021:
# drop (or flag) training documents sharing verbatim n-grams with an
# evaluation benchmark.  The benchmark here is a deterministic md5-selected
# ~1/4 of the documents table (first hex digit of md5('bench|'||doc_id) in
# 0-3) standing in for an external suite; candidates are the rest.  n=3 at
# the gate: the corpus draws from a small Zipf vocabulary, so 3-grams give
# a graded contamination signal (5-grams would be all-zero, 2-grams
# saturated).

DECON_N = 3
_BENCH_PRED = ("substr(md5(concat('bench|', CAST(doc_id AS STRING))), 1, 1)"
               " IN ('0', '1', '2', '3')")
DECON_FLAG_FRAC = 0.2


def _gram_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, is_bench, gram): one row per n-gram position.

    Shared gram builder for the exact and Bloom decontamination legs —
    identical column semantics, so the Bloom variant's maybe-set is a
    provable superset of the exact hit set.

    r8: zip-explode form (common.ngram_zip_parts — 7.2x over the r6-late
    interpreted transform+array_join(slice) lambda, identical strings).
    The old n_tokens >= n pre-filter is gone: trailing NULL zip fields
    mark short docs' missing positions and the IS NOT NULL filter drops
    them, so the predicate was redundant — and it cost a full cloned
    tokenize in the pushed-down scan filter.
    """
    zip_expr, gram_expr, last = ngram_zip_parts(DECON_N)
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(_BENCH_PRED).alias("is_bench"),
                tokens_col("text").alias("toks"))
        .select("doc_id", "is_bench", F.explode(F.expr(zip_expr)).alias("z"))
        .filter(F.expr(f"{last} IS NOT NULL"))
        .select("doc_id", "is_bench", F.expr(gram_expr).alias("gram"))
    )


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate-document benchmark n-gram overlap + flag.

    ``n_contaminated`` counts gram POSITIONS (not distinct grams) whose
    gram appears anywhere in the benchmark set — the fraction of the
    document covered by benchmark text, which is the filter criterion.
    """
    g = _gram_rows(spark, sf_dir)
    bench = (g.filter("is_bench")
             .select("gram").distinct()
             .withColumn("hit", F.lit(1)))
    cand = g.filter("NOT is_bench").select("doc_id", "gram")
    return (
        cand.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long")
            .alias("n_contaminated"))
        .select(
            "doc_id", "n_grams", "n_contaminated",
            F.round(F.col("n_contaminated") * 1.0 / F.col("n_grams"), 6)
            .alias("contam_frac"))
        .withColumn(
            "flagged",
            (F.col("contam_frac") >= DECON_FLAG_FRAC).cast("int"))
        .orderBy("doc_id")
    )


def _decon_sql() -> str:
    gram = "concat(" + ", ' ', ".join(
        "tok" if j == 0 else f"t{j}" for j in range(DECON_N)) + ")"
    leads = ",\n         ".join(
        f"lead(tok, {j}) OVER (PARTITION BY doc_id ORDER BY pos) AS t{j}"
        for j in range(1, DECON_N))
    return f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents
), d AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
         {_BENCH_PRED} AS is_bench
  FROM t WHERE len(toks) >= {DECON_N}
), p AS (
  SELECT doc_id, is_bench, toks[i] AS tok, i - 1 AS pos
  FROM (SELECT doc_id, is_bench, toks,
               unnest(generate_series(1, len(toks))) AS i FROM d)
), g AS (
  SELECT doc_id, is_bench, pos, tok,
         {leads}
  FROM p
), grams AS (
  SELECT doc_id, is_bench, {gram} AS gram
  FROM g WHERE t{DECON_N - 1} IS NOT NULL
), bench AS (
  SELECT DISTINCT gram FROM grams WHERE is_bench
), agg AS (
  SELECT c.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(coalesce(sum(CASE WHEN b.gram IS NOT NULL THEN 1 END), 0)
              AS BIGINT) AS n_contaminated
  FROM grams c LEFT JOIN bench b ON c.gram = b.gram
  WHERE NOT c.is_bench
  GROUP BY c.doc_id
)
SELECT doc_id, n_grams, n_contaminated,
       round(n_contaminated * 1.0 / n_grams, 6) AS contam_frac,
       CAST(CASE WHEN round(n_contaminated * 1.0 / n_grams, 6)
                      >= {DECON_FLAG_FRAC} THEN 1 ELSE 0 END AS INT)
         AS flagged
FROM agg
ORDER BY doc_id
"""


DECONTAMINATE_SQL = _decon_sql()

# --- Bloom-filter decontamination (the 100 TB broadcast shape) -----------------
#
# decontaminate's own scale note: at real scale you swap the broadcast of
# the benchmark GRAM STRINGS for a Bloom filter over them — the broadcast
# shrinks from (n_grams × avg gram bytes) strings to at most
# min(BLOOM_K × n_grams, BLOOM_M) distinct int32 bit positions, and the
# probe side never materializes a gram-string join key hash table.  This
# query IS that swap, exactly oracled: positions are md5-derived (three
# disjoint 8-hex-digit slices of ONE md5 per gram, mod BLOOM_M), so both
# engines set and probe identical bits.  Classic Bloom guarantee holds by
# construction: no false negatives (every exact hit probes k set bits), a
# measurable false-positive overcount — n_maybe_contaminated ≥ the exact
# query's n_contaminated per doc, pinned in tests.
#
# Scale notes (100 TB): the bits table is built once from the benchmark
# leg (distinct over ≤ 3×|bench grams| ints — map-side partials, tiny
# exchange) and broadcast three times as an int-keyed hash relation; the
# candidate leg computes all three positions IN-ROW (codegen md5 + instr
# arithmetic), takes three broadcast left joins, and the only real
# exchange carries partially-aggregated (doc_id, counts) rows — the same
# single-shuffle shape as exact decontaminate with a much smaller
# broadcast.  FP rate is tunable via BLOOM_M (m/n ≈ 64 bits/gram at the
# gate config → FP ≈ (1-e^(-kn/m))^k ≈ 1e-4).

BLOOM_M = 65536
BLOOM_K = 3
# disjoint md5 hex slices → k "independent" hash positions.  Two text
# families for the SAME values: the Spark side uses the conv() fast form
# (r8 — one substr+conv per position, md5 shared via codegen subexpression
# elimination), the oracle keeps the fingerprint-frozen instr-chain text.
_BLOOM_POS = [
    (lambda col, j=j: f"({md5_prefix_int_fast_expr(col, 8, 1 + 8 * j)}"
                      f" % {BLOOM_M})")
    for j in range(BLOOM_K)
]
_BLOOM_POS_SQL = [
    (lambda col, j=j: f"({md5_prefix_int_expr(col, 8, 1 + 8 * j)}"
                      f" % {BLOOM_M})")
    for j in range(BLOOM_K)
]


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter benchmark-overlap screen: per candidate document, the
    count of gram positions whose BLOOM_K md5-derived bits are ALL set in
    the filter built from the benchmark grams (superset of the exact
    contaminated count), plus the flag at the same threshold."""
    g = _gram_rows(spark, sf_dir)
    # materialized ONCE: the bits table is broadcast BLOOM_K times, and
    # without the checkpoint each broadcast replays the benchmark scan +
    # gram distinct + position distinct (observed: 3x scans/exchanges)
    bits = (
        g.filter("is_bench")
        .select("gram").distinct()
        .select(F.explode(F.expr(
            "array(" + ", ".join(p("gram") for p in _BLOOM_POS) + ")"))
            .alias("pos"))
        .distinct()
        .withColumn("bit", F.lit(1))
        .localCheckpoint())
    cand = (
        g.filter("NOT is_bench")
        .select("doc_id", *[
            F.expr(p("gram")).alias(f"p{j}")
            for j, p in enumerate(_BLOOM_POS)]))
    for j in range(BLOOM_K):
        b = bits.withColumnRenamed("pos", f"p{j}") \
                .withColumnRenamed("bit", f"b{j}")
        cand = cand.join(F.broadcast(b), f"p{j}", "left")
    maybe = " AND ".join(f"b{j} IS NOT NULL" for j in range(BLOOM_K))
    return (
        cand
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.expr(f"CASE WHEN {maybe} THEN 1 ELSE 0 END"))
            .cast("long").alias("n_maybe_contaminated"))
        .select(
            "doc_id", "n_grams", "n_maybe_contaminated",
            F.round(F.col("n_maybe_contaminated") * 1.0 / F.col("n_grams"),
                    6).alias("bloom_frac"))
        .withColumn(
            "flagged",
            (F.col("bloom_frac") >= DECON_FLAG_FRAC).cast("int"))
        .orderBy("doc_id")
    )


def _decon_bloom_sql() -> str:
    gram = "concat(" + ", ' ', ".join(
        "tok" if j == 0 else f"t{j}" for j in range(DECON_N)) + ")"
    leads = ",\n         ".join(
        f"lead(tok, {j}) OVER (PARTITION BY doc_id ORDER BY pos) AS t{j}"
        for j in range(1, DECON_N))
    pos_list = ", ".join(p("gram") for p in _BLOOM_POS_SQL)
    probes = ",\n         ".join(
        p("gram") + f" AS p{j}" for j, p in enumerate(_BLOOM_POS_SQL))
    joins = "\n  ".join(
        f"LEFT JOIN bits bi{j} ON c.p{j} = bi{j}.pos"
        for j in range(BLOOM_K))
    maybe = " AND ".join(f"bi{j}.pos IS NOT NULL" for j in range(BLOOM_K))
    return f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents
), d AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
         {_BENCH_PRED} AS is_bench
  FROM t WHERE len(toks) >= {DECON_N}
), p AS (
  SELECT doc_id, is_bench, toks[i] AS tok, i - 1 AS pos
  FROM (SELECT doc_id, is_bench, toks,
               unnest(generate_series(1, len(toks))) AS i FROM d)
), g AS (
  SELECT doc_id, is_bench, pos, tok,
         {leads}
  FROM p
), grams AS MATERIALIZED (
  SELECT doc_id, is_bench, {gram} AS gram
  FROM g WHERE t{DECON_N - 1} IS NOT NULL
), bits AS MATERIALIZED (
  SELECT DISTINCT unnest([{pos_list}]) AS pos
  FROM (SELECT DISTINCT gram FROM grams WHERE is_bench)
), c AS (
  SELECT doc_id,
         {probes}
  FROM grams WHERE NOT is_bench
), agg AS (
  SELECT c.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(coalesce(sum(CASE WHEN {maybe} THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_maybe_contaminated
  FROM c
  {joins}
  GROUP BY c.doc_id
)
SELECT doc_id, n_grams, n_maybe_contaminated,
       round(n_maybe_contaminated * 1.0 / n_grams, 6) AS bloom_frac,
       CAST(CASE WHEN round(n_maybe_contaminated * 1.0 / n_grams, 6)
                      >= {DECON_FLAG_FRAC} THEN 1 ELSE 0 END AS INT)
         AS flagged
FROM agg
ORDER BY doc_id
"""


DECONTAMINATE_BLOOM_SQL = _decon_bloom_sql()

# --- DSIR-style importance resampling -----------------------------------------
#
# Xie et al. 2023 ("Data Selection for Language Models via Importance
# Resampling", arXiv:2302.03169) select pre-training data by importance
# weights computed from hashed n-gram models of a target domain vs the raw
# pool.  Integer rank form here (the same move top_terms makes for tf-idf):
# per hashed-unigram bucket, the smoothed frequency ratio
# ((target+1)*SCALE) // (raw+1) replaces the log-likelihood ratio — sums of
# per-bucket integer weights preserve the resampling ORDER deterministically
# and bit-exactly cross-engine, which is what the selection needs (the
# likelihood VALUE is never consumed).  The target domain is an
# md5-selected quarter of the corpus (salt 'dsir|'), candidates the rest;
# buckets come from the shared md5-prefix integer so both engines hash
# identically.
#
# Scale notes (100 TB): the bucket-count leg shuffles (doc_id, bucket,
# count) integers once and is localCheckpointed for its two consumers
# (weight table + scoring); the weight table is DSIR_BUCKETS rows —
# broadcast; top-K selection rides Spark's WindowGroupLimit map-side
# pruning (each partition forwards at most K rows to the single ordering
# partition), the same shape search_topk pins.

DSIR_BUCKETS = 64
DSIR_SCALE = 1_000_000
DSIR_K = 50
_DSIR_TARGET = ("substr(md5(concat('dsir|', CAST(doc_id AS STRING))), 1, 1)"
                " IN ('0', '1', '2', '3')")


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-DSIR_K candidate documents by hashed-unigram importance weight
    (average per-token bucket weight, doc_id tiebreak)."""
    # r8: conv() fast md5-int (value-identical; oracle text unchanged);
    # the len >= 1 pre-filter was redundant — token-less docs emit no
    # exploded rows — and cost a cloned tokenize in the scan filter
    b_expr = f"({md5_prefix_int_fast_expr('tok')} % {DSIR_BUCKETS})"
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens_col("text").alias("toks"))
        .withColumn("is_target", F.expr(_DSIR_TARGET))
    )
    dbc = (
        docs.select("doc_id", "is_target",
                    F.explode("toks").alias("tok"))
        .groupBy("doc_id", "is_target", F.expr(b_expr).alias("b"))
        .agg(F.count("*").alias("c"))
        .localCheckpoint())
    w = (
        dbc.groupBy("b")
        .agg(
            F.coalesce(F.sum(F.when(F.col("is_target"), F.col("c"))),
                       F.lit(0)).alias("t_b"),
            F.coalesce(F.sum(F.when(~F.col("is_target"), F.col("c"))),
                       F.lit(0)).alias("r_b"))
        .select("b", F.expr(
            f"((t_b + 1) * CAST({DSIR_SCALE} AS BIGINT)) div (r_b + 1)")
            .alias("w")))
    scored = (
        dbc.filter(~F.col("is_target"))
        .join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("w")).cast("long").alias("score"),
             F.sum("c").cast("long").alias("n_tokens"))
        .withColumn("avg_weight",
                    F.expr("score div n_tokens").cast("long")))
    # global top-k via orderBy().limit(k) -> TakeOrderedAndProject: every
    # partition forwards at most k rows.  A global row_number window would
    # funnel ALL candidates into one partition -- Spark 4.1's
    # InferWindowGroupLimit only prunes PARTITIONED windows, so the usual
    # rank<=k idiom silently loses its map-side pruning here (verified on
    # a minimal plan).  The rank window then runs over k rows only.
    win = Window.orderBy(F.desc("avg_weight"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("avg_weight"), F.asc("doc_id")).limit(DSIR_K)
        .withColumn("sel_rank", F.row_number().over(win).cast("long"))
        .select("sel_rank", "doc_id", "n_tokens", "score", "avg_weight")
        .orderBy("sel_rank")
    )


DSIR_SELECT_SQL = f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents
), d AS (
  SELECT doc_id, toks, {_DSIR_TARGET} AS is_target
  FROM t WHERE len(toks) >= 1
), p AS (
  SELECT doc_id, is_target, unnest(toks) AS tok FROM d
), dbc AS (
  SELECT doc_id, is_target,
         ({md5_prefix_int_expr('tok')} % {DSIR_BUCKETS}) AS b,
         count(*) AS c
  FROM p GROUP BY doc_id, is_target, b
), wb AS (
  SELECT b,
         coalesce(sum(CASE WHEN is_target THEN c END), 0) AS t_b,
         coalesce(sum(CASE WHEN NOT is_target THEN c END), 0) AS r_b
  FROM dbc GROUP BY b
), w AS (
  SELECT b, ((t_b + 1) * {DSIR_SCALE}) // (r_b + 1) AS w FROM wb
), s AS (
  SELECT dbc.doc_id,
         CAST(sum(dbc.c * w.w) AS BIGINT) AS score,
         CAST(sum(dbc.c) AS BIGINT) AS n_tokens
  FROM dbc JOIN w ON dbc.b = w.b
  WHERE NOT dbc.is_target
  GROUP BY dbc.doc_id
)
SELECT sel_rank, doc_id, n_tokens, score, avg_weight
FROM (
  SELECT doc_id, n_tokens, score,
         CAST(score // n_tokens AS BIGINT) AS avg_weight,
         CAST(row_number() OVER (
           ORDER BY score // n_tokens DESC, doc_id ASC) AS BIGINT)
           AS sel_rank
  FROM s
)
WHERE sel_rank <= {DSIR_K}
ORDER BY sel_rank
"""
