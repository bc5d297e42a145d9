"""Corpus-quality operators for training-data curation over ``documents``:
Gopher-style n-gram repetition signals, chunk-level boilerplate detection,
deterministic stratified sampling, and per-document distinctive terms.

These extend the reference's per-page analysis (SURVEY.md §2.13 "beyond
reference" tier) with the corpus-level filters a 100 TB pre-training
pipeline runs after extraction.  All four are pure column expressions /
built-in aggregations (whole-stage codegen, zero Python in the hot path)
and each has an exact DuckDB oracle built from the same constants.

Scale notes (100 TB):
- repetition + top_terms shuffle only (doc_id, token)-sized rows, never
  document text; partial aggregation is map-side.
- chunk_dedup moves md5 hashes, not chunk text, into the cross-document
  aggregation; the per-chunk build is a doc-local groupBy.
- stratified sampling is hash-ordered row_number per stratum — the
  deterministic, resumable shape (at petabyte scale you'd switch the
  row_number cut to an md5-threshold cut to avoid the per-stratum sort;
  both are expressible here, the rank form is exact for the gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import SQL_TOKENS, ngram_zip_parts, table, tokens_col

# --- Gopher-style repetition signals -----------------------------------------
#
# Rae et al. 2021 ("Scaling Language Models: ... Gopher", arXiv:2112.11446,
# Table A1) filter documents by the fraction of content inside repeated
# n-grams.  The documents table is single-line token soup, so the two
# line-based Gopher signals are re-based on token n-grams:
#   top2gram_frac — fraction of tokens covered by the most frequent bigram
#   dup5_frac     — fraction of 5-gram positions whose 5-gram repeats


def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram/5-gram repetition ratios (Gopher-style).

    Both n-gram families are built as ONE per-row array of (kind, gram)
    structs via transform(sequence(...)) — O(tokens) JVM-side work, no
    window sort, no per-position duplication of the token array — then a
    single explode → two same-keyed aggregations.  One scan, two shuffles
    total; the first lead/window draft scanned the source twice and sorted
    every partition twice.
    """
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens_col("text").alias("toks"))
        .withColumn("n_tokens", F.size("toks"))
        .filter(F.col("n_tokens") >= 5)       # also guards the sequences
    )
    grams = F.expr(
        "concat("
        " transform(sequence(0, n_tokens - 2), i -> named_struct("
        "   'kind', '2', 'gram', concat(toks[i], ' ', toks[i + 1]))),"
        " transform(sequence(0, n_tokens - 5), i -> named_struct("
        "   'kind', '5', 'gram', concat_ws(' ', toks[i], toks[i + 1],"
        "     toks[i + 2], toks[i + 3], toks[i + 4]))))")
    p = docs.select("doc_id", "n_tokens", F.explode(grams).alias("g"))
    counts = p.groupBy(
        "doc_id", "n_tokens", F.col("g.kind").alias("kind"),
        F.col("g.gram").alias("gram")).count()
    two, five = F.col("kind") == "2", F.col("kind") == "5"
    return (
        counts.groupBy("doc_id", "n_tokens")
        .agg(
            F.max(F.when(two, F.col("count"))).alias("top2_count"),
            F.sum(F.when(two, F.col("count"))).cast("long")
            .alias("n_bigrams"),
            F.coalesce(
                F.sum(F.when(five & (F.col("count") >= 2), F.col("count"))),
                F.lit(0)).cast("long").alias("dup5_tokens"),
            F.sum(F.when(five, F.col("count"))).cast("long")
            .alias("n_5grams"))
        .select(
            "doc_id", "n_tokens", "top2_count", "n_bigrams",
            "dup5_tokens", "n_5grams",
            F.round(F.col("top2_count") * 2.0 / F.col("n_tokens"), 6)
            .alias("top2gram_frac"),
            F.round(F.col("dup5_tokens") * 1.0 / F.col("n_5grams"), 6)
            .alias("dup5_frac"))
        .orderBy("doc_id")
    )


QUALITY_REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents
), d AS (
  SELECT doc_id, toks, len(toks) AS n_tokens FROM t WHERE len(toks) >= 5
), p AS (
  SELECT doc_id, n_tokens, toks[i] AS tok, i - 1 AS pos
  FROM (SELECT doc_id, n_tokens, toks,
               unnest(generate_series(1, len(toks))) AS i FROM d)
), g AS (
  SELECT doc_id, n_tokens, pos, tok,
         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
         lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2,
         lead(tok, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS t3,
         lead(tok, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS t4
  FROM p
), bi AS (
  SELECT doc_id, n_tokens,
         CAST(max(cnt) AS BIGINT) AS top2_count,
         CAST(sum(cnt) AS BIGINT) AS n_bigrams
  FROM (SELECT doc_id, n_tokens, concat(tok, ' ', t1) AS bigram,
               count(*) AS cnt
        FROM g WHERE t1 IS NOT NULL
        GROUP BY doc_id, n_tokens, concat(tok, ' ', t1))
  GROUP BY doc_id, n_tokens
), g5 AS (
  SELECT doc_id,
         CAST(coalesce(sum(CASE WHEN cnt >= 2 THEN cnt END), 0) AS BIGINT)
           AS dup5_tokens,
         CAST(sum(cnt) AS BIGINT) AS n_5grams
  FROM (SELECT doc_id,
               concat(tok, ' ', t1, ' ', t2, ' ', t3, ' ', t4) AS g5,
               count(*) AS cnt
        FROM g WHERE t4 IS NOT NULL
        GROUP BY doc_id, concat(tok, ' ', t1, ' ', t2, ' ', t3, ' ', t4))
  GROUP BY doc_id
)
SELECT bi.doc_id, n_tokens, top2_count, n_bigrams, dup5_tokens, n_5grams,
       round(top2_count * 2.0 / n_tokens, 6) AS top2gram_frac,
       round(dup5_tokens * 1.0 / n_5grams, 6) AS dup5_frac
FROM bi JOIN g5 ON bi.doc_id = g5.doc_id
ORDER BY bi.doc_id
"""

# --- chunk-level boilerplate detection ---------------------------------------
#
# Paragraph-level exact dedup (the boilerplate complement to document-level
# near-dedup): hash fixed-size token chunks, count distinct documents per
# hash, and report per-document shared-chunk fractions.  CHUNK_TOKENS=4 at
# the gate so the synthetic corpus exercises both shared and unique paths;
# ragged tails (< CHUNK_TOKENS) are dropped deterministically in both
# engines.

CHUNK_TOKENS = 4


def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each document's token chunks that appear verbatim in at
    least one OTHER document (md5 chunk identity, hash-only shuffle).

    Scale shape (100 TB): chunks are built IN-ROW (the line_dedup slice
    pattern — one transform over the complete-chunk indices, md5 of the
    token slice), so the chunk leg explodes to (doc_id, cidx, h) only.
    The earlier posexplode → per-(doc, cidx) collect_list formulation
    shuffled every token WITH its text on the doc-local key; this one
    never puts token text on any exchange (plan-locked).  Same inferred-
    predicate guard as repeated_substr: the if() keeps the descending-
    sequence hazard off rows the length filter drops.
    """
    k = CHUNK_TOKENS
    # r8: no n_tokens >= k pre-filter — the if() guard already yields an
    # empty chunk array for short docs (no rows after explode, so the
    # per-doc output is unchanged), and the pushed-down filter cost a
    # cloned tokenize at the scan
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens_col("text").alias("toks"))
        .withColumn("n_tokens", F.size("toks"))
    )
    # complete chunks only (i in [0, n div k)) — the detection framing
    # drops ragged tails, unlike line_dedup's rewrite framing
    c = docs.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(if(n_tokens >= {k}, "
            f"sequence(0, n_tokens div {k} - 1), array()), "
            f"i -> struct(i AS cidx, "
            f"md5(array_join(slice(toks, i * {k} + 1, {k}), ' ')) AS h))"
        )).alias("c")).select("doc_id", "c.cidx", "c.h")
    d = c.groupBy("h").agg(F.countDistinct("doc_id").alias("ndocs"))
    return (
        c.join(d, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.coalesce(
                F.sum(F.when(F.col("ndocs") >= 2, 1)), F.lit(0))
            .cast("long").alias("shared_chunks"))
        .select(
            "doc_id", "n_chunks", "shared_chunks",
            F.round(F.col("shared_chunks") * 1.0 / F.col("n_chunks"), 6)
            .alias("boilerplate_frac"))
        .orderBy("doc_id")
    )


# Oracle memory discipline (r6 VERDICT finding: the per-position unnest +
# ORDER BY string_agg formulation OOM'd DuckDB-side under residual system
# memory pressure): chunks are sliced in-row — k× fewer unnested rows, no
# sort-heavy ordered aggregate — and `c` is MATERIALIZED because it is
# referenced twice (d + the final join) and DuckDB inlines plain CTEs,
# which would run the unnest twice.  Verified under an explicit 8 GB
# memory_limit with a resident 12 g Spark JVM (tests/test_oracle_memory.py).
CHUNK_DEDUP_SQL = f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents
), dd AS (
  SELECT doc_id, toks, len(toks) AS n_tokens FROM t
  WHERE len(toks) >= {CHUNK_TOKENS}
), c AS MATERIALIZED (
  SELECT doc_id, i AS cidx,
         md5(array_to_string(toks[(i * {CHUNK_TOKENS} + 1):
                                  ((i + 1) * {CHUNK_TOKENS})], ' ')) AS h
  FROM (SELECT doc_id, toks,
               unnest(range(0, n_tokens // {CHUNK_TOKENS})) AS i
        FROM dd)
), d AS (
  SELECT h, count(DISTINCT doc_id) AS ndocs FROM c GROUP BY h
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(coalesce(sum(CASE WHEN d.ndocs >= 2 THEN 1 END), 0) AS BIGINT)
         AS shared_chunks,
       round(coalesce(sum(CASE WHEN d.ndocs >= 2 THEN 1 END), 0) * 1.0
             / count(*), 6) AS boilerplate_frac
FROM c JOIN d ON c.h = d.h
GROUP BY c.doc_id
ORDER BY c.doc_id
"""

# --- CCNet-style keep-first dedup with document rewrite -----------------------
#
# Wenzek et al. 2019 ("CCNet: Extracting High Quality Monolingual Datasets
# from Web Crawl Data", arXiv:1911.00359) dedup Common Crawl by hashing
# PARAGRAPHS and keeping only the first occurrence of each hash across the
# whole shard, REWRITING every document to its surviving paragraphs.  The
# synthetic corpus is single-line token soup, so paragraphs are re-based on
# the same fixed CHUNK_TOKENS chunks chunk_dedup detects — this operator is
# its transform complement: chunk_dedup reports shared fractions,
# line_dedup actually removes repeats (including within-document repeats)
# and emits the cleaned text identity.
#
# First-occurrence is the global minimum (doc_id, cidx) per chunk hash —
# deterministic and engine-independent, the hash-ordered analogue of
# CCNet's "first seen in shard order".


def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first chunk dedup with rewrite: per document, how many chunks
    survive, and the md5 of the text rebuilt from surviving chunks.

    Scale shape (100 TB): chunk text NEVER shuffles on the content key —
    the cross-document exchange carries (md5, doc_id, cidx) only; the
    keep/remove flags come back as a per-document sorted cidx array
    (doc-keyed, integers), and the cleaned text is rebuilt IN-ROW from the
    original token array (slice + array_join over the kept indices).
    Ragged tails participate (a short final chunk is a real line), unlike
    chunk_dedup's detection-only framing which drops them.
    """
    k = CHUNK_TOKENS
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens_col("text").alias("toks"))
        .withColumn("n_tokens", F.size("toks"))
        .filter(F.col("n_tokens") >= 1)
    )
    # (doc_id, cidx, h) built in-row: one scan, no text in the hash leg
    chunked = docs.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(0, (n_tokens - 1) div {k}), "
            f"i -> struct(i AS cidx, "
            f"md5(array_join(slice(toks, i * {k} + 1, {k}), ' ')) AS h))"
        )).alias("c")).select("doc_id", "c.cidx", "c.h")
    first = chunked.groupBy("h").agg(
        F.min(F.struct("doc_id", "cidx")).alias("f"))
    kept = (
        chunked.join(first, "h")
        .withColumn(
            "keep",
            (F.struct("doc_id", "cidx") == F.col("f")).cast("int"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(1 - F.col("keep")).cast("long").alias("removed_chunks"),
            F.array_sort(F.collect_list(
                F.when(F.col("keep") == 1, F.col("cidx")))).alias("ks")))
    return (
        docs.join(kept, "doc_id")
        .select(
            "doc_id", "n_chunks", "removed_chunks",
            # surviving token count: tail chunks are shorter than k
            F.expr(
                f"cast(aggregate(ks, 0L, (acc, i) -> acc + "
                f"least(cast({k} as long), n_tokens - i * {k})) as long)")
            .alias("kept_tokens"),
            F.expr(
                f"md5(array_join(transform(ks, "
                f"i -> array_join(slice(toks, i * {k} + 1, {k}), ' ')), "
                f"' '))").alias("cleaned_md5"))
        .orderBy("doc_id")
    )


LINE_DEDUP_SQL = f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents
), d AS (
  SELECT doc_id, toks, len(toks) AS n_tokens FROM t WHERE len(toks) >= 1
), c AS (
  SELECT doc_id, i AS cidx,
         array_to_string(toks[(i * {CHUNK_TOKENS} + 1):
                              ((i + 1) * {CHUNK_TOKENS})], ' ') AS txt,
         least({CHUNK_TOKENS}, n_tokens - i * {CHUNK_TOKENS}) AS sz
  FROM (SELECT doc_id, toks, n_tokens,
               unnest(range(0, (n_tokens - 1) // {CHUNK_TOKENS} + 1)) AS i
        FROM d)
), f AS (
  SELECT doc_id, cidx, txt, sz,
         CASE WHEN row_number() OVER (
                PARTITION BY md5(txt) ORDER BY doc_id, cidx) = 1
              THEN 1 ELSE 0 END AS keep
  FROM c
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(1 - keep) AS BIGINT) AS removed_chunks,
       CAST(coalesce(sum(CASE WHEN keep = 1 THEN sz END), 0) AS BIGINT)
         AS kept_tokens,
       md5(coalesce(string_agg(CASE WHEN keep = 1 THEN txt END, ' '
                               ORDER BY cidx), '')) AS cleaned_md5
FROM f
GROUP BY doc_id
ORDER BY doc_id
"""

# --- ExactSubstr-style repeated-substring span coverage ------------------------
#
# Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
# Better", arXiv:2107.06499) remove substrings of ≥50 tokens that appear
# more than once in the corpus (ExactSubstr, suffix-array based).  The
# Spark-shaped equivalent: hash every k-token window, keep positions whose
# window text occurs ≥2 times ANYWHERE (other documents or elsewhere in
# the same one), and merge each document's repeated positions into maximal
# covered spans — interval math over the sorted position list, done IN-ROW
# (two windows [p,p+k) and [q,q+k) merge iff q-p ≤ k).  Reported coverage
# is the ExactSubstr removal criterion; k=5 at the gate (the suite's Zipf
# vocabulary makes 5-gram collisions graded where 50-grams would be
# all-zero), production raises k and nothing else.

SUBSTR_K = 5
SUBSTR_FLAG_FRAC = 0.2


def repeated_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repeated-substring statistics: repeated window
    positions, merged span count, covered-token count/fraction, flag.

    Scale shape (100 TB): the gram leg explodes to (doc_id, pos, md5)
    only — window text never leaves the row it was built in; the
    duplicate-hash filter is a hash-keyed semi-join of integer+hash rows;
    span merging is in-row arithmetic over each document's sorted
    position array (bounded by document length).  Same inferred-predicate
    guard as decontaminate: the if() keeps the descending-sequence /
    ANSI-index hazard off rows the length filter drops.
    """
    k = SUBSTR_K
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens_col("text").alias("toks"))
        .withColumn("n_tokens", F.size("toks"))
        .filter(F.col("n_tokens") >= k)
    )
    # r8 zip-explode window builder (common.ngram_zip_parts): posexplode
    # gives the 0-based position directly, the k-token window string is
    # rebuilt codegen-side (concat_ws of the zip fields == the old
    # array_join(slice(...))), and md5 runs AFTER the Generate instead of
    # inside an interpreted per-position lambda.  Positions past
    # n_tokens-k are the NULL-padded zip tail and are filtered — exactly
    # the old sequence(0, n_tokens-k) range.
    zip_expr, win_expr, last = ngram_zip_parts(k)
    pos = (docs.select(
        "doc_id", F.posexplode(F.expr(zip_expr)).alias("pos", "z"))
        .filter(F.expr(f"{last} IS NOT NULL"))
        .select("doc_id", "pos", F.expr(f"md5({win_expr})").alias("h")))
    dup = pos.groupBy("h").agg(F.count("*").alias("cnt")) \
        .filter(F.col("cnt") >= 2).select("h")
    rep = (
        pos.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("ps")))
    # sequence(0, size-2) flips DESCENDING at size=1 and ANSI-indexes past
    # the array — both branches guarded
    covered = (
        f"cast(if(size(ps) >= 2, "
        f"aggregate(transform(sequence(0, size(ps) - 2), "
        f"i -> least({k}, ps[i + 1] - ps[i])), 0L, (a, x) -> a + x), 0L) "
        f"+ {k} as long)")
    spans = (
        f"cast(if(size(ps) >= 2, "
        f"size(filter(sequence(0, size(ps) - 2), "
        f"i -> ps[i + 1] - ps[i] > {k})), 0) + 1 as long)")
    return (
        docs.select("doc_id", "n_tokens").join(rep, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            (F.col("n_tokens") - k + 1).cast("long").alias("n_windows"),
            F.coalesce(F.size("ps"), F.lit(0)).cast("long")
            .alias("n_repeated"),
            F.when(F.col("ps").isNull(), F.lit(0).cast("long"))
            .otherwise(F.expr(spans)).alias("n_spans"),
            F.when(F.col("ps").isNull(), F.lit(0).cast("long"))
            .otherwise(F.expr(covered)).alias("covered_tokens"))
        .withColumn(
            "covered_frac",
            F.round(F.col("covered_tokens") * 1.0 / F.col("n_tokens"), 6))
        .withColumn(
            "flagged",
            (F.col("covered_frac") >= SUBSTR_FLAG_FRAC).cast("int"))
        .orderBy("doc_id")
    )


REPEATED_SUBSTR_SQL = f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents
), d AS (
  SELECT doc_id, toks, len(toks) AS n_tokens FROM t
  WHERE len(toks) >= {SUBSTR_K}
), p AS MATERIALIZED (
  -- MATERIALIZED: referenced twice (dup + rp); plain-CTE inlining would
  -- run the position unnest + window md5 twice (r6 VERDICT oracle-memory
  -- finding; capped-memory pin in tests/test_oracle_memory.py)
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(toks[i:(i + {SUBSTR_K} - 1)], ' ')) AS h
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {SUBSTR_K} + 1)) AS i
        FROM d)
), dup AS (
  SELECT h FROM p GROUP BY h HAVING count(*) >= 2
), rp AS (
  SELECT doc_id, list(pos ORDER BY pos) AS ps
  FROM p JOIN dup USING (h) GROUP BY doc_id
), a AS (
  SELECT d.doc_id, d.n_tokens,
         CAST(d.n_tokens - {SUBSTR_K} + 1 AS BIGINT) AS n_windows,
         CAST(coalesce(len(ps), 0) AS BIGINT) AS n_repeated,
         CASE WHEN ps IS NULL THEN CAST(0 AS BIGINT)
              ELSE CAST(coalesce(len(list_filter(range(1, len(ps)), i ->
                     ps[i + 1] - ps[i] > {SUBSTR_K})), 0) + 1 AS BIGINT)
         END AS n_spans,
         CASE WHEN ps IS NULL THEN CAST(0 AS BIGINT)
              ELSE CAST(coalesce(list_sum(list_transform(range(1, len(ps)),
                     i -> least({SUBSTR_K}, ps[i + 1] - ps[i]))), 0)
                   + {SUBSTR_K} AS BIGINT)
         END AS covered_tokens
  FROM d LEFT JOIN rp ON rp.doc_id = d.doc_id
)
SELECT doc_id, n_tokens, n_windows, n_repeated, n_spans, covered_tokens,
       round(covered_tokens * 1.0 / n_tokens, 6) AS covered_frac,
       CAST(CASE WHEN round(covered_tokens * 1.0 / n_tokens, 6)
                      >= {SUBSTR_FLAG_FRAC} THEN 1 ELSE 0 END AS INT)
         AS flagged
FROM a
ORDER BY doc_id
"""

# --- deterministic stratified sampling ---------------------------------------

SAMPLE_PER_STRATUM = 25


def sample_stratified(spark: SparkSession, sf_dir: str,
                      k: int = SAMPLE_PER_STRATUM) -> DataFrame:
    """First ``k`` documents per language in md5(doc_id) order — a
    deterministic, engine-independent stratified sample (the md5 ordering
    is the shuffle-free analogue of ORDER BY random() with a fixed seed)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .select("doc_id", "lang", "sample_rank")
        .orderBy("lang", "sample_rank")
    )


SAMPLE_STRATIFIED_SQL = f"""
SELECT doc_id, lang, sample_rank
FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
  FROM documents
)
WHERE sample_rank <= {SAMPLE_PER_STRATUM}
ORDER BY lang, sample_rank
"""

# --- per-document distinctive terms ------------------------------------------

TOP_TERMS_K = 3


def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TOP_TERMS_K distinctive terms per document by (tf DESC, df ASC,
    term ASC) — the integer-exact rank form of tf-idf (higher tf, rarer
    corpus-wide, lexicographic tiebreak).  The document-frequency table is
    a vocabulary aggregate (tiny relative to the corpus) and is
    broadcast."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens_col("text")).alias("tok"))
    # tf feeds both the vocabulary aggregate and the join; materialize it
    # once (it's (doc_id, term)-sized, far smaller than the corpus) instead
    # of re-scanning + re-exploding the text for each branch
    tf = docs.groupBy("doc_id", "tok").agg(
        F.count("*").alias("tf")).localCheckpoint()
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("tok"))
    return (
        tf.join(F.broadcast(df), "tok")
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= TOP_TERMS_K)
        .select("doc_id", "term_rank", F.col("tok").alias("term"),
                "tf", "df")
        .orderBy("doc_id", "term_rank")
    )


TOP_TERMS_SQL = f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents
), p AS (
  SELECT doc_id, unnest(toks) AS tok FROM t
), tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM p GROUP BY doc_id, tok
), df AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
)
SELECT doc_id, term_rank, term, tf, df
FROM (
  SELECT tf.doc_id, tf.tok AS term, tf.tf, df.df,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf DESC, df.df ASC, tf.tok ASC) AS term_rank
  FROM tf JOIN df ON tf.tok = df.tok
)
WHERE term_rank <= {TOP_TERMS_K}
ORDER BY doc_id, term_rank
"""
