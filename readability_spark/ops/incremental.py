"""Incremental-snapshot deduplication: screen a NEW crawl batch against
the already-ingested corpus without re-deduplicating the corpus.

At 10^12-turn scale, dedup is not a one-shot job — crawls arrive in
batches, and re-running full-corpus dedup per batch is quadratic in
wall-clock over the corpus's life.  The production shape (CCNet's shard
processing, RefinedWeb §3.3's incremental MinHash) keeps two SMALL
artifacts from the ingested corpus and screens each batch against them:

- the exact-identity set: distinct md5(text) digests (16 bytes/doc);
- the near-identity index: DISTINCT (band, k1, k2) MinHash band keys —
  at 4 bands × 2 hashes this is ≤ 4 rows of 3 ints per ingested doc,
  and EXISTS-semantics means duplicates collapse: a boilerplate bucket
  shared by a million old docs is ONE index row, so batch screening is
  immune to old-side skew by construction.

Both artifacts are localCheckpointed here (modeling the precomputed
store a real pipeline would read back from parquet); the batch side
computes signatures fresh — the per-batch cost is O(batch), never
O(corpus).  The split is the house device: md5('snap|'||doc_id) first
hex in c-f selects the ~25% NEW batch, the rest is the ingested corpus.

Per new document the report gives the exact-duplicate flag, the number
of bands (0..LSH_BANDS) whose bucket already exists in the old index,
and the routing decision a pipeline acts on: 'skip_exact' (identical
payload already ingested), 'verify' (band collision → run the Jaccard
verifier against the colliding bucket only), 'ingest' (no evidence of
duplication — skip the verifier entirely, which is the point: at a
typical <10% collision rate the expensive stage runs on <10% of the
batch).

Scale notes (100 TB): every exchange carries (doc_id, digest/int-key)
rows — text never shuffles; the old-index join keys are 3 ints
(shuffle-hash at corpus scale, broadcast when the index fits); the
md5-identity join keys the 32-hex digest.  Same MinHash parameters as
dedup_lsh_pairs, so the 'verify' routing is consistent with the batch
near-dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import (SQL_TOKENS, md5_prefix_int_expr,
                     md5_prefix_int_fast_expr, table, tokens_col)
from .dedup import _MH_PARAMS, _MH_PRIME, _band_rows, _minhash_aggs, \
    _shingle_rows, LSH_BANDS

_SNAP_NEW = ("substr(md5(concat('snap|', CAST(doc_id AS STRING))), 1, 1)"
             " IN ('c', 'd', 'e', 'f')")


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per NEW-batch document: exact-dup flag vs the ingested corpus,
    old-index band-collision count, and the skip/verify/ingest route."""
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text", tokens_col("text").alias("toks"))
        .withColumn("is_new", F.expr(_SNAP_NEW)))

    def sigs(side: DataFrame) -> DataFrame:
        # r8: zip-explode shingles + conv() fast md5-int (see ops.dedup);
        # the size >= 3 pre-filter was redundant
        return (
            _shingle_rows(side)
            .withColumn("x", F.expr(md5_prefix_int_fast_expr("shingle")))
            .groupBy("doc_id").agg(*_minhash_aggs()))

    # the two ingested-corpus artifacts (tiny, checkpointed once)
    old_md5 = (docs.filter("NOT is_new")
               .select(F.md5("text").alias("h")).distinct()
               .localCheckpoint())
    old_index = (_band_rows(sigs(docs.filter("NOT is_new")))
                 .select("band", "k1", "k2").distinct()
                 .withColumn("seen", F.lit(1))
                 .localCheckpoint())
    # batch screening
    hits = (
        _band_rows(sigs(docs.filter("is_new")))
        .join(old_index, ["band", "k1", "k2"], "left")
        .groupBy("doc_id")
        .agg(F.coalesce(F.sum("seen"), F.lit(0)).cast("long")
             .alias("n_band_hits")))
    return (
        docs.filter("is_new")
        .select("doc_id", F.md5("text").alias("h"))
        .join(old_md5.withColumn("em", F.lit(1)), "h", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("em", F.lit(0)).cast("int").alias("exact_dup"),
            F.coalesce("n_band_hits", F.lit(0)).cast("long")
            .alias("n_band_hits"))
        .withColumn("decision", F.expr(
            "CASE WHEN exact_dup = 1 THEN 'skip_exact' "
            "WHEN n_band_hits >= 1 THEN 'verify' "
            "ELSE 'ingest' END"))
        .orderBy("doc_id")
    )


def _incremental_sql() -> str:
    mins = ",\n         ".join(
        f"min((({a} * x + {b}) % {_MH_PRIME} + {_MH_PRIME}) % {_MH_PRIME})"
        f" AS mh{i}"
        for i, (a, b) in enumerate(_MH_PARAMS))
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, is_new, {band} AS band, mh{2 * band} AS k1, "
        f"mh{2 * band + 1} AS k2 FROM sig"
        for band in range(LSH_BANDS))
    return f"""
WITH t AS MATERIALIZED (
  SELECT doc_id, text, {SQL_TOKENS.format(col='text')} AS toks,
         {_SNAP_NEW} AS is_new
  FROM documents
), old_md5 AS (
  SELECT DISTINCT md5(text) AS h FROM t WHERE NOT is_new
), sh AS (
  SELECT DISTINCT doc_id, is_new,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM (
    SELECT doc_id, is_new, toks,
           unnest(generate_series(1, len(toks) - 2)) AS i
    FROM t WHERE len(toks) >= 3
  )
), xx AS (
  SELECT doc_id, is_new, {md5_prefix_int_expr('shingle')} AS x FROM sh
), sig AS MATERIALIZED (
  SELECT doc_id, is_new,
         {mins}
  FROM xx GROUP BY doc_id, is_new
), bands AS MATERIALIZED (
  {band_rows}
), old_index AS (
  SELECT DISTINCT band, k1, k2 FROM bands WHERE NOT is_new
), hits AS (
  SELECT b.doc_id,
         CAST(coalesce(sum(CASE WHEN o.band IS NOT NULL THEN 1 END), 0)
              AS BIGINT) AS n_band_hits
  FROM bands b
  LEFT JOIN old_index o
    ON b.band = o.band AND b.k1 = o.k1 AND b.k2 = o.k2
  WHERE b.is_new
  GROUP BY b.doc_id
)
SELECT t.doc_id,
       CAST(CASE WHEN om.h IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS exact_dup,
       CAST(coalesce(hits.n_band_hits, 0) AS BIGINT) AS n_band_hits,
       CASE WHEN om.h IS NOT NULL THEN 'skip_exact'
            WHEN coalesce(hits.n_band_hits, 0) >= 1 THEN 'verify'
            ELSE 'ingest' END AS decision
FROM t
LEFT JOIN old_md5 om ON md5(t.text) = om.h
LEFT JOIN hits ON t.doc_id = hits.doc_id
WHERE t.is_new
ORDER BY t.doc_id
"""


DEDUP_INCREMENTAL_SQL = _incremental_sql()
